package graft.sources

import graft.SparkFixture
import graft.operators.VersionedStore
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** `CREATE TABLE … PARTITIONED BY` on catalog tables — the standard
  * partitioning DDL mapped onto the store's CLUSTERED layout + zone
  * pruning (the engine's answer to the reference's date-partitioned
  * year/month/day tree, reference: partitioner.py:7-25): inserts
  * land range-clustered on the declared columns, and a partition
  * predicate PRUNES file-groups at PLAN time, with the files-read
  * receipt pinned from the executed scan. Plus the round's nested
  * catalog namespaces and the cascade clone-dependency discipline.
  */
class PartitionedCatalogSpec extends AnyFunSuite with SparkFixture
    with Matchers {

  private lazy val root: String = {
    val r = java.nio.file.Files
      .createTempDirectory("graft-part-wh").toString
    spark.conf.set("spark.sql.catalog.plat",
      "graft.sources.GraftStoreCatalog")
    spark.conf.set("spark.sql.catalog.plat.root", r)
    r
  }

  /** numFiles of the executed scan — the pruning receipt. */
  private def filesRead(df: org.apache.spark.sql.DataFrame): Long = {
    df.collect()
    df.queryExecution.executedPlan.collectLeaves().collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.metrics("numFiles").value
    }.getOrElse(sys.error("no FileSourceScanExec in plan"))
  }

  test("PARTITIONED BY lands inserts range-clustered: one commit, " +
      "one file-group per distinct key, disjoint zone hulls; a " +
      "partition predicate prunes the scan to the surviving groups " +
      "— files-read receipt pinned") {
    root
    spark.sql("CREATE TABLE plat.ev (id BIGINT, day BIGINT, " +
      "body STRING) USING `graft-store` PARTITIONED BY (day)")
    val p = s"$root/ev"
    VersionedStore.clusterByOf(spark, p) shouldBe Seq("day")
    // one INSERT mixing 4 days → ONE commit, 4 range-disjoint groups
    val rows = (0 until 400).map(i =>
      s"(${i}L, ${i % 4}L, 'b$i')").mkString(", ")
    spark.sql(s"INSERT INTO plat.ev VALUES $rows")
    VersionedStore.latestVersion(spark, p) shouldBe 2L
    spark.table("plat.ev").count() shouldBe 400L

    val full = filesRead(spark.table("plat.ev"))
    val pruned = filesRead(
      spark.sql("SELECT * FROM plat.ev WHERE day = 2"))
    withClue(s"full=$full pruned=$pruned: ") {
      pruned should be < full
    }
    // correctness under pruning: the filtered content is exact
    spark.sql("SELECT count(*) FROM plat.ev WHERE day = 2")
      .head.getLong(0) shouldBe 100L
    spark.sql("SELECT count(*) FROM plat.ev WHERE day >= 3")
      .head.getLong(0) shouldBe 100L
    // a second insert adds its own clustered groups; pruning holds
    // across both batches
    spark.sql("INSERT INTO plat.ev VALUES (1000, 9, 'x'), " +
      "(1001, 9, 'y')")
    val prunedDay9 = filesRead(
      spark.sql("SELECT * FROM plat.ev WHERE day = 9"))
    val full2 = filesRead(spark.table("plat.ev"))
    prunedDay9 should be < full2
    spark.sql("SELECT count(*) FROM plat.ev WHERE day = 9")
      .head.getLong(0) shouldBe 2L
    spark.table("plat.ev").count() shouldBe 402L
  }

  test("SHOW CREATE TABLE reproduces the DDL — schema, provider, " +
      "PARTITIONED BY, TBLPROPERTIES; plain OPTIMIZE follows the " +
      "declared clustering") {
    root
    spark.sql("CREATE TABLE plat.ddl (k BIGINT, day BIGINT) " +
      "USING `graft-store` PARTITIONED BY (day) " +
      "TBLPROPERTIES ('owner.team' = 'ingest')")
    val stmt = spark.sql("SHOW CREATE TABLE plat.ddl")
      .head.getString(0)
    stmt should include("CREATE TABLE plat.ddl")
    stmt should include("`k` BIGINT")
    stmt should include("`day` BIGINT")
    stmt should include("USING graft-store")
    stmt should include("PARTITIONED BY (day)")
    stmt should include("'owner.team' = 'ingest'")
    // the cluster-by property is DDL, not a user TBLPROPERTY
    stmt should not include VersionedStore.ClusterByProp
    // plain OPTIMIZE re-clusters on the DECLARED columns: after
    // mixed appends, day ranges are disjoint across groups again
    val rows = (0 until 300).map(i =>
      s"($i, ${i % 3})").mkString(", ")
    spark.sql(s"INSERT INTO plat.ddl VALUES $rows")
    spark.sql("INSERT INTO plat.ddl VALUES (900, 0), (901, 2)")
    spark.sql("OPTIMIZE plat.ddl")
    val pruned = filesRead(
      spark.sql("SELECT * FROM plat.ddl WHERE day = 1"))
    val full = filesRead(spark.table("plat.ddl"))
    pruned should be < full
    spark.sql("SELECT count(*) FROM plat.ddl WHERE day = 0")
      .head.getLong(0) shouldBe 101L
    // non-identity transforms are refused loudly, never approximated
    val e = intercept[Exception] {
      spark.sql("CREATE TABLE plat.bad (k BIGINT, ts TIMESTAMP) " +
        "USING `graft-store` PARTITIONED BY (days(ts))")
    }
    e.getMessage should include("identity")
  }

  test("nested namespaces: lake.a.b.t maps to <root>/a/b/t — " +
      "create/list/read/drop recurse; two-part names unchanged") {
    root
    spark.sql("CREATE NAMESPACE plat.a")
    spark.sql("CREATE NAMESPACE plat.a.b")
    spark.sql("CREATE TABLE plat.a.b.deep (id BIGINT) " +
      "USING `graft-store`")
    spark.sql("INSERT INTO plat.a.b.deep VALUES (5)")
    spark.table("plat.a.b.deep").collect()
      .map(_.getLong(0)).toSeq shouldBe Seq(5L)
    spark.sql("SHOW TABLES IN plat.a.b").collect()
      .map(_.getString(1)).toSeq shouldBe Seq("deep")
    spark.sql("SHOW NAMESPACES IN plat.a").collect()
      .map(_.getString(0)) should contain("a.b")
    // maintenance verbs and TVFs accept the nested name
    spark.sql("OPTIMIZE plat.a.b.deep")
    spark.sql("SELECT count(*) FROM store_history('plat.a.b.deep')")
      .head.getLong(0) should be >= 3L
    // DESCRIBE DETAIL / HISTORY sugar over the nested name
    spark.sql("DESCRIBE DETAIL plat.a.b.deep")
      .select("n_rows").head.getLong(0) shouldBe 1L
    spark.sql("DESCRIBE HISTORY plat.a.b.deep")
      .count() should be >= 3L
    // a table dir is NOT a namespace
    spark.sql("SHOW NAMESPACES IN plat.a.b").collect() shouldBe empty
    intercept[Exception] { // non-empty nested namespace needs CASCADE
      spark.sql("DROP NAMESPACE plat.a")
    }
    spark.sql("DROP NAMESPACE plat.a CASCADE")
    spark.sql("SHOW NAMESPACES IN plat").collect()
      .map(_.getString(0)) should not contain "a"
  }

  test("INSERT OVERWRITE ... PARTITION replaces exactly that " +
      "region in ONE commit (idempotent re-ingest); writeTo " +
      "overwrite(cond) and overwritePartitions ride the same " +
      "replaceWhere; stray rows are refused") {
    root
    val s = spark
    import s.implicits._
    spark.sql("CREATE TABLE plat.rw (id BIGINT, day BIGINT) " +
      "USING `graft-store` PARTITIONED BY (day)")
    val p = s"$root/rw"
    spark.sql("INSERT INTO plat.rw VALUES " +
      (0 until 30).map(i => s"($i, ${i % 3})").mkString(", "))
    val v0 = VersionedStore.latestVersion(spark, p)
    // static partition overwrite: day 1 replaced, days 0/2 untouched
    spark.sql("INSERT OVERWRITE plat.rw PARTITION (day = 1) " +
      "VALUES (100), (101)")
    VersionedStore.latestVersion(spark, p) shouldBe v0 + 1 // ONE commit
    spark.sql("SELECT day, count(*) AS n FROM plat.rw GROUP BY day")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap shouldBe
      Map(0L -> 10L, 1L -> 2L, 2L -> 10L)
    // idempotent: re-running the same load replaces, never duplicates
    spark.sql("INSERT OVERWRITE plat.rw PARTITION (day = 1) " +
      "VALUES (100), (101)")
    spark.sql("SELECT count(*) FROM plat.rw WHERE day = 1")
      .head.getLong(0) shouldBe 2L
    // plain INSERT ... PARTITION appends with the spec filled
    spark.sql("INSERT INTO plat.rw PARTITION (day = 7) VALUES (700)")
    spark.sql("SELECT count(*) FROM plat.rw WHERE day = 7")
      .head.getLong(0) shouldBe 1L
    // v2 conditional overwrite
    Seq((200L, 2L), (201L, 2L)).toDF("id", "day")
      .writeTo("plat.rw").overwrite(col("day") === 2L)
    spark.sql("SELECT count(*) FROM plat.rw WHERE day = 2")
      .head.getLong(0) shouldBe 2L
    spark.sql("SELECT count(*) FROM plat.rw WHERE day = 0")
      .head.getLong(0) shouldBe 10L
    // v2 dynamic partition overwrite: replaces day 0, adds day 9
    Seq((300L, 0L), (301L, 9L)).toDF("id", "day")
      .writeTo("plat.rw").overwritePartitions()
    spark.sql("SELECT day, count(*) AS n FROM plat.rw GROUP BY day")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap shouldBe
      Map(0L -> 1L, 1L -> 2L, 2L -> 2L, 7L -> 1L, 9L -> 1L)
    // a batch straying outside the replaced region is refused with
    // nothing committed
    val vPre = VersionedStore.latestVersion(spark, p)
    val e = intercept[Exception] {
      Seq((400L, 1L), (401L, 5L)).toDF("id", "day")
        .writeTo("plat.rw").overwrite(col("day") === 1L)
    }
    e.getMessage should include("NOT matching the replace predicate")
    VersionedStore.latestVersion(spark, p) shouldBe vPre
    // dynamic spec through SQL is refused, not guessed
    intercept[Exception] {
      spark.sql("INSERT OVERWRITE plat.rw PARTITION (day) " +
        "VALUES (500, 5)")
    }.getMessage should include("overwritePartitions")
  }

  test("writeStream.toTable into a PARTITIONED BY table arms zone " +
      "hulls on the clustering columns: per-epoch groups prune " +
      "under a partition predicate") {
    root
    val s = spark
    import s.implicits._
    spark.sql("CREATE TABLE plat.sev (id BIGINT, day BIGINT) " +
      "USING `graft-store` PARTITIONED BY (day)")
    val in = java.nio.file.Files
      .createTempDirectory("graft-sev-in").toString
    val ck = java.nio.file.Files
      .createTempDirectory("graft-sev-ck").toString
    def epoch(rows: Seq[(Long, Long)]): Unit = {
      rows.toDF("id", "day").coalesce(1)
        .write.mode("append").parquet(in)
      val q = spark.readStream.schema("id BIGINT, day BIGINT")
        .parquet(in)
        .writeStream.option("checkpointLocation", ck)
        .trigger(org.apache.spark.sql.streaming.Trigger
          .AvailableNow())
        .toTable("plat.sev")
      q.awaitTermination(60000) shouldBe true
    }
    epoch((0 until 20).map(i => (i.toLong, 1L)))
    epoch((20 until 40).map(i => (i.toLong, 2L)))
    spark.table("plat.sev").count() shouldBe 40L
    val full = filesRead(spark.table("plat.sev"))
    val pruned = filesRead(
      spark.sql("SELECT * FROM plat.sev WHERE day = 2"))
    withClue(s"full=$full pruned=$pruned: ") {
      pruned should be < full
    }
    spark.sql("SELECT count(*) FROM plat.sev WHERE day = 2")
      .head.getLong(0) shouldBe 20L
  }

  test("ALTER TABLE RENAME TO moves the whole store (log travels " +
      "with data — every version serves under the new name); a " +
      "cloned-from table refuses; ADD COLUMNS honors FIRST/AFTER") {
    root
    spark.sql("CREATE TABLE plat.old (id BIGINT, v BIGINT) " +
      "USING `graft-store`")
    spark.sql("INSERT INTO plat.old VALUES (1, 10), (2, 20)")
    spark.sql("DELETE FROM plat.old WHERE id = 2")
    spark.sql("ALTER TABLE plat.old RENAME TO fresh")
    spark.sql("SHOW TABLES IN plat").collect().map(_.getString(1))
      .toSeq should (contain("fresh") and not contain "old")
    spark.table("plat.fresh").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq shouldBe
      Seq((1L, 10L))
    // history traveled with the move: pre-delete version intact
    spark.sql("SELECT count(*) FROM plat.fresh VERSION AS OF 2")
      .head.getLong(0) shouldBe 2L
    // a table someone is cloned FROM cannot move
    VersionedStore.cloneTo(spark, s"$root/fresh", s"$root/leech")
    intercept[Exception] {
      spark.sql("ALTER TABLE plat.fresh RENAME TO gone")
    }.getMessage should include("cloned")
    spark.sql("DROP TABLE plat.leech")
    // ADD COLUMNS with a position: widening anchor + move
    spark.sql("ALTER TABLE plat.fresh ADD COLUMNS (tag STRING " +
      "AFTER id)")
    spark.table("plat.fresh").columns.toSeq shouldBe
      Seq("id", "tag", "v")
    spark.sql("SELECT tag FROM plat.fresh").head.isNullAt(0)
      .shouldBe(true)
  }

  test("DROP NAMESPACE CASCADE runs the clone-dependency check: a " +
      "table OUTSIDE the namespace cloned from one inside refuses " +
      "the drop; sibling-prefix names never false-positive dropTable") {
    root
    spark.sql("CREATE NAMESPACE plat.src")
    spark.sql("CREATE TABLE plat.src.base (id BIGINT) " +
      "USING `graft-store`")
    spark.sql("INSERT INTO plat.src.base VALUES (1), (2)")
    // zero-copy clone OUTSIDE the namespace
    VersionedStore.cloneTo(spark, s"$root/src/base", s"$root/borrow")
    val e = intercept[Exception] {
      spark.sql("DROP NAMESPACE plat.src CASCADE")
    }
    e.getMessage should include("cloned")
    // release the clone → cascade proceeds
    spark.sql("DROP TABLE plat.borrow")
    spark.sql("DROP NAMESPACE plat.src CASCADE")
    spark.sql("SHOW NAMESPACES IN plat").collect()
      .map(_.getString(0)) should not contain "src"
    // prefix fix: a clone FROM t2 must not block dropping t
    spark.sql("CREATE TABLE plat.t (id BIGINT) USING `graft-store`")
    spark.sql("CREATE TABLE plat.t2 (id BIGINT) USING `graft-store`")
    spark.sql("INSERT INTO plat.t2 VALUES (9)")
    VersionedStore.cloneTo(spark, s"$root/t2", s"$root/t2copy")
    spark.sql("DROP TABLE plat.t") // t2's clone is NOT t's dependent
    intercept[Exception] { spark.sql("DROP TABLE plat.t2") }
    spark.sql("DROP TABLE plat.t2copy")
    spark.sql("DROP TABLE plat.t2")
  }

  test("overwritePartitions refuses a column the table lacks through " +
      "a registered name, and a batch over 1000 distinct keys; " +
      "nothing is committed") {
    root
    val s = spark
    import s.implicits._
    spark.sql("CREATE TABLE plat.dyn (id BIGINT, day BIGINT) " +
      "USING `graft-store` PARTITIONED BY (day)")
    val p = s"$root/dyn"
    spark.sql("INSERT INTO plat.dyn VALUES (1, 1), (2, 2)")
    VersionedStore.registerTable(spark, p, "reg_rw")
    val v0 = VersionedStore.latestVersion(spark, p)
    val e = intercept[Exception] {
      Seq((4L, 1L, "y")).toDF("id", "day", "extra")
        .writeTo("reg_rw").overwritePartitions()
    }
    e.getMessage should include("extra")
    VersionedStore.latestVersion(spark, p) shouldBe v0
    val tooMany = (0L to 1000L).map(i => (i, i)).toDF("id", "day")
    Seq("reg_rw", "plat.dyn").foreach { t =>
      val e2 = intercept[Exception] {
        tooMany.writeTo(t).overwritePartitions()
      }
      e2.getMessage should include("1000 distinct partition keys")
      VersionedStore.latestVersion(spark, p) shouldBe v0
    }
    spark.table("plat.dyn").count() shouldBe 2L
  }
}

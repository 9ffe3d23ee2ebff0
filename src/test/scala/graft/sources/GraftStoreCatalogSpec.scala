package graft.sources

import graft.SparkFixture
import graft.operators.VersionedStore
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Stores as REAL catalog tables ([[GraftStoreCatalog]]): CREATE /
  * SHOW / SELECT / INSERT / writeTo / time travel / DROP all route
  * through the DSv2 catalog with the store's full write discipline,
  * commit counts pinned — and catalog reads get the store's NATIVE
  * parquet plan (the [[graft.plans.GraftCatalogRule]] swap), not an
  * opaque RDD fallback.
  */
class GraftStoreCatalogSpec extends AnyFunSuite with SparkFixture
    with Matchers {

  private lazy val root: String = {
    val r = java.nio.file.Files
      .createTempDirectory("graft-catalog-wh").toString
    spark.conf.set("spark.sql.catalog.glake",
      "graft.sources.GraftStoreCatalog")
    spark.conf.set("spark.sql.catalog.glake.root", r)
    r
  }

  test("CREATE TABLE ... USING `graft-store` declares the schema as " +
      "the empty store's first commit; SHOW TABLES lists it; the " +
      "first INSERT must MATCH the declared schema (one commit)") {
    root
    spark.sql("CREATE TABLE glake.docs (id BIGINT, body STRING, " +
      "g BIGINT) USING `graft-store`")
    spark.sql("SHOW TABLES IN glake").collect()
      .map(_.getString(1)) should contain("docs")
    // v1 = the schema anchor; the empty table serves its shape
    VersionedStore.latestVersion(spark, s"$root/docs") shouldBe 1L
    val empty = spark.table("glake.docs")
    empty.schema.fieldNames.toSeq shouldBe Seq("id", "body", "g")
    empty.count() shouldBe 0L
    // CREATE over an existing table is loud
    intercept[Exception] {
      spark.sql("CREATE TABLE glake.docs (x INT) USING `graft-store`")
    }
    spark.sql(
      "INSERT INTO glake.docs VALUES (0, 'a', 10), (1, 'b', 20)")
    VersionedStore.latestVersion(spark, s"$root/docs") shouldBe 2L
    spark.sql("SELECT sum(g) FROM glake.docs").head.getLong(0)
      .shouldBe(30L)
    // a wrong-shape insert is rejected by the declared schema
    intercept[Exception] {
      spark.sql("INSERT INTO glake.docs VALUES (2, 'c')")
    }
    VersionedStore.latestVersion(spark, s"$root/docs") shouldBe 2L
  }

  test("namespaces are directory levels: CREATE NAMESPACE / " +
      "qualified tables / SHOW TABLES IN glake.ns / DROP NAMESPACE") {
    root
    spark.sql("CREATE NAMESPACE glake.ns1")
    spark.sql(
      "CREATE TABLE glake.ns1.t1 (id BIGINT) USING `graft-store`")
    spark.sql("SHOW TABLES IN glake.ns1").collect()
      .map(_.getString(1)).toSeq shouldBe Seq("t1")
    spark.sql("INSERT INTO glake.ns1.t1 VALUES (7)")
    spark.table("glake.ns1.t1").collect()
      .map(_.getLong(0)).toSeq shouldBe Seq(7L)
    intercept[Exception] { // non-empty namespace needs CASCADE
      spark.sql("DROP NAMESPACE glake.ns1")
    }
    spark.sql("DROP NAMESPACE glake.ns1 CASCADE")
    spark.sql("SHOW TABLES IN glake").collect()
      .map(_.getString(1)) should not contain "t1"
  }

  test("df.writeTo(...).append() and INSERT OVERWRITE route " +
      "through the store's write discipline — ONE commit each, " +
      "overwrite atomic, ANSI-aligned by Spark's v2 resolution") {
    root
    val s = spark
    import s.implicits._
    spark.sql("CREATE TABLE glake.wt (id BIGINT, body STRING) " +
      "USING `graft-store`")
    val p = s"$root/wt"
    Seq((1L, "x"), (2L, "y")).toDF("id", "body")
      .writeTo("glake.wt").append()
    VersionedStore.latestVersion(spark, p) shouldBe 2L // anchor + 1
    // v2 writes resolve BY NAME: reordered columns land correctly
    Seq(("z", 3L)).toDF("body", "id").writeTo("glake.wt").append()
    VersionedStore.latestVersion(spark, p) shouldBe 3L
    spark.table("glake.wt").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap shouldBe
      Map(1L -> "x", 2L -> "y", 3L -> "z")
    // INSERT OVERWRITE: ONE atomic commit replaces the content
    spark.sql("INSERT OVERWRITE glake.wt VALUES (9, 'only')")
    VersionedStore.latestVersion(spark, p) shouldBe 4L
    spark.table("glake.wt").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq shouldBe
      Seq((9L, "only"))
    // time travel below the overwrite serves the old rows
    spark.sql("SELECT count(*) FROM glake.wt VERSION AS OF 3")
      .head.getLong(0) shouldBe 3L
  }

  test("the store's constraint gate holds through the catalog " +
      "write path: a violating INSERT aborts with nothing " +
      "committed") {
    root
    spark.sql("CREATE TABLE glake.con (id BIGINT, g BIGINT) " +
      "USING `graft-store`")
    val p = s"$root/con"
    VersionedStore.setConstraints(spark, p,
      Seq(graft.check.NonNegative("g")))
    spark.sql("INSERT INTO glake.con VALUES (1, 5)")
    val before = VersionedStore.latestVersion(spark, p)
    intercept[Exception] {
      spark.sql("INSERT INTO glake.con VALUES (2, -3)")
    }.getMessage.toLowerCase should include("constraint")
    VersionedStore.latestVersion(spark, p) shouldBe before
    spark.table("glake.con").count() shouldBe 1L
  }

  test("catalog reads run the store's NATIVE parquet plan (the " +
      "analyzer swap), not the V1Scan RDD fallback") {
    root
    val s = spark
    import s.implicits._
    spark.sql("CREATE TABLE glake.planned (id BIGINT, g BIGINT) " +
      "USING `graft-store`")
    Seq((1L, 2L), (3L, 4L)).toDF("id", "g")
      .writeTo("glake.planned").append()
    val df = spark.table("glake.planned").where("g > 2").select("id")
    val plan = df.queryExecution.executedPlan.toString
    plan should include("parquet")       // native file scan
    (plan should not).include("RowDataSourceScan") // the V1 fallback
    df.collect().map(_.getLong(0)).toSeq shouldBe Seq(3L)
  }

  test("CTAS: CREATE TABLE ... USING `graft-store` AS SELECT lands " +
      "as a store with the query's rows and ONE data commit") {
    root
    spark.sql("CREATE TABLE glake.ctas USING `graft-store` AS " +
      "SELECT id, id * 2 AS dbl FROM range(5)")
    spark.table("glake.ctas").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq shouldBe
      (0L until 5L).map(i => (i, i * 2))
    VersionedStore.latestVersion(spark, s"$root/ctas") should be <= 2L
  }

  test("DROP TABLE refuses while a sibling is cloned from it; " +
      "dropping the clone first releases the source") {
    root
    spark.sql("CREATE TABLE glake.src (id BIGINT) USING `graft-store`")
    spark.sql("INSERT INTO glake.src VALUES (1), (2), (3)")
    VersionedStore.cloneTo(spark, s"$root/src", s"$root/cl")
    spark.sql("SHOW TABLES IN glake").collect()
      .map(_.getString(1)) should contain("cl")
    intercept[Exception] {
      spark.sql("DROP TABLE glake.src")
    }.getMessage should include("cloned")
    spark.table("glake.src").count() shouldBe 3L // refusal = no-op
    spark.sql("DROP TABLE glake.cl")
    spark.sql("DROP TABLE glake.src")
    spark.sql("SHOW TABLES IN glake").collect()
      .map(_.getString(1)) should contain noneOf ("src", "cl")
  }

  test("ALTER TABLE routes to the store's evolution commits: ADD " +
      "COLUMNS widens by one metadata commit (old rows serve " +
      "NULL), RENAME/DROP COLUMN ride the column mapping; NOT " +
      "NULL adds and retypes are loud") {
    root
    spark.sql("CREATE TABLE glake.alt (id BIGINT, body STRING) " +
      "USING `graft-store`")
    val p = s"$root/alt"
    spark.sql("INSERT INTO glake.alt VALUES (1, 'a')")       // v2
    spark.sql("ALTER TABLE glake.alt ADD COLUMNS (score BIGINT)")
    VersionedStore.latestVersion(spark, p) shouldBe 3L // metadata only
    spark.table("glake.alt").schema.fieldNames.toSeq shouldBe
      Seq("id", "body", "score")
    spark.sql("SELECT score FROM glake.alt WHERE id = 1")
      .head.isNullAt(0) shouldBe true                 // NULL-filled
    spark.sql("INSERT INTO glake.alt VALUES (2, 'b', 9)")    // v4
    spark.sql("ALTER TABLE glake.alt RENAME COLUMN body TO doc")
    spark.sql("SELECT doc FROM glake.alt WHERE id = 2")
      .head.getString(0) shouldBe "b"
    spark.sql("ALTER TABLE glake.alt DROP COLUMN score")
    spark.table("glake.alt").schema.fieldNames.toSeq shouldBe
      Seq("id", "doc")
    // time travel serves each version's own shape
    spark.sql("SELECT * FROM glake.alt VERSION AS OF 2")
      .schema.fieldNames.toSeq shouldBe Seq("id", "body")
    intercept[Exception] {
      spark.sql("ALTER TABLE glake.alt ADD COLUMNS (x INT NOT NULL)")
    }.getMessage should include("nullable")
    intercept[Exception] { // retired names never return
      spark.sql("ALTER TABLE glake.alt ADD COLUMNS (score BIGINT)")
    }.getMessage should include("never carried")
    // widening ALTER COLUMN TYPE is one metadata commit; narrowing
    // and cross-family stay loud
    spark.sql("CREATE TABLE glake.rt (k INT, f FLOAT) " +
      "USING `graft-store`")
    spark.sql("INSERT INTO glake.rt VALUES (1, CAST(1.5 AS FLOAT))")
    val vPre = VersionedStore.latestVersion(spark, s"$root/rt")
    spark.sql("ALTER TABLE glake.rt ALTER COLUMN k TYPE BIGINT")
    spark.sql("ALTER TABLE glake.rt ALTER COLUMN f TYPE DOUBLE")
    VersionedStore.latestVersion(spark, s"$root/rt") shouldBe vPre + 2
    val r = spark.table("glake.rt").head
    r.getLong(0) shouldBe 1L
    r.getDouble(1) shouldBe 1.5d
    spark.sql("INSERT INTO glake.rt VALUES (3000000000, 2.5)")
    spark.sql("SELECT max(k) FROM glake.rt").head.getLong(0)
      .shouldBe(3000000000L)
    // narrowing is rejected before the catalog even sees it —
    // Spark's own v2 analyzer enforces upcast-only column changes
    intercept[Exception] {
      spark.sql("ALTER TABLE glake.rt ALTER COLUMN k TYPE INT")
    }.getMessage should include("NOT_SUPPORTED_CHANGE_COLUMN")
    // column positions: one metadata commit reorders the served
    // schema; old groups read by name, a later append cannot flip
    // the order back
    spark.sql("ALTER TABLE glake.rt ALTER COLUMN f FIRST")
    spark.table("glake.rt").columns.toSeq shouldBe Seq("f", "k")
    spark.sql("INSERT INTO glake.rt VALUES (9.5, 7)")
    spark.table("glake.rt").columns.toSeq shouldBe Seq("f", "k")
    spark.sql("SELECT k FROM glake.rt WHERE f = 9.5")
      .head.getLong(0) shouldBe 7L
    spark.sql("ALTER TABLE glake.rt ALTER COLUMN f AFTER k")
    spark.table("glake.rt").columns.toSeq shouldBe Seq("k", "f")
    spark.sql("SELECT sum(k) FROM glake.rt").head.getLong(0)
      .shouldBe(3000000008L)
  }

  test("row-level SQL DML, maintenance verbs, and TVFs accept " +
      "catalog tables through the same one-commit store commands " +
      "— no SupportsRowLevelOperations wall") {
    root
    val s = spark
    import s.implicits._
    spark.sql("CREATE TABLE glake.dml (id BIGINT, g BIGINT) " +
      "USING `graft-store`")
    val p = s"$root/dml"
    spark.sql("INSERT INTO glake.dml VALUES (1, 10), (2, 20), (3, 30)")
    spark.sql("UPDATE glake.dml SET g = g + 1 WHERE id = 1")
    spark.sql("DELETE FROM glake.dml WHERE id = 2")
    Seq((3L, 99L), (4L, 40L)).toDF("id", "g")
      .createOrReplaceTempView("dml_cat_src")
    spark.sql(
      """MERGE INTO glake.dml t USING dml_cat_src s ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    spark.table("glake.dml").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap shouldBe
      Map(1L -> 11L, 3L -> 99L, 4L -> 40L)
    // one commit per statement: anchor + insert + update + delete
    // + merge = 5
    VersionedStore.latestVersion(spark, p) shouldBe 5L
    spark.sql("OPTIMIZE glake.dml")                          // v6
    VersionedStore.latestVersion(spark, p) shouldBe 6L
    spark.sql("SELECT count(*) FROM store_history('glake.dml')")
      .head.getLong(0) should be >= 6L
    // time travel still serves the pre-DML shape
    spark.sql("SELECT count(*) FROM glake.dml VERSION AS OF 2")
      .head.getLong(0) shouldBe 3L
  }

  test("TBLPROPERTIES travel with the store: CREATE lands them, " +
      "SHOW TBLPROPERTIES serves them, ALTER SET/UNSET updates " +
      "them — engine-reserved keys stay out of user state") {
    root
    spark.sql("CREATE TABLE glake.props (id BIGINT) USING " +
      "`graft-store` TBLPROPERTIES ('team'='ingest', " +
      "'retention.ms'='86400000')")
    val p = s"$root/props"
    VersionedStore.propertiesOf(spark, p) shouldBe
      Map("team" -> "ingest", "retention.ms" -> "86400000")
    spark.sql("SHOW TBLPROPERTIES glake.props").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap should
      contain("team" -> "ingest")
    spark.sql(
      "ALTER TABLE glake.props SET TBLPROPERTIES ('team'='search')")
    VersionedStore.propertiesOf(spark, p)("team") shouldBe "search"
    spark.sql(
      "ALTER TABLE glake.props UNSET TBLPROPERTIES ('retention.ms')")
    VersionedStore.propertiesOf(spark, p)
      .contains("retention.ms") shouldBe false
  }

  test("spark.readStream.table streams committed appends " +
      "zero-copy with offsets = versions; a rewrite commit fails " +
      "the stream loudly, and skipChangeCommits skips it") {
    root
    spark.sql("CREATE TABLE glake.rs (id BIGINT, body STRING) " +
      "USING `graft-store`")
    spark.sql("INSERT INTO glake.rs VALUES (1, 'a'), (2, 'b')")
    def poll(table: String, n: Long): Unit = {
      val t0 = System.currentTimeMillis()
      while (spark.table(table).count() < n &&
        System.currentTimeMillis() - t0 < 60000) Thread.sleep(100)
      spark.table(table).count() shouldBe n
    }
    val ck = java.nio.file.Files
      .createTempDirectory("graft-cat-rs").toString
    val q = spark.readStream.table("glake.rs")
      .writeStream.format("memory").queryName("cat_rows")
      .option("checkpointLocation", s"$ck/c1")
      .trigger(org.apache.spark.sql.streaming.Trigger
        .ProcessingTime(100L))
      .start()
    try {
      poll("cat_rows", 2L) // the CREATE anchor is a no-op version
      spark.sql("INSERT INTO glake.rs VALUES (3, 'c')")
      poll("cat_rows", 3L)
      // a rewrite commit cannot be expressed as bare rows → the
      // stream FAILS with the escape hatch named
      spark.sql("DELETE FROM glake.rs WHERE id = 1")
      val t0 = System.currentTimeMillis()
      while (q.exception.isEmpty &&
        System.currentTimeMillis() - t0 < 60000) Thread.sleep(100)
      q.exception.isDefined shouldBe true
      q.exception.get.getMessage should include("skipChangeCommits")
    } finally if (q.isActive) q.stop()
    // a FRESH stream starts from the CURRENT snapshot (vacuum-safe —
    // and the deleted row must NOT resurrect through history
    // replay): first batch = live rows {2, 3}, then new appends flow
    val q2 = spark.readStream
      .option("skipChangeCommits", "true").table("glake.rs")
      .writeStream.format("memory").queryName("cat_rows2")
      .option("checkpointLocation", s"$ck/c2")
      .trigger(org.apache.spark.sql.streaming.Trigger
        .ProcessingTime(100L))
      .start()
    try {
      poll("cat_rows2", 2L) // the post-DELETE live snapshot
      spark.sql("INSERT INTO glake.rs VALUES (4, 'd')")
      poll("cat_rows2", 3L)
      spark.table("cat_rows2").select("id").collect()
        .map(_.getLong(0)).sorted.toSeq shouldBe Seq(2L, 3L, 4L)
    } finally if (q2.isActive) q2.stop()
    // startingVersion = explicit history replay (the old default,
    // now opt-in): every append commit streams, the delete commit
    // is skipped — the deleted row DOES appear (that is what
    // replaying history means)
    val q3 = spark.readStream
      .option("skipChangeCommits", "true")
      .option("startingVersion", "0").table("glake.rs")
      .writeStream.format("memory").queryName("cat_rows3")
      .option("checkpointLocation", s"$ck/c3")
      .trigger(org.apache.spark.sql.streaming.Trigger
        .ProcessingTime(100L))
      .start()
    try {
      poll("cat_rows3", 4L) // v2 (2) + v3 (1) + v4 skipped + v5 (1)
      spark.table("cat_rows3").select("id").collect()
        .map(_.getLong(0)).sorted.toSeq shouldBe Seq(1L, 2L, 3L, 4L)
    } finally if (q3.isActive) q3.stop()
  }

  test("readStream.table snapshot serves mixed-vintage group " +
      "files: rows written before an ADD COLUMN evolution stream " +
      "with NULL in the added column") {
    root
    spark.sql("CREATE TABLE glake.rsev (id BIGINT, body STRING) " +
      "USING `graft-store`")
    spark.sql("INSERT INTO glake.rsev VALUES (1, 'a'), (2, 'b')")
    spark.sql("ALTER TABLE glake.rsev ADD COLUMN extra BIGINT")
    spark.sql("INSERT INTO glake.rsev VALUES (3, 'c', 30)")
    val ck = java.nio.file.Files
      .createTempDirectory("graft-cat-rsev").toString
    val q = spark.readStream.table("glake.rsev")
      .writeStream.format("memory").queryName("cat_rsev")
      .option("checkpointLocation", ck)
      .trigger(org.apache.spark.sql.streaming.Trigger
        .ProcessingTime(100L))
      .start()
    try {
      val t0 = System.currentTimeMillis()
      while (spark.table("cat_rsev").count() < 3 &&
        System.currentTimeMillis() - t0 < 60000) {
        q.exception.foreach(throw _)
        Thread.sleep(100)
      }
      spark.table("cat_rsev").count() shouldBe 3L
      spark.sql("INSERT INTO glake.rsev VALUES (4, 'd', 40)")
      val t1 = System.currentTimeMillis()
      while (spark.table("cat_rsev").count() < 4 &&
        System.currentTimeMillis() - t1 < 60000) Thread.sleep(100)
      val rows = spark.table("cat_rsev")
        .select("id", "extra").collect()
        .map(r => (r.getLong(0),
          if (r.isNullAt(1)) None else Some(r.getLong(1))))
        .sortBy(_._1).toSeq
      rows shouldBe Seq((1L, None), (2L, None),
        (3L, Some(30L)), (4L, Some(40L)))
    } finally if (q.isActive) q.stop()
  }

  test("df.writeStream.toTable is exactly-once into the commit " +
      "log: per-task staged parquet, ONE txn-tagged commit per " +
      "epoch, re-runs add nothing, write discipline intact") {
    root
    val s = spark
    import s.implicits._
    spark.sql("CREATE TABLE glake.ws (id BIGINT, body STRING) " +
      "USING `graft-store`")
    val p = s"$root/ws"
    val in = java.nio.file.Files
      .createTempDirectory("graft-ws-in").toString
    val ck = java.nio.file.Files
      .createTempDirectory("graft-ws-ck").toString
    def drop(r: Range, tag: String): Unit =
      r.map(i => (i.toLong, s"$tag$i")).toDF("id", "body")
        .coalesce(1).write.mode("append").parquet(in)
    def runOnce(): Unit = {
      val q = spark.readStream
        .schema("id BIGINT, body STRING").parquet(in)
        .writeStream.option("checkpointLocation", ck)
        .trigger(org.apache.spark.sql.streaming.Trigger
          .AvailableNow())
        .toTable("glake.ws")
      q.awaitTermination(60000) shouldBe true
    }
    drop(0 until 5, "a")
    runOnce()
    spark.table("glake.ws").count() shouldBe 5L
    VersionedStore.latestVersion(spark, p) shouldBe 2L // anchor + 1
    drop(5 until 8, "b")
    runOnce() // only the new files → one more epoch commit
    spark.table("glake.ws").count() shouldBe 8L
    VersionedStore.latestVersion(spark, p) shouldBe 3L
    runOnce() // nothing new → nothing committed
    VersionedStore.latestVersion(spark, p) shouldBe 3L
    spark.table("glake.ws").select("id").collect()
      .map(_.getLong(0)).sorted.toSeq shouldBe (0L until 8L)
    // a violating epoch aborts with nothing committed (the adopt
    // path runs the same constraint gate as every mutator)
    spark.sql("CREATE TABLE glake.wsc (id BIGINT, g BIGINT) " +
      "USING `graft-store`")
    VersionedStore.setConstraints(spark, s"$root/wsc",
      Seq(graft.check.NonNegative("g")))
    val in2 = java.nio.file.Files
      .createTempDirectory("graft-ws-in2").toString
    Seq((1L, -5L)).toDF("id", "g")
      .coalesce(1).write.mode("append").parquet(in2)
    val bad = spark.readStream.schema("id BIGINT, g BIGINT")
      .parquet(in2)
      .writeStream.option("checkpointLocation", java.nio.file.Files
        .createTempDirectory("graft-ws-ck2").toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .toTable("glake.wsc")
    intercept[org.apache.spark.sql.streaming
      .StreamingQueryException] { bad.awaitTermination() }
    VersionedStore.latestVersion(spark, s"$root/wsc") shouldBe 1L
  }

  test("the streaming staged writer round-trips the store's full " +
      "column shapes — decimals (FLBA), float arrays, structs, " +
      "timestamps — bit-equal through writeStream.toTable") {
    root
    val s = spark
    import s.implicits._
    spark.sql("CREATE TABLE glake.wsr (id BIGINT, d DECIMAL(22,4), " +
      "emb ARRAY<FLOAT>, pay STRUCT<a: BIGINT, b: STRING>, " +
      "ts TIMESTAMP, m MAP<STRING, BIGINT>) USING `graft-store`")
    val in = java.nio.file.Files
      .createTempDirectory("graft-wsr-in").toString
    val src = (0 until 30).map { i =>
      (i.toLong, BigDecimal(i * 31) / 8,
        Array.tabulate(4)(j => (i * 4 + j) / 7.0f),
        (i.toLong * 3, if (i % 5 == 0) null else s"s$i"),
        java.sql.Timestamp.valueOf(
          s"2026-03-0${i % 9 + 1} 10:0${i % 6}:07.${i % 10}"),
        if (i % 7 == 0) Map.empty[String, Long]
        else Map(s"k$i" -> i.toLong, "shared" -> (i * 2).toLong))
    }.toDF("id", "d", "emb", "pay", "ts", "m")
      .select(col("id"), col("d").cast("decimal(22,4)").as("d"),
        col("emb"), col("pay").cast("struct<a: bigint, b: string>")
          .as("pay"), col("ts"), col("m"))
    src.coalesce(2).write.mode("overwrite").parquet(in)
    val q = spark.readStream.schema(src.schema).parquet(in)
      .writeStream.option("checkpointLocation", java.nio.file.Files
        .createTempDirectory("graft-wsr-ck").toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .toTable("glake.wsr")
    q.awaitTermination(60000) shouldBe true
    def canon(df: org.apache.spark.sql.DataFrame) = df.selectExpr(
      "id", "cast(d as string)", "cast(emb as string)",
      "cast(pay as string)", "cast(ts as string)",
      "cast(map_entries(m) as string)")
      .collect().map(_.toSeq)
      .sortBy(_.head.asInstanceOf[Long]).toSeq
    canon(spark.table("glake.wsr")) shouldBe canon(src)
  }

  test("TINYINT and SMALLINT columns stream in through toTable and " +
      "out through the change source, equal to the batch read") {
    root
    val s = spark
    import s.implicits._
    spark.sql("CREATE TABLE glake.wsn (id BIGINT, b TINYINT, " +
      "sm SMALLINT) USING `graft-store`")
    val in = java.nio.file.Files
      .createTempDirectory("graft-wsn-in").toString
    (0 until 20).map(i => (i.toLong, (i * 13 - 128).toByte,
      (i * 3000 - 30000).toShort)).toDF("id", "b", "sm")
      .coalesce(2).write.mode("append").parquet(in)
    def tmp() = java.nio.file.Files
      .createTempDirectory("graft-wsn-ck").toString
    val q = spark.readStream.schema("id BIGINT, b TINYINT, sm SMALLINT")
      .parquet(in)
      .writeStream.option("checkpointLocation", tmp())
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .toTable("glake.wsn")
    q.awaitTermination(60000) shouldBe true
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("id", "b", "sm").collect()
        .map(r => (r.getLong(0), r.getByte(1), r.getShort(2))).toSeq
        .sorted
    val batch = rows(spark.table("glake.wsn"))
    batch.map(_._1) shouldBe (0L until 20L)
    // from version 0 the window holds the CREATE TABLE anchor, so the
    // feed is staged; from version 1 it is the stream's own add, read
    // in place from the staged-then-adopted group files
    Seq(0, 1).foreach { from =>
      val name = s"wsn_feed$from"
      val f = spark.readStream.format("graft-store-changes")
        .option("table", "glake.wsn")
        .option("startingVersion", from.toString).load()
        .writeStream.format("memory").queryName(name)
        .option("checkpointLocation", tmp())
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      f.awaitTermination(60000) shouldBe true
      val feed = spark.table(name)
      feed.filter($"_change" =!= "insert").count() shouldBe 0L
      rows(feed) shouldBe batch
    }
  }

  test("readStream.table serves map columns from batch-written " +
      "group files (snapshot and append vintages alike)") {
    root
    spark.sql("CREATE TABLE glake.rsmap (id BIGINT, " +
      "m MAP<STRING, BIGINT>) USING `graft-store`")
    spark.sql("INSERT INTO glake.rsmap VALUES " +
      "(1, map('a', 10, 'b', 20)), (2, map()), (3, NULL)")
    val ck = java.nio.file.Files
      .createTempDirectory("graft-cat-rsmap").toString
    val q = spark.readStream.table("glake.rsmap")
      .writeStream.format("memory").queryName("cat_rsmap")
      .option("checkpointLocation", ck)
      .trigger(org.apache.spark.sql.streaming.Trigger
        .ProcessingTime(100L))
      .start()
    try {
      val t0 = System.currentTimeMillis()
      while (spark.table("cat_rsmap").count() < 3 &&
        System.currentTimeMillis() - t0 < 60000) {
        q.exception.foreach(throw _)
        Thread.sleep(100)
      }
      spark.sql( // an APPEND-window vintage, not just the snapshot
        "INSERT INTO glake.rsmap VALUES (4, map('z', 4))")
      val t1 = System.currentTimeMillis()
      while (spark.table("cat_rsmap").count() < 4 &&
        System.currentTimeMillis() - t1 < 60000) Thread.sleep(100)
      val got = spark.table("cat_rsmap")
        .selectExpr("id", "cast(map_entries(m) as string)")
        .collect().map(r => (r.getLong(0), r.getString(1)))
        .sortBy(_._1).toSeq
      got shouldBe Seq((1L, "[{a, 10}, {b, 20}]"), (2L, "[]"),
        (3L, null), (4L, "[{z, 4}]"))
    } finally if (q.isActive) q.stop()
  }

  test("writeStream.toTable survives ALTER TABLE RENAME COLUMN: " +
      "epochs stage under PHYSICAL names, batch reads and the CDC " +
      "feed bind through the mapping") {
    root
    val s = spark
    import s.implicits._
    spark.sql("CREATE TABLE glake.rn (id BIGINT, body STRING) " +
      "USING `graft-store`")
    spark.sql("INSERT INTO glake.rn VALUES (1, 'pre')")
    spark.sql("ALTER TABLE glake.rn RENAME COLUMN body TO txt")
    val in = java.nio.file.Files
      .createTempDirectory("graft-rn-in").toString
    val ck = java.nio.file.Files
      .createTempDirectory("graft-rn-ck").toString
    Seq((2L, "post")).toDF("id", "txt")
      .coalesce(1).write.mode("append").parquet(in)
    val q = spark.readStream.schema("id BIGINT, txt STRING")
      .parquet(in)
      .writeStream.option("checkpointLocation", ck)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .toTable("glake.rn")
    q.awaitTermination(60000) shouldBe true
    // batch read binds both groups through the mapping
    spark.table("glake.rn").orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1)))
      .toSeq shouldBe Seq((1L, "pre"), (2L, "post"))
    // the streamed group's FILES carry the physical name — uniform
    // with the pre-rename group (that is what makes the adopt a
    // zero-copy rename)
    val latest = VersionedStore.latestVersion(spark, s"$root/rn")
    val feed = VersionedStore.changes(spark, s"$root/rn",
      latest - 1, latest)
    feed.columns should contain("txt")
    feed.filter(col("_change") === "insert").select("id", "txt")
      .collect().map(r => (r.getLong(0), r.getString(1)))
      .toSeq shouldBe Seq((2L, "post"))
    // a SECOND rename, then another epoch from a fresh query under
    // the new logical name: both stage onto the SAME physical
    // lineage (physical names never change)
    spark.sql("ALTER TABLE glake.rn RENAME COLUMN txt TO content")
    val in2 = java.nio.file.Files
      .createTempDirectory("graft-rn-in2").toString
    Seq((3L, "again")).toDF("id", "content")
      .coalesce(1).write.mode("append").parquet(in2)
    val q2 = spark.readStream.schema("id BIGINT, content STRING")
      .parquet(in2)
      .writeStream.option("checkpointLocation", java.nio.file.Files
        .createTempDirectory("graft-rn-ck2").toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .toTable("glake.rn")
    q2.awaitTermination(60000) shouldBe true
    spark.table("glake.rn").orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq shouldBe
      Seq((1L, "pre"), (2L, "post"), (3L, "again"))
    spark.table("glake.rn").columns.toSeq shouldBe
      Seq("id", "content")
    // history replay over a bare ROW feed cannot bind the renamed
    // column (pre-rename files carry the physical name; a silent
    // NULL would be wrong) — refuses loudly, naming the
    // mapping-aware change feed as the escape hatch
    val rq = spark.readStream.option("startingVersion", "0")
      .table("glake.rn")
      .writeStream.format("memory").queryName("rn_replay")
      .option("checkpointLocation", java.nio.file.Files
        .createTempDirectory("graft-rn-ck3").toString)
      .trigger(org.apache.spark.sql.streaming.Trigger
        .ProcessingTime(100L))
      .start()
    try {
      val t0 = System.currentTimeMillis()
      while (rq.exception.isEmpty &&
        System.currentTimeMillis() - t0 < 60000) Thread.sleep(100)
      rq.exception.isDefined shouldBe true
      rq.exception.get.getMessage should include("graft-store-changes")
    } finally if (rq.isActive) rq.stop()
  }

  test("ALTER TABLE ADD COLUMNS (pay.c) widens a struct in place " +
      "through SQL: old rows serve NULL, the snapshot stream " +
      "spans the vintages, nested rename/drop refuse loudly") {
    root
    spark.sql("CREATE TABLE glake.ne (id BIGINT, " +
      "pay STRUCT<a: BIGINT, b: STRING>) USING `graft-store`")
    spark.sql("INSERT INTO glake.ne VALUES " +
      "(1, named_struct('a', 10L, 'b', 'x'))")
    spark.sql("ALTER TABLE glake.ne ADD COLUMNS (pay.c BIGINT)")
    spark.table("glake.ne").schema("pay").dataType
      .asInstanceOf[org.apache.spark.sql.types.StructType]
      .fieldNames.toSeq shouldBe Seq("a", "b", "c")
    spark.sql("INSERT INTO glake.ne VALUES " +
      "(2, named_struct('a', 20L, 'b', 'y', 'c', 99L))")
    spark.table("glake.ne").selectExpr("id", "pay.c").orderBy("id")
      .collect().map(r => (r.getLong(0),
        if (r.isNullAt(1)) -1L else r.getLong(1))).toSeq shouldBe
      Seq((1L, -1L), (2L, 99L))
    // the snapshot-first ROW stream serves BOTH vintages (the
    // pre-evolution group lacks pay.c on disk — the executor
    // reader's nested missing-field guard serves NULL)
    val ck = java.nio.file.Files
      .createTempDirectory("graft-cat-ne").toString
    val q = spark.readStream.table("glake.ne")
      .writeStream.format("memory").queryName("cat_ne")
      .option("checkpointLocation", ck)
      .trigger(org.apache.spark.sql.streaming.Trigger
        .ProcessingTime(100L))
      .start()
    try {
      val t0 = System.currentTimeMillis()
      while (spark.table("cat_ne").count() < 2 &&
        System.currentTimeMillis() - t0 < 60000) {
        q.exception.foreach(throw _)
        Thread.sleep(100)
      }
      spark.table("cat_ne").selectExpr("id", "pay.b", "pay.c")
        .collect().map(r => (r.getLong(0), r.getString(1),
          if (r.isNullAt(2)) -1L else r.getLong(2)))
        .sortBy(_._1).toSeq shouldBe
        Seq((1L, "x", -1L), (2L, "y", 99L))
    } finally if (q.isActive) q.stop()
    // nested rename / drop / retype stay loud refusals
    intercept[Exception] {
      spark.sql("ALTER TABLE glake.ne RENAME COLUMN pay.a TO z")
    }.getMessage should include("top-level")
    intercept[Exception] {
      spark.sql("ALTER TABLE glake.ne DROP COLUMN pay.a")
    }.getMessage should include("top-level")
    // the element pseudo-step reaches structs inside arrays via SQL
    spark.sql("ALTER TABLE glake.ne ADD COLUMNS " +
      "(tags ARRAY<STRUCT<x: BIGINT>>)")
    spark.sql("ALTER TABLE glake.ne ADD COLUMNS " +
      "(tags.element.y STRING)")
    spark.table("glake.ne").schema("tags").dataType
      .asInstanceOf[org.apache.spark.sql.types.ArrayType]
      .elementType
      .asInstanceOf[org.apache.spark.sql.types.StructType]
      .fieldNames.toSeq shouldBe Seq("x", "y")
  }

  test("time travel through the catalog's versioned loadTable: " +
      "VERSION AS OF and TIMESTAMP AS OF resolve store versions") {
    root
    spark.sql("CREATE TABLE glake.tt (id BIGINT) USING `graft-store`")
    spark.sql("INSERT INTO glake.tt VALUES (1)")   // v2
    spark.sql("INSERT INTO glake.tt VALUES (2)")   // v3
    spark.sql("SELECT count(*) FROM glake.tt VERSION AS OF 2")
      .head.getLong(0) shouldBe 1L
    spark.sql("SELECT count(*) FROM glake.tt VERSION AS OF 3")
      .head.getLong(0) shouldBe 2L
    // TIMESTAMP AS OF now = latest
    spark.sql("SELECT count(*) FROM glake.tt TIMESTAMP AS OF " +
      "current_timestamp()").head.getLong(0) shouldBe 2L
  }
}

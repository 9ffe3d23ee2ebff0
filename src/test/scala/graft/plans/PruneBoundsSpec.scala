package graft.plans

import graft.SparkFixture
import graft.operators.VersionedStore
import graft.sources.GroupZoneFileIndex
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.{InSet,
  PredicateHelper}
import org.apache.spark.sql.catalyst.plans.logical.Filter
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** The shared predicate → bounds → surviving-files path: every caller
  * of [[PruneBounds]] — the zone-map rule, the store's plan-time file
  * index and the store's key pruning — gives the same survivors for
  * the same zones, each survivor set holds every matching row, long
  * IN lists prune everywhere, and the Bloom rule keeps the rows of
  * DATE and TIMESTAMP columns.
  */
class PruneBoundsSpec extends AnyFunSuite with SparkFixture
    with Matchers with PredicateHelper {

  // 4 files / groups: group g holds id in [100g, 100g + 99], n = id as
  // INT (its comparisons with long literals plan as a widening cast),
  // name = "s0g-iii" (string zones in UTF8 order)
  private lazy val rows = spark.range(400).select(col("id"),
    col("id").cast("int").as("n"),
    format_string("s%02d-%03d", (col("id") / 100).cast("int"),
      col("id") % 100).as("name"),
    (col("id") / 100).cast("long").as("zfile"))

  private lazy val dir = {
    val d = java.nio.file.Files.createTempDirectory("graft-prune")
      .toString + "/t"
    rows.write.partitionBy("zfile").parquet(d)
    d
  }

  private lazy val store = {
    val p = java.nio.file.Files.createTempDirectory("graft-prune-st")
      .toString + "/store"
    VersionedStore.create(spark, p)
    (0 until 4).foreach(g => VersionedStore.append(
      rows.where(col("zfile") === g).drop("zfile").coalesce(1), p,
      zoneCols = Seq("id", "n", "name")))
    p
  }

  private def scannedParts(q: DataFrame): Option[Int] = {
    q.collect()
    q.queryExecution.executedPlan.collectLeaves().collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.selectedPartitions.partitionCount
    }
  }

  /** numFiles of the executed scan — the store scan's receipt. */
  private def filesRead(q: DataFrame): Long = {
    q.collect()
    q.queryExecution.executedPlan.collectLeaves().collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.metrics("numFiles").value
    }.getOrElse(0L)
  }

  private def withRule[T](r: FileSkipRule)(body: => T): T = {
    val s = spark
    if (!s.experimental.extraOptimizations.contains(r))
      s.experimental.extraOptimizations =
        s.experimental.extraOptimizations :+ r
    try body finally r.clear()
  }

  private val eleven: Seq[Long] = 300L to 310L

  test("every caller prunes the same files for the same zones, and " +
      "keeps every file holding a matching row") {
    val t = spark.read.parquet(dir)
    val entry = ZoneMapPruneRule.register(t, "zfile",
      Seq("id", "n", "name"))
    ZoneMapPruneRule.clear() // the conditions below stay unrewritten
    val groups = entry.stats.sortBy(_._1).map { case (f, zs) =>
      GroupZoneFileIndex.GroupFiles(f.toString, Nil, zs)
    }
    val v = VersionedStore.latestVersion(spark, store)
    // the store's key pruning takes one key range; fid g + 1 is group g
    def l(c: String, lo: Long, hi: Long): Set[Long] =
      VersionedStore.candidateFids(spark, store, v, c, lo, hi)
        .map(_ - 1).toSet
    def s(c: String, lo: String, hi: String): Set[Long] =
      VersionedStore.candidateFidsStr(spark, store, v, c, lo, hi)
        .map(_ - 1).toSet
    val all = Set(0L, 1L, 2L, 3L)
    val Max = Long.MaxValue
    val Min = Long.MinValue
    val cases: Seq[(String, Column, () => Set[Long])] = Seq(
      ("=", col("id") === 150L, () => l("id", 150, 150)),
      ("= literal left", lit(150L) === col("id"),
        () => l("id", 150, 150)),
      ("<=>", col("id") <=> 250L, () => l("id", 250, 250)),
      ("strict range", col("id") > 99L && col("id") < 200L,
        () => l("id", 100, 199)),
      ("strict, literal left", lit(300L) < col("id"),
        () => l("id", 301, Max)),
      ("<=", col("id") <= 99L, () => l("id", Min, 99)),
      ("between", col("id").between(180L, 220L),
        () => l("id", 180, 220)),
      ("widening cast", col("n") > 199L, () => l("n", 200, Max)),
      ("IN hull", col("id").isin(3L, 25L), () => l("id", 3, 25)),
      ("InSet hull", col("id").isin(eleven: _*),
        () => l("id", 300, 310)),
      ("OR", col("id") === 5L || col("id") === 305L,
        () => l("id", 5, 5) ++ l("id", 305, 305)),
      ("ASCII prefix", col("name").like("s01%"),
        () => s("name", "s01", "s02")),
      ("string range", col("name") >= "s02" && col("name") < "s03",
        () => s("name", "s02", "s03")),
      ("string IN hull", col("name").isin("s00-005", "s02-007"),
        () => s("name", "s00-005", "s02-007")),
      ("OR across columns, AND a bound",
        (col("id") < 50L || col("name") === "s03-001") &&
          col("id") >= 0L,
        () => (l("id", Min, 49) ++ s("name", "s03-001", "s03-001"))
          .intersect(l("id", 0, Max))),
      ("strict bound at Long.MaxValue", col("id") > Max,
        () => l("id", Min, Max)),
      ("unrecognized", col("id") % 7 === 0, () => all))
    cases.foreach { case (label, pred, storeSurv) =>
      withClue(s"$label: ") {
        val cond = t.filter(pred).queryExecution.optimizedPlan
          .collectFirst { case Filter(c, _) => c }.get
        if (label == "InSet hull")
          cond.find(_.isInstanceOf[InSet]) should not be empty
        val rule = ZoneMapPruneRule.survivorsForCond(entry, cond)
          .fold(all)(_.toSet)
        val index = GroupZoneFileIndex
          .survivors(groups, splitConjunctivePredicates(cond))
          .map(_.dir.toLong).toSet
        index shouldBe rule
        storeSurv() shouldBe rule
        val holding = t.filter(pred)
          .select(col("zfile").cast("long")).distinct()
          .collect().map(_.getLong(0)).toSet
        holding.subsetOf(rule) shouldBe true
      }
    }
  }

  test("an IN list long enough to plan as InSet prunes in the " +
      "zone-map rule, the Bloom rule and the store scan") {
    val t = spark.read.parquet(dir)
    val q = t.filter(col("id").isin(eleven: _*))
    withRule(ZoneMapPruneRule) {
      ZoneMapPruneRule.register(t, "zfile", Seq("id"))
      q.count() shouldBe 11L
      scannedParts(q) shouldBe Some(1)
    }
    withRule(BloomSkipRule) {
      BloomSkipRule.register(t, "zfile", Seq("id"))
      q.count() shouldBe 11L
      scannedParts(q).get should be <= 2
    }
    val sq = VersionedStore.read(spark, store)
      .filter(col("id").isin(eleven: _*))
    sq.count() shouldBe 11L
    filesRead(VersionedStore.read(spark, store)) shouldBe 4L
    filesRead(sq) shouldBe 1L
  }

  test("Bloom skipping keeps the matching rows of DATE and TIMESTAMP " +
      "columns (their filters hold the string cast)") {
    val s = spark
    import s.implicits._
    val d = java.nio.file.Files.createTempDirectory("graft-prune-bd")
      .toString + "/t"
    (0 until 4).flatMap { f =>
      (1 to 7).map { day =>
        val ds = f"1994-02-${(day + f) % 7 + 1}%02d"
        (java.sql.Date.valueOf(ds),
          java.sql.Timestamp.valueOf(s"$ds 10:00:00"), f.toLong)
      }
    }.toDF("d", "ts", "zfile").write.partitionBy("zfile").parquet(d)
    withRule(BloomSkipRule) {
      val t = spark.read.parquet(d)
      BloomSkipRule.register(t, "zfile", Seq("d", "ts"))
      t.filter(col("d") === lit(java.sql.Date.valueOf("1994-02-05")))
        .count() shouldBe 4L
      t.filter(col("ts") ===
          lit(java.sql.Timestamp.valueOf("1994-02-05 10:00:00")))
        .count() shouldBe 4L
      t.filter(col("d").isin(java.sql.Date.valueOf("1994-02-05"),
        java.sql.Date.valueOf("1994-02-06"))).count() shouldBe 8L
    }
  }

  test("a TIMESTAMP filter never prunes by an old-layout integral " +
      "hull of the same column (seconds, not microseconds)") {
    val p = java.nio.file.Files.createTempDirectory("graft-prune-ts")
      .toString + "/store"
    VersionedStore.create(spark, p)
    val dataSchema = StructType(Seq(StructField("id", LongType),
      StructField("ts", TimestampType)))
    spark.createDataFrame(java.util.Arrays.asList((0 until 10).map(i =>
        Row(i.toLong, new java.sql.Timestamp((1000L + i) * 1000L))): _*),
      dataSchema).write.parquet(s"$p/data/f1")
    // the older record layout: the statsCol hull as stat_min/stat_max,
    // which earlier builds wrote for a timestamp as cast(ts as long),
    // epoch seconds
    val logSchema = StructType(Seq(
      StructField("action", StringType), StructField("fid", LongType),
      StructField("rows", LongType), StructField("txn", LongType),
      StructField("stat_col", StringType),
      StructField("stat_min", LongType),
      StructField("stat_max", LongType),
      StructField("schema_json", StringType),
      StructField("ts", LongType),
      StructField("zc", ArrayType(StringType)),
      StructField("zt", ArrayType(StringType)),
      StructField("zlo", ArrayType(StringType)),
      StructField("zhi", ArrayType(StringType)),
      StructField("bc", ArrayType(StringType))))
    spark.createDataFrame(java.util.Arrays.asList(Row("add", 1L, 10L,
        -1L, "ts", 1000L, 1009L, dataSchema.json, 1000L,
        Seq.empty[String], Seq.empty[String], Seq.empty[String],
        Seq.empty[String], Seq.empty[String])), logSchema)
      .coalesce(1).write.parquet(f"$p/log/v${1}%09d")
    VersionedStore.dropLogCache(p)
    VersionedStore.read(spark, p)
      .filter(col("ts") === lit(new java.sql.Timestamp(1005000L)))
      .select("id").collect().map(_.getLong(0)) shouldBe Array(5L)
  }
}

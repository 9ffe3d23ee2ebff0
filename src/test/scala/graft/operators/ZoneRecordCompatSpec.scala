package graft.operators

import graft.SparkFixture
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** A commit record carries each group's min/max once, as a zone; the
  * `statsCol` marker is only a name. Records written in the older
  * layout — the marker's hull as `stat_min`/`stat_max`, no zone —
  * must keep answering every stats-driven question the same way,
  * warm, cold, and after a checkpoint re-encodes them.
  */
class ZoneRecordCompatSpec extends AnyFunSuite with SparkFixture
    with Matchers {

  private def freshPath(): String =
    java.nio.file.Files.createTempDirectory("graft-zonecompat")
      .toString + "/store"

  private val dataSchema = StructType(Seq(
    StructField("id", LongType), StructField("body", StringType)))

  /** The older record layout, written with Spark the way earlier
    * builds wrote it: one add with the `stat_*` triple and, when
    * given, zones.
    */
  private def oldRecord(p: String, v: Long, fid: Long, ids: Range,
      statLo: Long, statHi: Long,
      zone: Option[(Long, Long)] = None): Unit = {
    spark.createDataFrame(
      java.util.Arrays.asList(ids.map(i => Row(i.toLong, s"d$i")): _*),
      dataSchema).write.parquet(s"$p/data/f$fid")
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
    val z = zone.toSeq
    val rec = Row("add", fid, ids.size.toLong, -1L, "id", statLo, statHi,
      dataSchema.json, 1000L * v, z.map(_ => "id"), z.map(_ => "l"),
      z.map(_._1.toString), z.map(_._2.toString), Seq.empty[String])
    spark.createDataFrame(java.util.Arrays.asList(rec), logSchema)
      .coalesce(1).write.parquet(f"$p/log/v$v%09d")
  }

  private def rangeIds(p: String, lo: Long, hi: Long): Seq[Long] =
    VersionedStore.readRange(spark, p, "id", lo, hi)
      .select("id").collect().map(_.getLong(0)).toSeq.sorted

  test("an old-layout stats record reads as a marker plus an " +
      "integral zone: the same answers warm, cold and after a " +
      "checkpoint") {
    val p = freshPath()
    VersionedStore.create(spark, p)
    oldRecord(p, 1L, 1L, 0 until 10, 0L, 9L)
    oldRecord(p, 2L, 2L, 100 until 110, 100L, 109L)
    // both forms on one column: the zone wins (the hull of the rows)
    oldRecord(p, 3L, 3L, 200 until 210, 0L, 1000L,
      zone = Some((200L, 209L)))
    VersionedStore.dropLogCache(p)

    def sameAnswers(): Unit = {
      VersionedStore.storeStatsCol(spark, p) shouldBe Some("id")
      VersionedStore.describe(spark, p).select("stats_col").head
        .getString(0) shouldBe "id"
      val v = VersionedStore.latestVersion(spark, p)
      def cand(lo: Long, hi: Long) =
        VersionedStore.candidateFids(spark, p, v, "id", lo, hi)
      cand(5L, 7L) shouldBe Seq(1L)
      cand(0L, 250L) shouldBe Seq(1L, 2L, 3L)
      cand(50L, 60L) shouldBe empty
      cand(500L, 600L) shouldBe empty
      rangeIds(p, 5L, 104L) shouldBe ((5L to 9L) ++ (100L to 104L))
      VersionedStore.readRange(spark, p, "id", 100L, 104L).inputFiles
        .forall(_.contains("/data/f2/")) shouldBe true
      VersionedStore.fastMinMax(spark, p, "id") shouldBe Some((0L, 209L))
    }
    sameAnswers()
    VersionedStore.dropLogCache(p)
    sameAnswers()
    // a checkpoint re-encodes the old records in the new layout; a
    // cold read through it answers the same
    VersionedStore.checkpoint(spark, p, 3L)
    val ckpt = spark.read.parquet(f"$p/log/ckpt-v${3}%09d")
    ckpt.filter("stat_min IS NOT NULL").count() shouldBe 0L
    ckpt.filter("stat_col = 'id' AND array_contains(zc, 'id')")
      .count() shouldBe 3L
    VersionedStore.dropLogCache(p)
    sameAnswers()

    // a new statsCol append keeps the discipline and writes its hull
    // once: a zone on the column, the marker's name, no stat_min
    VersionedStore.append(spark.createDataFrame(
      java.util.Arrays.asList((300 until 305).map(i =>
        Row(i.toLong, s"d$i")): _*), dataSchema), p,
      statsCol = Some("id"))
    val raw = spark.read.parquet(f"$p/log/v${4}%09d").head
    raw.getAs[String]("stat_col") shouldBe "id"
    raw.isNullAt(raw.fieldIndex("stat_min")) shouldBe true
    raw.isNullAt(raw.fieldIndex("stat_max")) shouldBe true
    raw.getAs[Seq[String]]("zc") shouldBe Seq("id")
    raw.getAs[Seq[String]]("zt") shouldBe Seq("l")
    raw.getAs[Seq[String]]("zlo") shouldBe Seq("300")
    raw.getAs[Seq[String]]("zhi") shouldBe Seq("304")
    VersionedStore.storeStatsCol(spark, p) shouldBe Some("id")
    VersionedStore.candidateFids(spark, p, 4L, "id", 301L, 302L) shouldBe
      Seq(4L)
    VersionedStore.fastMinMax(spark, p, "id") shouldBe Some((0L, 304L))
  }
}

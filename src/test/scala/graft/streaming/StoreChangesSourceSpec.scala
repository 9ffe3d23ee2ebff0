package graft.streaming

import graft.SparkFixture
import graft.operators.VersionedStore
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** The DSv2 change-feed source ([[StoreChangesSource]]): feed rows
  * bit-equal to [[VersionedStore.changes]] across append-only AND
  * rewrite windows, offsets = store versions visible in
  * StreamingQueryProgress, checkpointed offset resume with no
  * overlap and no gap, and the zero-copy window planner's
  * soundness gate.
  */
class StoreChangesSourceSpec extends AnyFunSuite with SparkFixture
    with Matchers {

  private def freshDir(): String =
    java.nio.file.Files.createTempDirectory("graft-dsv2").toString

  private def batch(ids: Range, tag: String = "a") = {
    val s = spark
    import s.implicits._
    ids.map(i => (i.toLong, s"$tag$i")).toDF("id", "body")
  }

  private def drainTo(q: org.apache.spark.sql.streaming
      .StreamingQuery, table: String, n: Long): Unit = {
    val t0 = System.currentTimeMillis()
    while (spark.table(table).count() < n &&
      System.currentTimeMillis() - t0 < 60000) Thread.sleep(100)
    Thread.sleep(500) // settle the offset commit
    q.stop()
    spark.table(table).count() shouldBe n
  }

  test("readStream feed rows equal the batch change feed across " +
      "mixed windows; offsets in progress are store versions") {
    val s = spark
    import s.implicits._
    val d = freshDir()
    val src = s"$d/src"
    VersionedStore.create(spark, src)
    VersionedStore.append(batch(0 until 20), src)              // v1
    VersionedStore.merge(spark, src,
      Seq((3L, "m3"), (100L, "m100")).toDF("id", "body"),
      Seq("id"))                                               // v2
    VersionedStore.deleteKeys(spark, src,
      Seq(7L).toDF("id"), Seq("id"))                           // v3
    val latest = VersionedStore.latestVersion(spark, src)
    val expected = VersionedStore.changes(spark, src, 0L, latest)
      .select("id", "body", "_change").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      .sorted.toSeq
    val q = spark.readStream.format("graft-store-changes")
      .option("path", src).load()
      .writeStream.format("memory").queryName("dsv2_feed")
      .option("checkpointLocation", s"$d/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger
        .ProcessingTime(100L))
      .start()
    try drainTo(q, "dsv2_feed", expected.length.toLong)
    finally if (q.isActive) q.stop()
    spark.table("dsv2_feed")
      .select("id", "body", "_change").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      .sorted.toSeq shouldBe expected
    // offsets reported to the streaming engine ARE store versions
    val prog = q.recentProgress.filter(_.sources.nonEmpty)
    prog.nonEmpty shouldBe true
    prog.map(_.sources(0).endOffset.trim.toLong)
      .max shouldBe latest
  }

  test("checkpointed restart resumes at the committed version — " +
      "no overlap, no gap; a fresh window streams only the delta") {
    val s = spark
    import s.implicits._
    val d = freshDir()
    val src = s"$d/src"
    VersionedStore.create(spark, src)
    VersionedStore.append(batch(0 until 10), src)              // v1
    // foreachBatch sink (memory does not support checkpoint
    // recovery); the buffer collects (id, _change) across runs
    val got = new java.util.concurrent.ConcurrentLinkedQueue[
      (Long, String)]()
    def start() =
      spark.readStream.format("graft-store-changes")
        .option("path", src).load()
        .writeStream
        .option("checkpointLocation", s"$d/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger
          .ProcessingTime(100L))
        .foreachBatch {
          (df: org.apache.spark.sql.DataFrame, _: Long) =>
            df.select("id", "_change").collect().foreach(r =>
              got.add((r.getLong(0), r.getString(1))))
            ()
        }
        .start()
    def drain(q: org.apache.spark.sql.streaming.StreamingQuery,
        n: Int): Unit = {
      val t0 = System.currentTimeMillis()
      while (got.size < n &&
        System.currentTimeMillis() - t0 < 60000) Thread.sleep(100)
      Thread.sleep(500)
      q.stop()
      got.size shouldBe n
    }
    val q1 = start()
    try drain(q1, 10)
    finally if (q1.isActive) q1.stop()
    // source advances while no stream runs: an append AND a rewrite
    VersionedStore.append(batch(50 until 55, "b"), src)        // v2
    VersionedStore.deleteKeys(spark, src,
      Seq(2L).toDF("id"), Seq("id"))                           // v3
    val q2 = start()
    // the restarted run must deliver ONLY the delta: 5 inserts + 1
    // delete — 16 rows total, no overlap with run 1
    try drain(q2, 16)
    finally if (q2.isActive) q2.stop()
    import scala.jdk.CollectionConverters._
    val delta = got.asScala.toSeq.drop(10).sorted
    delta shouldBe ((2L, "delete") +:
      (50L until 55L).map(i => (i, "insert"))).sorted
  }

  test("the executor-side reader handles the store's full column " +
      "shapes: float arrays (embeddings), timestamps, doubles, " +
      "booleans — bit-equal to the batch feed") {
    val s = spark
    import s.implicits._
    val d = freshDir()
    val src = s"$d/src"
    VersionedStore.create(spark, src)
    val rows = (0 until 50).map { i =>
      (i.toLong, Array.tabulate(8)(j => (i * 8 + j) / 10.0f),
        java.sql.Timestamp.valueOf(s"2026-01-0${i % 9 + 1} 12:00:00"),
        i / 3.0, i % 2 == 0)
    }
    VersionedStore.append(rows.toDF(
      "id", "emb", "ts", "score", "flag"), src)             // v1
    // a rewrite window too, so BOTH reader paths (zero-copy group
    // files AND staged derivation files) cover the shapes
    VersionedStore.deleteKeys(spark, src,
      Seq(7L).toDF("id"), Seq("id"))                         // v2
    val latest = VersionedStore.latestVersion(spark, src)
    val expected = VersionedStore.changes(spark, src, 0L, latest)
      .selectExpr("id", "cast(emb as string)", "cast(ts as string)",
        "score", "flag", "_change")
      .collect().map(_.toSeq).sortBy(_.head.asInstanceOf[Long])
    val q = spark.readStream.format("graft-store-changes")
      .option("path", src).load()
      .writeStream.format("memory").queryName("dsv2_shapes")
      .option("checkpointLocation", s"$d/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger
        .ProcessingTime(100L))
      .start()
    try drainTo(q, "dsv2_shapes", expected.length.toLong)
    finally if (q.isActive) q.stop()
    spark.table("dsv2_shapes")
      .selectExpr("id", "cast(emb as string)", "cast(ts as string)",
        "score", "flag", "_change")
      .collect().map(_.toSeq).sortBy(_.head.asInstanceOf[Long])
      .toSeq shouldBe expected.toSeq
  }

  test("decimals (all three parquet encodings), structs, and " +
      "MILLIS-unit timestamps replicate bit-exact through BOTH " +
      "reader paths — zero-copy group files and staged derivation") {
    val s = spark
    import s.implicits._
    val d = freshDir()
    val src = s"$d/src"
    VersionedStore.create(spark, src)
    val base = (0 until 40).map(i => (i.toLong, BigDecimal(i * 7) / 4,
      java.sql.Timestamp.valueOf(
        s"2026-02-0${i % 9 + 1} 08:30:0${i % 10}.${i % 10}")))
      .toDF("id", "dec", "ts")
      .select(col("id"),
        col("dec").cast("decimal(7,2)").as("d32"),     // INT32
        col("dec").cast("decimal(15,4)").as("d64"),    // INT64
        col("dec").cast("decimal(28,8)").as("dbig"),   // FLBA
        col("ts"),
        struct((col("id") * 3).as("a"),
          when(col("id") % 7 === 0, lit(null))
            .otherwise(concat(lit("s"), col("id"))).as("b"))
          .as("pay"))
    // v1's group file carries MILLIS-unit INT64 timestamps — the
    // 1000x-silent-skew trap if the reader assumed micros
    spark.conf.set("spark.sql.parquet.outputTimestampType",
      "TIMESTAMP_MILLIS")
    try VersionedStore.append(base, src)                     // v1
    finally spark.conf.set("spark.sql.parquet.outputTimestampType",
      "TIMESTAMP_MICROS")
    def canon(df: org.apache.spark.sql.DataFrame) = df.selectExpr(
      "id", "cast(d32 as string)", "cast(d64 as string)",
      "cast(dbig as string)", "cast(ts as string)",
      "cast(pay as string)", "_change")
      .collect().map(_.toSeq)
      .sortBy(r => (r.head.asInstanceOf[Long], r.last.toString))
      .toSeq
    val q = spark.readStream.format("graft-store-changes")
      .option("path", src).load()
      .writeStream.format("memory").queryName("dsv2_rich")
      .option("checkpointLocation", s"$d/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger
        .ProcessingTime(100L))
      .start()
    try {
      // batch 1: pure-append window (0,1] → ZERO-COPY over the
      // MILLIS group file
      drainToCount(q, "dsv2_rich", 40L)
      // batch 2: a rewrite window → STAGED derivation files
      // (written MICROS — both units live in one stream)
      VersionedStore.deleteKeys(spark, src,
        Seq(5L).toDF("id"), Seq("id"))                       // v2
      drainToCount(q, "dsv2_rich", 41L)
    } finally if (q.isActive) q.stop()
    val expected =
      canon(VersionedStore.changes(spark, src, 0L, 1L)) ++
        canon(VersionedStore.changes(spark, src, 1L, 2L))
    canon(spark.table("dsv2_rich")) shouldBe
      expected.sortBy(r => (r.head.asInstanceOf[Long],
        r.last.toString))
  }

  /** Poll the sink to `n` rows WITHOUT stopping the query (the
    * drain-and-continue shape the two-path test needs).
    */
  private def drainToCount(q: org.apache.spark.sql.streaming
      .StreamingQuery, table: String, n: Long): Unit = {
    val t0 = System.currentTimeMillis()
    while (spark.table(table).count() < n &&
      System.currentTimeMillis() - t0 < 60000) Thread.sleep(100)
    Thread.sleep(500)
    spark.table(table).count() shouldBe n
    val _ = q
  }

  test("zero-copy window planner soundness: pure-append windows " +
      "plan in place; any rewrite, DV, or schema change in the " +
      "window falls back to derivation") {
    val s = spark
    import s.implicits._
    val d = freshDir()
    val src = s"$d/src"
    VersionedStore.create(spark, src)
    VersionedStore.append(batch(0 until 10), src)              // v1
    VersionedStore.append(batch(10 until 20), src)             // v2
    VersionedStore.appendOnlyWindow(spark, src, 0L, 2L)
      .map(_.length) shouldBe Some(2)
    VersionedStore.deleteKeys(spark, src,
      Seq(1L).toDF("id"), Seq("id"))                           // v3
    VersionedStore.appendOnlyWindow(spark, src, 0L, 3L) shouldBe None
    VersionedStore.appendOnlyWindow(spark, src, 2L, 3L) shouldBe None
    // the window AFTER the rewrite is append-only again
    VersionedStore.append(batch(20 until 25), src)             // v4
    VersionedStore.appendOnlyWindow(spark, src, 3L, 4L)
      .map(_.length) shouldBe Some(1)
    // schema evolution in the window disarms zero-copy (old groups
    // would serve the wrong shape)
    VersionedStore.append(
      batch(25 until 30).withColumn("extra", lit(1L)), src,
      evolve = true)                                           // v5
    VersionedStore.appendOnlyWindow(spark, src, 3L, 5L) shouldBe None
    // a CREATE TABLE anchor (the store's first commit, a lone schema
    // record) adds no rows: the first window of a declared table
    // plans the append in place; a later ADD COLUMNS still derives
    val decl = s"$d/decl"
    VersionedStore.create(spark, decl)
    VersionedStore.declareSchema(spark, decl, batch(0 until 1).schema) // v1
    VersionedStore.append(batch(0 until 10), decl)             // v2
    val appended = VersionedStore.appendOnlyWindow(spark, decl, 1L, 2L)
    appended.map(_.length) shouldBe Some(1)
    VersionedStore.appendOnlyWindow(spark, decl, 0L, 2L) shouldBe appended
    VersionedStore.addColumns(spark, decl,
      Seq(StructField("extra", LongType)))                      // v3
    VersionedStore.appendOnlyWindow(spark, decl, 2L, 3L) shouldBe None
    VersionedStore.appendOnlyWindow(spark, decl, 0L, 3L) shouldBe None
  }
}

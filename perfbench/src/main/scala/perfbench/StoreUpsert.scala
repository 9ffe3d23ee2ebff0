package perfbench

import scala.collection.mutable

import graft.operators.VersionedStore
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** `store_upsert`: keyed merges beside reads on a prebuilt store of
  * ~600k rows. Each step merges a seeded batch of keys skewed toward
  * recent ids (plus fresh inserts), then point-reads keys it just
  * wrote and uniform keys, and range-reads both; every few commits it
  * runs the maintenance policy. The store fragments as writes pile
  * up, so a write-path gain that costs reads shows.
  */
final class StoreUpsert extends Workload {
  val BaseRows = 300000L
  val BatchKeys = 6000
  val RecentWindow = 30000L
  val InsertShare = 0.1
  val WrittenReads = 6
  val UniformReads = 6
  val RangeWidth = 400L
  val MaintainEvery = 4
  val MaxLiveGroups = 64

  private var path = ""
  private var hiKey = 0L
  private var step = 0
  private val latest = mutable.HashMap.empty[Long, Long] // id -> ver
  private val batches = mutable.ArrayBuffer.empty[Seq[Row]]

  def prepare(ctx: Ctx, round: Int): Unit = {
    val spark = ctx.spark
    path = ctx.dir("store", s"r$round")
    VersionedStore.create(spark, path)
    // prebuild: one clustered write into disjoint id ranges (up to 64
    // groups), each group with a zone on the key
    VersionedStore.overwrite(
      Gen.storeBase(spark, ctx.seed, 0, BaseRows, ctx.cores), path,
      statsCol = Some("id"), clusterBy = Seq("id"))
    hiKey = BaseRows
    step = 0
    latest.clear()
    batches.clear()
  }

  /** One full step: a merge, its reads and their checks. */
  def warmUp(ctx: Ctx): Unit = runStep(ctx, None)

  private final class Samples {
    val merge = mutable.ArrayBuffer.empty[Double]
    val point = mutable.ArrayBuffer.empty[Double]
    val range = mutable.ArrayBuffer.empty[Double]
    val stepS = mutable.ArrayBuffer.empty[Double]
    var updated = 0L
  }

  /** Seeded key batch: recent ids (most of it) plus fresh inserts. */
  private def keys(seed: Long, i: Int): Seq[Long] = {
    val rnd = new scala.util.Random(seed * 7919L + i)
    val inserts = (BatchKeys * InsertShare).toInt
    val fresh = (hiKey until hiKey + inserts).toSeq
    val recent = mutable.LinkedHashSet.empty[Long]
    val lo = math.max(0L, hiKey - RecentWindow)
    while (recent.size < BatchKeys - inserts)
      recent += lo + (rnd.nextDouble() * rnd.nextDouble() *
        (hiKey - lo)).toLong.max(0L).min(hiKey - lo - 1)
    // the product of two uniforms skews toward the low end; flip it
    // so the newest ids are the hottest
    recent.toSeq.map(k => hiKey - 1 - (k - lo)) ++ fresh
  }

  private def expectRow(seed: Long, id: Long): Option[Row] =
    if (id >= hiKey) None
    else Some(Gen.storeRow(seed, id, latest.getOrElse(id, 0L)))

  private def runStep(ctx: Ctx, s: Option[Samples]): Unit = {
    val spark = ctx.spark
    val i = step
    step += 1
    val ver = i + 1L
    val ks = keys(ctx.seed, i)
    val rows = ks.map(Gen.storeRow(ctx.seed, _, ver))
    val upd = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 2), Gen.storeSchema)
    val rnd = new scala.util.Random(ctx.seed * 31L + i)
    val t0 = System.nanoTime()
    ctx.span("store.step", i) {
      ctx.op {
        val (_, m) = ctx.clock(ctx.span("store.merge") {
          VersionedStore.merge(spark, path, upd, Seq("id"))
        })
        ks.foreach(latest(_) = ver)
        hiKey = math.max(hiKey, ks.max + 1)
        batches += rows
        s.foreach { x => x.merge += m; x.updated += rows.size }
      }
      val written = Seq.fill(WrittenReads)(ks(rnd.nextInt(ks.size)))
      val uniform = Seq.fill(UniformReads)((rnd.nextDouble() * hiKey).toLong)
      (written ++ uniform).zipWithIndex.foreach { case (k, j) =>
        ctx.op {
          val (got, d) = ctx.clock(ctx.span("store.point_read") {
            VersionedStore.readPoint(spark, path, "id", k).collect()
          })
          s.foreach(_.point += d)
          ctx.check(got.toSeq == expectRow(ctx.seed, k).toSeq,
            s"readPoint($k) = ${got.toSeq} != ${expectRow(ctx.seed, k)}")
          if (j == 0) plainFilter(ctx, col("id") === k, got.toSeq, s"readPoint($k)")
        }
      }
      Seq(ks(rnd.nextInt(ks.size)), (rnd.nextDouble() * hiKey).toLong)
        .foreach { lo =>
          ctx.op {
            val hi = lo + RangeWidth
            val (got, d) = ctx.clock(ctx.span("store.read_range") {
              VersionedStore.readRange(spark, path, "id", lo, hi).collect()
            })
            s.foreach(_.range += d)
            val want = (lo to hi).flatMap(expectRow(ctx.seed, _))
            ctx.check(Main.rowsHash(got.toSeq) == Main.rowsHash(want),
              s"readRange($lo, $hi): ${got.length} rows, want ${want.size}")
            plainFilter(ctx, col("id").between(lo, hi), got.toSeq,
              s"readRange($lo, $hi)")
          }
        }
      if ((i + 1) % MaintainEvery == 0) ctx.op {
        ctx.span("store.maintain") {
          VersionedStore.maintain(spark, path, MaxLiveGroups, Seq("id"),
            MaxLiveGroups)
        }
      }
    }
    s.foreach(_.stepS += (System.nanoTime() - t0) / 1e9)
  }

  /** A store read equals a plain filter over `VersionedStore.read`. */
  private def plainFilter(ctx: Ctx, pred: org.apache.spark.sql.Column,
      got: Seq[Row], what: String): Unit = {
    val plain = VersionedStore.read(ctx.spark, path).filter(pred).collect()
    ctx.check(Main.rowsHash(plain.toSeq) == Main.rowsHash(got),
      s"$what differs from a plain filtered read")
  }

  /** The store as plain DataFrame operations would leave it: the base
    * rows, each replaced by its latest update, plus every insert.
    */
  private def model(ctx: Ctx): DataFrame = {
    val spark = ctx.spark
    val base = Gen.storeBase(spark, ctx.seed, 0, BaseRows, 4)
    val ups = spark.createDataFrame(spark.sparkContext
      .parallelize(batches.flatten.toSeq, 4), Gen.storeSchema)
    val newest = ups.withColumn("_rn", row_number().over(
      Window.partitionBy("id").orderBy(col("ver").desc)))
      .filter(col("_rn") === 1).drop("_rn")
    base.join(newest.select("id"), Seq("id"), "left_anti")
      .unionByName(newest)
  }

  def measure(ctx: Ctx): (Seq[Metric], Seq[Metric]) = {
    val t = ctx.tracer
    val spanFrom = t.spans.size
    val s = new Samples
    val p0 = Probe.now()
    val t0 = System.nanoTime()
    while ((System.nanoTime() - t0) / 1e9 < ctx.seconds)
      runStep(ctx, Some(s))
    val probe = Probe.now() - p0
    ctx.log("window done")

    ctx.op {
      val got = Main.contentHash(VersionedStore.read(ctx.spark, path))
      val want = Main.contentHash(model(ctx))
      ctx.check(got == want, s"store content $got != model $want")
    }
    val spaceAmp = Main.spaceAmplification(ctx.spark, path)

    val stepSum = s.stepS.sum
    val e2e = Seq(
      Metric("ops_per_s", s.stepS.size / stepSum, "1/s"),
      Metric("main_op_s", Main.median(s.merge.toSeq), "s"),
      Metric("second_op_s", Main.median(s.point.toSeq), "s"),
      Metric("third_op_s", Main.median(s.range.toSeq), "s"),
      Metric("ops_ok_frac", 1.0 - ctx.failed.toDouble / ctx.attempted,
        "frac"),
      Metric("store_space_amp", spaceAmp, "ratio"),
      Metric("store.merge_p50_s", Main.median(s.merge.toSeq), "s"),
      Metric("store.updated_rows_per_s", s.updated / stepSum, "rows/s"),
      Metric("store.point_read_p50_s", Main.median(s.point.toSeq), "s"),
      Metric("store.space_amp", spaceAmp, "ratio"),
      Metric("store.steps", s.stepS.size.toDouble, "count"),
      Metric("store.point_reads", s.point.size.toDouble, "count")) ++
      Main.p90(s.point.toSeq).map(Metric("store.point_read_p90_s", _, "s"))

    val layers =
      if (!t.enabled) Nil
      else {
        t.settle()
        val ops = t.named("store.step", spanFrom)
        val merges = t.named("store.merge", spanFrom)
        val points = t.named("store.point_read", spanFrom)
        val maint = t.named("store.maintain", spanFrom)
        val pointPlans = t.plansUnder(points)
        val nm = math.max(1, merges.size).toDouble
        val rowBytes = Main.filesBytes(ctx.spark,
          VersionedStore.read(ctx.spark, path).inputFiles.toSeq).toDouble /
          math.max(1L, VersionedStore.fastCount(ctx.spark, path)
            .getOrElse(1L))
        val written = t.jobsUnder(merges).map(_.outBytes).sum.toDouble
        Layers.common(ctx, ops, probe) ++ Seq(
          Metric("store.merge_s", merges.map(_.dur).sum / nm, "s"),
          Metric("store.jobs_per_merge", t.jobsUnder(merges).size / nm,
            "count"),
          Metric("store.bytes_written_per_updated_byte",
            written / math.max(1.0, s.updated * rowBytes), "ratio"),
          Metric("store.compact_s", maint.map(_.dur).sum /
            math.max(1, maint.size), "s"),
          Metric("store.live_groups", Main.liveGroups(ctx.spark, path), "count"),
          Metric("store.point_read_s", points.map(_.dur).sum /
            math.max(1, points.size), "s"),
          Metric("store.files_read_per_point_read",
            pointPlans.map(_.filesRead).sum.toDouble /
              math.max(1, points.size), "count"),
          Metric("store.rows_read_per_row_returned",
            pointPlans.map(_.rowsScanned).sum.toDouble /
              math.max(1, points.size), "ratio"))
      }
    (e2e, layers)
  }
}

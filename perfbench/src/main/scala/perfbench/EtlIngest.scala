package perfbench

import java.time.LocalDate

import scala.collection.mutable

import graft.check.{ColumnsMatchOrdered, InSet, NotNull, Unique}
import graft.ingest.FileSensor.SensorConfig
import graft.meta.{MetaEntry, MetadataStore}
import graft.operators.VersionedStore
import graft.pipeline.{IngestPipeline, PipelineConfig}
import graft.transform.{IncrementalModel, Model, ModelRegistry, Table,
  View}
import org.apache.spark.sql.functions._

/** `etl_ingest`: the reference DAG, batch after batch. Each batch runs
  * `IngestPipeline.run` (sense, partition, metadata update, stage copy,
  * external table, check suite), then `ModelRegistry.test` over a view
  * model, a table model and an append-only incremental model into a
  * `VersionedStore` with auto-compaction. No merges, no point reads.
  */
final class EtlIngest extends Workload {
  val RowsPerBatch = 75000L
  val Pool = 2
  // the window runs at least this many batches; the store's space
  // amplification is read after exactly this many, so auto-compaction
  // (every few batches) always sits at the same point of the window
  val MinBatches = 3
  val Entity = "lineitem_feed"

  private var root = ""
  private var meta: MetadataStore = _
  private var registry: ModelRegistry = _
  private var batches: Seq[Gen.Batch] = Nil
  private var current = 0
  private var next = 0
  private var expectedStoreRows = 0L

  private val suite = Seq(
    ColumnsMatchOrdered(Gen.landingCols),
    NotNull("l_shipdate"),
    InSet("l_returnflag", Gen.flags),
    Unique(Seq("l_rowid")))

  def prepare(ctx: Ctx, round: Int): Unit = {
    val spark = ctx.spark
    root = ctx.dir("etl", s"r$round")
    batches = (0 until Pool).map(i => Gen.batchPlan(ctx.seed, i, RowsPerBatch))
    batches.foreach { b =>
      Gen.landing(spark, ctx.seed, b).coalesce(2).write
        .option("header", "true").mode("overwrite")
        .csv(s"$root/landing/b${b.index}")
    }
    meta = new MetadataStore(spark, s"$root/meta")
    meta.init(Seq(MetaEntry(Entity, "lineitem", "")))

    val tables = s"${Entity}_r$round"
    registry = new ModelRegistry(spark)
      .register(Model("stg_lineitem", View, _ =>
        spark.table(s"t_$Entity")
          .filter(col("l_shipdate").isNotNull &&
            col("l_returnflag").isin(Gen.flags: _*))
          .select(col("l_rowid").cast("long").as("l_rowid"),
            col("l_quantity").cast("double").as("l_quantity"),
            col("l_extendedprice").cast("double").as("l_extendedprice"),
            col("l_discount").cast("double").as("l_discount"),
            col("l_returnflag"), col("l_linestatus"),
            col("l_shipdate").cast("date").as("l_shipdate")),
        tests = Seq(NotNull("l_shipdate"), Unique(Seq("l_rowid")))))
      .register(Model(s"rev_$tables", Table, ref =>
        ref("stg_lineitem").groupBy("l_returnflag", "l_linestatus")
          .agg(count(lit(1)).as("n_rows"),
            sum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
              .as("revenue")),
        tests = Seq(NotNull("l_returnflag"))))
      .register(IncrementalModel("inc_lineitem", s"$root/inc",
        (ref, _) => ref("stg_lineitem").withColumn("batch", lit(current)),
        statsCol = Some("l_rowid"),
        tests = Seq(NotNull("l_rowid")),
        autoCompact = Some(6)))
    next = 0
    expectedStoreRows = 0L
  }

  /** Two full batches through every stage. */
  def warmUp(ctx: Ctx): Unit = (0 until 2).foreach(_ => batch(ctx))

  /** One batch through the DAG; returns (pipeline, transform) seconds. */
  private def batch(ctx: Ctx): Option[(Double, Double, Gen.Batch)] = {
    val spark = ctx.spark
    val i = next
    next += 1
    current = i
    val b = batches(i % batches.size)
    var out: Option[(Double, Double, Gen.Batch)] = None
    ctx.op {
      val ((res, tp), (tests, tt)) = ctx.span("etl.batch", i) {
        val p = ctx.clock(ctx.span("pipeline.run") {
          IngestPipeline.run(spark, meta, PipelineConfig(Entity,
            s"$root/landing/b${b.index}/*.csv", s"$root/raw",
            LocalDate.of(2024, 1, 1).plusDays(i.toLong),
            sensor = SensorConfig(pokeIntervalMs = 20, timeoutMs = 2000,
              retries = 0, softFail = false),
            checks = suite))
        })
        (p, ctx.clock(ctx.span("transform.test")(registry.test())))
      }
      expectedStoreRows += b.valid
      // correctness: staged rows, planted violations, model tests
      ctx.check(res.stagedCount == b.staged,
        s"batch $i staged ${res.stagedCount} != ${b.staged}")
      val v = res.checkResults.map(r => r.check -> r.violations).toMap
      val want = Map("columns_match_ordered" -> 0L,
        "notnull_l_shipdate" -> b.nulls,
        "inset_l_returnflag" -> b.badFlags,
        "unique_l_rowid" -> b.dups)
      ctx.check(v == want, s"batch $i check results $v != $want")
      val tv = tests.map { case (m, rs) =>
        m -> rs.map(r => r.check -> r.violations).toMap }
      val tables = tests.keys.find(_.startsWith("rev_")).getOrElse("?")
      val twant = Map(
        "stg_lineitem" -> Map("notnull_l_shipdate" -> 0L,
          "unique_l_rowid" -> b.dups),
        tables -> Map("notnull_l_returnflag" -> 0L),
        "inc_lineitem" -> Map("notnull_l_rowid" -> 0L))
      ctx.check(tv == twant, s"batch $i model tests $tv != $twant")
      out = Some((tp, tt, b))
    }
    out
  }

  def measure(ctx: Ctx): (Seq[Metric], Seq[Metric]) = {
    val t = ctx.tracer
    val spanFrom = t.spans.size
    val p0 = Probe.now()
    val store = s"$root/inc"
    val done = mutable.ArrayBuffer.empty[(Double, Double, Gen.Batch)]
    var spaceAmp = 0.0
    var n = 0
    val t0 = System.nanoTime()
    while (n < MinBatches || (System.nanoTime() - t0) / 1e9 < ctx.seconds) {
      batch(ctx).foreach(done += _)
      n += 1
      if (n == MinBatches) spaceAmp = Main.spaceAmplification(ctx.spark, store)
    }
    val wall = (System.nanoTime() - t0) / 1e9
    val probe = Probe.now() - p0
    ctx.log("window done")

    ctx.op {
      val n = VersionedStore.read(ctx.spark, store).count()
      ctx.check(n == expectedStoreRows,
        s"store rows $n != expected $expectedStoreRows")
    }

    val batchS = done.map(d => d._1 + d._2).toSeq
    val rows = done.map(_._3.staged).sum.toDouble
    val e2e = Seq(
      Metric("ops_per_s", done.size / wall, "1/s"),
      Metric("main_op_s", Main.median(batchS), "s"),
      Metric("second_op_s", Main.median(done.map(_._1).toSeq), "s"),
      Metric("third_op_s", Main.median(done.map(_._2).toSeq), "s"),
      Metric("ops_ok_frac", 1.0 - ctx.failed.toDouble / ctx.attempted,
        "frac"),
      Metric("store_space_amp", spaceAmp, "ratio"),
      Metric("etl.rows_per_s", rows / batchS.sum, "rows/s"),
      Metric("etl.batch_p50_s", Main.median(batchS), "s"),
      Metric("etl.batches", done.size.toDouble, "count"))

    val layers =
      if (!t.enabled) Nil
      else {
        t.settle()
        val ops = t.named("etl.batch", spanFrom)
        val pipe = t.named("pipeline.run", spanFrom)
        val trans = t.named("transform.test", spanFrom)
        def jobs(roots: Seq[Span], l: String) = Layers.jobsIn(t, roots, l)
        def secs(roots: Seq[Span], l: String) = jobs(roots, l).map(_.dur).sum
        val n = math.max(1, ops.size).toDouble
        val ingestJobs = jobs(pipe, "ingest")
        val common = Layers.common(ctx, ops, probe)
        common ++ Seq(
          Metric("pipeline.run_s", pipe.map(_.dur).sum / n, "s"),
          Metric("pipeline.jobs_per_batch", t.jobsUnder(pipe).size / n,
            "count"),
          Metric("meta.s", secs(pipe, "meta") / n, "s"),
          Metric("ingest.schema_infer_s", ingestJobs
            .filter(_.file == "SchemaInference.scala").map(_.dur).sum / n,
            "s"),
          Metric("ingest.stage_write_s", ingestJobs
            .filter(j => j.file == "IngestPipeline.scala" &&
              j.outBytes > 0).map(_.dur).sum / n, "s"),
          Metric("ingest.csv_bytes_read", ingestJobs
            .map(_.inBytes).sum / n, "bytes"),
          Metric("check.s", secs(pipe, "check") / n, "s"),
          Metric("transform.run_s",
            (trans.map(_.dur).sum - secs(trans, "check")) / n, "s"),
          Metric("transform.test_s", secs(trans, "check") / n, "s"),
          Metric("store.append_s", secs(trans, "store") / n, "s"),
          Metric("store.live_groups", Main.liveGroups(ctx.spark, store), "count"))
      }
    (e2e, layers)
  }

}

package perfbench

import java.io.File

import scala.collection.mutable
import scala.util.control.NonFatal

import graft.operators.VersionedStore
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** One measured value, printed by name with its unit. */
final case class Metric(name: String, value: Double, unit: String)

/** Shared state of one benchmark run: the session, the seed, the
  * tracer and the operation/failure ledger. Every correctness check
  * goes through [[check]]; a failed check fails the operation it
  * belongs to.
  */
final class Ctx(val spark: SparkSession, val seed: Long,
    val seconds: Double, val tracer: Tracer, val work: String,
    val cores: Int) {
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]
  private var opOk = true

  def check(ok: Boolean, what: => String): Unit = if (!ok) {
    opOk = false
    if (failures.size < 20) failures += what
  }

  /** Runs one operation; an exception or a failed check inside it
    * counts it as failed. Returns false on failure.
    */
  def op(body: => Unit): Boolean = {
    attempted += 1
    opOk = true
    try body
    catch {
      case NonFatal(e) =>
        opOk = false
        if (failures.size < 20) failures += s"${e.getClass.getName}: ${e.getMessage}".take(300)
    }
    if (!opOk) failed += 1
    opOk
  }

  def span[T](name: String, req: Long = -1L)(body: => T): T =
    tracer.span(name, req)(body)

  /** Result of `body` and its wall seconds. */
  def clock[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  private val born = System.nanoTime()

  /** Progress line on stderr, stamped with seconds since start. */
  def log(msg: String): Unit =
    System.err.println(f"perfbench ${(System.nanoTime() - born) / 1e9}%8.2f $msg")

  def dir(parts: String*): String = (work +: parts).mkString("/")
}

/** A workload: `prepare` generates the inputs and prebuilds stores
  * from scratch (repeatable, fresh directories each round), `warmUp`
  * runs one full pass over the workload's operations, and `measure`
  * runs the measured window. `measure` returns the end-to-end metrics
  * and, with tracing on, the per-layer ones.
  */
trait Workload {
  def prepare(ctx: Ctx, round: Int): Unit
  def warmUp(ctx: Ctx): Unit
  def measure(ctx: Ctx): (Seq[Metric], Seq[Metric])
}

object Main {
  val SetupRounds = 3

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts.getOrElse("trace", "0") == "1"
    val work = new File(opts("work")).getAbsolutePath
    // the metric names (and units) BENCHMARK.json publishes
    val publish = opts.getOrElse("publish", "").split(',').filter(_.nonEmpty)
      .map { nu => val Array(n, u) = nu.split(':'); n -> u }.toSeq
    val cores = Runtime.getRuntime.availableProcessors
    val wl: Workload = workload match {
      case "etl_ingest" => new EtlIngest
      case "store_upsert" => new StoreUpsert
      case "serve_mix" => new ServeMix
      case other => sys.error(s"unknown workload $other")
    }

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.catalog.lake", "graft.sources.GraftStoreCatalog")
      .config("spark.sql.catalog.lake.root", s"$work/lake")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val ctx = new Ctx(spark, seed, seconds, new Tracer(spark, trace),
      work, cores)
    // set-up = data generation + store prebuild (median of several
    // fresh rounds; the last round's state is the one measured) + one
    // warm-up pass, which by nature runs once per process
    ctx.log(s"session up; $workload seed $seed")
    val prepares = (0 until SetupRounds).map { r =>
      val (_, d) = ctx.clock(wl.prepare(ctx, r))
      ctx.log(f"prepare round $r: $d%.2f s")
      d
    }
    val (_, warm) = ctx.clock(wl.warmUp(ctx))
    ctx.log(f"warm-up: $warm%.2f s")
    val setupS = median(prepares) + warm
    System.gc()
    Thread.sleep(300)
    val (e2e, layers) = wl.measure(ctx)
    ctx.log("measured and verified")
    val all = Seq(Metric("setup_s", setupS, "s"),
      Metric("setup.prepare_s", median(prepares), "s"),
      Metric("setup.warmup_s", warm, "s")) ++ e2e
    spark.stop()
    ctx.log("session stopped")

    // every metric by name, then the result line (last on stdout)
    (all ++ layers).foreach(m => println(f"# ${m.name}%-40s ${num(m.value)} ${m.unit}"))
    ctx.failures.foreach(f => println(s"# FAILED: $f"))
    opts.get("trace-out").foreach(f =>
      writeTrace(ctx, new File(f), workload, all, layers))
    // a layer the workload never calls reports the zero it counted;
    // an end-to-end metric the workload cannot produce fails the run
    val shown = publish.map { case (n, u) =>
      (if (trace) layers else all).find(_.name == n).getOrElse(
        if (trace) Metric(n, 0.0, u)
        else sys.error(s"workload $workload does not measure $n"))
    }
    val metrics = shown.map(m =>
      s""""${m.name}":{"value":${num(m.value)},"unit":"${m.unit}"}""")
    println(s"""{"correct":${ctx.failed == 0 && ctx.attempted > 0},""" +
      s""""attempted":${ctx.attempted},"failed":${ctx.failed},""" +
      s""""metrics":{${metrics.mkString(",")}}}""")
  }

  /** Spans, self times and every metric of a traced run, as JSON. */
  private def writeTrace(ctx: Ctx, f: File, workload: String,
      e2e: Seq[Metric], layers: Seq[Metric]): Unit = {
    def obj(ms: Seq[Metric]) = ms.map(m =>
      s""""${m.name}":{"value":${num(m.value)},"unit":"${m.unit}"}""")
      .mkString("{", ",", "}")
    java.nio.file.Files.writeString(f.toPath,
      s"""{"workload":"$workload","seed":${ctx.seed},""" +
        s""""end_to_end":${obj(e2e)},"per_layer":${obj(layers)},""" +
        s""""trace":${ctx.tracer.toJson}}""" + "\n")
  }

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.lang.Double.toString(v)

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile of `xs` (q in [0, 1]). */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  /** A p90 only where at least ten samples lie beyond it. */
  def p90(xs: Seq[Double]): Option[Double] =
    if (xs.size >= 100) Some(quantile(xs, 0.9)) else None

  /** Typical latency of an operation class: the geometric mean of each
    * operation's median, so a class mixing fast and slow operations
    * does not flip between them from run to run.
    */
  def classLatency(byOp: Iterable[Seq[Double]]): Double = {
    val meds = byOp.filter(_.nonEmpty).map(median).toSeq
    if (meds.isEmpty) 0.0
    else math.exp(meds.map(math.log).sum / meds.size)
  }

  /** Order-independent content hash of a frame: row count plus the
    * exact sum of per-row 64-bit hashes.
    */
  def contentHash(df: DataFrame): (Long, BigDecimal) = {
    val r = df.agg(count(lit(1)),
      sum(xxhash64(df.columns.map(col): _*).cast(DecimalType(38, 0))))
      .head()
    (r.getLong(0),
      if (r.isNullAt(1)) BigDecimal(0) else BigDecimal(r.getDecimal(1)))
  }

  /** Order-independent hash of collected rows. */
  def rowsHash(rows: Seq[Row]): Int =
    rows.map(_.toSeq.mkString("\u0001")).sorted.hashCode

  def filesBytes(spark: SparkSession, files: Seq[String]): Long = {
    val conf = spark.sparkContext.hadoopConfiguration
    files.map { f =>
      val p = new org.apache.hadoop.fs.Path(f)
      p.getFileSystem(conf).getFileStatus(p).getLen
    }.sum
  }

  /** Bytes under a store's directory per byte of its live data files. */
  def spaceAmplification(spark: SparkSession, store: String): Double = {
    val p = new org.apache.hadoop.fs.Path(store)
    val onDisk = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .getContentSummary(p).getLength
    val live = VersionedStore.read(spark, store).inputFiles.toSeq
    onDisk.toDouble / math.max(1L, filesBytes(spark, live))
  }

  /** File-groups the latest version of a store reads. */
  def liveGroups(spark: SparkSession, store: String): Double =
    VersionedStore.read(spark, store).inputFiles
      .map(f => f.substring(0, f.lastIndexOf('/'))).distinct.length
}

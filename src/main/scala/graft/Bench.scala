package graft

/** Benchmark main (driver contract): runs every declared query on
  * SPARK_GRAFT_SF_DIR, prints ONE JSON line with total + per-query
  * seconds. AQE is on (runtime shuffle coalescing / skew splitting).
  *
  * Before timing, every query runs once UNTIMED at the target SF
  * (standard steady-state methodology): one-shot cold numbers are
  * dominated by whole-stage-codegen compilation and JIT (measured
  * 11 s cold vs 3 s warm for the text-dedup tail at sf0.1 — pure
  * first-execution overhead, identical at every data size), and a
  * resident driver on a real cluster runs warm. Warming at the same
  * SF reuses the exact generated classes (AQE picks different plans
  * per SF, so warming on smaller data only partially compiles the
  * target plans). Set SPARK_GRAFT_WARMUP_DIR to override, or to "" to
  * skip warm-up entirely.
  *
  * Each query is materialized through the `noop` datasource write —
  * every output row and column is produced and consumed, so
  * projection- and sort-heavy queries are actually timed (a bare
  * `count()` would let Catalyst prune the very expressions the bench
  * should guard). Failures are caught NonFatal-only and reported in
  * an explicit "errors" list with value -1 — a crashing query is
  * never mistaken for a fast one.
  *
  * After the warm-up, every query is timed in TWO rounds and reported
  * as the per-query minimum ("timed_rounds":2 in the JSON): single
  * warm runs still show one random multi-× JIT/GC spike per pass,
  * and the min of two is the steady-state number while a real
  * regression slows both rounds. The total is the sum of the
  * per-query minima, so it equals what one spike-free pass would
  * measure.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark =
      LocalSession(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    spark.sparkContext.setLogLevel("WARN")

    // warm-up: compile/JIT every query's generated code at the target
    // SF. Cold-vs-warm gaps are 2-4× even for plain decimal aggs
    // (q04: 7.8 s cold / 1.8 s warm — generated-class compilation,
    // identical at every data size), so timing the second execution is
    // the steady state a resident driver runs at. Costs one extra pass
    // (~60 s at sf0.1). SPARK_GRAFT_WARMUP_DIR overrides; "" disables.
    // API-gate queries re-run pipelines the bench already times under
    // their declared forms (q60/q23-shape/q55/q31+q32/q28) purely to
    // oracle-check the library entry points — timing them twice would
    // double-count those workloads in the total.
    val apiGates = Set("q68_topk_aggregator", "q69_salted_join",
      "q70_asof_api", "q71_dedup_components_api", "q72_minhash_api",
      "q76_dedup_corpus")
    val benched = SparkEntry.allQueries.filterNot(q => apiGates(q.name))

    // Adjudication hook (the q274 in-run-context watch): move the
    // named queries to the FRONT of the suite (comma-separated), so
    // the same plan can be timed early vs at its natural slot inside
    // the same full-bench context — a pure reorder, nothing skipped.
    val firstNames = sys.env.getOrElse("SPARK_GRAFT_FIRST", "")
      .split(',').map(_.trim).filter(_.nonEmpty).toSet
    val ordered =
      if (firstNames.isEmpty) benched
      else benched.filter(q => firstNames(q.name)) ++
        benched.filterNot(q => firstNames(q.name))

    val warmDir = sys.env.getOrElse("SPARK_GRAFT_WARMUP_DIR", sfDir)
    if (new java.io.File(warmDir).isDirectory)
      ordered.foreach { q =>
        try q.run(spark, warmDir).write.format("noop").mode("overwrite").save()
        catch { case scala.util.control.NonFatal(_) => () }
      }

    // TWO timed rounds, reporting the per-query MIN: a single timed
    // pass shows one random 2-6× spike per run (C2 recompilation / GC
    // pause — q06 3.38 s in one round-6 pass vs 0.80 s re-timed on
    // identical code), which pollutes the round-over-round signal. The
    // min of two warm rounds is the steady-state number; a genuine
    // regression slows BOTH rounds and still shows.
    // Per-query JVM context probes (driver == executors at local[*]):
    // GC time, JIT compilation time, code-cache occupancy and the
    // number of generated classes compiled (Janino; the per-JVM
    // generated-class cache missed) name the in-run-context effects
    // isolated timing can never see
    // (a row that is flat like-for-like but inflates only inside the
    // full suite — the q274 adjudication). BENCH_FULL.json only.
    import java.lang.management.ManagementFactory
    import scala.jdk.CollectionConverters._
    def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(_.getCollectionTime).sum
    def jitMs(): Long = ManagementFactory.getCompilationMXBean
      .getTotalCompilationTime
    def codeCacheUsed(): Long = ManagementFactory.getMemoryPoolMXBeans
      .asScala.filter(_.getName.startsWith("CodeHeap"))
      .map(_.getUsage.getUsed).sum
    def compiles(): Long = org.apache.spark.metrics.source.CodegenMetrics
      .METRIC_COMPILATION_TIME.getCount

    final case class Timing(name: String, sec: Double, ok: Boolean,
      gcMs: Long, jitMs: Long, ccUsed: Long, compiles: Long)
    def timedPass(): Seq[Timing] = ordered.map { q =>
      val (g0, j0, c0) = (gcMs(), jitMs(), compiles())
      val t0 = System.nanoTime()
      val ok =
        try {
          q.run(spark, sfDir).write.format("noop").mode("overwrite").save()
          true
        } catch { case scala.util.control.NonFatal(_) => false }
      Timing(q.name, (System.nanoTime() - t0) / 1e9, ok,
        gcMs() - g0, jitMs() - j0, codeCacheUsed(), compiles() - c0)
    }
    // A full-GC settle between passes keeps round-2 from paying
    // round-1's accumulated garbage (the per-query min only helps
    // when at least one round is clean); the code-cache headroom that
    // keeps the tail JIT-compiled is set in build.sbt
    // (-XX:ReservedCodeCacheSize).
    def settle(): Unit = { System.gc(); Thread.sleep(2000) }
    settle()
    val r1 = timedPass()
    settle()
    val r2 = timedPass()
    val results = r1.zip(r2).map { case (a, b) =>
      (a.name, math.min(a.sec, b.sec), a.ok && b.ok)
    }
    // context probes of the round whose time the min kept (ties → r1)
    val probes = r1.zip(r2).map { case (a, b) =>
      val w = if (a.sec <= b.sec) a else b
      (w.name, w.gcMs, w.jitMs, w.ccUsed, w.compiles)
    }
    // The harness that captures this output keeps only a bounded tail
    // (~2000 chars) of stdout, and the full per-query map for ~90
    // queries is longer than that — so the output is structured to
    // survive truncation three ways:
    //   1. the FULL detail line is written to BENCH_FULL.json (a real
    //      file, never truncated);
    //   2. the full detail line is printed first (its end may survive
    //      in the captured tail);
    //   3. the LAST printed line is a compact headline (metric/value/
    //      unit/sf + the slowest queries only), short enough to always
    //      fit whole in the captured tail, hence always json.loads-able.
    // Per-query values are rounded to ms (3 decimals); sub-ms precision
    // is noise at these run times anyway.
    def f(v: Double): String = "%.3f".format(v)
    val qs = results.map { case (k, v, ok) =>
      "\"" + k + "\":" + (if (ok) f(v) else "-1")
    }.mkString("{", ",", "}")
    val errs = results.collect { case (k, _, false) => "\"" + k + "\"" }
      .mkString("[", ",", "]")
    val total = results.collect { case (_, v, true) => v }.sum
    // lane subtotals (serve = query/read workloads, build = store/
    // index lifecycle + training — graft.queries.Lanes): the 2×
    // suite-total contract is dominated by deliberately-added BUILD
    // workloads, and the split keeps that legible per round
    def laneTotal(lane: String) = results.collect {
      case (k, v, true)
        if graft.queries.Lanes.laneOf(k) == lane => v
    }.sum
    val lanes = s""""lane_totals":{"serve":${f(laneTotal("serve"))},"build":${f(laneTotal("build"))}}"""
    val gcJson = probes.map { case (k, g, j, c, n) =>
      "\"" + k + s"\":[$g,$j,$c,$n]"
    }.mkString("{", ",", "}")
    val passCompiles =
      Seq(r1, r2).map(_.map(_.compiles).sum).mkString("[", ",", "]")
    val fullLine =
      s"""{"queries":$qs,"errors":$errs,"sf":"$sfDir","n_queries":${results.size},"timed_rounds":2,$lanes,"context_probes":$gcJson,"compiles_per_pass":$passCompiles,"metric":"total","unit":"sec","value":${f(total)}}"""
    val fullOut = sys.env.getOrElse("SPARK_GRAFT_BENCH_FULL", "BENCH_FULL.json")
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get(fullOut), fullLine + "\n")
    catch { case scala.util.control.NonFatal(_) => () }
    println(fullLine)
    // Compact headline: slowest queries first, capped so the whole
    // line stays well under the captured-tail bound.
    val slowest = new StringBuilder
    var budget = 1100
    results.sortBy { case (_, v, ok) => if (ok) -v else -1e9 }.foreach {
      case (k, v, ok) =>
        val ent = "\"" + k + "\":" + (if (ok) f(v) else "-1")
        if (budget - ent.length - 1 >= 0) {
          if (slowest.nonEmpty) slowest.append(',')
          slowest.append(ent)
          budget -= ent.length + 1
        }
    }
    println(
      s"""{"metric":"total","value":${f(total)},"unit":"sec","sf":"$sfDir","n_queries":${results.size},"errors":$errs,$lanes,"detail":"$fullOut","queries":{$slowest}}""")
    spark.stop()
  }
}

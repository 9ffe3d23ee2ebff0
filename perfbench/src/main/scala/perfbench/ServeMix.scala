package perfbench

import scala.collection.mutable

import graft.SparkEntry
import graft.operators.VersionedStore
import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** `serve_mix`: read-only traffic on a compacted store and a small
  * TPC-H-shaped dataset, from one closed-loop client. The client runs
  * seeded cycles over a fixed catalogue of operations, each cycle
  * every operation once in a fresh seeded order: declared relational
  * and LLM-curation queries (through `QueryDef.run` into a noop sink),
  * selective SQL over a store table (through the `lake` catalog and
  * through `registerTable`, both pruned by zones and Bloom sidecars),
  * and `readPoint`. Every result's order-independent hash must equal
  * the one recorded for that operation during warm-up.
  */
final class ServeMix extends Workload {
  val Orders = 8000L
  val Docs = 600L
  val StoreRows = 120000L
  val Groups = 4
  val Relational = Seq("q04_agg_pricing", "q07_join_agg",
    "q12_window_rank", "q20_check_suite")
  val Llm = Seq("q31_ngram_jaccard", "q228_bm25_topk")
  val SqlVariants = 4
  val PointKeys = 12
  val PlainChecks = 2
  // whole cycles per window: each operation runs at least twice
  val MinCycles = 2

  /** `kind` is the metric class: sql, point or llm. */
  private final case class Op(kind: String, span: String, name: String,
      run: () => Any)

  private var catalogue: Seq[Op] = Nil
  private var path = ""
  private var pointKeys: Seq[Long] = Nil
  private val recorded = mutable.HashMap.empty[String, Any]

  def prepare(ctx: Ctx, round: Int): Unit = {
    val spark = ctx.spark
    val sf = ctx.dir("serve", s"r$round", "sf")
    Gen.tables(spark, ctx.seed, sf, Orders, Docs)
    ctx.log("tables written")
    val ns = s"r$round"
    path = ctx.dir("lake", ns, "items")
    VersionedStore.create(spark, path)
    // an unfragmented store: disjoint id ranges, one group each, zones
    // on id and sku, Bloom sidecars on sku, no deletion vectors
    val chunk = StoreRows / Groups
    (0 until Groups).foreach { g =>
      VersionedStore.append(Gen.storeBase(spark, ctx.seed, g * chunk,
        (g + 1) * chunk, 1), path, zoneCols = Seq("id", "sku"),
        bloomCols = Seq("sku"))
    }
    ctx.log("store built")
    val table = s"items_$ns"
    VersionedStore.registerTable(spark, path, table)

    val queries = SparkEntry.allQueries.map(q => q.name -> q).toMap
    def declared(kind: String, layer: String, name: String) =
      Op(kind, s"$layer.$name", name,
        () => noopHash(queries(name).run(spark, sf)))
    val rnd = new scala.util.Random(ctx.seed)
    val sql = (0 until SqlVariants).map { v =>
      if (v % 2 == 0) {
        val lo = (rnd.nextDouble() * (StoreRows - 5000)).toLong
        Op("sql", "plans.sql", s"sql_range_$v", () => Main.rowsHash(spark.sql(
          s"""SELECT flag, count(*) AS n, sum(qty) AS q, max(price) AS p
             |FROM lake.$ns.items WHERE id BETWEEN $lo AND ${lo + 4000}
             |GROUP BY flag""".stripMargin).collect().toSeq))
      } else {
        val sku = f"sku${rnd.nextInt(20000)}%05d"
        Op("sql", "plans.sql", s"sql_sku_$v", () => Main.rowsHash(spark.sql(
          s"SELECT id, cust, price, ver FROM $table WHERE sku = '$sku'")
          .collect().toSeq))
      }
    }
    pointKeys = Seq.fill(PointKeys)((rnd.nextDouble() * StoreRows).toLong)
    val points = pointKeys.zipWithIndex.map { case (k, v) =>
      Op("point", "store.point_read", s"point_$v", () => Main.rowsHash(
        VersionedStore.readPoint(spark, path, "id", k).collect().toSeq))
    }
    catalogue = Relational.map(declared("sql", "queries", _)) ++
      Llm.map(declared("llm", "llm", _)) ++ sql ++ points
  }

  /** Every operation once, recording its result hash; a few point
    * reads are also checked against a plain filter over the store.
    */
  def warmUp(ctx: Ctx): Unit = {
    recorded.clear()
    catalogue.foreach(op => ctx.op(recorded(op.name) = op.run()))
    pointKeys.take(PlainChecks).zipWithIndex.foreach { case (k, v) =>
      ctx.op {
        val plain = Main.rowsHash(VersionedStore.read(ctx.spark, path)
          .filter(col("id") === k).collect().toSeq)
        ctx.check(plain == recorded(s"point_$v"),
          s"readPoint($k) differs from a plain filtered read")
      }
    }
  }

  /** Runs `df` into the noop sink while an observation hashes every
    * row it produces, in the same pass.
    */
  private def noopHash(df: DataFrame): (Long, BigDecimal) = {
    val obs = Observation()
    df.observe(obs, count(lit(1)).as("n"),
      sum(xxhash64(df.columns.map(c => col(s"`$c`")): _*)
        .cast(DecimalType(38, 0))).as("h"))
      .write.format("noop").mode("overwrite").save()
    val r = obs.get
    (r("n").asInstanceOf[Long],
      Option(r("h")).map(h => BigDecimal(h.asInstanceOf[java.math.BigDecimal]))
        .getOrElse(BigDecimal(0)))
  }

  def measure(ctx: Ctx): (Seq[Metric], Seq[Metric]) = {
    val t = ctx.tracer
    val spanFrom = t.spans.size
    val rnd = new scala.util.Random(ctx.seed * 104729L)
    val lat = mutable.LinkedHashMap.empty[Op, mutable.ArrayBuffer[Double]]
    val p0 = Probe.now()
    val t0 = System.nanoTime()
    var ops = 0
    var cycles = 0
    while (cycles < MinCycles || (System.nanoTime() - t0) / 1e9 < ctx.seconds) {
      cycles += 1
      rnd.shuffle(catalogue).foreach { op =>
        ctx.op {
          val (got, d) = ctx.clock(ctx.span("serve.op", ops) {
            ctx.span(op.span)(op.run())
          })
          lat.getOrElseUpdate(op, mutable.ArrayBuffer.empty) += d
          ctx.check(got == recorded(op.name),
            s"${op.name} hash $got != warm-up ${recorded(op.name)}")
        }
        ops += 1
      }
    }
    val wall = (System.nanoTime() - t0) / 1e9
    val probe = Probe.now() - p0
    ctx.log("window done")
    def of(kind: String) = lat.collect {
      case (op, xs) if op.kind == kind => xs.toSeq }
    def p50(kind: String) = Main.median(of(kind).flatten.toSeq)
    val point = of("point").flatten.toSeq
    val spaceAmp = Main.spaceAmplification(ctx.spark, path)

    val e2e = Seq(
      Metric("ops_per_s", ops / wall, "1/s"),
      Metric("main_op_s", Main.classLatency(of("sql")), "s"),
      Metric("second_op_s", Main.classLatency(of("point")), "s"),
      Metric("third_op_s", Main.classLatency(of("llm")), "s"),
      Metric("ops_ok_frac", 1.0 - ctx.failed.toDouble / ctx.attempted,
        "frac"),
      Metric("store_space_amp", spaceAmp, "ratio"),
      Metric("serve.queries_per_s", ops / wall, "1/s"),
      Metric("serve.sql_p50_s", p50("sql"), "s"),
      Metric("serve.llm_p50_s", p50("llm"), "s"),
      Metric("serve.point_read_p50_s", p50("point"), "s"),
      Metric("serve.ops", ops.toDouble, "count")) ++
      Main.p90(point).map(Metric("serve.point_read_p90_s", _, "s"))

    val layers =
      if (!t.enabled) Nil
      else {
        t.settle()
        val all = t.named("serve.op", spanFrom)
        val points = t.named("store.point_read", spanFrom)
        val pointPlans = t.plansUnder(points)
        val llm = t.spans.drop(spanFrom).filter(_.name.startsWith("llm."))
        Layers.common(ctx, all, probe) ++ Seq(
          Metric("store.point_read_s", points.map(_.dur).sum /
            math.max(1, points.size), "s"),
          Metric("store.files_read_per_point_read",
            pointPlans.map(_.filesRead).sum.toDouble /
              math.max(1, points.size), "count"),
          Metric("store.rows_read_per_row_returned",
            pointPlans.map(_.rowsScanned).sum.toDouble /
              math.max(1, points.size), "ratio"),
          Metric("store.live_groups", Main.liveGroups(ctx.spark, path), "count"),
          Metric("llm.exec_s", llm.map(_.dur).sum /
            math.max(1, llm.size), "s")) ++
          lat.collect { case (op, xs) if op.kind != "point" &&
              !op.name.startsWith("sql_") =>
            Metric(s"queries.${op.name}_s", Main.median(xs.toSeq), "s")
          }
      }
    (e2e, layers)
  }
}

package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.queries.Exact

/** Embedding-column statistics and PCA: the covariance matrix as a
  * distributed aggregate, the top principal component via driver-side
  * power iteration on that d×d summary, and the corpus projection
  * onto it (the embedding-analytics pass a training pipeline runs
  * before whitening, outlier pruning, or dimensionality reduction).
  *
  * Scale split: covariance is O(n·d²) work but only O(d²) STATE — the
  * upper-triangle product stream is generated MAP-SIDE (a nested
  * `transform` over the vector, no self-join, no shuffle before the
  * partial aggregate) and partially summed into d(d+1)/2 cells; that
  * 2080-cell summary (d = 64) is model metadata, so iterating the
  * eigenvector on the driver is the same O(model) collect the IVF
  * centroids and SRP planes already use — the corpus never leaves the
  * cluster. The projection is one map-side `dot_double` (codegen)
  * against the literal component.
  *
  * Determinism: the product/moment streams are summed as scale-6
  * scaled longs (`round(p·10⁶)` → BIGINT — order-free long adds, the
  * identical correctly-rounded step in both engines); power iteration
  * is a fixed start vector and iteration count, so the component —
  * and every projection — is bit-reproducible.
  */
object EmbeddingPca {

  /** Upper-triangle covariance cells (i ≤ j, 1-based): one row per
    * cell with cov = (Σxᵢxⱼ − Σxᵢ·Σxⱼ/n)/n.
    *
    * The O(n·d²) product stream is generated WITHOUT a join:
    * [[graft.functions.UpperTriProd6Expr]] emits each row's d(d+1)/2
    * upper-triangle (i, j, floor(xᵢ·xⱼ·10⁶ + 0.5)) structs map-side
    * in one compiled loop (a nested-`transform` spelling of the same
    * stream ran INTERPRETED — CodegenFallback lambdas — and cost
    * more than the self-join shuffle it replaced: 4.2 s vs 2.3 s at
    * sf0.1; the expression form is 1.3 s), one `explode` streams
    * them into a partial HashAggregate, and the only exchange in the
    * whole plan is the 2080-group final agg (the old explode +
    * self-join on the row key shuffled the n·d exploded table
    * first — one shuffle more than needed).
    *
    * Products are summed as SCALE-6 SCALED LONGS, not decimals: the
    * quantizer `floor(p·10⁶ + 0.5)` is PURE IEEE double arithmetic —
    * the identical step in both engines with no per-element
    * BigDecimal (decimal `round()` allocates one per product —
    * comparable to the whole rest of the loop) — long addition is
    * order-free, and overflow needs 2⁶³/10⁸ ≈ 9×10¹⁰ rows per cell.
    * Each term carries ≤ 5×10⁻⁷ deterministic rounding — identical
    * on both sides, so the hash gate still holds bit-exactly.
    */
  def covariance(embeddings: DataFrame, idCol: String,
      vecCol: String): DataFrame = {
    val prods = embeddings
      .select(explode(
        graft.functions.UpperTriProd6Expr.upperTriProd6(col(vecCol)))
        .as("c"))
      .groupBy(col("c.i").as("i"), col("c.j").as("j"))
      .agg(sum(col("c.p6")).as("sxy6"))
    val moms = embeddings
      .select(posexplode(col(vecCol)))
      .select((col("pos") + 1).cast("long").as("i"),
        col("col").cast("double").as("x"))
      .groupBy("i")
      .agg(sum(floor(col("x") * 1000000.0 + 0.5).cast("long")).as("sx6"),
        count(lit(1)).as("n"))
    prods
      .join(moms.select(col("i"), col("sx6").as("sxi6"), col("n")), "i")
      .join(moms.select(col("i").as("j"), col("sx6").as("sxj6")), "j")
      .select(col("i"), col("j"),
        ((col("sxy6") / 1000000.0 -
          (col("sxi6") / 1000000.0) * (col("sxj6") / 1000000.0) /
            col("n")) / col("n")).as("cov"))
  }

  /** Top principal component by power iteration on the collected
    * covariance cells — O(d²) driver work on model-sized metadata.
    * Fixed start (uniform) and iteration count make it deterministic;
    * the sign is normalized so the largest-|loading| coordinate is
    * positive.
    */
  def topComponent(cov: DataFrame, dim: Int, iters: Int = 100)
      : Array[Double] = {
    val cells = cov.collect().map { r =>
      (r.getLong(0).toInt - 1, r.getLong(1).toInt - 1, r.getDouble(2))
    }
    require(cells.length == dim * (dim + 1) / 2,
      s"expected ${dim * (dim + 1) / 2} upper-triangle cells, " +
        s"got ${cells.length}")
    val m = Array.ofDim[Double](dim, dim)
    cells.foreach { case (i, j, c) => m(i)(j) = c; m(j)(i) = c }
    var v = Array.fill(dim)(1.0 / math.sqrt(dim.toDouble))
    for (_ <- 1 to iters) {
      val w = Array.tabulate(dim)(i =>
        (0 until dim).map(j => m(i)(j) * v(j)).sum)
      val norm = math.sqrt(w.map(x => x * x).sum)
      require(norm > 0, "zero covariance matrix")
      v = w.map(_ / norm)
    }
    val lead = v.indices.maxBy(i => math.abs(v(i)))
    if (v(lead) < 0) v.map(-_) else v
  }

  /** Projection of every embedding onto `component` — a map-side
    * codegen dot product against the literal vector (zero shuffle).
    */
  def project(spark: SparkSession, embeddings: DataFrame, vecCol: String,
      component: Array[Double]): DataFrame = {
    val litVec: Column = array(component.map(lit(_)): _*)
    embeddings.withColumn("pc1_score",
      graft.functions.DotDoubleExpr.dotDouble(
        expr(s"transform($vecCol, x -> CAST(x AS DOUBLE))"), litVec))
  }
}

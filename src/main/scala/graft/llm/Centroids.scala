package graft.llm

import graft.functions.CosineSimilarityExpr
import org.apache.spark.sql.{DataFrame, Encoder, SparkSession}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** Embedding centroids via a typed `Aggregator` (the custom-aggregate
  * surface from SURVEY.md §2.11) and IVF-style cell assignment.
  *
  * The aggregator keeps a (sum-vector, count) buffer per group —
  * mergeable, so Spark computes partial centroids map-side and merges
  * them: one shuffle of K×dim doubles regardless of corpus size.
  * Centroid assignment broadcasts the K centroids and scores with the
  * codegen'd `cosine_fast` expression per row — the coarse quantizer
  * an IVF index builds its inverted lists from at 100 TB.
  */
object Centroids {

  /** (sum, n) buffer; input is the (group key, vector) row. */
  final class VectorMeanAggregator(dim: Int)
      extends Aggregator[(Int, Array[Float]), (Array[Double], Long), Array[Float]] {

    override def zero: (Array[Double], Long) = (new Array[Double](dim), 0L)

    override def reduce(b: (Array[Double], Long),
        row: (Int, Array[Float])): (Array[Double], Long) = {
      val (s, n) = b
      val v = row._2
      var i = 0
      while (i < dim && i < v.length) { s(i) += v(i); i += 1 }
      (s, n + 1)
    }

    override def merge(a: (Array[Double], Long),
        b: (Array[Double], Long)): (Array[Double], Long) = {
      var i = 0
      while (i < dim) { a._1(i) += b._1(i); i += 1 }
      (a._1, a._2 + b._2)
    }

    override def finish(r: (Array[Double], Long)): Array[Float] =
      if (r._2 == 0) new Array[Float](dim)
      else r._1.map(x => (x / r._2).toFloat)

    override def bufferEncoder: Encoder[(Array[Double], Long)] =
      ExpressionEncoder[(Array[Double], Long)]()

    override def outputEncoder: Encoder[Array[Float]] =
      ExpressionEncoder[Array[Float]]()
  }

  /** Per-label centroids: typed groupByKey + the aggregator column
    * (partial aggregation map-side). Output: (cand_label, centroid).
    */
  def byLabel(spark: SparkSession, emb: DataFrame, dim: Int = 64): DataFrame = {
    import spark.implicits._
    emb.select(col("label"), col("embedding"))
      .as[(Int, Array[Float])]
      .groupByKey(_._1)
      .agg(new VectorMeanAggregator(dim).toColumn.name("centroid"))
      .toDF("cand_label", "centroid")
  }

  /** Deterministic label-free initialization: the first k vectors by
    * id become the initial centroids (cand_label 0..k-1). No RNG —
    * reproducible across runs/retries; k tiny rows to the driver is
    * model metadata, not data movement. Use when training an IVF
    * quantizer on an unlabeled corpus; `byLabel` when labels exist.
    */
  def initFirstK(spark: SparkSession, emb: DataFrame, k: Int): DataFrame = {
    import spark.implicits._
    emb.orderBy("vec_id").limit(k)
      .select(col("embedding"))
      .as[Array[Float]]
      .collect()
      .zipWithIndex
      .map { case (v, i) => (i, v) }
      .toSeq.toDF("cand_label", "centroid")
  }

  /** Lloyd's iterations refining initial centroids (IVF training):
    * assign → typed-aggregator mean per cell → repeat. Each iteration
    * is one scan + one K×dim-sized shuffle; the loop is driver-side
    * but every step is distributed — the standard coarse-quantizer
    * training shape at 100 TB (sampled corpus, bounded iterations).
    */
  def kmeans(spark: SparkSession, emb: DataFrame, initial: DataFrame,
      iterations: Int, dim: Int = 64): DataFrame = {
    import spark.implicits._
    var cents = initial
    var i = 0
    while (i < iterations) {
      // argmax carries the embedding through (first() is constant per
      // vec_id group), so the new centroids aggregate straight off the
      // assignment — no re-join of the corpus, one fewer shuffle per
      // iteration than assign() + join-back.
      cents = emb.crossJoin(broadcast(cents))
        .select(col("vec_id"), col("embedding"), col("cand_label"),
          CosineSimilarityExpr.cosineFast(col("embedding"), col("centroid"))
            .as("sim"))
        .groupBy("vec_id")
        .agg(max(struct(col("sim"), col("cand_label"))).as("best"),
          first(col("embedding")).as("embedding"))
        .select(col("best.cand_label").as("label"), col("embedding"))
        .as[(Int, Array[Float])]
        .groupByKey(_._1)
        .agg(new VectorMeanAggregator(dim).toColumn.name("centroid"))
        .toDF("cand_label", "centroid")
        .localCheckpoint() // truncate the growing lineage per iteration
      i += 1
    }
    cents
  }

  /** Mean max-cosine of vectors to their assigned centroid — the
    * objective k-means improves; exposed for convergence checks.
    */
  def objective(spark: SparkSession, emb: DataFrame,
      cents: DataFrame): Double =
    assign(spark, emb, cents).agg(avg("sim")).head().getDouble(0)

  /** Assign every vector to its max-cosine centroid: broadcast the
    * K centroids, score per row, argmax via max(struct) — no extra
    * shuffle of the raw vectors beyond the scan.
    */
  def assign(spark: SparkSession, emb: DataFrame,
      centroids: DataFrame): DataFrame = {
    emb.crossJoin(broadcast(centroids))
      .select(col("vec_id"), col("label").as("true_label"),
        col("cand_label"),
        CosineSimilarityExpr.cosineFast(col("embedding"), col("centroid"))
          .as("sim"))
      .groupBy("vec_id", "true_label")
      .agg(max(struct(col("sim"), col("cand_label"))).as("best"))
      .select(col("vec_id"), col("true_label"),
        col("best.cand_label").as("assigned_label"),
        col("best.sim").as("sim"))
  }
}

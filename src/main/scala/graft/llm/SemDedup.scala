package graft.llm

import graft.functions.CosineSimilarityExpr
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** SemDeDup — cluster-blocked SEMANTIC deduplication (Abbas et al.
  * 2023, arXiv:2303.09540). The reference corpus ships exact / MinHash
  * / SimHash / winnowing rungs; this is the embedding-space rung: two
  * documents with no shared n-grams but near-identical meaning collide
  * nowhere in the lexical ladder, yet their embeddings sit within a
  * cosine epsilon of each other.
  *
  * The n² cosine pair space never forms. Vectors are first assigned to
  * their nearest centroid (k-means cells — the SemDeDup paper picks K
  * so cells hold ~1k points at 100 M+ scale), and pairwise cosine is
  * computed only WITHIN a cell — optionally sub-blocked by one
  * sign-random-projection band when cells are still too big. Pruning
  * is the paper's greedy rule made deterministic: a vector is dropped
  * iff it is ≥ tau-similar to ANY lower-id vector in its block (the
  * kept representative of every duplicate neighborhood is its minimum
  * id, independent of partitioning or join order).
  *
  * 100 TB stance: centroids are model metadata (K×dim doubles) folded
  * into the assignment projection as LITERALS — assignment is one
  * narrow codegen'd pass, no join, no shuffle. The only shuffles are
  * the (cell, bucket) self-join — K×2^R distinct keys, so it
  * parallelizes — and the final anti-join. `cellCap` drops
  * pathological blocks before they contribute d² pairs (a degenerate
  * block is an exact-dup cluster, q29's job, not SemDeDup's).
  */
object SemDedup {

  /** Nearest-centroid cell per vector: K fused plain-double dots + an
    * `array_max` argmax per row (struct ordering = (dp, cell)
    * lexicographic, i.e. dp DESC then cell DESC on ties — the same
    * rule as `EmbeddingSearch.ivfTopK` assignment). Centroids travel
    * as literals; the pass is narrow and shuffle-free.
    */
  def assignCells(emb: DataFrame,
      centroids: Seq[(Int, Array[Double])]): DataFrame = {
    val scored = array(centroids.map { case (cell, arr) =>
      struct(
        graft.functions.DotDoubleExpr
          .dotDouble(col("embedding"), typedLit(arr)).as("dp"),
        lit(cell).as("cell"))
    }: _*)
    emb.select(col("vec_id"),
      array_max(scored).getField("cell").as("cell"))
  }

  /** The candidate pairs SemDeDup scores: intra-cell (optionally
    * intra-(cell, SRP-bucket)) id-ordered pairs with their fast-float
    * cosine, filtered at `tau`. Exposed for auditing what [[prune]]
    * drops.
    */
  def duplicatePairs(spark: SparkSession, emb: DataFrame,
      centroids: Seq[(Int, Array[Double])], tau: Double,
      subPlanes: Int = 4, cellCap: Int = Int.MaxValue): DataFrame = {
    val cells = assignCells(emb, centroids)
    val blocks = blockIds(spark, emb, cells, subPlanes, cellCap)
    val pairs = blocks.as("a")
      .join(blocks.as("b"),
        col("a.cell") === col("b.cell") && col("a.bv") === col("b.bv") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("a_id"), col("b.vec_id").as("b_id"))
    val withEmb = emb.select(col("vec_id"), col("embedding"))
    pairs
      .join(withEmb.as("ea"), col("a_id") === col("ea.vec_id"))
      .join(withEmb.as("eb"), col("b_id") === col("eb.vec_id"))
      .select(col("a_id"), col("b_id"),
        CosineSimilarityExpr.cosineFast(
          col("ea.embedding"), col("eb.embedding")).as("cos_sim"))
      .filter(col("cos_sim") >= tau)
  }

  /** The SemDeDup survivors: every vector NOT ≥ tau-similar to a
    * lower-id vector in its block. Returns (vec_id, cell).
    */
  def prune(spark: SparkSession, emb: DataFrame,
      centroids: Seq[(Int, Array[Double])], tau: Double,
      subPlanes: Int = 4, cellCap: Int = Int.MaxValue): DataFrame = {
    val dropped = duplicatePairs(spark, emb, centroids, tau, subPlanes,
        cellCap)
      .select(col("b_id").as("vec_id")).distinct()
    assignCells(emb, centroids)
      .join(dropped, Seq("vec_id"), "left_anti")
  }

  /** (vec_id, cell, bv) blocking ids: cell from the centroid argmax
    * plus one R-plane SRP bucket (empty string when subPlanes = 0 —
    * pure intra-cell SemDeDup). Blocks larger than `cellCap` are
    * dropped whole, bounding the pair fan-out under skew.
    */
  private def blockIds(spark: SparkSession, emb: DataFrame,
      cells: DataFrame, subPlanes: Int, cellCap: Int): DataFrame = {
    val tagged =
      if (subPlanes <= 0) cells.withColumn("bv", lit(""))
      else {
        val bands = EmbeddingSearch
          .srpBands(emb, numBands = 1, planesPerBand = subPlanes,
            bucketCap = Int.MaxValue)
          .select(col("vec_id"), col("bv"))
        cells.join(bands, Seq("vec_id"))
      }
    if (cellCap == Int.MaxValue) tagged
    else {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("cell", "bv")
      tagged.withColumn("bsz", count(lit(1)).over(w))
        .filter(col("bsz") <= cellCap).drop("bsz")
    }
  }
}

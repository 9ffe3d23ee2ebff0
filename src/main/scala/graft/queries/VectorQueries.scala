package graft.queries

import graft.Tables._
import graft.functions.VectorFunctions._
import graft.queries.Exact._
import org.apache.spark.sql.functions._

/** Similarity search over the embeddings table (builder prompt +
  * SURVEY.md §7.5): brute-force cosine top-k as the baseline, and a
  * sign-random-projection LSH bucketed variant as the scale path.
  *
  * Scale stance: the query vector (and the handful of LSH planes) are
  * broadcast; per-row math is higher-order-function folds (no UDF, no
  * shuffle); only the top-k selection reduces — Spark plans it as
  * TakeOrderedAndProject. At 100 TB the LSH variant prunes candidates
  * by bucket before any distance math.
  */
object VectorQueries {

  // Fused exact-decimal vector math (DotExactExpr) — bit-identical to
  // the VectorFunctions HOF fold the oracles mirror, one codegen'd
  // loop instead of per-element Catalyst machinery. The Column API
  // builds the expression itself, so no session registration is needed.
  private def fdot(a: org.apache.spark.sql.Column,
      b: org.apache.spark.sql.Column) =
    graft.functions.DotExactExpr.dotExactFast(a, b)
  private def fnorm(a: org.apache.spark.sql.Column) = sqrt(fdot(a, a))
  private def fcos(a: org.apache.spark.sql.Column,
      b: org.apache.spark.sql.Column) = fdot(a, b) / (fnorm(a) * fnorm(b))
  // LSH plane signs use the PLAIN-double sequential fold (DotDoubleExpr,
  // ~50× cheaper than the BigDecimal fold): only the fold's sign is
  // consumed, and a fixed left-to-right fold is bit-reproducible by
  // DuckDB's list_reduce, so both engines still bucket identically.
  // The final pair/rank cosines stay on the exact fold (fdot).
  private def fsign(v: org.apache.spark.sql.Column,
      p: org.apache.spark.sql.Column) =
    when(graft.functions.DotDoubleExpr.dotDouble(v, p) >= 0, lit("1"))
      .otherwise(lit("0"))

  /** Shared DuckDB CTEs: element-expanded embeddings with ordinality,
    * exact-decimal dot products against the query vector (vec_id 0),
    * and per-vector norms — mirrors VectorFunctions bit-for-bit.
    */
  private val vecCtes =
    """WITH dexp AS (
      |  SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
      |         generate_subscripts(embedding, 1) AS i
      |  FROM embeddings
      |), qexp AS (
      |  SELECT x AS y, i FROM dexp WHERE vec_id = 0
      |), dots AS (
      |  SELECT d.vec_id,
      |    CAST(SUM(CAST(d.x * q.y AS DECIMAL(38,12))) AS DOUBLE) AS dp
      |  FROM dexp d JOIN qexp q USING (i) GROUP BY d.vec_id
      |), norms AS (
      |  SELECT vec_id,
      |    sqrt(CAST(SUM(CAST(x * x AS DECIMAL(38,12))) AS DOUBLE)) AS nrm
      |  FROM dexp GROUP BY vec_id
      |), qn AS (
      |  SELECT nrm AS qnrm FROM norms WHERE vec_id = 0
      |)""".stripMargin

  /** Per-label centroid mean vectors, collected to the driver. One
    * explode+agg pass over the corpus produces K×dim rows (a few
    * hundred — model metadata, same footprint class as the SRP plane
    * vectors), which then travel as literals inside the assignment
    * projection: no second explode, no join, no per-vector window.
    */
  private def centroidArrays(s: org.apache.spark.sql.SparkSession,
      d: String): Seq[(Int, Array[Double])] =
    centroidArraysOf(embeddings(s, d))

  /** [[centroidArrays]] over an explicit vector frame — the held-out
    * rungs (q318) compute cells from the INDEX CORPUS only, with the
    * reserved query vectors excluded from the means.
    */
  private def centroidArraysOf(emb: org.apache.spark.sql.DataFrame)
      : Seq[(Int, Array[Double])] =
    emb
      .select(col("label").as("clabel"), posexplode(col("embedding")))
      .select(col("clabel"), (col("pos") + 1).as("i"),
        col("col").cast("double").as("x"))
      .groupBy("clabel", "i")
      .agg(davg(col("x")).as("mean_x"))
      .collect()
      .groupBy(_.getInt(0))
      .toSeq
      .map { case (lbl, rows) =>
        lbl -> rows.sortBy(_.getInt(1)).map(_.getDouble(2)).toArray
      }
      .sortBy(_._1)

  /** UNSUPERVISED coarse-quantizer centroids: k-means over the full
    * vectors via [[graft.llm.ProductQuantizer.trainCodebook]] at
    * numSub = 1 (a product quantizer with one subspace IS a plain
    * vector quantizer — same deterministic farthest-point init, same
    * exact-decimal Lloyd rounds). This is the production form of
    * [[centroidArrays]]: a 100 TB corpus has no `label` column to
    * average — the labeled cells exist only because the test data
    * carries planted classes and they make the assignment
    * cross-engine-gateable; a real deployment trains its cells, and
    * q317 measures the recall cost of switching. Same footprint
    * class: K×dim doubles collected once, Lloyd rounds are full
    * corpus passes with decimal means (deterministic end to end).
    * Consumers read the cells through [[cachedTrainedCells]].
    */
  /** Train-once Lloyd codebooks — the run-file doctrine applied to
    * trained models: training is deterministic end to end
    * (farthest-point init + exact-decimal Lloyd rounds), so a
    * codebook is a PURE FUNCTION of (corpus frame, numSub, k) and
    * the consumer rungs (q317/q319/q348) read it back from a
    * StoreCache'd parquet instead of re-running ~5 s of full-corpus
    * Lloyd passes per invocation — values bit-identical by
    * determinism. q309 keeps the family's ONE live priced training
    * row (the BASELINE one-live-row rule), so the build lane still
    * measures real training cost.
    */
  private def cachedCodebook(s: org.apache.spark.sql.SparkSession,
      d: String, corpusTag: String,
      emb: => org.apache.spark.sql.DataFrame, numSub: Int,
      k: Int): Array[Array[Array[Double]]] = {
    val path = graft.StoreCache.getOrBuild(
      s"pqcb-$corpusTag-$numSub-$k", d) { p =>
      val cb = graft.llm.ProductQuantizer
        .trainCodebook(emb, numSub = numSub, codesPerSub = k,
          iterations = 3)
      val rows = for {
        (sub, m) <- cb.toSeq.zipWithIndex
        (cent, c) <- sub.toSeq.zipWithIndex
        (x, i) <- cent.toSeq.zipWithIndex
      } yield (m, c, i, x)
      import s.implicits._
      rows.toDF("sub", "code", "i", "x")
        .coalesce(1).write.mode("overwrite").parquet(p)
    }
    val rows = graft.StoreCache.readParquet(s, path).collect()
    val bySub = rows.groupBy(_.getInt(0))
    Array.tabulate(numSub) { m =>
      val byCode = bySub(m).groupBy(_.getInt(1))
      Array.tabulate(k)(c =>
        byCode(c).sortBy(_.getInt(2)).map(_.getDouble(3)).toArray)
    }
  }

  /** Trained cells (numSub = 1 codebook rows) served from the
    * codebook cache — the q317/q319 consumer shape.
    */
  private def cachedTrainedCells(s: org.apache.spark.sql.SparkSession,
      d: String, corpusTag: String,
      emb: => org.apache.spark.sql.DataFrame, k: Int)
      : Seq[(Int, Array[Double])] =
    cachedCodebook(s, d, corpusTag, emb, numSub = 1, k = k)(0)
      .zipWithIndex.map { case (c, i) => i -> c }.toSeq

  /** DuckDB CTEs mirroring [[centroidArrays]] + the per-(vector,
    * centroid) exact dot products (appends to `vecCtes`, reusing its
    * `dexp`): `cents(clabel, i, mean_x)` and `dots_c(vec_id, clabel,
    * dp)` with dp converted exact-decimal→double once, matching
    * `dot_exact`'s single final conversion.
    */
  private val evecCte =
    """evec AS (
      |  SELECT vec_id,
      |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |  FROM embeddings
      |)""".stripMargin

  /** Centroid means (exact-average, identical doubles on both
    * engines) gathered into per-label LISTS, then scored against every
    * vector with the same left-to-right double fold DotDoubleExpr
    * uses — the assignment argmax compares bit-identical dp values.
    */
  private val centsDotsCte =
    s"""cents AS (
       |  SELECT label AS clabel, CAST(i AS INTEGER) AS i,
       |    ${sqlDavg("x")} AS mean_x
       |  FROM (
       |    SELECT label, generate_subscripts(embedding, 1) AS i,
       |      CAST(unnest(embedding) AS DOUBLE) AS x
       |    FROM embeddings)
       |  GROUP BY label, i
       |), cents_l AS (
       |  SELECT clabel, list(mean_x ORDER BY i) AS cvec
       |  FROM cents GROUP BY clabel
       |), dots_c AS (
       |  SELECT e.vec_id, c.clabel,
       |    list_reduce(
       |      list_transform(range(1, len(e.v) + 1),
       |        k -> e.v[k] * c.cvec[k]),
       |      (a, b) -> a + b) AS dp
       |  FROM evec e CROSS JOIN cents_l c
       |)""".stripMargin

  private val centsAndDotsCte = s"$vecCtes, $evecCte, $centsDotsCte"

  /** Banded sign-random-projection buckets, exact-decimal scorer form
    * (mirrors `EmbeddingSearch.srpBands`, which is the cosine_fast
    * production path): one row per (vec_id, band) with the band's
    * R-bit bucket string. Planes are corpus vectors 1..B×R
    * (deterministic, reproducible in DuckDB), collected once — B×R
    * tiny rows, model metadata — and folded in as LITERALS, so every
    * band bucket is computed in one narrow projection per row: zero
    * shuffle before the (4 small rows per vector) band self-join,
    * versus the plane-crossJoin + groupBy that would shuffle B×R
    * copies of every embedding. `bucketCap` drops band buckets
    * holding more docs — skew hygiene for the pair join.
    */
  private def srpBandsExact(emb: org.apache.spark.sql.DataFrame,
      numBands: Int, planesPerBand: Int,
      bucketCap: Option[Int] = None): org.apache.spark.sql.DataFrame = {
    val planes = emb
      .filter(col("vec_id").between(1, numBands * planesPerBand))
      .select("vec_id", "embedding")
      .collect()
      .sortBy(_.getLong(0))
      .map(_.getSeq[Float](1).toArray)
    require(planes.length == numBands * planesPerBand,
      s"srpBandsExact needs plane vectors with vec_id 1..${numBands * planesPerBand} " +
        s"present in the corpus (found ${planes.length})")
    val bandExprs = (0 until numBands).map { b =>
      concat((0 until planesPerBand).map { j =>
        fsign(col("embedding"), typedLit(planes(b * planesPerBand + j)))
      }: _*)
    }
    val bands = emb
      .select(col("vec_id"), posexplode(array(bandExprs: _*)))
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "bv")
    bucketCap.fold(bands) { cap =>
      val w = org.apache.spark.sql.expressions.Window.partitionBy("band", "bv")
      bands.withColumn("bsz", count(lit(1)).over(w))
        .filter(col("bsz") <= cap).drop("bsz")
    }
  }

  /** DuckDB CTE chain mirroring [[srpBandsExact]] (appends to
    * `vecCtes`): yields a `bands(vec_id, band, bv)` relation.
    */
  private def bandsCte(numBands: Int, planesPerBand: Int,
      bucketCap: Option[Int] = None): String = {
    // Mirrors DotDoubleExpr's left-to-right double fold: element-wise
    // products in index order, list_reduce seeds with the first
    // product and adds sequentially — bit-identical to the Spark loop
    // (up to ±0.0, which >= 0 cannot distinguish).
    val raw =
      s"""$evecCte, pl AS (
         |  SELECT vec_id - 1 AS pidx, v AS pvec FROM evec
         |  WHERE vec_id BETWEEN 1 AND ${numBands * planesPerBand}
         |), proj AS (
         |  SELECT e.vec_id, p.pidx,
         |    CASE WHEN list_reduce(
         |        list_transform(range(1, len(e.v) + 1),
         |          k -> e.v[k] * p.pvec[k]),
         |        (a, b) -> a + b) >= 0
         |      THEN '1' ELSE '0' END AS bit
         |  FROM evec e CROSS JOIN pl p
         |), bands_all AS (
         |  SELECT vec_id, CAST(floor(pidx / $planesPerBand) AS INTEGER) AS band,
         |    string_agg(bit, '' ORDER BY pidx) AS bv
         |  FROM proj
         |  GROUP BY vec_id, CAST(floor(pidx / $planesPerBand) AS INTEGER)
         |)""".stripMargin
    bucketCap match {
      case None => raw + ", bands AS (SELECT vec_id, band, bv FROM bands_all)"
      case Some(cap) =>
        raw +
          s""", bands AS (
             |  SELECT vec_id, band, bv FROM (
             |    SELECT vec_id, band, bv,
             |      COUNT(*) OVER (PARTITION BY band, bv) AS bsz
             |    FROM bands_all)
             |  WHERE bsz <= $cap
             |)""".stripMargin
    }
  }

  /** DuckDB CTEs mirroring `ProductQuantizer` (append after `vecCtes,
    * evecCte`): 8 subspaces × 16 codes sampled from corpus vectors
    * 1..16, per-(vector, subspace, code) plain-double distances with
    * the exact fold order of [[graft.llm.ProductQuantizer]]'s
    * `subDist`, and the argmin `codes(vec_id, m, k)` with k-ASC ties.
    */
  private val pqCtes =
    """ms AS (SELECT unnest(range(0,8)) AS m),
      |subs AS (
      |  SELECT e.vec_id, ms.m,
      |    list_transform(range(1,9),
      |      j -> e.v[CAST(ms.m*8+j AS INTEGER)]) AS sv
      |  FROM evec e CROSS JOIN ms
      |), cb AS (
      |  SELECT vec_id - 1 AS k, m, sv AS cv FROM subs
      |  WHERE vec_id BETWEEN 1 AND 16
      |), dists AS (
      |  SELECT s.vec_id, s.m, c.k,
      |    ((list_reduce(list_transform(range(1,9),
      |          j -> s.sv[j]*s.sv[j]), (a,b) -> a+b)
      |      - (list_reduce(list_transform(range(1,9),
      |          j -> s.sv[j]*c.cv[j]), (a,b) -> a+b) * 2))
      |     + list_reduce(list_transform(range(1,9),
      |          j -> c.cv[j]*c.cv[j]), (a,b) -> a+b)) AS dist
      |  FROM subs s JOIN cb c ON c.m = s.m
      |), codes AS (
      |  SELECT vec_id, m, k FROM (
      |    SELECT vec_id, m, k,
      |      row_number() OVER (PARTITION BY vec_id, m
      |        ORDER BY dist ASC, k ASC) AS rn
      |    FROM dists) WHERE rn = 1
      |)""".stripMargin

  /** Shared RESIDUAL IVF-PQ code CTEs (append after
    * [[centsAndDotsCte]]): cell assignment, residual vectors,
    * residual-sampled codebook, and the stored residual codes —
    * mirrors `ProductQuantizer.encodeResidual` bit-for-bit. The
    * query-side LUT/probe/ADC tails come from [[residPqCtes]]
    * (single query 0) or [[residPqPanelCtes]] (the 20-query panel).
    */
  private val residCodesCtes =
    """rassigned AS (
      |  SELECT vec_id, clabel AS cell FROM (
      |    SELECT vec_id, clabel,
      |      row_number() OVER (PARTITION BY vec_id
      |        ORDER BY dp DESC, clabel DESC) AS rn
      |    FROM dots_c)
      |  WHERE rn = 1
      |), rvec AS (
      |  SELECT e.vec_id, a.cell,
      |    list_transform(range(1, len(e.v) + 1),
      |      k -> e.v[k] - c.cvec[k]) AS rv
      |  FROM evec e JOIN rassigned a USING (vec_id)
      |  JOIN cents_l c ON c.clabel = a.cell
      |), rms AS (SELECT unnest(range(0,8)) AS m),
      |rsubs AS (
      |  SELECT r.vec_id, r.cell, rms.m,
      |    list_transform(range(1,9),
      |      j -> r.rv[CAST(rms.m*8+j AS INTEGER)]) AS sv
      |  FROM rvec r CROSS JOIN rms
      |), rcb AS (
      |  SELECT vec_id - 1 AS k, m, sv AS cv FROM rsubs
      |  WHERE vec_id BETWEEN 1 AND 16
      |), rdists AS (
      |  SELECT s.vec_id, s.m, c.k,
      |    ((list_reduce(list_transform(range(1,9),
      |          j -> s.sv[j]*s.sv[j]), (a,b) -> a+b)
      |      - (list_reduce(list_transform(range(1,9),
      |          j -> s.sv[j]*c.cv[j]), (a,b) -> a+b) * 2))
      |     + list_reduce(list_transform(range(1,9),
      |          j -> c.cv[j]*c.cv[j]), (a,b) -> a+b)) AS dist
      |  FROM rsubs s JOIN rcb c ON c.m = s.m
      |), rcodes AS (
      |  SELECT vec_id, m, k FROM (
      |    SELECT vec_id, m, k,
      |      row_number() OVER (PARTITION BY vec_id, m
      |        ORDER BY dist ASC, k ASC) AS rn
      |    FROM rdists) WHERE rn = 1
      |)""".stripMargin

  /** Single-query (vec_id 0) residual LUT/probe/ADC tail — appends
    * [[residCodesCtes]]; yields `radc(vec_id, adc_dist)` over the
    * probed cells. Mirrors `ProductQuantizer.ivfResidualAdcTopK`.
    */
  private def residPqCtes(nProbe: Int) =
    s"""$residCodesCtes, qres AS (
       |  SELECT c.clabel AS cell,
       |    list_transform(range(1, len(e.v) + 1),
       |      k -> e.v[k] - c.cvec[k]) AS rv
       |  FROM evec e CROSS JOIN cents_l c WHERE e.vec_id = 0
       |), qsubs AS (
       |  SELECT q.cell, rms.m,
       |    list_transform(range(1,9),
       |      j -> q.rv[CAST(rms.m*8+j AS INTEGER)]) AS sv
       |  FROM qres q CROSS JOIN rms
       |), rlut AS (
       |  SELECT q.cell, q.m, c.k,
       |    ((list_reduce(list_transform(range(1,9),
       |          j -> q.sv[j]*q.sv[j]), (a,b) -> a+b)
       |      - (list_reduce(list_transform(range(1,9),
       |          j -> q.sv[j]*c.cv[j]), (a,b) -> a+b) * 2))
       |     + list_reduce(list_transform(range(1,9),
       |          j -> c.cv[j]*c.cv[j]), (a,b) -> a+b)) AS ldist
       |  FROM qsubs q JOIN rcb c ON c.m = q.m
       |), rprobed AS (
       |  SELECT clabel AS cell FROM dots_c WHERE vec_id = 0
       |  ORDER BY dp DESC, clabel DESC LIMIT $nProbe
       |), radc AS (
       |  SELECT cd.vec_id,
       |    CAST(SUM(CAST(l.ldist AS DECIMAL(38,12))) AS DOUBLE)
       |      AS adc_dist
       |  FROM rcodes cd
       |  JOIN rassigned a ON a.vec_id = cd.vec_id
       |  JOIN rprobed p ON p.cell = a.cell
       |  JOIN rlut l ON l.cell = a.cell AND l.m = cd.m AND l.k = cd.k
       |  WHERE cd.vec_id <> 0 GROUP BY cd.vec_id
       |)""".stripMargin

  /** Panel residual LUT/probe/ADC tail — appends [[residCodesCtes]];
    * yields `pradc(qid, vec_id, adc_dist)` over each panel query's
    * probed cells. Mirrors `ProductQuantizer.residualAdcDistsPanel`.
    */
  private def residPqPanelCtes(nProbe: Int) =
    s"""$residCodesCtes, qres AS (
       |  SELECT e.vec_id AS qid, c.clabel AS cell,
       |    list_transform(range(1, len(e.v) + 1),
       |      k -> e.v[k] - c.cvec[k]) AS rv
       |  FROM evec e CROSS JOIN cents_l c WHERE e.vec_id < 20
       |), qsubs AS (
       |  SELECT q.qid, q.cell, rms.m,
       |    list_transform(range(1,9),
       |      j -> q.rv[CAST(rms.m*8+j AS INTEGER)]) AS sv
       |  FROM qres q CROSS JOIN rms
       |), rlut AS (
       |  SELECT q.qid, q.cell, q.m, c.k,
       |    ((list_reduce(list_transform(range(1,9),
       |          j -> q.sv[j]*q.sv[j]), (a,b) -> a+b)
       |      - (list_reduce(list_transform(range(1,9),
       |          j -> q.sv[j]*c.cv[j]), (a,b) -> a+b) * 2))
       |     + list_reduce(list_transform(range(1,9),
       |          j -> c.cv[j]*c.cv[j]), (a,b) -> a+b)) AS ldist
       |  FROM qsubs q JOIN rcb c ON c.m = q.m
       |), rprobed AS (
       |  SELECT qid, cell FROM (
       |    SELECT vec_id AS qid, clabel AS cell,
       |      row_number() OVER (PARTITION BY vec_id
       |        ORDER BY dp DESC, clabel DESC) AS rn
       |    FROM dots_c WHERE vec_id < 20)
       |  WHERE rn <= $nProbe
       |), pradc AS (
       |  SELECT p.qid, cd.vec_id,
       |    CAST(SUM(CAST(l.ldist AS DECIMAL(38,12))) AS DOUBLE)
       |      AS adc_dist
       |  FROM rcodes cd
       |  JOIN rassigned a ON a.vec_id = cd.vec_id
       |  JOIN rprobed p ON p.cell = a.cell
       |  JOIN rlut l ON l.qid = p.qid AND l.cell = a.cell
       |    AND l.m = cd.m AND l.k = cd.k
       |  WHERE cd.vec_id <> p.qid
       |  GROUP BY p.qid, cd.vec_id
       |)""".stripMargin

  /** ADC distances for query vec_id 0 (appends to [[pqCtes]]):
    * `adc(vec_id, adc_dist)` with the LUT summed in exact decimal —
    * mirrors `ProductQuantizer.adcTopK` bit-for-bit.
    */
  private val adcCte =
    """lut AS (
      |  SELECT q.m, c.k, q.dist AS ldist
      |  FROM dists q JOIN cb c ON c.m = q.m AND c.k = q.k
      |  WHERE q.vec_id = 0
      |), adc AS (
      |  SELECT cd.vec_id,
      |    CAST(SUM(CAST(l.ldist AS DECIMAL(38,12))) AS DOUBLE) AS adc_dist
      |  FROM codes cd JOIN lut l ON l.m = cd.m AND l.k = cd.k
      |  WHERE cd.vec_id <> 0 GROUP BY cd.vec_id
      |)""".stripMargin

  /** Panel ADC distances (appends to [[pqCtes]]): per-query LUTs are
    * the panel queries' own `dists` rows; distances summed exact —
    * `padc(qid, vec_id, adc_dist)`. Mirrors
    * `ProductQuantizer.adcDistsPanel` bit-for-bit.
    */
  /** The q220 panel-recall oracle (sampled-codebook ADC@20 vs exact
    * L2@20 over the 20-query panel) — shared verbatim by q322, whose
    * per-query stored-codes serving mode produces the identical
    * result set by construction.
    */
  private lazy val pqPanelRecallOracle: String =
    s"""$vecCtes, $evecCte, $pqCtes, $padcCte,
       |pl2 AS (
       |  SELECT q.vec_id AS qid, d.vec_id,
       |    CAST(SUM(CAST((d.x - q.x) * (d.x - q.x)
       |      AS DECIMAL(38,12))) AS DOUBLE) AS dist2
       |  FROM dexp d JOIN dexp q USING (i)
       |  WHERE q.vec_id < 20 AND d.vec_id <> q.vec_id
       |  GROUP BY q.vec_id, d.vec_id
       |), exact_top AS (
       |  SELECT qid, vec_id FROM (
       |    SELECT qid, vec_id, row_number() OVER (
       |      PARTITION BY qid ORDER BY dist2 ASC, vec_id ASC)
       |      AS rn
       |    FROM pl2)
       |  WHERE rn <= 20
       |), adc_top AS (
       |  SELECT qid, vec_id FROM (
       |    SELECT qid, vec_id, row_number() OVER (
       |      PARTITION BY qid ORDER BY adc_dist ASC, vec_id ASC)
       |      AS rn
       |    FROM padc)
       |  WHERE rn <= 20
       |), kt AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS k_total
       |  FROM exact_top
       |)
       |SELECT kt.k_total,
       |  CAST(COUNT(*) AS BIGINT) AS overlap_cnt,
       |  CAST(COUNT(*) AS DOUBLE) / CAST(kt.k_total AS DOUBLE)
       |    AS recall
       |FROM adc_top JOIN exact_top USING (qid, vec_id)
       |CROSS JOIN kt
       |GROUP BY kt.k_total""".stripMargin

  private val padcCte =
    """plut AS (
      |  SELECT vec_id AS qid, m, k, dist AS ldist
      |  FROM dists WHERE vec_id < 20
      |), padc AS (
      |  SELECT l.qid, cd.vec_id,
      |    CAST(SUM(CAST(l.ldist AS DECIMAL(38,12))) AS DOUBLE)
      |      AS adc_dist
      |  FROM codes cd JOIN plut l ON l.m = cd.m AND l.k = cd.k
      |  WHERE cd.vec_id <> l.qid
      |  GROUP BY l.qid, cd.vec_id
      |)""".stripMargin

  // ---- 20-query retrieval-quality panel -------------------------
  //
  // Every recall rung used to score ONE tracked query (vec_id 0) —
  // a knob tuned on an anecdote. The rungs now report MEAN recall@10
  // over a fixed deterministic panel: queries = vec_id 0..19, corpus
  // per query = every other vector (vec_id <> qid — q201's batch
  // convention). The exact-cosine truth for all panel×corpus pairs
  // is ONE measurement artifact, built once per dataset and served
  // from parquet (StoreCache — the q216/q238 build/serve split;
  // q308 is the labeled, oracle-gated build), so ten rungs share one
  // exact pass instead of paying 20 brute-force rankings each. At
  // 100 TB the panel is a sampled query set and the store is the
  // standing eval table a serving deployment re-scores per index
  // build.
  private[queries] val PanelN = 20

  /** Panel query vectors as (qid, q_emb). */
  private def panelQs(emb: org.apache.spark.sql.DataFrame) =
    emb.filter(col("vec_id") < PanelN)
      .select(col("vec_id").as("qid"), col("embedding").as("q_emb"))

  /** The panel ranking store: exact-decimal cosine of every
    * (panel query, other-vector) pair, one parquet per dataset.
    */
  private def panelRanked(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    val path = graft.StoreCache.getOrBuild("panelrank", d) { p =>
      buildPanelRankStore(s, d, p)
    }
    graft.StoreCache.readParquet(s, path)
  }

  private def buildPanelRankStore(
      s: org.apache.spark.sql.SparkSession, d: String,
      p: String): Unit = {
    val emb = embeddings(s, d)
    emb.select(col("vec_id"), col("embedding"))
      .crossJoin(broadcast(panelQs(emb)))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        fcos(col("embedding"), col("q_emb")).as("cos_sim"))
      .write.mode("overwrite").parquet(p)
  }

  /** Exact-cosine top-10 per panel query restricted to the given
    * (qid, vec_id) candidate pairs — a store read + GroupedTopK, no
    * vector math at serve time.
    */
  private def panelTop10(s: org.apache.spark.sql.SparkSession,
      d: String,
      cands: org.apache.spark.sql.DataFrame):
      org.apache.spark.sql.DataFrame =
    graft.plans.GroupedTopK.of(
      panelRanked(s, d).join(cands, Seq("qid", "vec_id")),
      Seq("qid"), Seq(col("cos_sim").desc, col("vec_id").asc), 10)
      .select("qid", "vec_id")

  /** The panel exact truth: unrestricted top-10 per query — stored
    * once per dataset (run-file doctrine: nine recall rungs consume
    * this 200-row truth, several of them 4-7× inside one query's rung
    * loop; before the store each consumption re-ran the top-k over
    * the full panel-ranking store). Bit-identical rows: the same
    * GroupedTopK result round-tripped through parquet longs.
    */
  private def buildPanelExact(s: org.apache.spark.sql.SparkSession,
      d: String)(p: String): Unit =
    graft.plans.GroupedTopK.of(panelRanked(s, d),
      Seq("qid"), Seq(col("cos_sim").desc, col("vec_id").asc), 10)
      .select("qid", "vec_id")
      .coalesce(1).write.mode("overwrite").parquet(p)

  private def panelExact(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    val path = graft.StoreCache.getOrBuild("panelexact", d)(
      buildPanelExact(s, d))
    graft.StoreCache.readParquet(s, path)
  }

  /** The HELD-OUT panel cosine truth (vec_id >= PanelN only) — the
    * q318/q319 truth, same stored-run contract as [[panelExact]].
    */
  private def buildPanelExactHeldout(
      s: org.apache.spark.sql.SparkSession, d: String)(
      p: String): Unit =
    graft.plans.GroupedTopK.of(
      panelRanked(s, d).filter(col("vec_id") >= PanelN),
      Seq("qid"), Seq(col("cos_sim").desc, col("vec_id").asc), 10)
      .select("qid", "vec_id")
      .coalesce(1).write.mode("overwrite").parquet(p)

  private def panelExactHeldout(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    val path = graft.StoreCache.getOrBuild("panelexact_ho", d)(
      buildPanelExactHeldout(s, d))
    graft.StoreCache.readParquet(s, path)
  }

  /** The panel exact L2@20 truth (every vector vs every panel query,
    * squared-distance ranking) — the PQ/ADC rungs' truth table
    * (q220/q309/q322), stored once per dataset. Each consumer used
    * to recompute the full exact-decimal fold TWICE (recall join +
    * k_total); now both reads are 400 stored rows.
    */
  private def buildPanelL2Top20(s: org.apache.spark.sql.SparkSession,
      d: String)(p: String): Unit = {
    val emb = embeddings(s, d)
    val diff = zip_with(col("embedding").cast("array<double>"),
      col("q_emb").cast("array<double>"), (x, y) => x - y)
    graft.plans.GroupedTopK.of(
      emb.crossJoin(broadcast(panelQs(emb)))
        .filter(col("vec_id") =!= col("qid"))
        .select(col("qid"), col("vec_id"),
          fdot(diff, diff).as("dist2")),
      Seq("qid"), Seq(col("dist2").asc, col("vec_id").asc), 20)
      .select("qid", "vec_id")
      .coalesce(1).write.mode("overwrite").parquet(p)
  }

  private def panelL2Top20(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    val path = graft.StoreCache.getOrBuild("panell2", d)(
      buildPanelL2Top20(s, d))
    graft.StoreCache.readParquet(s, path)
  }

  /** [[panelL2Top20]] restricted to the corpus (vec_id >= PanelN) —
    * the held-out PQ truth (q323/q348).
    */
  private def buildPanelL2Top20Heldout(
      s: org.apache.spark.sql.SparkSession, d: String)(
      p: String): Unit = {
    val emb = embeddings(s, d)
    val diff = zip_with(col("embedding").cast("array<double>"),
      col("q_emb").cast("array<double>"), (x, y) => x - y)
    graft.plans.GroupedTopK.of(
      emb.filter(col("vec_id") >= PanelN)
        .crossJoin(broadcast(panelQs(emb)))
        .select(col("qid"), col("vec_id"),
          fdot(diff, diff).as("dist2")),
      Seq("qid"), Seq(col("dist2").asc, col("vec_id").asc), 20)
      .select("qid", "vec_id")
      .coalesce(1).write.mode("overwrite").parquet(p)
  }

  private def panelL2Top20Heldout(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    val path = graft.StoreCache.getOrBuild("panell2_ho", d)(
      buildPanelL2Top20Heldout(s, d))
    graft.StoreCache.readParquet(s, path)
  }

  /** PQ codes store (sampled codebook — the declared oracle shape):
    * (vec_id, m, code) materialized once per dataset — the codes
    * table an IVFADC deployment scans instead of re-encoding the
    * corpus per query; q220/q223/q309 serve from it.
    */
  private def pqCodes(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    val path = graft.StoreCache.getOrBuild("pqcodes", d) { p =>
      val emb = embeddings(s, d)
      val cb = graft.llm.ProductQuantizer
        .codebookFromCorpus(emb, numSub = 8, codesPerSub = 16)
      graft.llm.ProductQuantizer.encode(emb, cb)
        .write.mode("overwrite").parquet(p)
    }
    graft.StoreCache.readParquet(s, path)
  }

  /** Residual-PQ codes store: (vec_id, cell, m, code) over residuals
    * against the label centroids — q279's serving table.
    */
  private def pqResCodes(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    val path = graft.StoreCache.getOrBuild("pqrescodes", d) { p =>
      val emb = embeddings(s, d)
      val cents = centroidArrays(s, d)
      val cb = graft.llm.ProductQuantizer
        .residualCodebookFromCorpus(emb, cents, numSub = 8,
          codesPerSub = 16)
      graft.llm.ProductQuantizer.encodeResidual(emb, cents, cb)
        .write.mode("overwrite").parquet(p)
    }
    graft.StoreCache.readParquet(s, path)
  }

  /** DuckDB mirror of the store + truth (append after `vecCtes`):
    * `pranked(qid, vec_id, cos_sim)` over all panel pairs and
    * `pexact(qid, vec_id)` — the store build recomputed per oracle
    * run (the oracle has no store; values are deterministic).
    */
  private val panelCtes =
    """pdots AS (
      |  SELECT q.vec_id AS qid, d.vec_id,
      |    CAST(SUM(CAST(d.x * q.x AS DECIMAL(38,12))) AS DOUBLE) AS dp
      |  FROM dexp d JOIN dexp q USING (i)
      |  WHERE q.vec_id < 20 AND d.vec_id <> q.vec_id
      |  GROUP BY q.vec_id, d.vec_id
      |), pranked AS (
      |  SELECT p.qid, p.vec_id,
      |    p.dp / (nd.nrm * nq.nrm) AS cos_sim
      |  FROM pdots p
      |  JOIN norms nd ON nd.vec_id = p.vec_id
      |  JOIN norms nq ON nq.vec_id = p.qid
      |), pexact AS (
      |  SELECT qid, vec_id FROM (
      |    SELECT qid, vec_id, row_number() OVER (PARTITION BY qid
      |      ORDER BY cos_sim DESC, vec_id ASC) AS rn
      |    FROM pranked)
      |  WHERE rn <= 10
      |)""".stripMargin

  /** SQL template: top-10 per qid within a (qid, vec_id) candidate
    * CTE, ranked by the stored exact cosine.
    */
  private def panelSubRank(cands: String, out: String,
      k: Int = 10): String =
    s"""$out AS (
       |  SELECT qid, vec_id FROM (
       |    SELECT r.qid, r.vec_id,
       |      row_number() OVER (PARTITION BY r.qid
       |        ORDER BY r.cos_sim DESC, r.vec_id ASC) AS rn
       |    FROM pranked r JOIN $cands c
       |      ON c.qid = r.qid AND c.vec_id = r.vec_id)
       |  WHERE rn <= $k
       |)""".stripMargin

  val all: Seq[QueryDef] = Seq(
    // Brute-force cosine top-20 neighbors of vec_id 0.
    QueryDef(
      "q37_ann_bruteforce",
      (s, d) => {
        val emb = embeddings(s, d)
        val qv = emb.filter(col("vec_id") === 0)
          .select(col("embedding").as("q_emb"))
        emb.crossJoin(broadcast(qv))
          .filter(col("vec_id") =!= 0)
          .select(col("vec_id"), col("label"),
            fcos(col("embedding"), col("q_emb")).as("cos_sim"))
          .orderBy(col("cos_sim").desc, col("vec_id").asc)
          .limit(20)
      },
      Some(s"""$vecCtes
              |SELECT e.vec_id, e.label, dots.dp / (norms.nrm * qn.qnrm) AS cos_sim
              |FROM embeddings e
              |JOIN dots ON dots.vec_id = e.vec_id
              |JOIN norms ON norms.vec_id = e.vec_id
              |CROSS JOIN qn
              |WHERE e.vec_id <> 0
              |ORDER BY cos_sim DESC, e.vec_id ASC LIMIT 20""".stripMargin)),

    // LSH-bucketed ANN, banded: 4 independent bands of 6 sign-planes
    // each (planes = corpus vectors 1..24). Candidates are the UNION
    // of the query's band buckets (OR-amplification keeps recall while
    // each band's 2^6 buckets keep candidate sets ~ 4n/64); exact
    // cosine ranks only the candidates. Band structure mirrors
    // EmbeddingSearch.srpBands — this declared form keeps the
    // exact-decimal scorer so DuckDB reproduces it bit-for-bit.
    QueryDef(
      "q38_ann_lsh",
      (s, d) => {
        val emb = embeddings(s, d)
        val bands = srpBandsExact(emb, numBands = 4, planesPerBand = 6)
        val qb = bands.filter(col("vec_id") === 0)
          .select(col("band").as("q_band"), col("bv").as("q_bv"))
        val qv = emb.filter(col("vec_id") === 0)
          .select(col("embedding").as("q_emb"))
        bands
          .join(broadcast(qb),
            col("band") === col("q_band") && col("bv") === col("q_bv"))
          .filter(col("vec_id") =!= 0)
          .select("vec_id").distinct()
          .join(emb, "vec_id")
          .crossJoin(broadcast(qv))
          .select(col("vec_id"),
            fcos(col("embedding"), col("q_emb")).as("cos_sim"))
          .orderBy(col("cos_sim").desc, col("vec_id").asc)
          .limit(10)
      },
      Some(s"""$vecCtes, ${bandsCte(numBands = 4, planesPerBand = 6)},
              |qb AS (
              |  SELECT band AS q_band, bv AS q_bv FROM bands WHERE vec_id = 0
              |), cands AS (
              |  SELECT DISTINCT b.vec_id
              |  FROM bands b JOIN qb ON b.band = qb.q_band AND b.bv = qb.q_bv
              |  WHERE b.vec_id <> 0
              |)
              |SELECT c.vec_id, dots.dp / (norms.nrm * qn.qnrm) AS cos_sim
              |FROM cands c
              |JOIN dots ON dots.vec_id = c.vec_id
              |JOIN norms ON norms.vec_id = c.vec_id
              |CROSS JOIN qn
              |ORDER BY cos_sim DESC, c.vec_id ASC LIMIT 10""".stripMargin)),

    // Embedding-cosine near-dup, banded: candidate pairs collide in
    // ANY of 4 independent 10-plane bands (planes 1..40), band buckets
    // over 200 docs are dropped (degenerate bucket = exact-dup
    // cluster, q29's job), then exact cosine ≥ 0.35 on the DISTINCT
    // candidate pairs. vs the old single 4-plane bucket: join-key
    // cardinality 16 → 4×2^10, candidates n²/32 → ~n²/400 (measured
    // 129k → 10k at sf0.1), and the bucket cap bounds skew. Norms are
    // computed once per vector so each pair pays a single
    // exact-decimal dot.
    QueryDef(
      "q44_embed_neardup",
      (s, d) => {
        val emb = embeddings(s, d)
        val bands = srpBandsExact(emb, numBands = 4, planesPerBand = 10,
          bucketCap = Some(200))
        val pairs = bands.as("a")
          .join(bands.as("b"),
            col("a.band") === col("b.band") && col("a.bv") === col("b.bv") &&
              col("a.vec_id") < col("b.vec_id"))
          .select(col("a.vec_id").as("a_id"), col("b.vec_id").as("b_id"))
          .distinct()
        val withNrm = emb
          .select(col("vec_id"), col("embedding"), fnorm(col("embedding")).as("nrm"))
        pairs
          .join(withNrm.as("ea"), col("a_id") === col("ea.vec_id"))
          .join(withNrm.as("eb"), col("b_id") === col("eb.vec_id"))
          .select(col("a_id"), col("b_id"),
            (fdot(col("ea.embedding"), col("eb.embedding")) /
              (col("ea.nrm") * col("eb.nrm"))).as("cos_sim"))
          .filter(col("cos_sim") >= 0.35)
          .orderBy("a_id", "b_id")
      },
      Some(s"""$vecCtes, ${bandsCte(numBands = 4, planesPerBand = 10,
                bucketCap = Some(200))},
              |pairs AS (
              |  SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id
              |  FROM bands a JOIN bands b
              |    ON a.band = b.band AND a.bv = b.bv AND a.vec_id < b.vec_id
              |), pairdots AS (
              |  SELECT p.a_id, p.b_id,
              |    CAST(SUM(CAST(da.x * db.x AS DECIMAL(38,12))) AS DOUBLE) AS dp
              |  FROM pairs p
              |  JOIN dexp da ON da.vec_id = p.a_id
              |  JOIN dexp db ON db.vec_id = p.b_id AND da.i = db.i
              |  GROUP BY p.a_id, p.b_id
              |)
              |SELECT pd.a_id, pd.b_id, pd.dp / (na.nrm * nb.nrm) AS cos_sim
              |FROM pairdots pd
              |JOIN norms na ON na.vec_id = pd.a_id
              |JOIN norms nb ON nb.vec_id = pd.b_id
              |WHERE pd.dp / (na.nrm * nb.nrm) >= 0.35
              |ORDER BY a_id, b_id""".stripMargin)),

    // Per-label centroids, oracle-checked element-wise: the same
    // shuffle shape the VectorMeanAggregator uses (partial sums
    // map-side, one K×dim-sized result), expressed relationally so
    // DuckDB reproduces it — (label, element index, mean). The typed
    // Aggregator (Centroids.byLabel) is the production path; this
    // declared form is its cross-engine correctness witness.
    QueryDef(
      "q62_label_centroids",
      (s, d) =>
        embeddings(s, d)
          .select(col("label"), posexplode(col("embedding")))
          .select(col("label"), (col("pos") + 1).as("i"),
            col("col").cast("double").as("x"))
          .groupBy("label", "i")
          .agg(davg(col("x")).as("mean_x"))
          .orderBy("label", "i"),
      Some(s"""SELECT label, CAST(i AS INTEGER) AS i,
              |  ${sqlDavg("x")} AS mean_x
              |FROM (
              |  SELECT label, generate_subscripts(embedding, 1) AS i,
              |    CAST(unnest(embedding) AS DOUBLE) AS x
              |  FROM embeddings)
              |GROUP BY label, i ORDER BY label, i""".stripMargin)),

    // IVF cell assignment, oracle-checked: every vector goes to its
    // max-dot-product label centroid (q62's centroids, broadcast),
    // exact-decimal dots, deterministic argmax tie-break — the
    // cross-engine witness for the coarse quantizer behind
    // EmbeddingSearch.ivfTopK / Centroids.assign (whose production
    // path scores with the codegen'd cosine_fast instead).
    QueryDef(
      "q67_ivf_assign",
      (s, d) => {
        val emb = graft.Tables.embeddingsUnspread(s, d)
        // Centroids are model metadata (K labels × dim means = a few
        // hundred rows): one explode+agg pass computes them, then they
        // ride along as LITERAL double arrays — the r2 literal-plane
        // trick. Assignment becomes one narrow projection per vector:
        // K fused exact dots + an array_max argmax (struct ordering is
        // lexicographic (dp, clabel), exactly the dp DESC / clabel
        // DESC tie-break), versus exploding every vector into dim×K
        // join+agg rows and a per-vector window.
        val cents = centroidArrays(s, d)
        val scored = array(cents.map { case (lbl, arr) =>
          struct(graft.functions.DotDoubleExpr
              .dotDouble(col("embedding"), typedLit(arr)).as("dp"),
            lit(lbl).as("clabel"))
        }: _*)
        emb
          .select(col("vec_id"),
            array_max(scored).getField("clabel").as("assigned_label"))
          .orderBy("vec_id")
      },
      Some(s"""$centsAndDotsCte
              |SELECT vec_id, clabel AS assigned_label FROM (
              |  SELECT vec_id, clabel,
              |    row_number() OVER (PARTITION BY vec_id
              |      ORDER BY dp DESC, clabel DESC) AS rn
              |  FROM dots_c)
              |WHERE rn = 1 ORDER BY vec_id""".stripMargin)),

    // IVF probe SEARCH (completes q67's quantizer into the full ANN
    // path): assign every vector to its nearest centroid cell, take
    // the query's 2 best cells (nprobe=2), and exact-cosine-rank only
    // the vectors living in those cells. At 100 TB the candidate set
    // is ~nprobe/K of the corpus and the centroids stay broadcast —
    // the standard IVF-flat search plan. Production scoring uses
    // cosine_fast; this declared form keeps the exact-decimal scorer
    // so DuckDB reproduces the ranking bit-for-bit.
    QueryDef(
      "q98_ivf_search",
      (s, d) => {
        val emb = embeddings(s, d)
        // Same literal-centroid assignment as q67 (zero-shuffle argmax
        // per vector); the probe set is the query row's K scores,
        // exploded and top-2'd — a 1×K frame, broadcast into the
        // candidate filter.
        val cents = centroidArrays(s, d)
        val scored = array(cents.map { case (lbl, arr) =>
          struct(graft.functions.DotDoubleExpr
              .dotDouble(col("embedding"), typedLit(arr)).as("dp"),
            lit(lbl).as("clabel"))
        }: _*)
        val probe = emb.filter(col("vec_id") === 0)
          .select(explode(scored).as("sc"))
          .select(col("sc.dp").as("dp"), col("sc.clabel").as("cell"))
          .orderBy(col("dp").desc, col("cell").desc)
          .limit(2)
          .select("cell")
        val qv = emb.filter(col("vec_id") === 0)
          .select(col("embedding").as("q_emb"))
        emb
          .select(col("vec_id"), col("embedding"),
            array_max(scored).getField("clabel").as("cell"))
          .join(broadcast(probe), "cell")
          .filter(col("vec_id") =!= 0)
          .crossJoin(broadcast(qv))
          .select(col("vec_id"), col("cell"),
            fcos(col("embedding"), col("q_emb")).as("cos_sim"))
          .orderBy(col("cos_sim").desc, col("vec_id").asc)
          .limit(10)
      },
      Some(s"""$centsAndDotsCte, assigned AS (
              |  SELECT vec_id, clabel AS cell FROM (
              |    SELECT vec_id, clabel,
              |      row_number() OVER (PARTITION BY vec_id
              |        ORDER BY dp DESC, clabel DESC) AS rn
              |    FROM dots_c)
              |  WHERE rn = 1
              |), probe AS (
              |  SELECT clabel AS cell FROM dots_c WHERE vec_id = 0
              |  ORDER BY dp DESC, clabel DESC LIMIT 2
              |)
              |SELECT a.vec_id, a.cell,
              |  dots.dp / (norms.nrm * qn.qnrm) AS cos_sim
              |FROM assigned a
              |JOIN probe p ON a.cell = p.cell
              |JOIN dots ON dots.vec_id = a.vec_id
              |JOIN norms ON norms.vec_id = a.vec_id
              |CROSS JOIN qn
              |WHERE a.vec_id <> 0
              |ORDER BY cos_sim DESC, a.vec_id ASC LIMIT 10""".stripMargin)),

    // FILTERED IVF search — q98 with the serving-side norm attached:
    // a metadata predicate (label = 2 here; "lang = 'en'", "source
    // IN (...)" in production) restricting which corpus rows may be
    // ranked. Pre-filter strategy: the predicate lands on the
    // cell-assigned corpus BEFORE the probe join, so only surviving
    // rows pay cosine; probe-cell ranking deliberately ignores the
    // filter (shared-physical-index semantics — see
    // EmbeddingSearch.filteredIvfTopK, the cosine_fast production
    // path this declared exact-decimal form witnesses). The recall
    // cost of filtering is the nProbe trade-off documented there.
    QueryDef(
      "q230_filtered_ivf",
      (s, d) => {
        val emb = embeddings(s, d)
        val cents = centroidArrays(s, d)
        val scored = array(cents.map { case (lbl, arr) =>
          struct(graft.functions.DotDoubleExpr
              .dotDouble(col("embedding"), typedLit(arr)).as("dp"),
            lit(lbl).as("clabel"))
        }: _*)
        val probe = emb.filter(col("vec_id") === 0)
          .select(explode(scored).as("sc"))
          .select(col("sc.dp").as("dp"), col("sc.clabel").as("cell"))
          .orderBy(col("dp").desc, col("cell").desc)
          .limit(3)
          .select("cell")
        val qv = emb.filter(col("vec_id") === 0)
          .select(col("embedding").as("q_emb"))
        emb
          .select(col("vec_id"), col("embedding"), col("label"),
            array_max(scored).getField("clabel").as("cell"))
          .filter(col("label") === 2)
          .join(broadcast(probe), "cell")
          .filter(col("vec_id") =!= 0)
          .crossJoin(broadcast(qv))
          .select(col("vec_id"), col("cell"),
            fcos(col("embedding"), col("q_emb")).as("cos_sim"))
          .orderBy(col("cos_sim").desc, col("vec_id").asc)
          .limit(10)
      },
      Some(s"""$centsAndDotsCte, assigned AS (
              |  SELECT vec_id, clabel AS cell FROM (
              |    SELECT vec_id, clabel,
              |      row_number() OVER (PARTITION BY vec_id
              |        ORDER BY dp DESC, clabel DESC) AS rn
              |    FROM dots_c)
              |  WHERE rn = 1
              |), probe AS (
              |  SELECT clabel AS cell FROM dots_c WHERE vec_id = 0
              |  ORDER BY dp DESC, clabel DESC LIMIT 3
              |)
              |SELECT a.vec_id, a.cell,
              |  dots.dp / (norms.nrm * qn.qnrm) AS cos_sim
              |FROM assigned a
              |JOIN probe p ON a.cell = p.cell
              |JOIN embeddings e ON e.vec_id = a.vec_id AND e.label = 2
              |JOIN dots ON dots.vec_id = a.vec_id
              |JOIN norms ON norms.vec_id = a.vec_id
              |CROSS JOIN qn
              |WHERE a.vec_id <> 0
              |ORDER BY cos_sim DESC, a.vec_id ASC LIMIT 10""".stripMargin)),

    // Recall of FILTERED IVF (q230's path) vs the filtered exact
    // truth, over the 20-query panel — the q200 measurement applied
    // to predicate-constrained serving, quantifying the documented
    // recall-vs-nProbe trade-off UNDER a filter (a selective
    // predicate can empty probed cells while matches live in
    // unprobed ones, so filtered recall decays faster than q209's
    // unfiltered curve): one summary row with MEAN panel recall@10
    // at nprobe 1, 2, 3 over label = 2 candidates. Both the truth
    // and the method rank from the shared panel store.
    QueryDef(
      "q237_filtered_ann_recall",
      (s, d) => {
        val emb = embeddings(s, d)
        val qids = emb.filter(col("vec_id") < PanelN)
          .select(col("vec_id").as("qid"))
        val fc = emb.filter(col("label") === 2).select("vec_id")
          .crossJoin(broadcast(qids))
          .filter(col("vec_id") =!= col("qid"))
          .select("qid", "vec_id")
        val fexact = panelTop10(s, d, fc)
        val cents = centroidArrays(s, d)
        val scored = array(cents.map { case (lbl, arr) =>
          struct(graft.functions.DotDoubleExpr
              .dotDouble(col("embedding"), typedLit(arr)).as("dp"),
            lit(lbl).as("clabel"))
        }: _*)
        val assigned = emb
          .select(col("vec_id"), col("label"),
            array_max(scored).getField("clabel").as("cell"))
        val wq = org.apache.spark.sql.expressions.Window
          .partitionBy("qid").orderBy(col("dp").desc, col("cell").desc)
        val probeRanked = emb.filter(col("vec_id") < PanelN)
          .select(col("vec_id").as("qid"), explode(scored).as("sc"))
          .select(col("qid"), col("sc.dp").as("dp"),
            col("sc.clabel").as("cell"))
          .withColumn("rk", row_number().over(wq))
        def ivfHits(nProbe: Int) = {
          val cands = assigned
            .filter(col("label") === 2)
            .join(broadcast(probeRanked.filter(col("rk") <= nProbe)
              .select("qid", "cell")), "cell")
            .filter(col("vec_id") =!= col("qid"))
            .select("qid", "vec_id")
          panelTop10(s, d, cands)
            .withColumn(s"in_p$nProbe", lit(1))
        }
        fexact
          .join(ivfHits(1), Seq("qid", "vec_id"), "left")
          .join(ivfHits(2), Seq("qid", "vec_id"), "left")
          .join(ivfHits(3), Seq("qid", "vec_id"), "left")
          .agg(count(lit(1)).cast("long").as("k_total"),
            count(col("in_p1")).cast("long").as("n_hit_p1"),
            count(col("in_p2")).cast("long").as("n_hit_p2"),
            count(col("in_p3")).cast("long").as("n_hit_p3"))
          .select(col("k_total"), col("n_hit_p1"), col("n_hit_p2"),
            col("n_hit_p3"),
            (col("n_hit_p1").cast("double") /
              col("k_total").cast("double")).as("recall_p1"),
            (col("n_hit_p2").cast("double") /
              col("k_total").cast("double")).as("recall_p2"),
            (col("n_hit_p3").cast("double") /
              col("k_total").cast("double")).as("recall_p3"))
      },
      Some(s"""$centsAndDotsCte, $panelCtes,
              |fc AS (
              |  SELECT q.vec_id AS qid, e.vec_id FROM embeddings e
              |  CROSS JOIN embeddings q
              |  WHERE q.vec_id < 20 AND e.label = 2
              |    AND e.vec_id <> q.vec_id
              |), ${panelSubRank("fc", "fexact")},
              |assigned AS (
              |  SELECT a.vec_id, e.label, a.cell FROM (
              |    SELECT vec_id, clabel AS cell FROM (
              |      SELECT vec_id, clabel,
              |        row_number() OVER (PARTITION BY vec_id
              |          ORDER BY dp DESC, clabel DESC) AS rn
              |      FROM dots_c)
              |    WHERE rn = 1) a
              |  JOIN embeddings e ON e.vec_id = a.vec_id
              |), probe_ranked AS (
              |  SELECT vec_id AS qid, clabel AS cell,
              |    row_number() OVER (PARTITION BY vec_id
              |      ORDER BY dp DESC, clabel DESC) AS rk
              |  FROM dots_c WHERE vec_id < 20
              |), c1 AS (
              |  SELECT pr.qid, a.vec_id FROM assigned a
              |  JOIN probe_ranked pr ON pr.cell = a.cell AND pr.rk <= 1
              |  WHERE a.label = 2 AND a.vec_id <> pr.qid
              |), c2 AS (
              |  SELECT pr.qid, a.vec_id FROM assigned a
              |  JOIN probe_ranked pr ON pr.cell = a.cell AND pr.rk <= 2
              |  WHERE a.label = 2 AND a.vec_id <> pr.qid
              |), c3 AS (
              |  SELECT pr.qid, a.vec_id FROM assigned a
              |  JOIN probe_ranked pr ON pr.cell = a.cell AND pr.rk <= 3
              |  WHERE a.label = 2 AND a.vec_id <> pr.qid
              |), ${panelSubRank("c1", "ivf1")},
              |${panelSubRank("c2", "ivf2")},
              |${panelSubRank("c3", "ivf3")}
              |SELECT CAST(COUNT(*) AS BIGINT) AS k_total,
              |  CAST(COUNT(i1.vec_id) AS BIGINT) AS n_hit_p1,
              |  CAST(COUNT(i2.vec_id) AS BIGINT) AS n_hit_p2,
              |  CAST(COUNT(i3.vec_id) AS BIGINT) AS n_hit_p3,
              |  CAST(COUNT(i1.vec_id) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
              |    AS recall_p1,
              |  CAST(COUNT(i2.vec_id) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
              |    AS recall_p2,
              |  CAST(COUNT(i3.vec_id) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
              |    AS recall_p3
              |FROM fexact x
              |LEFT JOIN ivf1 i1 ON i1.qid = x.qid AND i1.vec_id = x.vec_id
              |LEFT JOIN ivf2 i2 ON i2.qid = x.qid AND i2.vec_id = x.vec_id
              |LEFT JOIN ivf3 i3 ON i3.qid = x.qid AND i3.vec_id = x.vec_id""".stripMargin)),

    // Selectivity-ADAPTIVE filtered IVF — the operating rule q237
    // quantified, as code (EmbeddingSearch.adaptiveFilteredIvfTopK is
    // the cosine_fast library form this declared exact-decimal form
    // witnesses): one aggregation counts the predicate's SURVIVORS
    // per cell (<= K rows, no cosine paid), and the probe is the
    // smallest prefix of the similarity-ranked cells whose cumulative
    // survivor count reaches the target (3k = 30 here); when no
    // prefix reaches it, all K cells — which IS the filtered
    // brute-force rung, so the fallback needs no separate path. The
    // fixed-nProbe q230 form (same label = 2 predicate) probes 3
    // cells regardless; this form sizes the probe BY the predicate.
    QueryDef(
      "q241_adaptive_filtered_ivf",
      (s, d) => {
        val emb = embeddings(s, d)
        val cents = centroidArrays(s, d)
        val kCells = cents.length
        val scored = array(cents.map { case (lbl, arr) =>
          struct(graft.functions.DotDoubleExpr
              .dotDouble(col("embedding"), typedLit(arr)).as("dp"),
            lit(lbl).as("clabel"))
        }: _*)
        val assigned = emb
          .select(col("vec_id"), col("embedding"), col("label"),
            array_max(scored).getField("clabel").as("cell"))
        val w = org.apache.spark.sql.expressions.Window
          .orderBy(col("dp").desc, col("cell").desc)
        val rankedProbe = emb.filter(col("vec_id") === 0)
          .select(explode(scored).as("sc"))
          .select(col("sc.dp").as("dp"), col("sc.clabel").as("cell"))
          .withColumn("rn", row_number().over(w)) // K rows — tiny
        val cellCounts = assigned
          .filter(col("label") === 2 && col("vec_id") =!= 0)
          .groupBy("cell").agg(count(lit(1)).as("n"))
        val wCum = org.apache.spark.sql.expressions.Window
          .orderBy("rn")
        val withCum = rankedProbe
          .join(cellCounts, Seq("cell"), "left")
          .withColumn("cum",
            sum(coalesce(col("n"), lit(0L))).over(wCum))
        val chosen = withCum.filter(col("cum") >= 30)
          .agg(coalesce(min(col("rn")), lit(kCells)).cast("long")
            .as("n_probe"))
        val probe = withCum.crossJoin(broadcast(chosen))
          .filter(col("rn") <= col("n_probe"))
          .select("cell", "n_probe")
        val qv = emb.filter(col("vec_id") === 0)
          .select(col("embedding").as("q_emb"))
        assigned
          .filter(col("label") === 2)
          .join(broadcast(probe), "cell")
          .filter(col("vec_id") =!= 0)
          .crossJoin(broadcast(qv))
          .select(col("vec_id"), col("n_probe"),
            fcos(col("embedding"), col("q_emb")).as("cos_sim"))
          .orderBy(col("cos_sim").desc, col("vec_id").asc)
          .limit(10)
      },
      Some(s"""$centsAndDotsCte, assigned AS (
              |  SELECT vec_id, clabel AS cell FROM (
              |    SELECT vec_id, clabel,
              |      row_number() OVER (PARTITION BY vec_id
              |        ORDER BY dp DESC, clabel DESC) AS rn
              |    FROM dots_c)
              |  WHERE rn = 1
              |), cellcounts AS (
              |  SELECT a.cell, CAST(COUNT(*) AS BIGINT) AS n
              |  FROM assigned a
              |  JOIN embeddings e ON e.vec_id = a.vec_id
              |  WHERE e.label = 2 AND a.vec_id <> 0
              |  GROUP BY a.cell
              |), rankedprobe AS (
              |  SELECT clabel AS cell,
              |    row_number() OVER (ORDER BY dp DESC, clabel DESC)
              |      AS rn
              |  FROM dots_c WHERE vec_id = 0
              |), withcum AS (
              |  SELECT rp.cell, rp.rn,
              |    SUM(COALESCE(c.n, 0)) OVER (ORDER BY rp.rn) AS cum
              |  FROM rankedprobe rp
              |  LEFT JOIN cellcounts c ON c.cell = rp.cell
              |), chosen AS (
              |  SELECT CAST(COALESCE(
              |    MIN(CASE WHEN cum >= 30 THEN rn END), 10) AS BIGINT)
              |    AS n_probe
              |  FROM withcum
              |), probe AS (
              |  SELECT w.cell, ch.n_probe
              |  FROM withcum w CROSS JOIN chosen ch
              |  WHERE w.rn <= ch.n_probe
              |)
              |SELECT a.vec_id, p.n_probe,
              |  dots.dp / (norms.nrm * qn.qnrm) AS cos_sim
              |FROM assigned a
              |JOIN probe p ON a.cell = p.cell
              |JOIN embeddings e ON e.vec_id = a.vec_id AND e.label = 2
              |JOIN dots ON dots.vec_id = a.vec_id
              |JOIN norms ON norms.vec_id = a.vec_id
              |CROSS JOIN qn
              |WHERE a.vec_id <> 0
              |ORDER BY cos_sim DESC, a.vec_id ASC LIMIT 10""".stripMargin)),

    // Recall of the ADAPTIVE filtered path (q241's rule) vs the
    // filtered exact truth, over the 20-query panel — the q237
    // measurement for the adaptive operator. The probe now sizes
    // itself PER QUERY: each panel query walks its own
    // similarity-ranked cells until the cumulative label = 2
    // survivor count reaches the 3k = 30 target (fallback: all K
    // cells), so the row records the total probe budget the rule
    // actually spent across the panel next to the mean recall it
    // bought (tracked per round in BASELINE.md against the
    // unfiltered q209 curve).
    QueryDef(
      "q242_adaptive_filtered_recall",
      (s, d) => {
        val emb = embeddings(s, d)
        val qids = emb.filter(col("vec_id") < PanelN)
          .select(col("vec_id").as("qid"))
        val fc = emb.filter(col("label") === 2).select("vec_id")
          .crossJoin(broadcast(qids))
          .filter(col("vec_id") =!= col("qid"))
          .select("qid", "vec_id")
        val fexact = panelTop10(s, d, fc)
        val cents = centroidArrays(s, d)
        val kCells = cents.length
        val scored = array(cents.map { case (lbl, arr) =>
          struct(graft.functions.DotDoubleExpr
              .dotDouble(col("embedding"), typedLit(arr)).as("dp"),
            lit(lbl).as("clabel"))
        }: _*)
        val assigned = emb
          .select(col("vec_id"), col("label"),
            array_max(scored).getField("clabel").as("cell"))
        val wq = org.apache.spark.sql.expressions.Window
          .partitionBy("qid").orderBy(col("dp").desc, col("cell").desc)
        val probeRanked = emb.filter(col("vec_id") < PanelN)
          .select(col("vec_id").as("qid"), explode(scored).as("sc"))
          .select(col("qid"), col("sc.dp").as("dp"),
            col("sc.clabel").as("cell"))
          .withColumn("rk", row_number().over(wq))
        val surv = assigned.filter(col("label") === 2)
          .crossJoin(broadcast(qids))
          .filter(col("vec_id") =!= col("qid"))
          .groupBy("qid", "cell").agg(count(lit(1)).as("n"))
        val wCum = org.apache.spark.sql.expressions.Window
          .partitionBy("qid").orderBy("rk")
        val withCum = probeRanked
          .join(surv, Seq("qid", "cell"), "left")
          .withColumn("cum",
            sum(coalesce(col("n"), lit(0L))).over(wCum))
        val chosen = qids
          .join(withCum.filter(col("cum") >= 30)
            .groupBy("qid").agg(min(col("rk")).as("np")),
            Seq("qid"), "left")
          .select(col("qid"),
            coalesce(col("np"), lit(kCells)).cast("long")
              .as("n_probe"))
        val probe = withCum.join(broadcast(chosen), Seq("qid"))
          .filter(col("rk") <= col("n_probe"))
          .select("qid", "cell")
        val cands = assigned.filter(col("label") === 2)
          .join(broadcast(probe), "cell")
          .filter(col("vec_id") =!= col("qid"))
          .select("qid", "vec_id")
        val hits = panelTop10(s, d, cands).withColumn("in_ad", lit(1))
        fexact
          .join(hits, Seq("qid", "vec_id"), "left")
          .agg(count(lit(1)).cast("long").as("k_total"),
            count(col("in_ad")).cast("long").as("n_hit_adaptive"))
          .crossJoin(broadcast(chosen
            .agg(sum(col("n_probe")).cast("long").as("total_probes"))))
          .select(col("k_total"), col("n_hit_adaptive"),
            col("total_probes"),
            (col("n_hit_adaptive").cast("double") /
              col("k_total").cast("double")).as("recall_adaptive"))
      },
      Some(s"""$centsAndDotsCte, $panelCtes,
              |fc AS (
              |  SELECT q.vec_id AS qid, e.vec_id FROM embeddings e
              |  CROSS JOIN embeddings q
              |  WHERE q.vec_id < 20 AND e.label = 2
              |    AND e.vec_id <> q.vec_id
              |), ${panelSubRank("fc", "fexact")},
              |assigned AS (
              |  SELECT a.vec_id, e.label, a.cell FROM (
              |    SELECT vec_id, clabel AS cell FROM (
              |      SELECT vec_id, clabel,
              |        row_number() OVER (PARTITION BY vec_id
              |          ORDER BY dp DESC, clabel DESC) AS rn
              |      FROM dots_c)
              |    WHERE rn = 1) a
              |  JOIN embeddings e ON e.vec_id = a.vec_id
              |), probe_ranked AS (
              |  SELECT vec_id AS qid, clabel AS cell,
              |    row_number() OVER (PARTITION BY vec_id
              |      ORDER BY dp DESC, clabel DESC) AS rk
              |  FROM dots_c WHERE vec_id < 20
              |), surv AS (
              |  SELECT q.vec_id AS qid, a.cell,
              |    CAST(COUNT(*) AS BIGINT) AS n
              |  FROM assigned a CROSS JOIN embeddings q
              |  WHERE q.vec_id < 20 AND a.label = 2
              |    AND a.vec_id <> q.vec_id
              |  GROUP BY q.vec_id, a.cell
              |), withcum AS (
              |  SELECT pr.qid, pr.cell, pr.rk,
              |    SUM(COALESCE(sv.n, 0)) OVER (PARTITION BY pr.qid
              |      ORDER BY pr.rk) AS cum
              |  FROM probe_ranked pr
              |  LEFT JOIN surv sv
              |    ON sv.qid = pr.qid AND sv.cell = pr.cell
              |), chosen AS (
              |  SELECT q.vec_id AS qid,
              |    CAST(COALESCE(m.np, 10) AS BIGINT) AS n_probe
              |  FROM embeddings q LEFT JOIN (
              |    SELECT qid, MIN(CASE WHEN cum >= 30 THEN rk END) AS np
              |    FROM withcum GROUP BY qid) m ON m.qid = q.vec_id
              |  WHERE q.vec_id < 20
              |), probe AS (
              |  SELECT w.qid, w.cell FROM withcum w
              |  JOIN chosen ch ON ch.qid = w.qid
              |  WHERE w.rk <= ch.n_probe
              |), ac AS (
              |  SELECT p.qid, a.vec_id FROM assigned a
              |  JOIN probe p ON p.cell = a.cell
              |  WHERE a.label = 2 AND a.vec_id <> p.qid
              |), ${panelSubRank("ac", "adaptive")},
              |tot AS (
              |  SELECT CAST(SUM(n_probe) AS BIGINT) AS total_probes
              |  FROM chosen
              |)
              |SELECT CAST(COUNT(*) AS BIGINT) AS k_total,
              |  CAST(COUNT(ad.vec_id) AS BIGINT) AS n_hit_adaptive,
              |  tot.total_probes,
              |  CAST(COUNT(ad.vec_id) AS DOUBLE) /
              |    CAST(COUNT(*) AS DOUBLE) AS recall_adaptive
              |FROM fexact x
              |LEFT JOIN adaptive ad
              |  ON ad.qid = x.qid AND ad.vec_id = x.vec_id
              |CROSS JOIN tot
              |GROUP BY tot.total_probes""".stripMargin)),

    // MUTUAL (reciprocal) kNN pairs — the high-precision edge filter
    // clustering and semantic-dedup pipelines run on raw kNN output:
    // keep (a, b) only when each is in the OTHER's top-3. A hub
    // vector's one-directional edges drop out; what survives is the
    // merge-candidate set. Declared form: exact cosine within the
    // label = 2 slice (a bounded sub-corpus — the oracle shape);
    // production form is EmbeddingSearch.mutualTopK — one
    // ivfTopKBatch with the corpus as its own query set plus an
    // id-equi self-join (NOT a second ANN pass), parity-pinned in
    // LlmSpec at nProbe = K.
    QueryDef(
      "q252_mutual_knn",
      (s, d) => {
        // norms hoisted per VECTOR (n exact folds, not n² — the
        // oracle's norms CTE shape), so each pair pays exactly one
        // exact-decimal dot; cos_sim value is bit-identical to
        // fcos(a, b) because the divisor is the same nrm_a · nrm_b
        val sub = embeddings(s, d).filter(col("label") === 2)
          .select(col("vec_id"), col("embedding"),
            fnorm(col("embedding")).as("nrm"))
        // the filtered slice arrives as ONE file split, so without a
        // spread the n² exact scoring runs in a single task; fan the
        // streamed side out so each core folds a pair stripe
        val pairs = sub.repartition(32).as("a").crossJoin(sub.as("b"))
          .filter(col("a.vec_id") =!= col("b.vec_id"))
          .select(col("a.vec_id").as("q_id"),
            col("b.vec_id").as("n_id"),
            (fdot(col("a.embedding"), col("b.embedding")) /
              (col("a.nrm") * col("b.nrm"))).as("cos_sim"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("q_id")
          .orderBy(col("cos_sim").desc, col("n_id").asc)
        // the mutuality self-join reads knn twice — checkpoint the
        // O(n·k) triples so the n² scoring pass runs once
        val knn = pairs.withColumn("rnk", row_number().over(w))
          .filter(col("rnk") <= 3)
          .select("q_id", "n_id", "cos_sim")
          .localCheckpoint(eager = false)
        knn.as("x").join(knn.as("y"),
            col("x.q_id") === col("y.n_id") &&
              col("x.n_id") === col("y.q_id") &&
              col("x.q_id") < col("x.n_id"))
          .select(col("x.q_id").as("a_id"), col("x.n_id").as("b_id"),
            col("x.cos_sim"))
          .orderBy("a_id", "b_id")
      },
      Some("""WITH sub AS (
             |  SELECT vec_id, embedding FROM embeddings WHERE label = 2
             |), dexp AS (
             |  SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
             |    generate_subscripts(embedding, 1) AS i
             |  FROM sub
             |), norms AS (
             |  SELECT vec_id,
             |    sqrt(CAST(SUM(CAST(x * x AS DECIMAL(38,12)))
             |      AS DOUBLE)) AS nrm
             |  FROM dexp GROUP BY vec_id
             |), dots AS (
             |  SELECT a.vec_id AS q_id, b.vec_id AS n_id,
             |    CAST(SUM(CAST(a.x * b.x AS DECIMAL(38,12)))
             |      AS DOUBLE) AS dp
             |  FROM dexp a JOIN dexp b USING (i)
             |  WHERE a.vec_id <> b.vec_id
             |  GROUP BY a.vec_id, b.vec_id
             |), knn AS (
             |  SELECT q_id, n_id, cos_sim FROM (
             |    SELECT d.q_id, d.n_id,
             |      d.dp / (na.nrm * nb.nrm) AS cos_sim,
             |      row_number() OVER (PARTITION BY d.q_id
             |        ORDER BY d.dp / (na.nrm * nb.nrm) DESC,
             |          d.n_id ASC) AS rnk
             |    FROM dots d
             |    JOIN norms na ON na.vec_id = d.q_id
             |    JOIN norms nb ON nb.vec_id = d.n_id)
             |  WHERE rnk <= 3
             |)
             |SELECT x.q_id AS a_id, x.n_id AS b_id, x.cos_sim
             |FROM knn x JOIN knn y
             |  ON x.q_id = y.n_id AND x.n_id = y.q_id
             |    AND x.q_id < x.n_id
             |ORDER BY a_id, b_id""".stripMargin)),

    // MULTI-PROBE LSH recall (Lv et al., VLDB 2007, on SRP bands —
    // EmbeddingSearch.lshTopKMultiProbe's declared witness), over
    // the 20-query panel: plain SRP-LSH probes one bucket per band
    // and misses true neighbors that land one hyperplane sign away
    // (the classic small-R failure); multi-probe additionally probes
    // every Hamming-distance-1 bucket per band (R+1 = 7 probes
    // instead of 1) — the textbook recall/cost knob that needs NO
    // extra bands and NO index rebuild. This row measures both rungs
    // side by side with their TOTAL candidate volumes across the
    // panel, so the recall-per-candidate trade is the tracked number
    // (BASELINE.md).
    QueryDef(
      "q255_multiprobe_lsh_recall",
      (s, d) => {
        val emb = embeddings(s, d)
        val exact = panelExact(s, d)
        val bands = srpBandsExact(emb, numBands = 4, planesPerBand = 6)
        val qb = bands.filter(col("vec_id") < PanelN)
          .select(col("vec_id").as("qid"), col("band").as("q_band"),
            col("bv").as("q_bv"))
        def flip(j: Int) = concat(
          substring(col("q_bv"), 1, j),
          when(substring(col("q_bv"), j + 1, 1) === "1", lit("0"))
            .otherwise(lit("1")),
          substring(col("q_bv"), j + 2, 5 - j))
        val probes = qb.select(col("qid"), col("q_band"),
          explode(array(col("q_bv") +: (0 until 6).map(flip): _*))
            .as("p_bv"))
        val candEx = bands
          .join(broadcast(qb),
            col("band") === col("q_band") && col("bv") === col("q_bv"))
          .filter(col("vec_id") =!= col("qid"))
          .select("qid", "vec_id").distinct()
        val candMp = bands
          .join(broadcast(probes),
            col("band") === col("q_band") && col("bv") === col("p_bv"))
          .filter(col("vec_id") =!= col("qid"))
          .select("qid", "vec_id").distinct()
        val lsh = panelTop10(s, d, candEx).withColumn("in_l", lit(1))
        val mp = panelTop10(s, d, candMp).withColumn("in_m", lit(1))
        exact
          .join(lsh, Seq("qid", "vec_id"), "left")
          .join(mp, Seq("qid", "vec_id"), "left")
          .agg(count(lit(1)).cast("long").as("k_total"),
            count(col("in_l")).cast("long").as("n_hit_lsh"),
            count(col("in_m")).cast("long").as("n_hit_mp"))
          .crossJoin(broadcast(
            candEx.agg(count(lit(1)).cast("long").as("n_cand_lsh"))))
          .crossJoin(broadcast(
            candMp.agg(count(lit(1)).cast("long").as("n_cand_mp"))))
          .select(col("k_total"), col("n_cand_lsh"), col("n_cand_mp"),
            col("n_hit_lsh"), col("n_hit_mp"),
            (col("n_hit_lsh").cast("double") /
              col("k_total").cast("double")).as("recall_lsh"),
            (col("n_hit_mp").cast("double") /
              col("k_total").cast("double")).as("recall_mp"))
      },
      Some(s"""$vecCtes, ${bandsCte(numBands = 4, planesPerBand = 6)},
              |$panelCtes,
              |qb AS (
              |  SELECT vec_id AS qid, band AS q_band, bv AS q_bv
              |  FROM bands WHERE vec_id < 20
              |), probes AS (
              |  SELECT qid, q_band, q_bv AS p_bv FROM qb
              |  UNION ALL
              |  SELECT qid, q_band,
              |    substr(q_bv, 1, j) ||
              |    CASE WHEN substr(q_bv, j + 1, 1) = '1'
              |      THEN '0' ELSE '1' END ||
              |    substr(q_bv, j + 2, 5 - j) AS p_bv
              |  FROM qb, LATERAL unnest(generate_series(0, 5)) AS g(j)
              |), ce AS (
              |  SELECT DISTINCT qb.qid, b.vec_id FROM bands b
              |  JOIN qb ON b.band = qb.q_band AND b.bv = qb.q_bv
              |  WHERE b.vec_id <> qb.qid
              |), cm AS (
              |  SELECT DISTINCT p.qid, b.vec_id FROM bands b
              |  JOIN probes p ON b.band = p.q_band AND b.bv = p.p_bv
              |  WHERE b.vec_id <> p.qid
              |), ${panelSubRank("ce", "lsh")},
              |${panelSubRank("cm", "mp")}
              |SELECT CAST(COUNT(*) AS BIGINT) AS k_total,
              |  (SELECT CAST(COUNT(*) AS BIGINT) FROM ce)
              |    AS n_cand_lsh,
              |  (SELECT CAST(COUNT(*) AS BIGINT) FROM cm)
              |    AS n_cand_mp,
              |  CAST(COUNT(l.vec_id) AS BIGINT) AS n_hit_lsh,
              |  CAST(COUNT(m.vec_id) AS BIGINT) AS n_hit_mp,
              |  CAST(COUNT(l.vec_id) AS DOUBLE) /
              |    CAST(COUNT(*) AS DOUBLE) AS recall_lsh,
              |  CAST(COUNT(m.vec_id) AS DOUBLE) /
              |    CAST(COUNT(*) AS DOUBLE) AS recall_mp
              |FROM pexact x
              |LEFT JOIN lsh l ON l.qid = x.qid AND l.vec_id = x.vec_id
              |LEFT JOIN mp m ON m.qid = x.qid AND m.vec_id = x.vec_id""".stripMargin)),

    // Int8 quantization (min/max affine, the embedding-storage
    // compressor): per-vector scale + zero point, elements mapped to
    // 0..255. Pure per-row projection — no shuffle, no join; at 100 TB
    // this runs map-side at scan speed and cuts vector storage 4×.
    // All arithmetic is float→double (exact) then IEEE double ops,
    // identical on both engines; round() is half-away-from-zero on
    // both (inputs are ≥ 0 here, so HALF_UP ≡ half-away). The int8
    // codes are rendered as a comma-joined string: integer→string is
    // exact on both engines and keeps the verifier's comparison on
    // scalar columns (array cells aren't hashable by the oracle
    // harness); the array form stays available via Quantize.quantize.
    QueryDef(
      "q116_int8_quant",
      (s, d) =>
        graft.llm.Quantize.quantize(embeddings(s, d), "embedding")
          .select(col("vec_id"), col("zero_point"), col("scale"),
            concat_ws(",",
              transform(col("q_embedding"), x => x.cast("string")))
              .as("q_codes"))
          .orderBy("vec_id"),
      Some("""SELECT vec_id, zero_point, scale,
             |  COALESCE(array_to_string(
             |    list_transform(embedding, x -> CASE WHEN scale = 0 THEN 0
             |      ELSE CAST(round((CAST(x AS DOUBLE) - zero_point) / scale)
             |        AS INTEGER) END), ','), '') AS q_codes
             |FROM (
             |  SELECT vec_id, embedding,
             |    CAST(list_aggregate(embedding, 'min') AS DOUBLE)
             |      AS zero_point,
             |    (CAST(list_aggregate(embedding, 'max') AS DOUBLE) -
             |     CAST(list_aggregate(embedding, 'min') AS DOUBLE)) / 255.0
             |      AS scale
             |  FROM embeddings)
             |ORDER BY vec_id""".stripMargin)),

    // L2 normalization to unit vectors: the preprocessing step that
    // turns cosine similarity into a plain dot product (what every ANN
    // index expects). The squared norm is the exact-decimal fold
    // (DotExactExpr), so the norm — and every normalized element — is
    // bit-identical cross-engine; sqrt and division are correctly
    // rounded IEEE ops. Per-row projection only: no shuffle.
    QueryDef(
      "q117_l2_normalize",
      (s, d) => {
        // The norm is computed in its OWN projection, separated from
        // the transform() by the sort: an expression referenced inside
        // a lambda is evaluated per ELEMENT (HOFs are CodegenFallback —
        // no subexpression elimination), so inlining the O(dim) exact
        // dot there costs O(dim²) decimal ops per row (measured 7.4 s
        // vs 0.6 s at sf0.1). The sort doubles as the output order.
        // The unit vector is rendered as a comma-joined string of
        // nano-scaled integers (round(x/norm * 1e9)): the oracle
        // harness can't sort/hash raw array cells, and integer→string
        // is exact on both engines (double→string shortest-repr could
        // diverge). The divide and multiply are IEEE ops, identical
        // cross-engine, so the scaled values — and their rounding —
        // are bit-identical. Array form stays available via the
        // l2Normalize API below.
        embeddings(s, d)
          .select(col("vec_id"), col("embedding"),
            fnorm(col("embedding")).as("l2_norm"))
          .orderBy("vec_id")
          .select(col("vec_id"), col("l2_norm"),
            concat_ws(",",
              transform(col("embedding"),
                x => round(x.cast("double") / col("l2_norm") * lit(1e9))
                  .cast("long").cast("string")))
              .as("unit_embedding"))
      },
      Some("""WITH dexp AS (
             |  SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x
             |  FROM embeddings
             |), norms AS (
             |  SELECT vec_id,
             |    sqrt(CAST(SUM(CAST(x * x AS DECIMAL(38,12))) AS DOUBLE))
             |      AS l2_norm
             |  FROM dexp GROUP BY vec_id
             |)
             |SELECT e.vec_id, n.l2_norm,
             |  COALESCE(array_to_string(list_transform(e.embedding,
             |    x -> CAST(round(CAST(x AS DOUBLE) / n.l2_norm * 1e9)
             |      AS BIGINT)), ','), '') AS unit_embedding
             |FROM embeddings e JOIN norms n USING (vec_id)
             |ORDER BY e.vec_id""".stripMargin)),

    // kNN JOIN: top-10 cosine neighbors for EACH of a set of query
    // vectors (vec_id 0..4) in one pass — the batched form of q37
    // (per-query re-scans would read the corpus Q times). The query
    // set is broadcast and every (candidate × query) score is
    // map-side; only the narrow (q_id, vec_id, cos) triples reach the
    // per-query rank. This declared form ranks with a window so the
    // oracle mirrors it row-for-row; at 100 TB the same scores feed
    // the bounded-buffer TopK aggregator (q68's operator: k rows per
    // query per map partition shuffle, no sort). Ties break on vec_id;
    // cos values are the exact-decimal fold, so ranks cannot drift
    // cross-engine.
    QueryDef(
      "q156_knn_join",
      (s, d) => {
        val emb = embeddings(s, d)
        val qs = emb.filter(col("vec_id") < 5)
          .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("q_id")
          .orderBy(col("cos_sim").desc, col("vec_id").asc)
        emb.crossJoin(broadcast(qs))
          .filter(col("vec_id") =!= col("q_id"))
          .select(col("q_id"), col("vec_id"), col("label"),
            fcos(col("embedding"), col("q_emb")).as("cos_sim"))
          .withColumn("rnk", row_number().over(w))
          .filter(col("rnk") <= 10)
          .orderBy("q_id", "rnk")
      },
      Some("""WITH dexp AS (
             |  SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
             |         generate_subscripts(embedding, 1) AS i
             |  FROM embeddings
             |), norms AS (
             |  SELECT vec_id,
             |    sqrt(CAST(SUM(CAST(x * x AS DECIMAL(38,12))) AS DOUBLE))
             |      AS nrm
             |  FROM dexp GROUP BY vec_id
             |), dots AS (
             |  SELECT q.vec_id AS q_id, d.vec_id,
             |    CAST(SUM(CAST(d.x * q.x AS DECIMAL(38,12))) AS DOUBLE)
             |      AS dp
             |  FROM dexp d JOIN dexp q USING (i)
             |  WHERE q.vec_id < 5 AND d.vec_id <> q.vec_id
             |  GROUP BY q.vec_id, d.vec_id
             |), scored AS (
             |  SELECT t.q_id, t.vec_id, e.label,
             |    t.dp / (nd.nrm * nq.nrm) AS cos_sim,
             |    ROW_NUMBER() OVER (PARTITION BY t.q_id
             |      ORDER BY t.dp / (nd.nrm * nq.nrm) DESC, t.vec_id ASC)
             |      AS rnk
             |  FROM dots t
             |  JOIN embeddings e ON e.vec_id = t.vec_id
             |  JOIN norms nd ON nd.vec_id = t.vec_id
             |  JOIN norms nq ON nq.vec_id = t.q_id
             |)
             |SELECT q_id, vec_id, label, cos_sim, rnk
             |FROM scored WHERE rnk <= 10
             |ORDER BY q_id, rnk""".stripMargin)),

    // Embedding covariance matrix (llm/EmbeddingPca.covariance) —
    // the d×d feature-statistics summary a pipeline computes before
    // whitening / PCA / outlier pruning. O(n·d²) work but O(d²)
    // STATE, and ZERO shuffles before the cell aggregate: a custom
    // expression (UpperTriProd6Expr, compiled per-row loop) emits the
    // d(d+1)/2 upper-triangle scaled products map-side into a partial
    // HashAggregate; at 100 TB the only exchange carries cells ×
    // partitions partials, never rows. Scaled-long sums with a pure-
    // IEEE floor(x·10⁶+0.5) quantizer keep both engines bit-equal;
    // the closing (Σxy − ΣxΣy/n)/n tree is identical. The driver-side
    // power-iteration eigenvector and the dot_double projection on
    // top of this summary are unit-tested (EmbeddingPcaSpec) — O(d²)
    // model metadata, the same collect class as the IVF centroids.
    QueryDef(
      "q183_embedding_covariance",
      (s, d) => graft.llm.EmbeddingPca
        .covariance(embeddings(s, d), "vec_id", "embedding")
        .orderBy("i", "j"),
      Some("""WITH e AS (
              |  SELECT vec_id, generate_subscripts(embedding, 1) AS i,
              |    CAST(unnest(embedding) AS DOUBLE) AS x
              |  FROM embeddings
              |), prods AS (
              |  SELECT a.i AS i, b.i AS j,
              |    CAST(SUM(CAST(floor(a.x * b.x * 1000000.0 + 0.5)
              |      AS BIGINT)) AS BIGINT) AS sxy6
              |  FROM e a JOIN e b
              |    ON a.vec_id = b.vec_id AND a.i <= b.i
              |  GROUP BY a.i, b.i
              |), moms AS (
              |  SELECT i,
              |    CAST(SUM(CAST(floor(x * 1000000.0 + 0.5) AS BIGINT))
              |      AS BIGINT) AS sx6,
              |    COUNT(*) AS n
              |  FROM e GROUP BY i
              |)
              |SELECT p.i, p.j,
              |  (p.sxy6 / 1000000.0 -
              |    (mi.sx6 / 1000000.0) * (mj.sx6 / 1000000.0) / mi.n)
              |    / mi.n AS cov
              |FROM prods p
              |JOIN moms mi ON mi.i = p.i
              |JOIN moms mj ON mj.i = p.j
              |ORDER BY p.i, p.j""".stripMargin)),

    // ANN recall@10 over the 20-query PANEL (mean recall; panel
    // helpers above): recall of the SRP-LSH (q38 shape: 4 bands × 6
    // planes, OR-amplified buckets) and IVF nprobe=2 (q98 shape)
    // top-10 against the exact top-10 truth, averaged over the fixed
    // panel vec_id 0..19, as one summary row. Everything stays
    // deterministic — fixed planes (corpus vectors 1..24),
    // exact-average centroids, exact-decimal ranking scores with
    // vec_id tie-breaks — so the mean recall hash-matches
    // cross-engine. This is the number a 100 TB operator tunes
    // nprobe / band structure against, now measured on a panel
    // instead of an anecdote; the exact truth is served from the
    // q308-built panel store.
    QueryDef(
      "q200_ann_recall",
      (s, d) => {
        val emb = embeddings(s, d)
        val exact = panelExact(s, d)
        val bands = srpBandsExact(emb, numBands = 4, planesPerBand = 6)
        val qb = bands.filter(col("vec_id") < PanelN)
          .select(col("vec_id").as("qid"), col("band").as("q_band"),
            col("bv").as("q_bv"))
        val lshCands = bands
          .join(broadcast(qb),
            col("band") === col("q_band") && col("bv") === col("q_bv"))
          .filter(col("vec_id") =!= col("qid"))
          .select("qid", "vec_id").distinct()
        val lsh = panelTop10(s, d, lshCands)
        val cents = centroidArrays(s, d)
        val scored = array(cents.map { case (lbl, arr) =>
          struct(graft.functions.DotDoubleExpr
              .dotDouble(col("embedding"), typedLit(arr)).as("dp"),
            lit(lbl).as("clabel"))
        }: _*)
        val probes = graft.plans.GroupedTopK.of(
          emb.filter(col("vec_id") < PanelN)
            .select(col("vec_id").as("qid"), explode(scored).as("sc"))
            .select(col("qid"), col("sc.dp").as("dp"),
              col("sc.clabel").as("cell")),
          Seq("qid"), Seq(col("dp").desc, col("cell").desc), 2)
          .select("qid", "cell")
        val assigned = emb.select(col("vec_id"),
          array_max(scored).getField("clabel").as("cell"))
        val ivfCands = assigned.join(broadcast(probes), "cell")
          .filter(col("vec_id") =!= col("qid"))
          .select("qid", "vec_id")
        val ivf = panelTop10(s, d, ivfCands)
        exact
          .join(lsh.withColumn("in_lsh", lit(1)),
            Seq("qid", "vec_id"), "left")
          .join(ivf.withColumn("in_ivf", lit(1)),
            Seq("qid", "vec_id"), "left")
          .agg(countDistinct(col("qid")).cast("long").as("n_queries"),
            count(lit(1)).cast("long").as("k_total"),
            count(col("in_lsh")).cast("long").as("n_hit_lsh"),
            count(col("in_ivf")).cast("long").as("n_hit_ivf"))
          .select(col("n_queries"), col("k_total"),
            col("n_hit_lsh"), col("n_hit_ivf"),
            (col("n_hit_lsh").cast("double") /
              col("k_total").cast("double")).as("recall_lsh"),
            (col("n_hit_ivf").cast("double") /
              col("k_total").cast("double")).as("recall_ivf"))
      },
      Some(s"""$vecCtes, ${bandsCte(numBands = 4, planesPerBand = 6)},
              |$centsDotsCte, $panelCtes,
              |qb AS (
              |  SELECT vec_id AS qid, band, bv FROM bands
              |  WHERE vec_id < 20
              |), lshc AS (
              |  SELECT DISTINCT qb.qid, b.vec_id FROM bands b
              |  JOIN qb ON b.band = qb.band AND b.bv = qb.bv
              |  WHERE b.vec_id <> qb.qid
              |), ${panelSubRank("lshc", "lsh")},
              |assigned AS (
              |  SELECT vec_id, clabel AS cell FROM (
              |    SELECT vec_id, clabel,
              |      row_number() OVER (PARTITION BY vec_id
              |        ORDER BY dp DESC, clabel DESC) AS rn
              |    FROM dots_c)
              |  WHERE rn = 1
              |), pprobe AS (
              |  SELECT qid, cell FROM (
              |    SELECT vec_id AS qid, clabel AS cell,
              |      row_number() OVER (PARTITION BY vec_id
              |        ORDER BY dp DESC, clabel DESC) AS rn
              |    FROM dots_c WHERE vec_id < 20)
              |  WHERE rn <= 2
              |), ivfc AS (
              |  SELECT p.qid, a.vec_id FROM assigned a
              |  JOIN pprobe p ON a.cell = p.cell
              |  WHERE a.vec_id <> p.qid
              |), ${panelSubRank("ivfc", "ivf")}
              |SELECT CAST(COUNT(DISTINCT x.qid) AS BIGINT) AS n_queries,
              |  CAST(COUNT(*) AS BIGINT) AS k_total,
              |  CAST(COUNT(l.vec_id) AS BIGINT) AS n_hit_lsh,
              |  CAST(COUNT(i.vec_id) AS BIGINT) AS n_hit_ivf,
              |  CAST(COUNT(l.vec_id) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
              |    AS recall_lsh,
              |  CAST(COUNT(i.vec_id) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
              |    AS recall_ivf
              |FROM pexact x
              |LEFT JOIN lsh l ON l.qid = x.qid AND l.vec_id = x.vec_id
              |LEFT JOIN ivf i ON i.qid = x.qid AND i.vec_id = x.vec_id""".stripMargin)),

    // BATCH-query IVF search (EmbeddingSearch.ivfTopKBatch's declared
    // witness): top-10 per query for 20 query vectors (vec_id 0..19)
    // in ONE job — q98 serves a single query id per call; a serving
    // pipeline ranks the whole query set at once. Shape: literal-
    // centroid cell assignment (zero shuffle, q67's trick), per-query
    // probe top-2 via the GroupedTopK physical operator (no window
    // sort), then ONE cell join — corpus cell contents meet every
    // query probing that cell — and GroupedTopK again for the final
    // per-query top-10 (exchange carries ≤ k·|Q| rows). The plan has
    // ONE join against the cell contents regardless of |queries|,
    // versus q98's per-query broadcast; at 100 TB the probes side
    // drops the broadcast hint and the corpus shuffles by cell ONCE.
    // Exact-decimal cosine + vec_id tie-breaks keep the ranking
    // bit-reproducible in DuckDB (production scoring: cosine_fast).
    QueryDef(
      "q201_ivf_batch_search",
      (s, d) => {
        val emb = embeddings(s, d)
        val cents = centroidArrays(s, d)
        val scored = array(cents.map { case (lbl, arr) =>
          struct(graft.functions.DotDoubleExpr
              .dotDouble(col("embedding"), typedLit(arr)).as("dp"),
            lit(lbl).as("clabel"))
        }: _*)
        val assigned = emb.select(col("vec_id"), col("embedding"),
          array_max(scored).getField("clabel").as("cell"))
        val probes = graft.plans.GroupedTopK.of(
          emb.filter(col("vec_id") < 20)
            .select(col("vec_id").as("q_id"),
              col("embedding").as("q_emb"),
              explode(scored).as("sc"))
            .select(col("q_id"), col("q_emb"),
              col("sc.dp").as("dp"), col("sc.clabel").as("cell")),
          Seq("q_id"), Seq(col("dp").desc, col("cell").desc), 2)
          .select("q_id", "q_emb", "cell")
        val cands = assigned.join(broadcast(probes), "cell")
          .filter(col("vec_id") =!= col("q_id"))
          .select(col("q_id"), col("vec_id"),
            fcos(col("embedding"), col("q_emb")).as("cos_sim"))
        graft.plans.GroupedTopK.of(cands, Seq("q_id"),
          Seq(col("cos_sim").desc, col("vec_id").asc), 10)
          .orderBy(col("q_id"), col("cos_sim").desc, col("vec_id"))
      },
      Some(s"""$centsAndDotsCte,
              |assigned AS (
              |  SELECT vec_id, clabel AS cell FROM (
              |    SELECT vec_id, clabel,
              |      row_number() OVER (PARTITION BY vec_id
              |        ORDER BY dp DESC, clabel DESC) AS rn
              |    FROM dots_c)
              |  WHERE rn = 1
              |), probes AS (
              |  SELECT vec_id AS q_id, clabel AS cell FROM (
              |    SELECT vec_id, clabel,
              |      row_number() OVER (PARTITION BY vec_id
              |        ORDER BY dp DESC, clabel DESC) AS rn
              |    FROM dots_c WHERE vec_id < 20)
              |  WHERE rn <= 2
              |), qdots AS (
              |  SELECT q.vec_id AS q_id, d.vec_id,
              |    CAST(SUM(CAST(d.x * q.x AS DECIMAL(38,12))) AS DOUBLE)
              |      AS dp
              |  FROM dexp d JOIN dexp q USING (i)
              |  WHERE q.vec_id < 20 AND d.vec_id <> q.vec_id
              |  GROUP BY q.vec_id, d.vec_id
              |)
              |SELECT q_id, vec_id, cos_sim FROM (
              |  SELECT t.q_id, t.vec_id,
              |    t.dp / (nd.nrm * nq.nrm) AS cos_sim,
              |    row_number() OVER (PARTITION BY t.q_id
              |      ORDER BY t.dp / (nd.nrm * nq.nrm) DESC,
              |        t.vec_id ASC) AS rn
              |  FROM qdots t
              |  JOIN assigned a ON a.vec_id = t.vec_id
              |  JOIN probes p ON p.q_id = t.q_id AND p.cell = a.cell
              |  JOIN norms nd ON nd.vec_id = t.vec_id
              |  JOIN norms nq ON nq.vec_id = t.q_id
              |)
              |WHERE rn <= 10
              |ORDER BY q_id, cos_sim DESC, vec_id""".stripMargin)),

    // IVF recall TUNING CURVE over the 20-query panel — q200
    // measures one operating point (nprobe = 2); this row sweeps
    // nprobe ∈ {1, 2, 4} and reports MEAN panel recall@10 at each,
    // which is THE tuning loop a 100 TB ANN deployment runs: pick the
    // smallest nprobe whose recall clears the product bar, because
    // probe count is directly proportional to the fraction of the
    // corpus each query touches. Probe ranking is per query (one
    // window over K cells × 20 queries); the exact truth is the
    // shared panel store. Monotone by construction: candidates at
    // nprobe n are a superset of n−1.
    QueryDef(
      "q209_ivf_tuning_curve",
      (s, d) => {
        val emb = embeddings(s, d)
        val exact = panelExact(s, d)
        val kTot = exact.agg(count(lit(1)).cast("long").as("k_total"))
        val cents = centroidArrays(s, d)
        val scored = array(cents.map { case (lbl, arr) =>
          struct(graft.functions.DotDoubleExpr
              .dotDouble(col("embedding"), typedLit(arr)).as("dp"),
            lit(lbl).as("clabel"))
        }: _*)
        val assigned = emb
          .select(col("vec_id"),
            array_max(scored).getField("clabel").as("cell"))
        val wq = org.apache.spark.sql.expressions.Window
          .partitionBy("qid").orderBy(col("dp").desc, col("cell").desc)
        val probeRanked = emb.filter(col("vec_id") < PanelN)
          .select(col("vec_id").as("qid"), explode(scored).as("sc"))
          .select(col("qid"), col("sc.dp").as("dp"),
            col("sc.clabel").as("cell"))
          .withColumn("rk", row_number().over(wq))
        val curves = Seq(1, 2, 4).map { n =>
          val cands = assigned
            .join(broadcast(probeRanked.filter(col("rk") <= n)
              .select("qid", "cell")), "cell")
            .filter(col("vec_id") =!= col("qid"))
            .select("qid", "vec_id")
          panelTop10(s, d, cands)
            .join(exact, Seq("qid", "vec_id"))
            .agg(count(lit(1)).cast("long").as("n_hit"))
            .crossJoin(broadcast(kTot))
            .select(lit(n).as("nprobe"), col("k_total"), col("n_hit"),
              (col("n_hit").cast("double") /
                col("k_total").cast("double")).as("recall"))
        }
        curves.reduce(_ unionByName _).orderBy("nprobe")
      },
      Some(s"""$centsAndDotsCte, $panelCtes,
              |assigned AS (
              |  SELECT vec_id, clabel AS cell FROM (
              |    SELECT vec_id, clabel,
              |      row_number() OVER (PARTITION BY vec_id
              |        ORDER BY dp DESC, clabel DESC) AS rn
              |    FROM dots_c)
              |  WHERE rn = 1
              |), probe_ranked AS (
              |  SELECT vec_id AS qid, clabel AS cell,
              |    row_number() OVER (PARTITION BY vec_id
              |      ORDER BY dp DESC, clabel DESC) AS rk
              |  FROM dots_c WHERE vec_id < 20
              |), kt AS (SELECT CAST(COUNT(*) AS BIGINT) AS k_total
              |  FROM pexact
              |), pts AS (SELECT CAST(n AS INTEGER) AS nprobe
              |  FROM (VALUES (1), (2), (4)) AS v(n)
              |), ivf AS (
              |  SELECT p.nprobe, t.qid, t.vec_id FROM pts p
              |  CROSS JOIN LATERAL (
              |    SELECT qid, vec_id FROM (
              |      SELECT r.qid, r.vec_id,
              |        row_number() OVER (PARTITION BY r.qid
              |          ORDER BY r.cos_sim DESC, r.vec_id ASC) AS rn
              |      FROM pranked r
              |      JOIN assigned a ON a.vec_id = r.vec_id
              |      JOIN probe_ranked pr
              |        ON pr.qid = r.qid AND pr.cell = a.cell
              |          AND pr.rk <= p.nprobe)
              |    WHERE rn <= 10
              |  ) t
              |)
              |SELECT p.nprobe, kt.k_total,
              |  CAST(COUNT(h.vec_id) AS BIGINT) AS n_hit,
              |  CAST(COUNT(h.vec_id) AS DOUBLE) /
              |    CAST(kt.k_total AS DOUBLE) AS recall
              |FROM pts p CROSS JOIN kt
              |LEFT JOIN (
              |  SELECT i.nprobe, i.qid, i.vec_id FROM ivf i
              |  JOIN pexact x ON x.qid = i.qid AND x.vec_id = i.vec_id
              |) h ON h.nprobe = p.nprobe
              |GROUP BY p.nprobe, kt.k_total
              |ORDER BY p.nprobe""".stripMargin)),

    // IVF index health #1: CELL BALANCE. Probe cost at query time is
    // proportional to the probed cells' sizes, so a skewed cell map
    // (one cell holding half the corpus) silently turns "nprobe=2"
    // into a near-full scan. This row is the audit a deployment runs
    // after (re)building the index: per-cell vector counts, corpus
    // share, and the balance factor n·K/total (1.0 = perfectly even;
    // the max factor is the worst-case probe amplification). One
    // argmax assignment pass + one K-row hash-agg — linear, and the
    // same pass the build already runs.
    QueryDef(
      "q211_ivf_cell_balance",
      (s, d) => {
        val emb = graft.Tables.embeddingsUnspread(s, d)
        val cents = centroidArrays(s, d)
        val k = cents.size
        val scored = array(cents.map { case (lbl, arr) =>
          struct(graft.functions.DotDoubleExpr
              .dotDouble(col("embedding"), typedLit(arr)).as("dp"),
            lit(lbl).as("clabel"))
        }: _*)
        val assigned = emb.select(
          array_max(scored).getField("clabel").as("cell"))
        val tot = assigned.agg(count(lit(1)).as("n_total"))
        assigned.groupBy("cell")
          .agg(count(lit(1)).as("n_vectors"))
          .crossJoin(broadcast(tot))
          .select(col("cell"), col("n_vectors"),
            (col("n_vectors").cast("double") /
              col("n_total").cast("double")).as("share"),
            (col("n_vectors").cast("double") * lit(k.toDouble) /
              col("n_total").cast("double")).as("balance_factor"))
          .orderBy("cell")
      },
      Some(s"""$centsAndDotsCte,
              |assigned AS (
              |  SELECT vec_id, clabel AS cell FROM (
              |    SELECT vec_id, clabel,
              |      row_number() OVER (PARTITION BY vec_id
              |        ORDER BY dp DESC, clabel DESC) AS rn
              |    FROM dots_c)
              |  WHERE rn = 1
              |), k AS (SELECT COUNT(DISTINCT clabel) AS kk FROM cents),
              |tot AS (SELECT COUNT(*) AS n_total FROM assigned)
              |SELECT cell, CAST(COUNT(*) AS BIGINT) AS n_vectors,
              |  CAST(COUNT(*) AS DOUBLE) / CAST(n_total AS DOUBLE)
              |    AS share,
              |  CAST(COUNT(*) AS DOUBLE) * CAST(kk AS DOUBLE) /
              |    CAST(n_total AS DOUBLE) AS balance_factor
              |FROM assigned, k, tot
              |GROUP BY cell, kk, n_total
              |ORDER BY cell""".stripMargin)),

    // IVF index health #2: CENTROID DRIFT — the re-train trigger. As
    // the corpus grows, each cell's TRUE mean (the mean of the
    // vectors argmax-assigned to it) drifts away from the stored
    // centroid the assignment used; large drift means the quantizer
    // is stale and recall degrades at fixed nprobe (q209's curve
    // shifts down). Reported as the squared L2 distance between the
    // stored centroid and the assigned-cell mean, per cell — means
    // are exact-decimal averages (identical doubles both engines),
    // the distance an exact-decimal sum of squared diffs. Two linear
    // passes (assign, per-(cell, dim) mean) + a K×dim join: the same
    // footprint class as the index build itself.
    QueryDef(
      "q212_centroid_drift",
      (s, d) => {
        val emb = graft.Tables.embeddingsUnspread(s, d)
        val cents = centroidArrays(s, d)
        val scored = array(cents.map { case (lbl, arr) =>
          struct(graft.functions.DotDoubleExpr
              .dotDouble(col("embedding"), typedLit(arr)).as("dp"),
            lit(lbl).as("clabel"))
        }: _*)
        val cellMeans = emb
          .select(array_max(scored).getField("clabel").as("cell"),
            posexplode(col("embedding")))
          .select(col("cell"), (col("pos") + 1).as("i"),
            col("col").cast("double").as("x"))
          .groupBy("cell", "i")
          .agg(davg(col("x")).as("cell_mean"))
        val centRows = cents.flatMap { case (lbl, arr) =>
          arr.zipWithIndex.map { case (v, idx) =>
            (lbl, idx + 1, v)
          }
        }
        val centDf = s.createDataFrame(centRows)
          .toDF("cell", "i", "cent_mean")
        cellMeans.join(broadcast(centDf), Seq("cell", "i"))
          .groupBy("cell")
          .agg(dsum((col("cell_mean") - col("cent_mean")) *
            (col("cell_mean") - col("cent_mean")) * lit(1e6))
            .as("drift_sq_x1e6"))
          .orderBy("cell")
      },
      Some(s"""$centsAndDotsCte,
              |assigned AS (
              |  SELECT vec_id, clabel AS cell FROM (
              |    SELECT vec_id, clabel,
              |      row_number() OVER (PARTITION BY vec_id
              |        ORDER BY dp DESC, clabel DESC) AS rn
              |    FROM dots_c)
              |  WHERE rn = 1
              |), cell_means AS (
              |  SELECT a.cell, d.i, ${sqlDavg("d.x")} AS cell_mean
              |  FROM dexp d JOIN assigned a ON a.vec_id = d.vec_id
              |  GROUP BY a.cell, d.i
              |)
              |SELECT m.cell,
              |  ${sqlDsum("(m.cell_mean - c.mean_x) * " +
                "(m.cell_mean - c.mean_x) * 1e6")} AS drift_sq_x1e6
              |FROM cell_means m
              |JOIN cents c ON c.clabel = m.cell AND c.i = m.i
              |GROUP BY m.cell
              |ORDER BY m.cell""".stripMargin)),

    // SemDeDup (Abbas et al. 2023): cluster-blocked SEMANTIC dedup —
    // the embedding-space rung of the dedup ladder. Assign every
    // vector to its nearest centroid cell (q67's literal-argmax pass),
    // sub-block big cells with one 4-plane SRP band, cosine-score only
    // intra-block id-ordered pairs, and drop every vector ≥ 0.35-
    // similar to a LOWER-id blockmate (kept representative = min id —
    // deterministic, partitioning-independent). Mirrors
    // `SemDedup.prune` (fast-float production path) with the
    // exact-decimal scorer so DuckDB reproduces it bit-for-bit. At
    // 100 TB the pair space is n²/(K·2^R) and never materializes
    // beyond blocks; centroids stay literal model metadata.
    QueryDef(
      "q217_semdedup",
      (s, d) => {
        val emb = embeddings(s, d)
        val cents = centroidArrays(s, d)
        val scored = array(cents.map { case (lbl, arr) =>
          struct(graft.functions.DotDoubleExpr
              .dotDouble(col("embedding"), typedLit(arr)).as("dp"),
            lit(lbl).as("cell"))
        }: _*)
        val assigned = emb
          .select(col("vec_id"), array_max(scored).getField("cell").as("cell"))
        val bands = srpBandsExact(emb, numBands = 1, planesPerBand = 4)
          .select(col("vec_id"), col("bv"))
        val blocks = assigned.join(bands, Seq("vec_id"))
        // Shape audited r20, kept: a fused variant carrying
        // (embedding, nrm) INTO the block self-join (no per-pair
        // id-lookup joins) measured 15% SLOWER at panel scale — the
        // id lookups below plan as BROADCAST joins (withNrm is
        // corpus-panel-sized) while the fused self-join sort-merges
        // embedding-wide rows. A Cauchy–Schwarz half-norm prefilter
        // was also evaluated and rejected: blockmates are
        // pre-selected similar (same cell, same 4-plane SRP signs),
        // so the bound prunes almost nothing and the exact 64-dim
        // fold it would skip is already codegen'd arithmetic.
        val pairs = blocks.as("a")
          .join(blocks.as("b"),
            col("a.cell") === col("b.cell") && col("a.bv") === col("b.bv") &&
              col("a.vec_id") < col("b.vec_id"))
          .select(col("a.vec_id").as("a_id"), col("b.vec_id").as("b_id"))
        val withNrm = emb
          .select(col("vec_id"), col("embedding"),
            fnorm(col("embedding")).as("nrm"))
        val dropped = pairs
          .join(withNrm.as("ea"), col("a_id") === col("ea.vec_id"))
          .join(withNrm.as("eb"), col("b_id") === col("eb.vec_id"))
          .filter((fdot(col("ea.embedding"), col("eb.embedding")) /
            (col("ea.nrm") * col("eb.nrm"))) >= 0.35)
          .select(col("b_id").as("vec_id")).distinct()
        assigned
          .join(dropped, Seq("vec_id"), "left_anti")
          .orderBy("vec_id")
      },
      Some(s"""$centsAndDotsCte,
              |assigned AS (
              |  SELECT vec_id, clabel AS cell FROM (
              |    SELECT vec_id, clabel,
              |      row_number() OVER (PARTITION BY vec_id
              |        ORDER BY dp DESC, clabel DESC) AS rn
              |    FROM dots_c)
              |  WHERE rn = 1
              |), pl AS (
              |  SELECT vec_id - 1 AS pidx, v AS pvec FROM evec
              |  WHERE vec_id BETWEEN 1 AND 4
              |), proj AS (
              |  SELECT e.vec_id, p.pidx,
              |    CASE WHEN list_reduce(
              |        list_transform(range(1, len(e.v) + 1),
              |          k -> e.v[k] * p.pvec[k]),
              |        (a, b) -> a + b) >= 0
              |      THEN '1' ELSE '0' END AS bit
              |  FROM evec e CROSS JOIN pl p
              |), sub AS (
              |  SELECT vec_id, string_agg(bit, '' ORDER BY pidx) AS bv
              |  FROM proj GROUP BY vec_id
              |), blocks AS (
              |  SELECT a.vec_id, a.cell, s.bv
              |  FROM assigned a JOIN sub s ON s.vec_id = a.vec_id
              |), pairs AS (
              |  SELECT x.vec_id AS a_id, y.vec_id AS b_id
              |  FROM blocks x JOIN blocks y
              |    ON x.cell = y.cell AND x.bv = y.bv AND x.vec_id < y.vec_id
              |), pairdots AS (
              |  SELECT p.a_id, p.b_id,
              |    CAST(SUM(CAST(da.x * db.x AS DECIMAL(38,12))) AS DOUBLE) AS dp
              |  FROM pairs p
              |  JOIN dexp da ON da.vec_id = p.a_id
              |  JOIN dexp db ON db.vec_id = p.b_id AND da.i = db.i
              |  GROUP BY p.a_id, p.b_id
              |), dropped AS (
              |  SELECT DISTINCT pd.b_id
              |  FROM pairdots pd
              |  JOIN norms na ON na.vec_id = pd.a_id
              |  JOIN norms nb ON nb.vec_id = pd.b_id
              |  WHERE pd.dp / (na.nrm * nb.nrm) >= 0.35
              |)
              |SELECT a.vec_id, a.cell FROM assigned a
              |WHERE a.vec_id NOT IN (SELECT b_id FROM dropped)
              |ORDER BY a.vec_id""".stripMargin)),

    // Product quantization ENCODE (Jégou et al. TPAMI'11): dim-64
    // floats → 8 one-byte codes, a 32× compression of the serving
    // footprint. Codebook = subvectors of corpus vectors 1..16 (the
    // deterministic literal-model trick); assignment is an argmin of
    // ((‖v_m‖² − 2·v_m·c) + ‖c‖²) plain-double folds — DuckDB's
    // list_reduce reproduces the left-to-right fold bit-for-bit, and
    // the (dist, k) struct-min tie-break is k ASC on both engines.
    // One narrow shuffle-free pass; gates `ProductQuantizer.encode`.
    QueryDef(
      "q218_pq_encode",
      (s, d) => {
        val emb = embeddings(s, d)
        val cb = graft.llm.ProductQuantizer
          .codebookFromCorpus(emb, numSub = 8, codesPerSub = 16)
        graft.llm.ProductQuantizer.encode(emb, cb)
          .orderBy("vec_id", "m")
      },
      Some(s"""$vecCtes, $evecCte, $pqCtes
              |SELECT vec_id, CAST(m AS INTEGER) AS m,
              |  CAST(k AS INTEGER) AS code
              |FROM codes ORDER BY vec_id, m""".stripMargin)),

    // PQ ADC search: the query stays un-quantized; LUT[m][k] =
    // ‖q_m − C[m][k]‖² is 8×16 doubles of model metadata, and each
    // corpus distance is 8 LUT lookups accumulated in exact decimal
    // (order-independent → cross-engine identical). The scan touches
    // ONLY the codes — no embedding bytes, no joins — then
    // TakeOrderedAndProject. Gates `ProductQuantizer.adcTopK`.
    QueryDef(
      "q219_pq_adc_topk",
      (s, d) => {
        val emb = embeddings(s, d)
        val cb = graft.llm.ProductQuantizer
          .codebookFromCorpus(emb, numSub = 8, codesPerSub = 16)
        graft.llm.ProductQuantizer.adcTopK(s, emb, cb, queryId = 0,
          k = 20)
      },
      Some(s"""$vecCtes, $evecCte, $pqCtes, $adcCte
              |SELECT vec_id, adc_dist FROM adc
              |ORDER BY adc_dist ASC, vec_id ASC LIMIT 20""".stripMargin)),

    // PQ recall over the 20-query panel: ADC top-20 vs the EXACT L2
    // top-20 per query (exact-decimal distances, double-cast before
    // ranking so both engines compare the same values), reported as
    // MEAN overlap — the quantization-quality number tracked
    // round-over-round like q200 tracks IVF recall. The per-query
    // LUTs ride as ONE broadcast table joined to a single shared
    // codes scan (ProductQuantizer.adcDistsPanel).
    QueryDef(
      "q220_pq_recall",
      (s, d) => {
        val emb = embeddings(s, d)
        val cb = graft.llm.ProductQuantizer
          .codebookFromCorpus(emb, numSub = 8, codesPerSub = 16)
        val adc = graft.llm.ProductQuantizer
          .adcDistsPanel(s, emb, cb, PanelN, Some(pqCodes(s, d)))
        val adcTop = graft.plans.GroupedTopK.of(adc, Seq("qid"),
          Seq(col("adc_dist").asc, col("vec_id").asc), 20)
          .select("qid", "vec_id")
        val exactTop = panelL2Top20(s, d)
        adcTop.join(exactTop, Seq("qid", "vec_id"))
          .agg(count(lit(1)).cast("long").as("overlap_cnt"))
          .crossJoin(broadcast(exactTop
            .agg(count(lit(1)).cast("long").as("k_total"))))
          .select(col("k_total"), col("overlap_cnt"),
            (col("overlap_cnt").cast("double") /
              col("k_total").cast("double")).as("recall"))
      },
      Some(pqPanelRecallOracle)),

    // IVF-PQ (IVFADC, Jégou et al. §V): the full-scale ANN serving
    // scan. Coarse quantizer = the label centroids (argmax as q67);
    // the query probes its nProbe=2 nearest cells (driver fold over
    // K=10 centroid dots — model metadata), and ONLY vectors assigned
    // to probed cells get an ADC distance from their PQ codes. Cell
    // assignment + ADC ride in one narrow projection: scan → filter →
    // TakeOrderedAndProject, no joins, no full-width vector math. At
    // 100 TB with the codes table cell-partitioned this touches
    // nProbe/K of a few-TB codes table and zero embedding bytes.
    QueryDef(
      "q221_ivfpq_topk",
      (s, d) => {
        val emb = embeddings(s, d)
        val cb = graft.llm.ProductQuantizer
          .codebookFromCorpus(emb, numSub = 8, codesPerSub = 16)
        graft.llm.ProductQuantizer.ivfAdcTopK(s, emb,
          centroidArrays(s, d), cb, queryId = 0, k = 20, nProbe = 2)
      },
      Some(s"""$centsAndDotsCte, $pqCtes, $adcCte,
              |assigned AS (
              |  SELECT vec_id, clabel AS cell FROM (
              |    SELECT vec_id, clabel,
              |      row_number() OVER (PARTITION BY vec_id
              |        ORDER BY dp DESC, clabel DESC) AS rn
              |    FROM dots_c)
              |  WHERE rn = 1
              |), probed AS (
              |  SELECT clabel AS cell FROM dots_c WHERE vec_id = 0
              |  ORDER BY dp DESC, clabel DESC LIMIT 2
              |)
              |SELECT a.vec_id, s.cell, a.adc_dist
              |FROM adc a
              |JOIN assigned s ON s.vec_id = a.vec_id
              |JOIN probed p ON p.cell = s.cell
              |ORDER BY a.adc_dist ASC, a.vec_id ASC LIMIT 20""".stripMargin)),

    // IVF-PQ + exact re-rank: the three-stage serving pipeline. A
    // 50-deep ADC shortlist from codes alone (q221's scan), then the
    // ORIGINAL embeddings are read for just those 50 candidates and
    // re-ranked by exact-decimal cosine — the only stage touching
    // full-width vectors, a broadcast point-lookup at scale, never a
    // scan. Gates `ProductQuantizer.ivfAdcRerank`.
    QueryDef(
      "q222_ivfpq_rerank",
      (s, d) => {
        val emb = embeddings(s, d)
        val cb = graft.llm.ProductQuantizer
          .codebookFromCorpus(emb, numSub = 8, codesPerSub = 16)
        graft.llm.ProductQuantizer.ivfAdcRerank(s, emb,
          centroidArrays(s, d), cb, queryId = 0, shortlist = 50,
          k = 10, nProbe = 2)
      },
      Some(s"""$centsAndDotsCte, $pqCtes, $adcCte,
              |assigned AS (
              |  SELECT vec_id, clabel AS cell FROM (
              |    SELECT vec_id, clabel,
              |      row_number() OVER (PARTITION BY vec_id
              |        ORDER BY dp DESC, clabel DESC) AS rn
              |    FROM dots_c)
              |  WHERE rn = 1
              |), probed AS (
              |  SELECT clabel AS cell FROM dots_c WHERE vec_id = 0
              |  ORDER BY dp DESC, clabel DESC LIMIT 2
              |), shortl AS (
              |  SELECT a.vec_id FROM adc a
              |  JOIN assigned s ON s.vec_id = a.vec_id
              |  JOIN probed p ON p.cell = s.cell
              |  ORDER BY a.adc_dist ASC, a.vec_id ASC LIMIT 50
              |)
              |SELECT sh.vec_id, dots.dp / (norms.nrm * qn.qnrm) AS cos_sim
              |FROM shortl sh
              |JOIN dots ON dots.vec_id = sh.vec_id
              |JOIN norms ON norms.vec_id = sh.vec_id
              |CROSS JOIN qn
              |ORDER BY cos_sim DESC, sh.vec_id ASC LIMIT 10""".stripMargin)),

    // IVF-PQ end-to-end recall over the 20-query panel: the
    // probed-cell ADC shortlist-50 → exact-cosine rerank top-10 vs
    // the exact top-10 per query, as MEAN recall — the quality
    // number the whole stack (probe width × shortlist depth ×
    // codebook) is tuned against, tracked per round alongside
    // q200/q209/q220. One shared codes scan serves all 20 queries
    // (adcDistsPanel); the rerank reads the shared panel store.
    QueryDef(
      "q223_ivfpq_recall",
      (s, d) => {
        val emb = embeddings(s, d)
        val exact = panelExact(s, d)
        val cents = centroidArrays(s, d)
        val cb = graft.llm.ProductQuantizer
          .codebookFromCorpus(emb, numSub = 8, codesPerSub = 16)
        val adc = graft.llm.ProductQuantizer
          .adcDistsPanel(s, emb, cb, PanelN, Some(pqCodes(s, d)))
        val scored = array(cents.map { case (lbl, arr) =>
          struct(graft.functions.DotDoubleExpr
              .dotDouble(col("embedding"), typedLit(arr)).as("dp"),
            lit(lbl).as("clabel"))
        }: _*)
        val assigned = emb.select(col("vec_id"),
          array_max(scored).getField("clabel").as("cell"))
        val probes = graft.plans.GroupedTopK.of(
          emb.filter(col("vec_id") < PanelN)
            .select(col("vec_id").as("qid"), explode(scored).as("sc"))
            .select(col("qid"), col("sc.dp").as("dp"),
              col("sc.clabel").as("cell")),
          Seq("qid"), Seq(col("dp").desc, col("cell").desc), 2)
          .select("qid", "cell")
        val shortl = graft.plans.GroupedTopK.of(
          adc.join(assigned, "vec_id")
            .join(broadcast(probes), Seq("qid", "cell")),
          Seq("qid"), Seq(col("adc_dist").asc, col("vec_id").asc), 50)
          .select("qid", "vec_id")
        val rerank = panelTop10(s, d, shortl)
        exact
          .join(rerank.withColumn("in_rr", lit(1)),
            Seq("qid", "vec_id"), "left")
          .agg(count(lit(1)).cast("long").as("k_total"),
            count(col("in_rr")).cast("long").as("overlap_cnt"))
          .select(col("k_total"), col("overlap_cnt"),
            (col("overlap_cnt").cast("double") /
              col("k_total").cast("double")).as("recall"))
      },
      Some(s"""$centsAndDotsCte, $pqCtes, $padcCte, $panelCtes,
              |assigned AS (
              |  SELECT vec_id, clabel AS cell FROM (
              |    SELECT vec_id, clabel,
              |      row_number() OVER (PARTITION BY vec_id
              |        ORDER BY dp DESC, clabel DESC) AS rn
              |    FROM dots_c)
              |  WHERE rn = 1
              |), pprobe AS (
              |  SELECT qid, cell FROM (
              |    SELECT vec_id AS qid, clabel AS cell,
              |      row_number() OVER (PARTITION BY vec_id
              |        ORDER BY dp DESC, clabel DESC) AS rn
              |    FROM dots_c WHERE vec_id < 20)
              |  WHERE rn <= 2
              |), shortl AS (
              |  SELECT qid, vec_id FROM (
              |    SELECT a.qid, a.vec_id, row_number() OVER (
              |      PARTITION BY a.qid
              |      ORDER BY a.adc_dist ASC, a.vec_id ASC) AS rn
              |    FROM padc a
              |    JOIN assigned s2 ON s2.vec_id = a.vec_id
              |    JOIN pprobe p ON p.qid = a.qid AND p.cell = s2.cell)
              |  WHERE rn <= 50
              |), ${panelSubRank("shortl", "rerank_top")}
              |SELECT CAST(COUNT(*) AS BIGINT) AS k_total,
              |  CAST(COUNT(rr.vec_id) AS BIGINT) AS overlap_cnt,
              |  CAST(COUNT(rr.vec_id) AS DOUBLE) /
              |    CAST(COUNT(*) AS DOUBLE) AS recall
              |FROM pexact x
              |LEFT JOIN rerank_top rr
              |  ON rr.qid = x.qid AND rr.vec_id = x.vec_id""".stripMargin)),

    // RESIDUAL IVF-PQ (IVFADC proper, Jégou et al. §V.A / FAISS):
    // codes quantize r = v − centroid(cell(v)) instead of v, so one
    // shared codebook only covers within-cell displacement — the
    // production IVFADC structure. The query LUT becomes per-probed-
    // cell (nProbe × 8 × 16 scaled longs, still model metadata);
    // cell, residual, codes, and the cell-indexed LUT sum all ride
    // in ONE narrow projection — scan → filter →
    // TakeOrderedAndProject, identical shape to q221. Gates
    // `ProductQuantizer.encodeResidual` + `ivfResidualAdcTopK`.
    QueryDef(
      "q278_residual_ivfpq_topk",
      (s, d) => {
        val emb = embeddings(s, d)
        val cents = centroidArrays(s, d)
        val cb = graft.llm.ProductQuantizer
          .residualCodebookFromCorpus(emb, cents, numSub = 8,
            codesPerSub = 16)
        graft.llm.ProductQuantizer.ivfResidualAdcTopK(s, emb, cents,
          cb, queryId = 0, k = 20, nProbe = 2)
      },
      Some(s"""$centsAndDotsCte, ${residPqCtes(nProbe = 2)}
              |SELECT r.vec_id, a.cell, r.adc_dist
              |FROM radc r JOIN rassigned a ON a.vec_id = r.vec_id
              |ORDER BY r.adc_dist ASC, r.vec_id ASC LIMIT 20""".stripMargin)),

    // Residual IVF-PQ recall over the 20-query panel: the
    // probed-cell residual-ADC top-10 vs the exact cosine top-10 per
    // query, as MEAN recall — quantifying what residual quantization
    // buys over plain PQ (q220/q223) on this corpus, tracked per
    // round. Per-query per-probed-cell LUTs ride as one broadcast
    // table over a single shared residual-codes scan
    // (ProductQuantizer.residualAdcDistsPanel).
    QueryDef(
      "q279_residual_ivfpq_recall",
      (s, d) => {
        val emb = embeddings(s, d)
        val exact = panelExact(s, d)
        val cents = centroidArrays(s, d)
        val cb = graft.llm.ProductQuantizer
          .residualCodebookFromCorpus(emb, cents, numSub = 8,
            codesPerSub = 16)
        val adc = graft.llm.ProductQuantizer
          .residualAdcDistsPanel(s, emb, cents, cb, PanelN,
            nProbe = 2, codes = Some(pqResCodes(s, d)))
        val adcTop = graft.plans.GroupedTopK.of(adc, Seq("qid"),
          Seq(col("adc_dist").asc, col("vec_id").asc), 10)
          .select("qid", "vec_id")
        adcTop.join(exact, Seq("qid", "vec_id"))
          .agg(count(lit(1)).cast("long").as("overlap_cnt"))
          .crossJoin(broadcast(exact
            .agg(count(lit(1)).cast("long").as("k_total"))))
          .select(col("k_total"), col("overlap_cnt"),
            (col("overlap_cnt").cast("double") /
              col("k_total").cast("double")).as("recall"))
      },
      Some(s"""$centsAndDotsCte, ${residPqPanelCtes(nProbe = 2)},
              |$panelCtes,
              |adc_top AS (
              |  SELECT qid, vec_id FROM (
              |    SELECT qid, vec_id, row_number() OVER (
              |      PARTITION BY qid
              |      ORDER BY adc_dist ASC, vec_id ASC) AS rn
              |    FROM pradc)
              |  WHERE rn <= 10
              |), kt AS (
              |  SELECT CAST(COUNT(*) AS BIGINT) AS k_total FROM pexact
              |)
              |SELECT kt.k_total,
              |  CAST(COUNT(*) AS BIGINT) AS overlap_cnt,
              |  CAST(COUNT(*) AS DOUBLE) / CAST(kt.k_total AS DOUBLE)
              |    AS recall
              |FROM adc_top JOIN pexact USING (qid, vec_id)
              |CROSS JOIN kt
              |GROUP BY kt.k_total""".stripMargin)),

    // Embedding outlier audit — the vector-side data-quality rung
    // beside the cell-balance (q211) and centroid-drift (q212)
    // index-health checks: rank vectors by squared distance to their
    // OWN cell centroid and surface the top-15 farthest. A far
    // vector is noise, a mislabeled row, or a cell that needs
    // splitting — the triage list an embedding-quality pass hands
    // back. dist² = (‖v‖² − 2·(v·c)) + ‖c‖² with every fold the
    // plain left-to-right double the assignment already computes:
    // the dp comes FREE from the argmax struct, ‖v‖² is one more
    // fold in the same narrow projection, ‖c‖² is a driver literal —
    // scan → project → TakeOrderedAndProject, no joins.
    QueryDef(
      "q290_embedding_outliers",
      (s, d) => {
        val emb = embeddings(s, d)
        val cents = centroidArrays(s, d)
        val vd = col("embedding").cast("array<double>")
        // assignment semantics live in ONE place — the shared
        // struct-max from ProductQuantizer; cell and winning dp both
        // read fields of that single expression
        val scored = graft.llm.ProductQuantizer.scoredStructOf(cents)
        val c2 = cents.sortBy(_._1).map { case (_, arr) =>
          var acc = 0.0; var i = 0
          while (i < arr.length) { acc += arr(i) * arr(i); i += 1 }
          acc
        }.toArray
        emb
          .select(col("vec_id"), scored.getField("cell").as("cell"),
            scored.getField("dp").as("__dp"),
            graft.functions.DotDoubleExpr.dotDouble(vd, vd).as("__v2"))
          .select(col("vec_id"), col("cell"),
            ((col("__v2") - col("__dp") * lit(2.0)) +
              element_at(typedLit(c2), col("cell") + 1))
              .as("dist_sq"))
          .orderBy(col("dist_sq").desc, col("vec_id").asc)
          .limit(15)
      },
      Some(s"""$centsAndDotsCte, assigned AS (
              |  SELECT vec_id, clabel AS cell, dp FROM (
              |    SELECT vec_id, clabel, dp,
              |      row_number() OVER (PARTITION BY vec_id
              |        ORDER BY dp DESC, clabel DESC) AS rn
              |    FROM dots_c)
              |  WHERE rn = 1
              |), v2 AS (
              |  SELECT vec_id, list_reduce(
              |      list_transform(range(1, len(v) + 1),
              |        k -> v[k] * v[k]), (a, b) -> a + b) AS v2
              |  FROM evec
              |), c2 AS (
              |  SELECT clabel, list_reduce(
              |      list_transform(range(1, len(cvec) + 1),
              |        k -> cvec[k] * cvec[k]), (a, b) -> a + b) AS c2
              |  FROM cents_l
              |)
              |SELECT a.vec_id, a.cell,
              |  ((v2.v2 - a.dp * 2) + c2.c2) AS dist_sq
              |FROM assigned a
              |JOIN v2 ON v2.vec_id = a.vec_id
              |JOIN c2 ON c2.clabel = a.cell
              |ORDER BY dist_sq DESC, a.vec_id ASC LIMIT 15""".stripMargin)),

    // Incremental IVF maintenance — the vector-index counterpart of
    // the BM25 delta merge and the PageRank delta epochs: a NEW
    // vector batch (vec_id % 10 = 3 plays the arrival) is added to
    // an index whose centroids were trained on the BASE corpus and
    // STAY FIXED — adding is one narrow assignment pass over the
    // delta only (base assignments are already stored), which is
    // exactly how FAISS IVF add works; re-training only happens when
    // the drift monitor (q212) says the centroids no longer fit.
    // The report is the post-add cell census: base/delta counts and
    // the delta share per cell — a skewed delta share is the early
    // sign the new data lives off-manifold.
    QueryDef(
      "q305_ivf_add_batch",
      (s, d) => {
        val emb = embeddings(s, d)
        val isDelta = col("vec_id") % 10 === 3
        // centroids from the BASE slice only (the trained model)
        val baseCents = emb.filter(!isDelta)
          .select(col("label").as("clabel"), posexplode(col("embedding")))
          .select(col("clabel"), (col("pos") + 1).as("i"),
            col("col").cast("double").as("x"))
          .groupBy("clabel", "i")
          .agg(davg(col("x")).as("mean_x"))
          .collect()
          .groupBy(_.getInt(0))
          .toSeq
          .map { case (lbl, rows) =>
            lbl -> rows.sortBy(_.getInt(1)).map(_.getDouble(2)).toArray
          }
          .sortBy(_._1)
        val cell = graft.llm.ProductQuantizer.cellExprOf(baseCents)
        val census = emb
          .select(cell.as("cell"), isDelta.as("is_delta"))
          .groupBy("cell")
          .agg(sum(when(!col("is_delta"), 1L).otherwise(0L))
            .cast("long").as("n_base"),
            sum(when(col("is_delta"), 1L).otherwise(0L))
              .cast("long").as("n_delta"))
        census
          .select(col("cell"), col("n_base"), col("n_delta"),
            (col("n_base") + col("n_delta")).as("n_total"),
            (col("n_delta").cast("double") /
              (col("n_base") + col("n_delta")).cast("double"))
              .as("delta_share"))
          .orderBy("cell")
      },
      Some(s"""WITH evec AS (
              |  SELECT vec_id,
              |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
              |    (vec_id % 10 = 3) AS is_delta
              |  FROM embeddings
              |), cents AS (
              |  SELECT label AS clabel, CAST(i AS INTEGER) AS i,
              |    ${sqlDavg("x")} AS mean_x
              |  FROM (
              |    SELECT label, generate_subscripts(embedding, 1) AS i,
              |      CAST(unnest(embedding) AS DOUBLE) AS x
              |    FROM embeddings WHERE vec_id % 10 <> 3)
              |  GROUP BY label, i
              |), cents_l AS (
              |  SELECT clabel, list(mean_x ORDER BY i) AS cvec
              |  FROM cents GROUP BY clabel
              |), dots_c AS (
              |  SELECT e.vec_id, e.is_delta, c.clabel,
              |    list_reduce(
              |      list_transform(range(1, len(e.v) + 1),
              |        k -> e.v[k] * c.cvec[k]),
              |      (a, b) -> a + b) AS dp
              |  FROM evec e CROSS JOIN cents_l c
              |), assigned AS (
              |  SELECT vec_id, is_delta, clabel AS cell FROM (
              |    SELECT vec_id, is_delta, clabel,
              |      row_number() OVER (PARTITION BY vec_id
              |        ORDER BY dp DESC, clabel DESC) AS rn
              |    FROM dots_c)
              |  WHERE rn = 1
              |)
              |SELECT cell,
              |  CAST(SUM(CASE WHEN is_delta THEN 0 ELSE 1 END)
              |    AS BIGINT) AS n_base,
              |  CAST(SUM(CASE WHEN is_delta THEN 1 ELSE 0 END)
              |    AS BIGINT) AS n_delta,
              |  CAST(COUNT(*) AS BIGINT) AS n_total,
              |  CAST(SUM(CASE WHEN is_delta THEN 1 ELSE 0 END)
              |      AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
              |    AS delta_share
              |FROM assigned GROUP BY cell ORDER BY cell""".stripMargin)),

    // ---- Binary (sign) quantization: 1 bit per dimension ----------
    //
    // The cheapest ANN rung below PQ: each 64-dim float vector
    // compresses to 64 BITS (two 32-bit words packed into BIGINTs so
    // every intermediate stays in non-negative signed range in both
    // engines). Distance is Hamming — two XORs and two popcounts per
    // candidate, no float math at all. At 100 TB the code table is
    // 512× smaller than the raw vectors and the scan is pure integer
    // SIMD; the standard serving funnel is hamming-shortlist → exact
    // rerank, measured by q262. Packing is a per-row HOF fold
    // (aggregate over sequence(0,31)) — map-side, shuffle-free.
    QueryDef(
      "q260_binary_hamming_topk",
      (s, d) => {
        val emb = embeddings(s, d)
        val codes = binCodes(emb)
        val qc = codes.filter(col("vec_id") === 0)
          .select(col("lo").as("q_lo"), col("hi").as("q_hi"))
        codes.crossJoin(broadcast(qc))
          .filter(col("vec_id") =!= 0)
          .select(col("vec_id"),
            (expr("bit_count(lo ^ q_lo)") + expr("bit_count(hi ^ q_hi)"))
              .cast("int").as("ham"))
          .orderBy(col("ham").asc, col("vec_id").asc)
          .limit(20)
      },
      Some(s"""WITH $binCodesCte, $hamCte
              |SELECT vec_id, ham FROM ham
              |ORDER BY ham ASC, vec_id ASC LIMIT 20""".stripMargin)),

    // Hamming shortlist → exact cosine rerank: the binary codes cut
    // the candidate set to 64 before any float math; only the
    // shortlist pays the exact-decimal cosine. Same two-tier funnel
    // as IVF-PQ's ADC→rerank, one rung cheaper.
    QueryDef(
      "q261_binary_rerank",
      (s, d) => {
        val emb = embeddings(s, d)
        val codes = binCodes(emb)
        val qc = codes.filter(col("vec_id") === 0)
          .select(col("lo").as("q_lo"), col("hi").as("q_hi"))
        val shortl = codes.crossJoin(broadcast(qc))
          .filter(col("vec_id") =!= 0)
          .select(col("vec_id"),
            (expr("bit_count(lo ^ q_lo)") + expr("bit_count(hi ^ q_hi)"))
              .cast("int").as("ham"))
          .orderBy(col("ham").asc, col("vec_id").asc)
          .limit(64)
          .select("vec_id")
        val qv = emb.filter(col("vec_id") === 0)
          .select(col("embedding").as("q_emb"))
        shortl.join(emb, "vec_id")
          .crossJoin(broadcast(qv))
          .select(col("vec_id"),
            fcos(col("embedding"), col("q_emb")).as("cos_sim"))
          .orderBy(col("cos_sim").desc, col("vec_id").asc)
          .limit(10)
      },
      Some(s"""$vecCtes, $binCodesCte, $hamCte,
              |shortl AS (
              |  SELECT vec_id FROM ham
              |  ORDER BY ham ASC, vec_id ASC LIMIT 64
              |)
              |SELECT sh.vec_id, dots.dp / (norms.nrm * qn.qnrm) AS cos_sim
              |FROM shortl sh
              |JOIN dots ON dots.vec_id = sh.vec_id
              |JOIN norms ON norms.vec_id = sh.vec_id
              |CROSS JOIN qn
              |ORDER BY cos_sim DESC, sh.vec_id ASC LIMIT 10""".stripMargin)),

    // Binary-quantization quality over the 20-query panel: MEAN
    // recall@10 of the raw 64-bit Hamming ranking and of the
    // Hamming-shortlist-64 → exact-cosine rerank funnel vs the exact
    // top-10 — the tracked quality row for this rung (q200/q220/q223
    // family). Codes are XOR+popcount per pair; the rerank reads the
    // shared panel store, so the funnel's serve cost stays
    // shortlist-sized.
    QueryDef(
      "q262_binary_recall",
      (s, d) => {
        val emb = embeddings(s, d)
        val exact = panelExact(s, d)
        val codes = binCodes(emb)
        val qc = codes.filter(col("vec_id") < PanelN)
          .select(col("vec_id").as("qid"), col("lo").as("q_lo"),
            col("hi").as("q_hi"))
        val hamRanked = codes.crossJoin(broadcast(qc))
          .filter(col("vec_id") =!= col("qid"))
          .select(col("qid"), col("vec_id"),
            (expr("bit_count(lo ^ q_lo)") +
              expr("bit_count(hi ^ q_hi)")).cast("int").as("ham"))
        val hamTop = graft.plans.GroupedTopK.of(hamRanked,
          Seq("qid"), Seq(col("ham").asc, col("vec_id").asc), 10)
          .select("qid", "vec_id")
        val shortl = graft.plans.GroupedTopK.of(hamRanked,
          Seq("qid"), Seq(col("ham").asc, col("vec_id").asc), 64)
          .select("qid", "vec_id")
        val rerankTop = panelTop10(s, d, shortl)
        exact
          .join(hamTop.withColumn("in_ham", lit(1)),
            Seq("qid", "vec_id"), "left")
          .join(rerankTop.withColumn("in_rr", lit(1)),
            Seq("qid", "vec_id"), "left")
          .agg(count(lit(1)).cast("long").as("k_total"),
            count(col("in_ham")).cast("long").as("n_hit_ham"),
            count(col("in_rr")).cast("long").as("n_hit_rerank"))
          .select(col("k_total"), col("n_hit_ham"),
            col("n_hit_rerank"),
            (col("n_hit_ham").cast("double") /
              col("k_total").cast("double")).as("recall_ham"),
            (col("n_hit_rerank").cast("double") /
              col("k_total").cast("double")).as("recall_rerank"))
      },
      Some(s"""$vecCtes, $binCodesCte, $panelCtes,
              |pham AS (
              |  SELECT q.vec_id AS qid, c.vec_id,
              |    CAST(bit_count(xor(c.lo, q.lo)) +
              |         bit_count(xor(c.hi, q.hi)) AS INTEGER) AS ham
              |  FROM codes c CROSS JOIN codes q
              |  WHERE q.vec_id < 20 AND c.vec_id <> q.vec_id
              |), ham_top AS (
              |  SELECT qid, vec_id FROM (
              |    SELECT qid, vec_id, row_number() OVER (
              |      PARTITION BY qid ORDER BY ham ASC, vec_id ASC)
              |      AS rn
              |    FROM pham)
              |  WHERE rn <= 10
              |), shortl AS (
              |  SELECT qid, vec_id FROM (
              |    SELECT qid, vec_id, row_number() OVER (
              |      PARTITION BY qid ORDER BY ham ASC, vec_id ASC)
              |      AS rn
              |    FROM pham)
              |  WHERE rn <= 64
              |), ${panelSubRank("shortl", "rr_top")}
              |SELECT CAST(COUNT(*) AS BIGINT) AS k_total,
              |  CAST(COUNT(h.vec_id) AS BIGINT) AS n_hit_ham,
              |  CAST(COUNT(rr.vec_id) AS BIGINT) AS n_hit_rerank,
              |  CAST(COUNT(h.vec_id) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
              |    AS recall_ham,
              |  CAST(COUNT(rr.vec_id) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
              |    AS recall_rerank
              |FROM pexact x
              |LEFT JOIN ham_top h
              |  ON h.qid = x.qid AND h.vec_id = x.vec_id
              |LEFT JOIN rr_top rr
              |  ON rr.qid = x.qid AND rr.vec_id = x.vec_id""".stripMargin)),

    // ---- Matryoshka (prefix-dimension) retrieval curve ------------
    //
    // Matryoshka-style embeddings order information by dimension
    // prefix: searching on just the first d dims costs d/64 of the
    // float math (and at 100 TB, d/64 of the scan bytes if the
    // prefix is stored as its own column). This query measures the
    // quality side of that trade over the 20-query panel: MEAN
    // recall@10 of prefix-d cosine ranking vs the full-dim exact
    // top-10 (the shared panel store), for d ∈ {8, 16, 32} — the
    // operating curve for choosing a serving prefix.
    QueryDef(
      "q263_matryoshka_curve",
      (s, d) => {
        val emb = embeddings(s, d)
        val exact = panelExact(s, d)
        val qs = panelQs(emb)
        def prefixRow(dd: Int) = {
          val top = graft.plans.GroupedTopK.of(
            emb.crossJoin(broadcast(qs))
              .filter(col("vec_id") =!= col("qid"))
              .select(col("qid"), col("vec_id"),
                fcos(slice(col("embedding"), 1, dd),
                  slice(col("q_emb"), 1, dd)).as("ps")),
            Seq("qid"), Seq(col("ps").desc, col("vec_id").asc), 10)
            .select("qid", "vec_id")
          exact
            .join(top.withColumn("h", lit(1)),
              Seq("qid", "vec_id"), "left")
            .agg(count(lit(1)).cast("long").as("k_total"),
              count(col("h")).cast("long").as("n_hit"))
            .select(lit(dd).as("d_prefix"), col("k_total"),
              col("n_hit"),
              (col("n_hit").cast("double") /
                col("k_total").cast("double")).as("recall"))
        }
        Seq(8, 16, 32).map(prefixRow)
          .reduce(_ unionByName _)
          .orderBy("d_prefix")
      },
      Some(s"""$vecCtes, $panelCtes${Seq(8, 16, 32)
                .map(matryoshkaCtes).mkString(",\n", ",\n", "")}
              |${Seq(8, 16, 32).map(matryoshkaRow)
                .mkString("\nUNION ALL\n")}
              |ORDER BY d_prefix""".stripMargin)),

    // ---- Clustering quality: per-cell inertia ---------------------
    //
    // The k-means evaluation number: every vector is assigned to its
    // argmax-dot centroid (the q67 literal-centroid, zero-shuffle
    // assignment) and each cell reports member count, total inertia
    // (Σ ‖x − c‖²) and mean squared distance. ‖x − c‖² expands to
    // ss − 2·(x·c) + ‖c‖² so the scan reuses the dot products the
    // assignment already computed — no second pass over the floats.
    // The only shuffle is the K-row hash-agg; centroids and their
    // self-norms ride along as literals (model metadata, O(K·D)).
    // At 100 TB this is the monitoring query a clustering pipeline
    // runs per epoch to decide whether to re-train centroids.
    QueryDef(
      "q265_cluster_inertia",
      (s, d) => {
        val emb = embeddings(s, d)
        val cents = centroidArrays(s, d)
        val scored = array(cents.map { case (lbl, arr) =>
          struct(graft.functions.DotDoubleExpr
              .dotDouble(col("embedding"), typedLit(arr)).as("dp"),
            lit(lbl).as("clabel"))
        }: _*)
        // ‖c‖² as a label→double literal map; the Scala fold starts
        // at 0.0, which is exact for non-negative squares, so it
        // matches DuckDB's init-free list_reduce bit-for-bit.
        val cn2 = map(cents.flatMap { case (lbl, arr) =>
          Seq(lit(lbl), lit(arr.map(x => x * x).sum))
        }: _*)
        emb
          .select(col("vec_id"), array_max(scored).as("am"),
            fdot(col("embedding"), col("embedding")).as("ss"))
          .select(col("am.clabel").as("cell"),
            (col("ss") - lit(2.0) * col("am.dp") +
              element_at(cn2, col("am.clabel"))).as("dist2"))
          .groupBy("cell")
          .agg(count(lit(1)).as("n_members"),
            dsum(col("dist2")).as("inertia"))
          .select(col("cell"), col("n_members"), col("inertia"),
            (col("inertia") / col("n_members").cast("double"))
              .as("mean_dist2"))
          .orderBy("cell")
      },
      Some(s"""$centsAndDotsCte,
              |ssq AS (
              |  SELECT vec_id,
              |    CAST(SUM(CAST(x * x AS DECIMAL(38,12))) AS DOUBLE) AS ss
              |  FROM dexp GROUP BY vec_id
              |), cn AS (
              |  SELECT clabel,
              |    list_reduce(list_transform(cvec, x -> x * x),
              |      (a, b) -> a + b) AS cnorm2
              |  FROM cents_l
              |), assigned AS (
              |  SELECT vec_id, clabel, dp FROM (
              |    SELECT vec_id, clabel, dp,
              |      row_number() OVER (PARTITION BY vec_id
              |        ORDER BY dp DESC, clabel DESC) AS rn
              |    FROM dots_c)
              |  WHERE rn = 1
              |), mrows AS (
              |  SELECT a.clabel AS cell,
              |    s.ss - 2.0 * a.dp + cn.cnorm2 AS dist2
              |  FROM assigned a
              |  JOIN ssq s USING (vec_id)
              |  JOIN cn ON cn.clabel = a.clabel
              |)
              |SELECT cell, CAST(COUNT(*) AS BIGINT) AS n_members,
              |  ${sqlDsum("dist2")} AS inertia,
              |  ${sqlDsum("dist2")} / CAST(COUNT(*) AS DOUBLE) AS mean_dist2
              |FROM mrows GROUP BY cell
              |ORDER BY cell""".stripMargin)),

    // ---- Semantic train/val contamination ------------------------
    //
    // Eval hygiene at the EMBEDDING level, complementing the n-gram
    // decontamination rows (q85/q225): hash-split the corpus into a
    // val slice (vec_id % 10 = 3) and train rest, find each val
    // vector's nearest TRAIN vector by exact cosine, and report the
    // 15 most-contaminated val items — near-identical train
    // neighbors that lexical overlap checks can miss entirely. Val
    // is broadcast (the 10% slice); train streams once with hoisted
    // norms, so every (train, val) pair pays exactly one exact fold;
    // the per-val argmax is ONE struct-max hash-agg, no window. At
    // 100 TB the same report routes through ivfTopKBatch — this
    // declared form is the exact-oracle shape.
    QueryDef(
      "q274_semantic_contamination",
      (s, d) => {
        val withN = embeddings(s, d)
          .select(col("vec_id"), col("embedding"),
            fnorm(col("embedding")).as("nrm"))
        val va = withN.filter(col("vec_id") % 10 === 3)
          .select(col("vec_id").as("val_id"),
            col("embedding").as("v_emb"), col("nrm").as("v_nrm"))
        val tr = withN.filter(col("vec_id") % 10 =!= 3)
        tr.crossJoin(broadcast(va))
          .select(col("val_id"), col("vec_id").as("train_id"),
            (fdot(col("embedding"), col("v_emb")) /
              (col("nrm") * col("v_nrm"))).as("cos"))
          .groupBy("val_id")
          .agg(max(struct(col("cos"), col("train_id"))).as("b"))
          .select(col("val_id"), col("b.train_id").as("best_train_id"),
            col("b.cos").as("best_cos"))
          .orderBy(col("best_cos").desc, col("val_id").asc)
          .limit(15)
      },
      Some("""WITH dexp AS (
             |  SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
             |    generate_subscripts(embedding, 1) AS i
             |  FROM embeddings
             |), norms AS (
             |  SELECT vec_id,
             |    sqrt(CAST(SUM(CAST(x * x AS DECIMAL(38,12))) AS DOUBLE))
             |      AS nrm
             |  FROM dexp GROUP BY vec_id
             |), pairdots AS (
             |  SELECT t.vec_id AS train_id, v.vec_id AS val_id,
             |    CAST(SUM(CAST(t.x * v.x AS DECIMAL(38,12))) AS DOUBLE)
             |      AS dp
             |  FROM dexp t JOIN dexp v USING (i)
             |  WHERE t.vec_id % 10 <> 3 AND v.vec_id % 10 = 3
             |  GROUP BY t.vec_id, v.vec_id
             |), scored AS (
             |  SELECT p.val_id, p.train_id,
             |    p.dp / (nt.nrm * nv.nrm) AS cos
             |  FROM pairdots p
             |  JOIN norms nt ON nt.vec_id = p.train_id
             |  JOIN norms nv ON nv.vec_id = p.val_id
             |), best AS (
             |  SELECT val_id, train_id AS best_train_id, cos AS best_cos
             |  FROM (
             |    SELECT val_id, train_id, cos,
             |      row_number() OVER (PARTITION BY val_id
             |        ORDER BY cos DESC, train_id DESC) AS rn
             |    FROM scored)
             |  WHERE rn = 1
             |)
             |SELECT val_id, best_train_id, best_cos
             |FROM best
             |ORDER BY best_cos DESC, val_id ASC LIMIT 15""".stripMargin)),

    // The labeled BUILD workload for the panel ranking store (the
    // q239/q240 pattern): force-rebuild the exact-cosine panel×corpus
    // ranking parquet every recall rung serves from, and emit an
    // oracle-gated receipt — per panel query, the pair count and the
    // exact nearest neighbor with its cosine. The bench row carries
    // the honest build cost; the rungs' serve rows stay store reads.
    //
    // Since the four exact-truth tables (panel cosine top-10, its
    // held-out variant, exact L2@20, its held-out variant) became
    // stored run-files, this row is ALSO their priced build lane:
    // each is force-rebuilt here (StoreCache.rebuild, the q239/q240
    // rule), so the timed cost of this row IS the full exact-truth
    // pass — at corpus scale a corpus × panel fold per truth — and
    // the recall rungs' serve rows stay store reads. Without this,
    // no timed row anywhere would charge the truth computation (the
    // bench warm-up would absorb all four builds).
    QueryDef(
      "q308_panel_rank_build",
      (s, d) => {
        val path = graft.StoreCache.rebuild("panelrank", d) { p =>
          buildPanelRankStore(s, d, p)
        }
        graft.StoreCache.rebuild("panelexact", d)(buildPanelExact(s, d))
        graft.StoreCache.rebuild("panelexact_ho", d)(
          buildPanelExactHeldout(s, d))
        graft.StoreCache.rebuild("panell2", d)(buildPanelL2Top20(s, d))
        graft.StoreCache.rebuild("panell2_ho", d)(
          buildPanelL2Top20Heldout(s, d))
        val st = s.read.parquet(path)
        graft.plans.GroupedTopK.of(st, Seq("qid"),
          Seq(col("cos_sim").desc, col("vec_id").asc), 1)
          .join(st.groupBy("qid")
            .agg(count(lit(1)).cast("long").as("n_pairs")), Seq("qid"))
          .select(col("qid"), col("n_pairs"),
            col("vec_id").as("top1_vec_id"),
            col("cos_sim").as("top1_cos"))
          .orderBy("qid")
      },
      Some(s"""$vecCtes, $panelCtes,
              |top1 AS (
              |  SELECT qid, vec_id, cos_sim FROM (
              |    SELECT qid, vec_id, cos_sim,
              |      row_number() OVER (PARTITION BY qid
              |        ORDER BY cos_sim DESC, vec_id ASC) AS rn
              |    FROM pranked)
              |  WHERE rn = 1
              |), np AS (
              |  SELECT qid, CAST(COUNT(*) AS BIGINT) AS n_pairs
              |  FROM pranked GROUP BY qid
              |)
              |SELECT t.qid, np.n_pairs, t.vec_id AS top1_vec_id,
              |  t.cos_sim AS top1_cos
              |FROM top1 t JOIN np USING (qid)
              |ORDER BY qid""".stripMargin)),

    // TRAINED-codebook PQ recall on the panel (the r11 verdict's
    // item 3): q220 scores the deterministic SAMPLED codebook (code
    // k = subvector of corpus vector k+1 — the cross-engine-exact
    // oracle shape); this row scores the TRAINED one
    // (ProductQuantizer.trainCodebook: deterministic farthest-point
    // init + 3 exact-decimal Lloyd rounds) side by side on the same
    // panel, ADC top-20 vs exact L2 top-20. Lloyd means are exact
    // DECIMAL (deterministic run to run) but a K-step iterative
    // training loop is not one SQL expression — declared rows-only,
    // with the recall pair tracked in BASELINE.md's quality table
    // like every other rung.
    QueryDef(
      "q309_pq_trained_recall",
      (s, d) => {
        val emb = embeddings(s, d)
        val cbS = graft.llm.ProductQuantizer
          .codebookFromCorpus(emb, numSub = 8, codesPerSub = 16)
        val cbT = graft.llm.ProductQuantizer
          .trainCodebook(emb, numSub = 8, codesPerSub = 16,
            iterations = 3)
        def top20(cb: Array[Array[Array[Double]]],
            codes: Option[org.apache.spark.sql.DataFrame]) =
          graft.plans.GroupedTopK.of(
            graft.llm.ProductQuantizer.adcDistsPanel(s, emb, cb,
              PanelN, codes),
            Seq("qid"), Seq(col("adc_dist").asc, col("vec_id").asc),
            20).select("qid", "vec_id")
        val exactTop = panelL2Top20(s, d)
        exactTop
          .join(top20(cbS, Some(pqCodes(s, d)))
              .withColumn("in_s", lit(1)),
            Seq("qid", "vec_id"), "left")
          .join(top20(cbT, None).withColumn("in_t", lit(1)),
            Seq("qid", "vec_id"), "left")
          .agg(count(lit(1)).cast("long").as("k_total"),
            count(col("in_s")).cast("long").as("n_hit_sampled"),
            count(col("in_t")).cast("long").as("n_hit_trained"))
          .select(col("k_total"), col("n_hit_sampled"),
            col("n_hit_trained"),
            (col("n_hit_sampled").cast("double") /
              col("k_total").cast("double")).as("recall_sampled"),
            (col("n_hit_trained").cast("double") /
              col("k_total").cast("double")).as("recall_trained"))
      },
      None),

    // UNSUPERVISED IVF cells vs the labeled crutch (the r13 verdict's
    // item 6 — the last label-supervised piece of the ANN stack):
    // train K = 10 coarse-quantizer cells with NO labels
    // (cachedTrainedCells — farthest-point init + 3 exact-decimal
    // Lloyd rounds at numSub = 1, train-once cached) and score the
    // q209 panel recall
    // curve side by side with the label-mean cells at the same K and
    // the same max-dot assignment rule, plus each side's candidate
    // fraction (probe cost — recall alone can hide a skewed cell map
    // that probes half the corpus). Training is an iterative loop,
    // not one SQL expression — declared rows-only (the q309
    // precedent); the labeled half of the comparison is the
    // already-oracle-gated q209 machinery, and the trained cells'
    // numSub=1 path is pinned by ProductQuantizerSpec parity tests.
    QueryDef(
      "q317_ivf_trained_cells",
      (s, d) => {
        val emb = embeddings(s, d)
        val exact = panelExact(s, d)
        val kTot = exact.agg(count(lit(1)).cast("long").as("k_total"))
        val nPairs = emb.agg(((count(lit(1)) - 1) * PanelN)
          .cast("long").as("n_pairs"))
        def curve(cents: Seq[(Int, Array[Double])], tag: String) = {
          val scored = array(cents.map { case (lbl, arr) =>
            struct(graft.functions.DotDoubleExpr
                .dotDouble(col("embedding"), typedLit(arr)).as("dp"),
              lit(lbl).as("clabel"))
          }: _*)
          val assigned = emb
            .select(col("vec_id"),
              array_max(scored).getField("clabel").as("cell"))
            .localCheckpoint()
          val wq = org.apache.spark.sql.expressions.Window
            .partitionBy("qid")
            .orderBy(col("dp").desc, col("cell").desc)
          val probeRanked = emb.filter(col("vec_id") < PanelN)
            .select(col("vec_id").as("qid"), explode(scored).as("sc"))
            .select(col("qid"), col("sc.dp").as("dp"),
              col("sc.clabel").as("cell"))
            .withColumn("rk", row_number().over(wq))
            .localCheckpoint()
          Seq(1, 2, 4).map { n =>
            val cands = assigned
              .join(broadcast(probeRanked.filter(col("rk") <= n)
                .select("qid", "cell")), "cell")
              .filter(col("vec_id") =!= col("qid"))
              .select("qid", "vec_id")
            n -> panelTop10(s, d, cands)
              .join(exact, Seq("qid", "vec_id"))
              .agg(count(lit(1)).cast("long").as(s"n_hit_$tag"))
              .crossJoin(cands
                .agg(count(lit(1)).cast("long").as(s"n_cand_$tag")))
          }
        }
        val lab = curve(centroidArrays(s, d), "labeled")
        // trained cells from the train-once codebook cache (q309
        // carries the family's live priced training row)
        val trn = curve(cachedTrainedCells(s, d, "corpus",
          embeddings(s, d), 10), "trained")
        lab.zip(trn).map { case ((n, l), (_, t)) =>
          l.crossJoin(t).crossJoin(broadcast(kTot))
            .crossJoin(broadcast(nPairs))
            .select(lit(n).as("nprobe"), col("k_total"),
              (col("n_hit_labeled").cast("double") /
                col("k_total").cast("double")).as("recall_labeled"),
              (col("n_hit_trained").cast("double") /
                col("k_total").cast("double")).as("recall_trained"),
              (col("n_cand_labeled").cast("double") /
                col("n_pairs").cast("double")).as("frac_labeled"),
              (col("n_cand_trained").cast("double") /
                col("n_pairs").cast("double")).as("frac_trained"))
        }.reduce(_ unionByName _).orderBy("nprobe")
      },
      None),

    // HELD-OUT query panel (the r13 verdict's item 7): every in-suite
    // recall rung scores queries that sit INSIDE the index — serving
    // reality is out-of-corpus queries. Here the 20 panel vectors are
    // RESERVED OUT of every index structure — SRP planes come from
    // corpus vectors 20..43 (not 1..24), the labeled cell means
    // average only vec_id >= 20, the bucket/cell tables hold corpus
    // rows only — and the truth is the exact top-10 within the index
    // corpus (the panel store filtered to vec_id >= 20). One row per
    // rung: SRP-LSH (4 bands × 6 planes) and IVF at nprobe 1/2/4.
    // Everything stays deterministic (fixed planes, exact-average
    // cells, exact-decimal ranking with vec_id ties), so the held-out
    // recalls hash-match cross-engine — the in-corpus/held-out pair
    // (q200/q209 vs this row) is the transfer check BASELINE.md's
    // quality table tracks.
    QueryDef(
      "q318_heldout_recall",
      (s, d) => {
        val emb = embeddings(s, d)
        val corpus = emb.filter(col("vec_id") >= PanelN)
        val exact = panelExactHeldout(s, d).localCheckpoint()
        val kTot = exact.agg(count(lit(1)).cast("long").as("k_total"))
        def rungRow(name: String,
            cands: org.apache.spark.sql.DataFrame) =
          panelTop10(s, d, cands)
            .join(exact, Seq("qid", "vec_id"))
            .agg(count(lit(1)).cast("long").as("n_hit"))
            .crossJoin(broadcast(kTot))
            .select(lit(name).as("rung"), col("k_total"),
              col("n_hit"),
              (col("n_hit").cast("double") /
                col("k_total").cast("double")).as("recall"))
        // SRP-LSH with planes drawn from the CORPUS (vec_id 20..43)
        val planes = corpus
          .filter(col("vec_id").between(PanelN, PanelN + 23))
          .select("vec_id", "embedding").collect()
          .sortBy(_.getLong(0)).map(_.getSeq[Float](1).toArray)
        require(planes.length == 24,
          s"held-out SRP needs corpus vectors 20..43 (${planes.length})")
        val bandExprs = (0 until 4).map { b =>
          concat((0 until 6).map { j =>
            fsign(col("embedding"), typedLit(planes(b * 6 + j)))
          }: _*)
        }
        val bands = emb
          .select(col("vec_id"), posexplode(array(bandExprs: _*)))
          .withColumnRenamed("pos", "band")
          .withColumnRenamed("col", "bv")
        val qb = bands.filter(col("vec_id") < PanelN)
          .select(col("vec_id").as("qid"), col("band").as("q_band"),
            col("bv").as("q_bv"))
        val lshCands = bands.filter(col("vec_id") >= PanelN)
          .join(broadcast(qb),
            col("band") === col("q_band") && col("bv") === col("q_bv"))
          .select("qid", "vec_id").distinct()
        // IVF cells: label means over the CORPUS only
        val cents = centroidArraysOf(corpus)
        val scored = array(cents.map { case (lbl, arr) =>
          struct(graft.functions.DotDoubleExpr
              .dotDouble(col("embedding"), typedLit(arr)).as("dp"),
            lit(lbl).as("clabel"))
        }: _*)
        val assigned = corpus
          .select(col("vec_id"),
            array_max(scored).getField("clabel").as("cell"))
          .localCheckpoint()
        val wq = org.apache.spark.sql.expressions.Window
          .partitionBy("qid").orderBy(col("dp").desc, col("cell").desc)
        val probeRanked = emb.filter(col("vec_id") < PanelN)
          .select(col("vec_id").as("qid"), explode(scored).as("sc"))
          .select(col("qid"), col("sc.dp").as("dp"),
            col("sc.clabel").as("cell"))
          .withColumn("rk", row_number().over(wq))
          .localCheckpoint()
        val rows = rungRow("srp_lsh", lshCands) +:
          Seq(1, 2, 4).map { n =>
            rungRow(s"ivf_np$n", assigned
              .join(broadcast(probeRanked.filter(col("rk") <= n)
                .select("qid", "cell")), "cell")
              .select("qid", "vec_id"))
          }
        rows.reduce(_ unionByName _).orderBy("rung")
      },
      Some(s"""$vecCtes, $panelCtes, $evecCte,
              |pexact_h AS (
              |  SELECT qid, vec_id FROM (
              |    SELECT qid, vec_id,
              |      row_number() OVER (PARTITION BY qid
              |        ORDER BY cos_sim DESC, vec_id ASC) AS rn
              |    FROM pranked WHERE vec_id >= 20)
              |  WHERE rn <= 10
              |), kt AS (
              |  SELECT CAST(COUNT(*) AS BIGINT) AS k_total FROM pexact_h
              |), pl AS (
              |  SELECT vec_id - 20 AS pidx, v AS pvec FROM evec
              |  WHERE vec_id BETWEEN 20 AND 43
              |), proj AS (
              |  SELECT e.vec_id, p.pidx,
              |    CASE WHEN list_reduce(
              |        list_transform(range(1, len(e.v) + 1),
              |          k -> e.v[k] * p.pvec[k]),
              |        (a, b) -> a + b) >= 0
              |      THEN '1' ELSE '0' END AS bit
              |  FROM evec e CROSS JOIN pl p
              |), bands AS (
              |  SELECT vec_id,
              |    CAST(floor(pidx / 6) AS INTEGER) AS band,
              |    string_agg(bit, '' ORDER BY pidx) AS bv
              |  FROM proj
              |  GROUP BY vec_id, CAST(floor(pidx / 6) AS INTEGER)
              |), qb AS (
              |  SELECT vec_id AS qid, band, bv FROM bands
              |  WHERE vec_id < 20
              |), lshc AS (
              |  SELECT DISTINCT qb.qid, b.vec_id FROM bands b
              |  JOIN qb ON b.band = qb.band AND b.bv = qb.bv
              |  WHERE b.vec_id >= 20
              |), ${panelSubRank("lshc", "lsh")},
              |cents_h AS (
              |  SELECT label AS clabel, CAST(i AS INTEGER) AS i,
              |    ${sqlDavg("x")} AS mean_x
              |  FROM (
              |    SELECT label, generate_subscripts(embedding, 1) AS i,
              |      CAST(unnest(embedding) AS DOUBLE) AS x
              |    FROM embeddings WHERE vec_id >= 20)
              |  GROUP BY label, i
              |), cents_hl AS (
              |  SELECT clabel, list(mean_x ORDER BY i) AS cvec
              |  FROM cents_h GROUP BY clabel
              |), dots_ch AS (
              |  SELECT e.vec_id, c.clabel,
              |    list_reduce(
              |      list_transform(range(1, len(e.v) + 1),
              |        k -> e.v[k] * c.cvec[k]),
              |      (a, b) -> a + b) AS dp
              |  FROM evec e CROSS JOIN cents_hl c
              |), assigned AS (
              |  SELECT vec_id, clabel AS cell FROM (
              |    SELECT vec_id, clabel,
              |      row_number() OVER (PARTITION BY vec_id
              |        ORDER BY dp DESC, clabel DESC) AS rn
              |    FROM dots_ch WHERE vec_id >= 20)
              |  WHERE rn = 1
              |), pprobe AS (
              |  SELECT vec_id AS qid, clabel AS cell,
              |    row_number() OVER (PARTITION BY vec_id
              |      ORDER BY dp DESC, clabel DESC) AS rk
              |  FROM dots_ch WHERE vec_id < 20
              |), ivfc1 AS (
              |  SELECT p.qid, a.vec_id FROM assigned a
              |  JOIN pprobe p ON a.cell = p.cell AND p.rk <= 1
              |), ivfc2 AS (
              |  SELECT p.qid, a.vec_id FROM assigned a
              |  JOIN pprobe p ON a.cell = p.cell AND p.rk <= 2
              |), ivfc4 AS (
              |  SELECT p.qid, a.vec_id FROM assigned a
              |  JOIN pprobe p ON a.cell = p.cell AND p.rk <= 4
              |), ${panelSubRank("ivfc1", "ivf1")},
              |${panelSubRank("ivfc2", "ivf2")},
              |${panelSubRank("ivfc4", "ivf4")},
              |hits AS (
              |  SELECT 'srp_lsh' AS rung, (SELECT k_total FROM kt)
              |    AS k_total,
              |    CAST((SELECT COUNT(*) FROM lsh t JOIN pexact_h x
              |      ON x.qid = t.qid AND x.vec_id = t.vec_id)
              |      AS BIGINT) AS n_hit
              |  UNION ALL
              |  SELECT 'ivf_np1', (SELECT k_total FROM kt),
              |    CAST((SELECT COUNT(*) FROM ivf1 t JOIN pexact_h x
              |      ON x.qid = t.qid AND x.vec_id = t.vec_id)
              |      AS BIGINT)
              |  UNION ALL
              |  SELECT 'ivf_np2', (SELECT k_total FROM kt),
              |    CAST((SELECT COUNT(*) FROM ivf2 t JOIN pexact_h x
              |      ON x.qid = t.qid AND x.vec_id = t.vec_id)
              |      AS BIGINT)
              |  UNION ALL
              |  SELECT 'ivf_np4', (SELECT k_total FROM kt),
              |    CAST((SELECT COUNT(*) FROM ivf4 t JOIN pexact_h x
              |      ON x.qid = t.qid AND x.vec_id = t.vec_id)
              |      AS BIGINT)
              |)
              |SELECT rung, k_total, n_hit,
              |  CAST(n_hit AS DOUBLE) / CAST(k_total AS DOUBLE)
              |    AS recall
              |FROM hits ORDER BY rung""".stripMargin)),

    // Held-out TRAINED cells (q317 × q318): does the unsupervised
    // quantizer's in-corpus win transfer to out-of-corpus queries?
    // Cells train on the index corpus ONLY (vec_id >= 20 — the
    // reserved queries never touch the farthest-point sample or the
    // Lloyd passes), labeled cells average the same corpus, both
    // score the q318 held-out truth at nprobe 1/2/4. Rows-only like
    // q317 (the training loop is not one SQL expression); the
    // labeled half cross-checks against q318's oracle-gated
    // ivf_np1/2/4 recalls, which are the same numbers by
    // construction.
    QueryDef(
      "q319_heldout_trained_cells",
      (s, d) => {
        val emb = embeddings(s, d)
        val corpus = emb.filter(col("vec_id") >= PanelN)
        val exact = panelExactHeldout(s, d).localCheckpoint()
        val kTot = exact.agg(count(lit(1)).cast("long").as("k_total"))
        def curve(cents: Seq[(Int, Array[Double])], tag: String) = {
          val scored = array(cents.map { case (lbl, arr) =>
            struct(graft.functions.DotDoubleExpr
                .dotDouble(col("embedding"), typedLit(arr)).as("dp"),
              lit(lbl).as("clabel"))
          }: _*)
          val assigned = corpus
            .select(col("vec_id"),
              array_max(scored).getField("clabel").as("cell"))
            .localCheckpoint()
          val wq = org.apache.spark.sql.expressions.Window
            .partitionBy("qid")
            .orderBy(col("dp").desc, col("cell").desc)
          val probeRanked = emb.filter(col("vec_id") < PanelN)
            .select(col("vec_id").as("qid"), explode(scored).as("sc"))
            .select(col("qid"), col("sc.dp").as("dp"),
              col("sc.clabel").as("cell"))
            .withColumn("rk", row_number().over(wq))
            .localCheckpoint()
          Seq(1, 2, 4).map { n =>
            n -> panelTop10(s, d, assigned
                .join(broadcast(probeRanked.filter(col("rk") <= n)
                  .select("qid", "cell")), "cell")
                .select("qid", "vec_id"))
              .join(exact, Seq("qid", "vec_id"))
              .agg(count(lit(1)).cast("long").as(s"n_hit_$tag"))
          }
        }
        val lab = curve(centroidArraysOf(corpus), "labeled")
        val trn = curve(cachedTrainedCells(s, d, "heldout",
          corpus, 10), "trained")
        lab.zip(trn).map { case ((n, l), (_, t)) =>
          l.crossJoin(t).crossJoin(broadcast(kTot))
            .select(lit(n).as("nprobe"), col("k_total"),
              (col("n_hit_labeled").cast("double") /
                col("k_total").cast("double")).as("recall_labeled"),
              (col("n_hit_trained").cast("double") /
                col("k_total").cast("double")).as("recall_trained"))
        }.reduce(_ unionByName _).orderBy("nprobe")
      },
      None),

    // PER-QUERY serving mode priced against the panel-shared scan
    // (the r13 verdict's stretch item 9): q220 serves the whole
    // 20-query panel from ONE stored-codes scan (adcDistsPanel's
    // broadcast-LUT join); this row computes the IDENTICAL result by
    // the naive serving shape — one codes-store scan PER QUERY, each
    // with its own literal LUT (ProductQuantizer.adcTopKStored). Same
    // codes, same scaled-long sums, so the oracle is q220's verbatim;
    // the bench delta between this row and q220 is the measured price
    // of not batching queries — the number that justifies the
    // panel-shared architecture at 100 TB, where the codes scan is
    // the dominant cost and a query batch amortizes it.
    QueryDef(
      "q322_adc_per_query_serving",
      (s, d) => {
        val emb = embeddings(s, d)
        val cb = graft.llm.ProductQuantizer
          .codebookFromCorpus(emb, numSub = 8, codesPerSub = 16)
        val codes = pqCodes(s, d)
        val adcTop = (0L until PanelN.toLong).map { qid =>
          graft.llm.ProductQuantizer
            .adcTopKStored(emb, codes, cb, qid, 20)
            .select(lit(qid).as("qid"), col("vec_id"))
        }.reduce(_ unionByName _)
        val exactTop = panelL2Top20(s, d)
        adcTop.join(exactTop, Seq("qid", "vec_id"))
          .agg(count(lit(1)).cast("long").as("overlap_cnt"))
          .crossJoin(broadcast(exactTop
            .agg(count(lit(1)).cast("long").as("k_total"))))
          .select(col("k_total"), col("overlap_cnt"),
            (col("overlap_cnt").cast("double") /
              col("k_total").cast("double")).as("recall"))
      },
      Some(pqPanelRecallOracle)),

    // Held-out PQ ADC (extends the q318 held-out table to the PQ
    // rung): codebook sampled from CORPUS vectors 20..35 (q220
    // samples 1..16 — held-out ids), codes encoded for the corpus
    // only, ADC@20 vs the held-out exact L2@20 truth. Same
    // scaled-long/decimal precision parity as q220, so the held-out
    // recall hash-gates cross-engine; the in-corpus/held-out pair
    // (q220 vs this row) is the PQ transfer check.
    QueryDef(
      "q323_heldout_pq_recall",
      (s, d) => {
        val emb = embeddings(s, d)
        val corpus = emb.filter(col("vec_id") >= PanelN)
        val rows = emb.filter(col("vec_id").between(PanelN, PanelN + 15))
          .select("vec_id", "embedding").collect()
          .sortBy(_.getLong(0))
          .map(_.getSeq[Float](1).map(_.toDouble).toArray)
        require(rows.length == 16,
          s"held-out codebook needs corpus vectors 20..35 (${rows.length})")
        val cbH = Array.tabulate(8, 16)((m, k) =>
          rows(k).slice(m * 8, (m + 1) * 8))
        val adc = graft.llm.ProductQuantizer.adcDistsPanel(s, emb,
          cbH, PanelN,
          Some(graft.llm.ProductQuantizer.encode(corpus, cbH)))
        val adcTop = graft.plans.GroupedTopK.of(adc, Seq("qid"),
          Seq(col("adc_dist").asc, col("vec_id").asc), 20)
          .select("qid", "vec_id")
        val exactTop = panelL2Top20Heldout(s, d).localCheckpoint()
        adcTop.join(exactTop, Seq("qid", "vec_id"))
          .agg(count(lit(1)).cast("long").as("overlap_cnt"))
          .crossJoin(broadcast(exactTop
            .agg(count(lit(1)).cast("long").as("k_total"))))
          .select(col("k_total"), col("overlap_cnt"),
            (col("overlap_cnt").cast("double") /
              col("k_total").cast("double")).as("recall"))
      },
      Some(s"""$vecCtes, $evecCte,
              |ms AS (SELECT unnest(range(0,8)) AS m),
              |subs AS (
              |  SELECT e.vec_id, ms.m,
              |    list_transform(range(1,9),
              |      j -> e.v[CAST(ms.m*8+j AS INTEGER)]) AS sv
              |  FROM evec e CROSS JOIN ms
              |), cb_h AS (
              |  SELECT vec_id - 20 AS k, m, sv AS cv FROM subs
              |  WHERE vec_id BETWEEN 20 AND 35
              |), dists_h AS (
              |  SELECT s.vec_id, s.m, c.k,
              |    ((list_reduce(list_transform(range(1,9),
              |          j -> s.sv[j]*s.sv[j]), (a,b) -> a+b)
              |      - (list_reduce(list_transform(range(1,9),
              |          j -> s.sv[j]*c.cv[j]), (a,b) -> a+b) * 2))
              |     + list_reduce(list_transform(range(1,9),
              |          j -> c.cv[j]*c.cv[j]), (a,b) -> a+b)) AS dist
              |  FROM subs s JOIN cb_h c ON c.m = s.m
              |), codes_h AS (
              |  SELECT vec_id, m, k FROM (
              |    SELECT vec_id, m, k,
              |      row_number() OVER (PARTITION BY vec_id, m
              |        ORDER BY dist ASC, k ASC) AS rn
              |    FROM dists_h WHERE vec_id >= 20) WHERE rn = 1
              |), plut_h AS (
              |  SELECT vec_id AS qid, m, k, dist AS ldist
              |  FROM dists_h WHERE vec_id < 20
              |), padc_h AS (
              |  SELECT l.qid, cd.vec_id,
              |    CAST(SUM(CAST(l.ldist AS DECIMAL(38,12))) AS DOUBLE)
              |      AS adc_dist
              |  FROM codes_h cd JOIN plut_h l
              |    ON l.m = cd.m AND l.k = cd.k
              |  GROUP BY l.qid, cd.vec_id
              |), pl2_h AS (
              |  SELECT q.vec_id AS qid, d.vec_id,
              |    CAST(SUM(CAST((d.x - q.x) * (d.x - q.x)
              |      AS DECIMAL(38,12))) AS DOUBLE) AS dist2
              |  FROM dexp d JOIN dexp q USING (i)
              |  WHERE q.vec_id < 20 AND d.vec_id >= 20
              |  GROUP BY q.vec_id, d.vec_id
              |), exact_top_h AS (
              |  SELECT qid, vec_id FROM (
              |    SELECT qid, vec_id, row_number() OVER (
              |      PARTITION BY qid ORDER BY dist2 ASC, vec_id ASC)
              |      AS rn
              |    FROM pl2_h)
              |  WHERE rn <= 20
              |), adc_top_h AS (
              |  SELECT qid, vec_id FROM (
              |    SELECT qid, vec_id, row_number() OVER (
              |      PARTITION BY qid ORDER BY adc_dist ASC, vec_id ASC)
              |      AS rn
              |    FROM padc_h)
              |  WHERE rn <= 20
              |), kt AS (
              |  SELECT CAST(COUNT(*) AS BIGINT) AS k_total
              |  FROM exact_top_h
              |)
              |SELECT kt.k_total,
              |  CAST(COUNT(*) AS BIGINT) AS overlap_cnt,
              |  CAST(COUNT(*) AS DOUBLE) / CAST(kt.k_total AS DOUBLE)
              |    AS recall
              |FROM adc_top_h JOIN exact_top_h USING (qid, vec_id)
              |CROSS JOIN kt
              |GROUP BY kt.k_total""".stripMargin)),

    // Held-out TRAINED-PQ (closes the measured −28% sampled-ADC
    // transfer gap the q323 row exposed): the codebook is TRAINED —
    // farthest-point init + 3 exact-decimal Lloyd rounds — on the
    // INDEX CORPUS ONLY (vec_id >= 20; the 20 panel queries never
    // touch training), codes encoded for the corpus only, ADC@20
    // scored against the held-out exact L2@20 truth SIDE BY SIDE
    // with q323's sampled codebook. One row: the sampled column must
    // reproduce q323's oracle-gated recall bit-for-bit (the anchor),
    // and recall_trained vs recall_sampled IS the held-out
    // sampled-vs-trained delta BASELINE.md's quality table tracks.
    // An iterative training loop is not one SQL expression —
    // rows-only by the q309/q317/q319 precedent, pinned in
    // RegistrySpec.
    QueryDef(
      "q348_heldout_trained_pq",
      (s, d) => {
        val emb = embeddings(s, d)
        val corpus = emb.filter(col("vec_id") >= PanelN)
        // sampled codebook — q323's exact shape (corpus vectors
        // 20..35), the cross-engine anchor
        val rows = emb.filter(col("vec_id").between(PanelN, PanelN + 15))
          .select("vec_id", "embedding").collect()
          .sortBy(_.getLong(0))
          .map(_.getSeq[Float](1).map(_.toDouble).toArray)
        require(rows.length == 16,
          s"held-out codebook needs corpus vectors 20..35 (${rows.length})")
        val cbS = Array.tabulate(8, 16)((m, k) =>
          rows(k).slice(m * 8, (m + 1) * 8))
        // trained codebook — fit on the CORPUS frame only, so the
        // Lloyd passes never see a panel vector
        val cbT = cachedCodebook(s, d, "heldout", corpus,
          numSub = 8, k = 16)
        def top20(cb: Array[Array[Array[Double]]]) =
          graft.plans.GroupedTopK.of(
            graft.llm.ProductQuantizer.adcDistsPanel(s, emb, cb,
              PanelN,
              Some(graft.llm.ProductQuantizer.encode(corpus, cb))),
            Seq("qid"), Seq(col("adc_dist").asc, col("vec_id").asc),
            20).select("qid", "vec_id")
        val exactTop = panelL2Top20Heldout(s, d).localCheckpoint()
        exactTop
          .join(top20(cbS).withColumn("in_s", lit(1)),
            Seq("qid", "vec_id"), "left")
          .join(top20(cbT).withColumn("in_t", lit(1)),
            Seq("qid", "vec_id"), "left")
          .agg(count(lit(1)).cast("long").as("k_total"),
            count(col("in_s")).cast("long").as("n_hit_sampled"),
            count(col("in_t")).cast("long").as("n_hit_trained"))
          .select(col("k_total"), col("n_hit_sampled"),
            col("n_hit_trained"),
            (col("n_hit_sampled").cast("double") /
              col("k_total").cast("double")).as("recall_sampled"),
            (col("n_hit_trained").cast("double") /
              col("k_total").cast("double")).as("recall_trained"))
      },
      None)
  )

  /** 64-dim float vector → two 32-bit sign words (`lo` dims 1–32,
    * `hi` dims 33–64) — the production packing
    * ([[graft.llm.EmbeddingSearch.binaryCodes]]) under the column
    * names the oracle CTE uses.
    */
  private def binCodes(emb: org.apache.spark.sql.DataFrame) =
    graft.llm.EmbeddingSearch.binaryCodes(emb, dims = 64)
      .select(col("vec_id"), col("w0").as("lo"), col("w1").as("hi"))

  /** DuckDB spelling of [[binCodes]] (embedding is 1-based LIST). */
  private def binCodesCte: String =
    """codes AS (
      |  SELECT vec_id,
      |    list_reduce(list_transform(range(0, 32), i ->
      |      CASE WHEN embedding[CAST(i + 1 AS INT)] >= 0
      |           THEN (CAST(1 AS BIGINT) << i) ELSE CAST(0 AS BIGINT) END),
      |      (a, b) -> a + b) AS lo,
      |    list_reduce(list_transform(range(0, 32), i ->
      |      CASE WHEN embedding[CAST(i + 33 AS INT)] >= 0
      |           THEN (CAST(1 AS BIGINT) << i) ELSE CAST(0 AS BIGINT) END),
      |      (a, b) -> a + b) AS hi
      |  FROM embeddings
      |)""".stripMargin

  /** Hamming distance of every non-query code to the query's code. */
  private def hamCte: String =
    """ham AS (
      |  SELECT c.vec_id,
      |    CAST(bit_count(xor(c.lo, q.lo)) + bit_count(xor(c.hi, q.hi))
      |         AS INTEGER) AS ham
      |  FROM codes c
      |  CROSS JOIN (SELECT lo, hi FROM codes WHERE vec_id = 0) q
      |  WHERE c.vec_id <> 0
      |)""".stripMargin

  /** Panel prefix-d dot/norm/rank CTEs for [[matryoshkaRow]]:
    * `ptop_d(qid, vec_id)` = prefix-d cosine top-10 per panel query.
    */
  private def matryoshkaCtes(dd: Int): String =
    s"""pdots_$dd AS (
       |  SELECT q.vec_id AS qid, d.vec_id,
       |    CAST(SUM(CAST(d.x * q.x AS DECIMAL(38,12))) AS DOUBLE) AS dp
       |  FROM dexp d JOIN dexp q USING (i)
       |  WHERE q.vec_id < 20 AND d.vec_id <> q.vec_id AND d.i <= $dd
       |  GROUP BY q.vec_id, d.vec_id
       |), pnorms_$dd AS (
       |  SELECT vec_id,
       |    sqrt(CAST(SUM(CAST(x * x AS DECIMAL(38,12))) AS DOUBLE)) AS nrm
       |  FROM dexp WHERE i <= $dd GROUP BY vec_id
       |), ptop_$dd AS (
       |  SELECT qid, vec_id FROM (
       |    SELECT pd.qid, pd.vec_id,
       |      row_number() OVER (PARTITION BY pd.qid
       |        ORDER BY pd.dp / (pn.nrm * pq.nrm) DESC,
       |          pd.vec_id ASC) AS rn
       |    FROM pdots_$dd pd
       |    JOIN pnorms_$dd pn ON pn.vec_id = pd.vec_id
       |    JOIN pnorms_$dd pq ON pq.vec_id = pd.qid)
       |  WHERE rn <= 10
       |)""".stripMargin

  /** One output row of the matryoshka curve for prefix length d. */
  private def matryoshkaRow(dd: Int): String =
    s"""SELECT $dd AS d_prefix, CAST(COUNT(*) AS BIGINT) AS k_total,
       |  CAST(COUNT(p.vec_id) AS BIGINT) AS n_hit,
       |  CAST(COUNT(p.vec_id) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS recall
       |FROM pexact x LEFT JOIN ptop_$dd p
       |  ON p.qid = x.qid AND p.vec_id = x.vec_id""".stripMargin
}

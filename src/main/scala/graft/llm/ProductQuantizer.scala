package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/** Product quantization (Jégou et al., "Product Quantization for
  * Nearest Neighbor Search", TPAMI 2011) — the memory-side half of
  * the ANN stack. The dim-D float vector is split into M contiguous
  * subspaces; each subvector is replaced by the id of its nearest
  * code in a per-subspace codebook of K codes. A 64-dim float vector
  * (256 B) becomes M=8 single-byte codes — a 32× compression that
  * lets a 100 TB embedding corpus serve from a codes table a few TB
  * wide, with the original embeddings read only by the optional
  * re-rank stage.
  *
  * Search is asymmetric distance computation (ADC): the query stays
  * un-quantized; a per-subspace lookup table LUT[m][k] =
  * ‖q_m − C[m][k]‖² (M×K doubles — model metadata) turns each
  * corpus distance into M array lookups + adds. The scan is a narrow
  * codegen'd projection over the codes table — no shuffle, no join,
  * no embedding bytes touched — followed by a TakeOrderedAndProject
  * top-k.
  *
  * Codebooks here are deterministic corpus samples (code k of
  * subspace m = subvector m of the (k+1)-th corpus vector), the same
  * literal-model trick as `EmbeddingSearch.srpBands` planes — no RNG,
  * reproducible cross-engine, and refinable in place by
  * [[refineCodebook]] (per-subspace Lloyd iterations) without
  * changing any downstream shape.
  */
object ProductQuantizer {

  /** Codebook[m][k] = subvector m of the vector with vec_id = k+1,
    * as doubles. M×K×(D/M) values — model metadata, collected once.
    */
  def codebookFromCorpus(emb: DataFrame, numSub: Int,
      codesPerSub: Int): Array[Array[Array[Double]]] = {
    val rows = emb
      .filter(col("vec_id").between(1, codesPerSub))
      .select("vec_id", "embedding")
      .collect()
      .sortBy(_.getLong(0))
      .map(_.getSeq[Float](1).map(_.toDouble).toArray)
    require(rows.length == codesPerSub,
      s"codebookFromCorpus needs vectors with vec_id 1..$codesPerSub " +
        s"(found ${rows.length})")
    val d = rows.head.length
    require(d % numSub == 0,
      s"dim $d not divisible into $numSub subspaces")
    val sub = d / numSub
    Array.tabulate(numSub, codesPerSub) { (m, k) =>
      rows(k).slice(m * sub, (m + 1) * sub)
    }
  }

  /** One or more Lloyd iterations per subspace over the assignment
    * produced by the current codebook. Runs as numSub parallel
    * explode-free passes (one groupBy per iteration over (m, code)
    * keys); empty codes keep their old center. Production path — the
    * means accumulate in exact DECIMAL(38,12) (order- and
    * partitioning-independent, so the trained codebook is
    * deterministic run to run) and divide once at the end.
    */
  def refineCodebook(emb: DataFrame,
      codebook: Array[Array[Array[Double]]],
      iterations: Int = 1): Array[Array[Array[Double]]] = {
    var cb = codebook
    val subs = refineSubs(emb, cb.length, cb(0)(0).length)
    (0 until iterations).foreach { _ =>
      val means = refineMeans(subs, cb)
        .collect()
        .groupBy(r => (r.getInt(0), r.getInt(1)))
        .map { case ((m, k), rs) =>
          (m, k) -> rs.sortBy(_.getInt(2)).map(_.getDouble(3)).toArray
        }
      cb = Array.tabulate(cb.length, cb(0).length) { (m, k) =>
        means.getOrElse((m, k), cb(m)(k))
      }
    }
    cb
  }

  /** The exploded (vec_id, m, sv, ‖sv‖²) subvector frame one Lloyd
    * ladder reuses across iterations — checkpointed, so the explode
    * and the ‖sv‖² dot run ONCE per training run. Hoisting ‖sv‖²
    * here (it is candidate-independent) saves one dot per candidate
    * row in every iteration; the reused value is the same IEEE dot,
    * so every downstream dist is bit-identical.
    */
  private[graft] def refineSubs(emb: DataFrame, numSub: Int,
      sub: Int): DataFrame = {
    val dot = graft.functions.DotDoubleExpr.dotDouble _
    emb.select(col("vec_id"), posexplode(array(
        (0 until numSub).map(m =>
          slice(col("embedding").cast("array<double>"),
            m * sub + 1, sub)): _*)))
      .withColumnRenamed("pos", "m")
      .withColumnRenamed("col", "sv")
      .withColumn("svsv", dot(col("sv"), col("sv")))
      .localCheckpoint()
  }

  /** One Lloyd round's (m, k, pos, mean_x) means frame over the
    * [[refineSubs]] explode — [[refineCodebook]]'s per-iteration
    * body, exposed for plan audits.
    *
    * Two deliberate shape choices, both measured:
    *
    *  - The codebook rides as a BROADCAST TABLE, not a literal
    *    expression tower: only the broadcast DATA changes between
    *    iterations, so the generated code is compiled once per
    *    training run and reused. (Literal-argmin forms — the
    *    [[encode]] shape or a CASE tower — recompile the full M·K
    *    distance tower per iteration: measured +60% on q309, pure
    *    driver-side janino time at this corpus size.)
    *  - The per-(vec, m) argmin is a PIVOTED hash aggregate instead
    *    of a window: min(when(k = kk, dist)) per code (K fixed-width
    *    double buffers — each sees exactly the one candidate row of
    *    its code, so the buffer IS that dist) plus first() of each
    *    sv element (constant within the group), all fixed-width, so
    *    the planner runs a HashAggregate with map-side partial
    *    aggregation: the K candidate rows per group collapse before
    *    the exchange and NOTHING is ever sorted. The window form
    *    exchanged and per-partition-sorted all N·M·K candidate rows
    *    to keep rank 1 (and a min-over-(dist, k)-struct aggregate
    *    would force SortAggregate — struct buffers are not
    *    hash-map-mutable — which is why the pivot, not a struct min).
    *    The winner is then array_min over K (dist, k) scalar structs
    *    — dist first, ties to the smaller k — exactly the window's
    *    (dist ASC, k ASC) rank-1 row, so every assignment and every
    *    mean is bit-identical.
    */
  private[graft] def refineMeans(subs: DataFrame,
      cb: Array[Array[Array[Double]]]): DataFrame = {
    val spark = subs.sparkSession
    val dot = graft.functions.DotDoubleExpr.dotDouble _
    val numK = cb(0).length
    val sub = cb(0)(0).length
    val cbRows = for (m <- cb.indices; k <- cb(m).indices) yield {
      val c = cb(m)(k)
      var s2 = 0.0; var i = 0
      while (i < c.length) { s2 += c(i) * c(i); i += 1 }
      (m, k, c.toSeq, s2)
    }
    val cbDf = spark.createDataFrame(cbRows)
      .toDF("m", "k", "cv", "cnorm")
    val aggs =
      (1 until numK).map(kk =>
        min(when(col("k") === kk, col("dist"))).as(s"_d$kk")) ++
      (0 until sub).map(i => first(col(s"_s$i")).as(s"_s$i"))
    val winner = array_min(array((0 until numK).map(kk =>
      struct(col(s"_d$kk").as("dist"), lit(kk).as("k"))): _*))
      .getField("k")
    subs.join(broadcast(cbDf), "m")
      .select(Seq(col("vec_id"), col("m"), col("k"),
        ((col("svsv") -
          dot(col("sv"), col("cv")) * lit(2.0)) + col("cnorm"))
          .as("dist")) ++
        (0 until sub).map(i => col("sv")(i).as(s"_s$i")): _*)
      .groupBy(col("vec_id"), col("m"))
      .agg(min(when(col("k") === 0, col("dist"))).as("_d0"), aggs: _*)
      .select(col("m"), winner.as("k"), posexplode(array(
        (0 until sub).map(i => col(s"_s$i")): _*)))
      .groupBy(col("m"), col("k"), col("pos"))
      .agg(avg(col("col")
        .cast(org.apache.spark.sql.types.DecimalType(38, 12)))
        .cast(DoubleType).as("mean_x"))
  }

  /** TRAIN a codebook instead of sampling one: deterministic
    * farthest-point (maximin) initialization per subspace — the
    * RNG-free stand-in for k-means++ seeding: code 0 = subvector of
    * the lowest-id sample vector, each next code = the sample
    * subvector maximizing its min squared distance to the codes
    * chosen so far (ties to the lower sample index) — followed by
    * `iterations` distributed Lloyd rounds ([[refineCodebook]]).
    * The init runs on the lowest-`sampleN` corpus vectors collected
    * to the driver (at 100 TB: a fixed-size sample — codebook
    * training is a model-metadata job, never a corpus-wide one);
    * the Lloyd rounds are full corpus passes with exact-decimal
    * means, so the result is deterministic end to end.
    */
  def trainCodebook(emb: DataFrame, numSub: Int, codesPerSub: Int,
      iterations: Int = 3,
      sampleN: Int = 256): Array[Array[Array[Double]]] = {
    val rows = emb
      .filter(col("vec_id").between(1, sampleN))
      .select("vec_id", "embedding")
      .collect()
      .sortBy(_.getLong(0))
      .map(_.getSeq[Float](1).map(_.toDouble).toArray)
    require(rows.length >= codesPerSub,
      s"trainCodebook needs >= $codesPerSub sample vectors " +
        s"(found ${rows.length})")
    val d = rows.head.length
    require(d % numSub == 0,
      s"dim $d not divisible into $numSub subspaces")
    val sub = d / numSub
    def sq(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { val t = a(i) - b(i); s += t * t; i += 1 }
      s
    }
    val init = Array.tabulate(numSub) { m =>
      val subs = rows.map(_.slice(m * sub, (m + 1) * sub))
      val chosen = scala.collection.mutable.ArrayBuffer(subs(0))
      while (chosen.length < codesPerSub) {
        var bestIdx = 0
        var bestD = -1.0
        var i = 0
        while (i < subs.length) {
          var dmin = Double.MaxValue
          chosen.foreach { c =>
            val dd = sq(subs(i), c); if (dd < dmin) dmin = dd
          }
          if (dmin > bestD) { bestD = dmin; bestIdx = i }
          i += 1
        }
        chosen += subs(bestIdx)
      }
      chosen.toArray
    }
    refineCodebook(emb, init, iterations)
  }

  /** Distance from subspace m of the (double-cast) vector column to a
    * literal code, as the plain-double expression
    * ((‖v_m‖² − dp·2) + ‖c‖²) — fixed evaluation order, reproducible
    * by an engine that folds left-to-right.
    */
  private def subDist(vd: Column, m: Int, sub: Int,
      code: Array[Double]): Column = {
    val sv = slice(vd, m * sub + 1, sub)
    val dot = graft.functions.DotDoubleExpr.dotDouble _
    val cnorm = {
      var s = 0.0; var i = 0
      while (i < code.length) { s += code(i) * code(i); i += 1 }
      s
    }
    (dot(sv, sv) - dot(sv, typedLit(code)) * lit(2.0)) + lit(cnorm)
  }

  /** One (vec_id, m, code) row per vector per subspace: code =
    * argmin_k ‖v_m − C[m][k]‖², ties to the smaller k. One narrow
    * shuffle-free pass; the codebook rides as literals.
    */
  def encode(emb: DataFrame,
      codebook: Array[Array[Array[Double]]]): DataFrame = {
    emb.select(col("vec_id"), posexplode(array(
        codeExprs(codebook, col("embedding").cast("array<double>")): _*)))
      .withColumnRenamed("pos", "m")
      .withColumnRenamed("col", "code")
  }

  /** Per-subspace code expressions (the [[encode]] argmin) over the
    * given double-array vector column — shared by encode-to-rows,
    * the fused ADC scans, and the residual variants (which pass the
    * residual column instead of the raw embedding).
    */
  private def codeExprs(codebook: Array[Array[Array[Double]]],
      vd: Column): Seq[Column] = {
    val sub = codebook(0)(0).length
    codebook.indices.map { m =>
      array_min(array(codebook(m).indices.map { kk =>
        struct(subDist(vd, m, sub, codebook(m)(kk)).as("dist"),
          lit(kk).as("k"))
      }: _*)).getField("k")
    }
  }

  // ---- Residual encoding (IVFADC proper, Jégou et al. §V.A) -------
  //
  // Plain PQ quantizes the vector itself; FAISS-style IVFADC
  // quantizes the RESIDUAL r = v − centroid(cell(v)), so one shared
  // codebook only has to cover the within-cell displacement instead
  // of the whole space — a large recall win when cells are tight
  // (real embedding corpora) and a measured no-op when they aren't
  // (the q279 recall row quantifies exactly that on the synthetic
  // corpus, the same measuring-device framing as the matryoshka
  // curve q263). All shapes below stay identical to the plain path:
  // cell assignment + residual + codes + ADC ride in ONE narrow
  // projection — scan → filter → TakeOrderedAndProject, no joins.

  /** The winning (dp, cell) struct of the centroid argmax (ties to
    * the larger label — same struct-max as EmbeddingSearch.ivfTopK).
    * Public single source of truth for assignment semantics; callers
    * needing only the cell use [[cellExprOf]], callers needing the
    * winning dot too (q290's distance recovery) read both fields of
    * ONE shared expression.
    */
  def scoredStructOf(
      centroids: Seq[(Int, Array[Double])]): Column =
    array_max(array(centroids.map { case (lbl, arr) =>
      struct(graft.functions.DotDoubleExpr
          .dotDouble(col("embedding"), typedLit(arr)).as("dp"),
        lit(lbl).as("cell"))
    }: _*))

  /** Cell-assignment expression — see [[scoredStructOf]]. */
  def cellExprOf(
      centroids: Seq[(Int, Array[Double])]): Column =
    scoredStructOf(centroids).getField("cell")

  /** Centroids as a dense matrix indexed by label (labels must be
    * 0..K−1 so `element_at(lit, cell+1)` is the in-plan lookup).
    */
  private def centMatrix(
      centroids: Seq[(Int, Array[Double])]): Array[Array[Double]] = {
    val sorted = centroids.sortBy(_._1)
    require(sorted.map(_._1) == sorted.indices,
      s"residual PQ needs contiguous 0-based cell labels, got " +
        sorted.map(_._1).mkString(","))
    sorted.map(_._2).toArray
  }

  /** Residual of the vector column against its assigned cell's
    * centroid: element-wise double subtraction (exact, single op —
    * reproducible cross-engine).
    */
  private def residualCol(cell: Column,
      cents: Array[Array[Double]]): Column =
    zip_with(col("embedding").cast("array<double>"),
      element_at(typedLit(cents), cell + 1), (x, c) => x - c)

  /** Codebook sampled from corpus RESIDUALS: code k of subspace m =
    * residual subvector m of the vector with vec_id = k+1 (residual
    * against that vector's own cell — computed driver-side with the
    * same fold/tie-break the in-plan assignment uses).
    */
  def residualCodebookFromCorpus(emb: DataFrame,
      centroids: Seq[(Int, Array[Double])], numSub: Int,
      codesPerSub: Int): Array[Array[Array[Double]]] = {
    val cents = centMatrix(centroids)
    val rows = emb
      .filter(col("vec_id").between(1, codesPerSub))
      .select("vec_id", "embedding")
      .collect()
      .sortBy(_.getLong(0))
      .map(_.getSeq[Float](1).map(_.toDouble).toArray)
    require(rows.length == codesPerSub,
      s"residualCodebookFromCorpus needs vectors with vec_id " +
        s"1..$codesPerSub (found ${rows.length})")
    val d = rows.head.length
    require(d % numSub == 0,
      s"dim $d not divisible into $numSub subspaces")
    val sub = d / numSub
    val residuals = rows.map { v =>
      val c = cents(nearestCell(v, centroids))
      Array.tabulate(v.length)(i => v(i) - c(i))
    }
    Array.tabulate(numSub, codesPerSub) { (m, k) =>
      residuals(k).slice(m * sub, (m + 1) * sub)
    }
  }

  /** Driver-side cell assignment: same left-to-right dot fold and
    * (dp, label) max tie-break as the in-plan [[cellExprOf]].
    */
  private def nearestCell(v: Array[Double],
      centroids: Seq[(Int, Array[Double])]): Int =
    centroids.map { case (lbl, c) =>
      var s = 0.0; var i = 0
      while (i < c.length) { s += v(i) * c(i); i += 1 }
      (s, lbl)
    }.maxBy { case (dp, lbl) => (dp, lbl) }._2

  /** One (vec_id, cell, m, code) row per vector per subspace over the
    * RESIDUAL — the stored representation of an IVFADC index. Still
    * one narrow shuffle-free pass; centroids and codebook ride as
    * literals.
    */
  def encodeResidual(emb: DataFrame,
      centroids: Seq[(Int, Array[Double])],
      codebook: Array[Array[Array[Double]]]): DataFrame = {
    val cents = centMatrix(centroids)
    emb
      .select(col("vec_id"), cellExprOf(centroids).as("cell"),
        col("embedding"))
      .withColumn("__rv", residualCol(col("cell"), cents))
      .select(col("vec_id"), col("cell"),
        posexplode(array(codeExprs(codebook, col("__rv")): _*)))
      .withColumnRenamed("pos", "m")
      .withColumnRenamed("col", "code")
  }

  /** Residual IVF-PQ top-k: the query's LUT is PER PROBED CELL
    * (LUT_c[m][k] = ‖(q − centroid_c)_m − C[m][k]‖², nProbe × M × K
    * scaled longs of model metadata), because stored codes quantize
    * residuals against their own cell. Everything else matches
    * [[ivfAdcTopK]]: one narrow projection computes cell, residual
    * codes, and the cell-indexed LUT sum; probed-cell filter; top-k.
    */
  def ivfResidualAdcTopK(spark: SparkSession, emb: DataFrame,
      centroids: Seq[(Int, Array[Double])],
      codebook: Array[Array[Array[Double]]], queryId: Long, k: Int,
      nProbe: Int): DataFrame = {
    val cents = centMatrix(centroids)
    val qv = queryVector(emb, queryId)
    val probed: Seq[Int] = centroids.map { case (lbl, c) =>
      var s = 0.0; var i = 0
      while (i < c.length) { s += qv(i) * c(i); i += 1 }
      (s, lbl)
    }.sortBy { case (dp, lbl) => (-dp, -lbl) }.take(nProbe).map(_._2)
    // LUT for PROBED cells only (nProbe × M × K scaled longs — the
    // documented footprint; unprobed cells never survive the filter,
    // so their LUTs would be dead literal weight in the plan). The
    // cell label remaps to its probe index with a small when-chain.
    val lutByProbe: Array[Array[Array[Long]]] =
      probed.map { lbl =>
        val c = cents(lbl)
        val qr = Array.tabulate(qv.length)(i => qv(i) - c(i))
        adcLut(qr, codebook).map(_.map(d =>
          BigDecimal(d).setScale(12, BigDecimal.RoundingMode.HALF_UP)
            .underlying.unscaledValue.longValueExact))
      }.toArray
    val cell = col("cell")
    val probeIdx = probed.zipWithIndex.tail
      .foldLeft(when(cell === probed.head, lit(0))) {
        case (acc, (p, i)) => acc.when(cell === p, lit(i))
      }
    val ce = codeExprs(codebook, col("__rv"))
    val lutCols = codebook.indices.map { m =>
      val lutM: Array[Array[Long]] =
        probed.indices.map(pi => lutByProbe(pi)(m)).toArray
      element_at(element_at(typedLit(lutM), probeIdx + 1), ce(m) + 1)
    }
    val dist = lutCols.reduce(_ + _).cast(DoubleType) / lit(1e12)
    emb.filter(col("vec_id") =!= queryId)
      .select(col("vec_id"), cellExprOf(centroids).as("cell"),
        col("embedding"))
      .filter(cell.isin(probed: _*))
      .withColumn("__rv", residualCol(cell, cents))
      .select(col("vec_id"), cell, dist.as("adc_dist"))
      .orderBy(col("adc_dist").asc, col("vec_id").asc)
      .limit(k)
  }

  /** The ADC distance Σ_m LUT[m][code_m] as a single Column. The LUT
    * is pre-rounded to scale-12 SCALED LONGS on the driver (identical
    * to the engines' double→DECIMAL(38,12) HALF_UP cast): long adds
    * are exact and associative where chained decimal `+` would shed a
    * scale digit per add under Spark's precision rules, and the final
    * x/1e12 double division is a single correctly-rounded step —
    * bit-identical to DuckDB's decimal→double cast while the scaled
    * sum stays below 2^53.
    */
  private def adcDistCol(qv: Array[Double],
      codebook: Array[Array[Array[Double]]]): Column = {
    val lutScaled: Array[Array[Long]] = adcLut(qv, codebook).map(_.map(
      d => BigDecimal(d).setScale(12, BigDecimal.RoundingMode.HALF_UP)
        .underlying.unscaledValue.longValueExact))
    val ce = codeExprs(codebook, col("embedding").cast("array<double>"))
    val lutCols = codebook.indices.map { m =>
      element_at(typedLit(lutScaled(m)), ce(m) + 1)
    }
    lutCols.reduce(_ + _).cast(DoubleType) / lit(1e12)
  }

  private def queryVector(emb: DataFrame, queryId: Long): Array[Double] = {
    val q = emb.filter(col("vec_id") === queryId)
      .select("embedding").collect()
    require(q.nonEmpty, s"query vec_id $queryId not found")
    q.head.getSeq[Float](0).map(_.toDouble).toArray
  }

  /** ADC top-k for one in-corpus query: LUT[m][k] = ‖q_m − C[m][k]‖²
    * computed on the driver (left-to-right double folds over model
    * metadata), approximate distance = Σ_m LUT[m][code_m] accumulated
    * in exact scaled-long arithmetic. Scans only the codes — a narrow
    * projection + top-k, no joins.
    */
  def adcTopK(spark: SparkSession, emb: DataFrame,
      codebook: Array[Array[Array[Double]]], queryId: Long,
      k: Int): DataFrame = {
    val qv = queryVector(emb, queryId)
    emb
      .filter(col("vec_id") =!= queryId)
      .select(col("vec_id"), adcDistCol(qv, codebook).as("adc_dist"))
      .orderBy(col("adc_dist").asc, col("vec_id").asc)
      .limit(k)
  }

  /** ADC top-k for ONE query served from a STORED codes table
    * (vec_id, m, code) — the per-query serving mode: every query
    * re-scans the codes store with its own literal LUT (flattened to
    * one (M·K)-long array indexed by m·K + code). q322 prices a
    * panel of these sequential scans against [[adcDistsPanel]]'s
    * single shared scan — the broadcast-LUT-join form that amortizes
    * the store read across the whole query batch; results are
    * identical by construction (same codes, same scaled-long sums).
    */
  def adcTopKStored(emb: DataFrame, codes: DataFrame,
      codebook: Array[Array[Array[Double]]], queryId: Long,
      k: Int): DataFrame = {
    val lut = adcLut(queryVector(emb, queryId), codebook)
    val kk = lut(0).length
    val flat: Array[Long] = lut.flatten.map(scaled12)
    codes.filter(col("vec_id") =!= queryId)
      .select(col("vec_id"),
        element_at(typedLit(flat),
          (col("m") * kk + col("code") + 1).cast("int")).as("ds"))
      .groupBy("vec_id")
      .agg((sum(col("ds")).cast(DoubleType) / lit(1e12))
        .as("adc_dist"))
      .orderBy(col("adc_dist").asc, col("vec_id").asc)
      .limit(k)
  }

  /** IVF-PQ: the full-scale ANN serving scan. The coarse quantizer
    * (IVF cells = the label centroids, plain-double argmax as in
    * `EmbeddingSearch.ivfTopK`) prunes the corpus to the query's
    * nProbe nearest cells BEFORE any fine distance math; survivors
    * are scored by ADC from their PQ codes only. At 100 TB with the
    * codes table cell-partitioned, a probe touches nProbe/K of a
    * few-TB codes table and zero embedding bytes — this is the
    * IVFADC structure of Jégou et al. §V. Probe selection is a
    * driver-side fold over K centroid dots (model metadata);
    * cell assignment and ADC ride in ONE narrow projection, so the
    * whole query is scan → filter → TakeOrderedAndProject.
    */
  def ivfAdcTopK(spark: SparkSession, emb: DataFrame,
      centroids: Seq[(Int, Array[Double])],
      codebook: Array[Array[Array[Double]]], queryId: Long, k: Int,
      nProbe: Int): DataFrame = {
    val qv = queryVector(emb, queryId)
    // Same left-to-right double fold as DotDoubleExpr / list_reduce;
    // ties (equal dp) go to the larger cell id, matching the in-plan
    // struct-max and the oracle's ORDER BY dp DESC, clabel DESC.
    val probed: Seq[Int] = centroids.map { case (lbl, c) =>
      var s = 0.0; var i = 0
      while (i < c.length) { s += qv(i) * c(i); i += 1 }
      (s, lbl)
    }.sortBy { case (dp, lbl) => (-dp, -lbl) }.take(nProbe).map(_._2)
    val cellExpr = array_max(array(centroids.map { case (lbl, arr) =>
      struct(graft.functions.DotDoubleExpr
          .dotDouble(col("embedding"), typedLit(arr)).as("dp"),
        lit(lbl).as("cell"))
    }: _*)).getField("cell")
    emb.filter(col("vec_id") =!= queryId)
      .select(col("vec_id"), cellExpr.as("cell"),
        adcDistCol(qv, codebook).as("adc_dist"))
      .filter(col("cell").isin(probed: _*))
      .orderBy(col("adc_dist").asc, col("vec_id").asc)
      .limit(k)
  }

  /** IVF-PQ + exact re-rank: the three-stage serving pipeline. Stage
    * 1-2 ([[ivfAdcTopK]]) produce a `shortlist`-deep candidate set
    * from codes alone; stage 3 reads the ORIGINAL embeddings for just
    * those candidates and re-ranks by exact-decimal cosine. At scale
    * the embedding fetch is `shortlist` point lookups (a broadcast
    * semi-join against the shortlist), not a scan — the only stage
    * that touches full-width vectors.
    */
  def ivfAdcRerank(spark: SparkSession, emb: DataFrame,
      centroids: Seq[(Int, Array[Double])],
      codebook: Array[Array[Array[Double]]], queryId: Long,
      shortlist: Int, k: Int, nProbe: Int): DataFrame = {
    val fdot = graft.functions.DotExactExpr.dotExactFast _
    def fnorm(c: Column) = sqrt(fdot(c, c))
    val short = ivfAdcTopK(spark, emb, centroids, codebook, queryId,
      shortlist, nProbe).select("vec_id")
    val qvCol = emb.filter(col("vec_id") === queryId)
      .select(col("embedding").as("q_emb"))
    short
      .join(emb, "vec_id")
      .crossJoin(broadcast(qvCol))
      .select(col("vec_id"),
        (fdot(col("embedding"), col("q_emb")) /
          (fnorm(col("embedding")) * fnorm(col("q_emb"))))
          .as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id").asc)
      .limit(k)
  }

  /** Scale-12 scaled-long of a double (the engines' double →
    * DECIMAL(38,12) HALF_UP cast) — the exact-sum trick of
    * [[adcDistCol]], reused by the panel LUT tables.
    */
  private def scaled12(d: Double): Long =
    BigDecimal(d).setScale(12, BigDecimal.RoundingMode.HALF_UP)
      .underlying.unscaledValue.longValueExact

  /** ADC distances for a PANEL of in-corpus queries (vec_id <
    * panelN) in ONE pass: per-query LUTs ride as a broadcast
    * (panelN × M × K)-row table joined to the codes on (m, code) —
    * the multi-query generalization of [[adcTopK]]'s literal LUT.
    * Returns (qid, vec_id, adc_dist) for every non-self pair; at
    * 100 TB the codes scan is shared by the whole panel instead of
    * re-run per query. Distances are scaled-long sums / 1e12 —
    * bit-identical to a DECIMAL(38,12) accumulation.
    */
  def adcDistsPanel(spark: SparkSession, emb: DataFrame,
      codebook: Array[Array[Array[Double]]], panelN: Long,
      codes: Option[DataFrame] = None): DataFrame = {
    import spark.implicits._
    val qrows = emb.filter(col("vec_id") < panelN)
      .select("vec_id", "embedding").collect()
    val lutRows = qrows.toSeq.flatMap { r =>
      val qid = r.getLong(0)
      val qv = r.getSeq[Float](1).map(_.toDouble).toArray
      val lut = adcLut(qv, codebook)
      for (m <- lut.indices; k <- lut(m).indices)
        yield (qid, m, k, scaled12(lut(m)(k)))
    }.toDF("qid", "lm", "lk", "ldist_scaled")
    // codes: a pre-materialized (vec_id, m, code) table (the stored
    // index a serving deployment reads) or a fresh encode pass
    codes.getOrElse(encode(emb, codebook))
      .join(broadcast(lutRows),
        col("m") === col("lm") && col("code") === col("lk"))
      .filter(col("vec_id") =!= col("qid"))
      .groupBy("qid", "vec_id")
      .agg((sum(col("ldist_scaled")).cast(DoubleType) / lit(1e12))
        .as("adc_dist"))
  }

  /** Residual-ADC distances for a panel of in-corpus queries over
    * their probed cells only — the multi-query generalization of
    * [[ivfResidualAdcTopK]]. Per query the LUT is PER PROBED CELL
    * (LUT_c[m][k] = ‖(q − centroid_c)_m − C[m][k]‖²), so the
    * broadcast table is (panelN × nProbe × M × K) rows keyed by
    * (qid, cell, m, k); stored residual codes join it on (cell, m,
    * code) and only (query, vector) pairs in probed cells survive —
    * exactly the IVFADC pruning, shared across the panel in one
    * codes-scan.
    */
  def residualAdcDistsPanel(spark: SparkSession, emb: DataFrame,
      centroids: Seq[(Int, Array[Double])],
      codebook: Array[Array[Array[Double]]], panelN: Long,
      nProbe: Int, codes: Option[DataFrame] = None): DataFrame = {
    import spark.implicits._
    val cents = centMatrix(centroids)
    val qrows = emb.filter(col("vec_id") < panelN)
      .select("vec_id", "embedding").collect()
    val lutRows = qrows.toSeq.flatMap { r =>
      val qid = r.getLong(0)
      val qv = r.getSeq[Float](1).map(_.toDouble).toArray
      val probed: Seq[Int] = centroids.map { case (lbl, c) =>
        var s = 0.0; var i = 0
        while (i < c.length) { s += qv(i) * c(i); i += 1 }
        (s, lbl)
      }.sortBy { case (dp, lbl) => (-dp, -lbl) }.take(nProbe).map(_._2)
      probed.flatMap { cell =>
        val c = cents(cell)
        val qr = Array.tabulate(qv.length)(i => qv(i) - c(i))
        val lut = adcLut(qr, codebook)
        for (m <- lut.indices; k <- lut(m).indices)
          yield (qid, cell, m, k, scaled12(lut(m)(k)))
      }
    }.toDF("qid", "lcell", "lm", "lk", "ldist_scaled")
    codes.getOrElse(encodeResidual(emb, centroids, codebook))
      .join(broadcast(lutRows),
        col("cell") === col("lcell") && col("m") === col("lm") &&
          col("code") === col("lk"))
      .filter(col("vec_id") =!= col("qid"))
      .groupBy("qid", "vec_id")
      .agg((sum(col("ldist_scaled")).cast(DoubleType) / lit(1e12))
        .as("adc_dist"))
  }

  /** LUT[m][k] = ((‖q_m‖² − (q_m·C[m][k])·2) + ‖C[m][k]‖²), every
    * fold left-to-right in double — bit-identical to the in-plan
    * [[subDist]] arithmetic and to a list_reduce fold.
    */
  def adcLut(query: Array[Double],
      codebook: Array[Array[Array[Double]]]): Array[Array[Double]] = {
    val sub = codebook(0)(0).length
    Array.tabulate(codebook.length, codebook(0).length) { (m, k) =>
      val qs = query.slice(m * sub, (m + 1) * sub)
      val c = codebook(m)(k)
      var nq = 0.0; var dp = 0.0; var nc = 0.0; var i = 0
      while (i < sub) {
        nq += qs(i) * qs(i); dp += qs(i) * c(i); nc += c(i) * c(i)
        i += 1
      }
      (nq - dp * 2.0) + nc
    }
  }
}

package graft.queries

import graft.Tables._
import org.apache.spark.sql.functions._

/** Deterministic sampling / split assignment for training-data
  * pipelines. Both use HASH-MOD sampling (a stable hash of the key
  * mapped to a bucket) rather than RNG: reproducible across engines,
  * retries, partitionings and re-runs — the property an RNG-based
  * `sample()` cannot give a 100 TB pipeline, and what makes the
  * DuckDB oracle possible at all. md5 is the portable hash; the first
  * two hex chars give 256 buckets, compared as strings (bytewise ==
  * numeric on fixed-width lowercase hex, so no engine-specific
  * hex-to-int conversion is needed).
  */
object SamplingQueries {

  private def bucket(c: org.apache.spark.sql.Column) =
    substring(md5(c.cast("string")), 1, 2)

  private val sqlBucket = "substring(md5(CAST(doc_id AS VARCHAR)), 1, 2)"

  val all: Seq[QueryDef] = Seq(
    // ~5% reproducible corpus sample: buckets 00..0c = 13 of 256.
    QueryDef(
      "q73_hash_sample",
      (s, d) =>
        documents(s, d)
          .filter(bucket(col("doc_id")) < "0d")
          .select(col("doc_id"), col("lang"))
          .orderBy("doc_id"),
      Some(s"""SELECT doc_id, lang FROM documents
              |WHERE $sqlBucket < '0d'
              |ORDER BY doc_id""".stripMargin)),

    // Train/val/test assignment: 80/10/10 by hash bucket (cd = 205,
    // e6 = 230 of 256) — stable under corpus growth: a document's
    // split never changes when new documents arrive, unlike
    // position- or RNG-based splits.
    QueryDef(
      "q74_split_assign",
      (s, d) => {
        val b = bucket(col("doc_id"))
        documents(s, d)
          .select(col("doc_id"),
            when(b < "cd", "train").when(b < "e6", "val")
              .otherwise("test").as("split"))
          .orderBy("doc_id")
      },
      Some(s"""SELECT doc_id,
              |  CASE WHEN $sqlBucket < 'cd' THEN 'train'
              |       WHEN $sqlBucket < 'e6' THEN 'val'
              |       ELSE 'test' END AS split
              |FROM documents ORDER BY doc_id""".stripMargin)),

    // Mixture-weighted sampling (data mixing): per-source sampling
    // rates — here lang 'en' kept at ~25% (buckets < '40' = 64/256)
    // and every other lang at ~6% ('10' = 16/256) — the upweighting /
    // downweighting step that composes a training mixture from
    // heterogeneous sources, still fully deterministic.
    QueryDef(
      "q75_mixture_sample",
      (s, d) => {
        val b = bucket(col("doc_id"))
        documents(s, d)
          .filter(when(col("lang") === "en", b < "40").otherwise(b < "10"))
          .groupBy("lang")
          .agg(count(lit(1)).as("n_sampled"))
          .orderBy("lang")
      },
      Some(s"""SELECT lang, COUNT(*) AS n_sampled FROM documents
              |WHERE CASE WHEN lang = 'en' THEN $sqlBucket < '40'
              |           ELSE $sqlBucket < '10' END
              |GROUP BY lang ORDER BY lang""".stripMargin)),

    // Per-document CONTINUOUS keep-probability (quality-weighted
    // downsampling, the corpus-rebalancing standard): keep doc iff
    // uniform(doc_id) < weight(doc), weight here length-proportional
    // capped at 1. The uniform is the first 8 md5 hex chars as a
    // 32-bit integer — deterministic, engine-portable, stable under
    // corpus growth — against weight * 2^32 in plain IEEE double ops
    // (identical cross-engine). Unlike q75's per-group thresholds,
    // every document carries its own probability; still one
    // stateless map-side filter at 100 TB — no RNG, no shuffle.
    QueryDef(
      "q149_weighted_sample",
      (s, d) => {
        val u = conv(substring(md5(col("doc_id").cast("string")), 1, 8),
          16, 10).cast("long")
        val w = least(lit(1.0), col("n_chars") / lit(4000.0))
        documents(s, d)
          .filter(u.cast("double") < w * lit(4294967296.0))
          .select(col("doc_id"), col("lang"), col("n_chars"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id, lang, n_chars FROM documents
             |WHERE CAST(('0x' ||
             |    substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))
             |    AS BIGINT)
             |  < least(1.0, n_chars / 4000.0) * 4294967296.0
             |ORDER BY doc_id""".stripMargin)),

    // Weighted sampling WITHOUT replacement, fixed size k: priority
    // sampling (Duffield/Lund/Thorup). Each row gets priority
    // w / u with u uniform in (0, 1]; the k highest priorities are a
    // weight-proportional sample with no replacement and no second
    // pass. u derives from md5 (u = (h32 + 1) / 2^32) so the sample
    // is deterministic and engine-portable; the arithmetic is one
    // exact power-of-two scale (n_chars * 2^32 < 2^53) and one
    // correctly-rounded IEEE division — bit-identical in any engine.
    // At 100 TB this is a TakeOrderedAndProject: per-partition heaps
    // of k, one k-row merge at the driver, no sort, no shuffle of the
    // data — the same plan shape as q11/q68.
    QueryDef(
      "q153_priority_sample",
      (s, d) => {
        val u32 = conv(substring(md5(col("doc_id").cast("string")), 1, 8),
          16, 10).cast("long")
        val prio = (col("n_chars").cast("double") * lit(4294967296.0)) /
          (u32 + lit(1L)).cast("double")
        documents(s, d)
          .select(col("doc_id"), col("lang"), col("n_chars"),
            prio.as("priority"))
          .orderBy(col("priority").desc, col("doc_id").asc)
          .limit(40)
      },
      Some("""SELECT doc_id, lang, n_chars,
             |  CAST(n_chars AS DOUBLE) * 4294967296.0 /
             |    (CAST(('0x' ||
             |      substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))
             |      AS BIGINT) + 1) AS priority
             |FROM documents
             |ORDER BY priority DESC, doc_id ASC
             |LIMIT 40""".stripMargin)),

    // Distribution matching: downsample every language to the
    // smallest language's share, with the keep-rate COMPUTED from the
    // data (min_count / lang_count) rather than hard-coded (q75's
    // fixed mixture). The rate table is O(|langs|) and broadcast; the
    // keep decision is the q153 md5-uniform against the rate —
    // stateless, seedless, reproducible, and stable under corpus
    // growth (a doc's keep bit only changes if its lang's rate does).
    // One count agg + one broadcast-joined map-side filter at any
    // scale.
    QueryDef(
      "q171_distribution_match",
      (s, d) => {
        val docs = documents(s, d)
        val counts = docs.groupBy("lang")
          .agg(count(lit(1)).as("n_lang"))
        val minN = counts.agg(min(col("n_lang")).as("n_min"))
        val rates = counts.crossJoin(broadcast(minN))
          .select(col("lang"), col("n_lang"),
            (col("n_min").cast("double") / col("n_lang")).as("rate"))
        val u = conv(substring(md5(col("doc_id").cast("string")), 1, 8),
          16, 10).cast("long").cast("double") / lit(4294967296.0)
        docs.join(broadcast(rates), "lang")
          .filter(u < col("rate"))
          .groupBy("lang", "n_lang", "rate")
          .agg(count(lit(1)).as("n_kept"))
          .orderBy("lang")
      },
      Some("""WITH counts AS (
             |  SELECT lang, COUNT(*) AS n_lang FROM documents GROUP BY lang
             |), rates AS (
             |  SELECT lang, n_lang,
             |    CAST((SELECT MIN(n_lang) FROM counts) AS DOUBLE) / n_lang
             |      AS rate
             |  FROM counts
             |)
             |SELECT lang, n_lang, rate, COUNT(*) AS n_kept
             |FROM documents JOIN rates USING (lang)
             |WHERE CAST(CAST(('0x' ||
             |    substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))
             |    AS BIGINT) AS DOUBLE) / 4294967296.0 < rate
             |GROUP BY lang, n_lang, rate
             |ORDER BY lang""".stripMargin)),

    // Temperature-scaled source mixture — the multinomial upsampling
    // weights every multi-source training run needs (UnifiedQA /
    // mT5-style: w_s ∝ n_s^α with α = 0.5, flattening the source
    // distribution so head domains don't drown the tail). Counting is
    // one hash-agg; the normalizing denominator is an O(sources)
    // aggregate. Determinism: sqrt is correctly rounded in BOTH
    // engines, and the denominator (a sum of doubles, which is
    // order-dependent in general) is accumulated via the Exact
    // decimal trick — cast each sqrt to DECIMAL(38,12), sum exactly,
    // round once at scale 6 — so the division sees bit-identical
    // operands regardless of partitioning.
    QueryDef(
      "q178_temperature_mixture",
      (s, d) => {
        import org.apache.spark.sql.types.{DecimalType, DoubleType}
        val counts = documents(s, d)
          .groupBy("source").agg(count(lit(1)).as("n_docs"))
        val den = counts.agg(
          sum(sqrt(col("n_docs").cast(DoubleType))
            .cast(DecimalType(38, 12)))
            .cast(DecimalType(38, 6)).cast(DoubleType).as("denom"))
        val w = sqrt(col("n_docs").cast(DoubleType)) / col("denom")
        counts.crossJoin(broadcast(den))
          .select(col("source"), col("n_docs"), w.as("weight"),
            floor(lit(1000000.0) * w).as("target_docs"))
          .orderBy("source")
      },
      Some("""WITH c AS (
             |  SELECT source, COUNT(*) AS n_docs
             |  FROM documents GROUP BY source
             |), den AS (
             |  SELECT CAST(round(SUM(CAST(sqrt(CAST(n_docs AS DOUBLE))
             |    AS DECIMAL(38,12))), 6) AS DOUBLE) AS denom
             |  FROM c
             |)
             |SELECT source, n_docs,
             |  sqrt(CAST(n_docs AS DOUBLE)) / denom AS weight,
             |  CAST(floor(1000000.0 *
             |    (sqrt(CAST(n_docs AS DOUBLE)) / denom)) AS BIGINT)
             |    AS target_docs
             |FROM c CROSS JOIN den
             |ORDER BY source""".stripMargin)),

    // Stratified quota sampling: EXACTLY k documents per source,
    // chosen by deterministic md5 order — the reproducible balanced
    // subsample an eval-set or ablation build takes from a skewed
    // corpus (contrast q153's probabilistic weighted sampling, which
    // only hits a quota in expectation). Rides the GroupedTopK
    // physical operator (q165's partial/final bounded-heap pair), so
    // at 100 TB nothing is globally sorted and the exchange carries
    // k·|sources| rows, never the corpus; the md5 tie-break makes
    // the kept set partition-invariant and the oracle's row_number
    // selects the identical rows.
    QueryDef(
      "q195_stratified_quota",
      (s, d) => {
        val docs = documents(s, d)
          .select(col("source"), col("doc_id"),
            md5(col("doc_id").cast("string")).as("__h"))
        graft.plans.GroupedTopK
          .of(docs, Seq("source"),
            Seq(col("__h").asc, col("doc_id").asc), 50)
          .select("source", "doc_id")
          .orderBy("source", "doc_id")
      },
      Some("""SELECT source, doc_id FROM (
             |  SELECT source, doc_id,
             |    row_number() OVER (PARTITION BY source
             |      ORDER BY md5(CAST(doc_id AS VARCHAR)) ASC,
             |        doc_id ASC) AS rn
             |  FROM documents)
             |WHERE rn <= 50
             |ORDER BY source, doc_id""".stripMargin)),

    // Deterministic epoch shuffle — the reproducible global reorder a
    // training run needs per epoch, built HIERARCHICALLY so it scales:
    // shard = hash(epoch, doc) mod 8 (stateless map-side routing, no
    // global coordination) and the order WITHIN a shard is a local
    // sort on the same hash — no global sort ever happens, which is
    // exactly how a 100 TB epoch shuffle ships (shard files, then
    // shard-local order). Same doc, different epoch → different
    // shard and rank; same (epoch, doc) on any engine/partitioning →
    // identical placement. Gate shows epoch 1's first 3 docs per
    // shard (GroupedTopK: bounded per-shard heaps, not a window over
    // the corpus).
    QueryDef(
      "q235_epoch_shuffle",
      (s, d) => {
        val key = conv(substring(
          md5(concat(lit("1#"), col("doc_id").cast("string"))),
          1, 13), 16, 10).cast("long")
        val assigned = documents(s, d)
          .select(col("doc_id"), key.as("k"))
          .withColumn("shard", col("k") % 8)
        val top = graft.plans.GroupedTopK.of(assigned, Seq("shard"),
          Seq(col("k").asc, col("doc_id").asc), 3)
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("shard").orderBy(col("k").asc, col("doc_id").asc)
        top
          .withColumn("rank", row_number().over(w).cast("long"))
          .select(col("shard"), col("rank"), col("doc_id"))
          .orderBy("shard", "rank")
      },
      Some("""WITH a AS (
             |  SELECT doc_id,
             |    CAST('0x' || substr(md5('1#' ||
             |      CAST(doc_id AS VARCHAR)), 1, 13) AS BIGINT) AS k
             |  FROM documents
             |), sh AS (
             |  SELECT doc_id, k, k % 8 AS shard FROM a
             |)
             |SELECT shard, CAST(rank AS BIGINT) AS rank, doc_id FROM (
             |  SELECT shard, doc_id,
             |    row_number() OVER (PARTITION BY shard
             |      ORDER BY k ASC, doc_id ASC) AS rank
             |  FROM sh)
             |WHERE rank <= 3
             |ORDER BY shard, rank""".stripMargin)),

    // Contrastive negative sampling — the (anchor, positive, negative)
    // triplet construction an embedding-training pipeline runs:
    // positives = the anchor's top-3 exact-cosine neighbors (self
    // excluded), negatives = 3 docs drawn by deterministic hash order
    // among everything NOT positive and not the anchor (hash-ordered ≡
    // uniform-without-replacement, but reproducible and oracle-able —
    // the q73 stance against RNG). SCALE CONTRACT: the anchor set here
    // is a CORPUS FRACTION (vec_id % 100), so the exact-cosine
    // positive pass is anchors × corpus brute force and
    // broadcast(anchors) grows with the corpus — acceptable as an
    // oracle gate at sf scale, NOT the production shape. At 100 TB
    // mine positives through the IVF index instead:
    // ContrastiveSampling.triplets routes the positive pass through
    // EmbeddingSearch.ivfTopKBatch (keyed cell shuffle, no anchor
    // broadcast) and is parity-pinned against this exact form in
    // ContrastiveSamplingSpec. Both top-k cuts ride GroupedTopK's
    // bounded heaps.
    QueryDef(
      "q236_negative_sampling",
      (s, d) => {
        def fdot(a: org.apache.spark.sql.Column,
            b: org.apache.spark.sql.Column) =
          graft.functions.DotExactExpr.dotExactFast(a, b)
        val embN = embeddings(s, d)
          .select(col("vec_id"), col("embedding"),
            sqrt(fdot(col("embedding"), col("embedding"))).as("nrm"))
        val anchors = embN.filter(col("vec_id") % 100 === 7)
          .select(col("vec_id").as("anchor"),
            col("embedding").as("a_emb"), col("nrm").as("anrm"))
        val cos = embN.crossJoin(broadcast(anchors))
          .filter(col("vec_id") =!= col("anchor"))
          .select(col("anchor"), col("vec_id").as("doc_id"),
            (fdot(col("embedding"), col("a_emb")) /
              (col("nrm") * col("anrm"))).as("cos_sim"))
        val wP = org.apache.spark.sql.expressions.Window
          .partitionBy("anchor")
          .orderBy(col("cos_sim").desc, col("doc_id").asc)
        val pos = graft.plans.GroupedTopK.of(cos, Seq("anchor"),
          Seq(col("cos_sim").desc, col("doc_id").asc), 3)
          .withColumn("rank", row_number().over(wP).cast("long"))
          .select(col("anchor"), col("rank"), col("doc_id"))
        val negKey = conv(substring(md5(concat(
          col("anchor").cast("string"), lit("#"),
          col("doc_id").cast("string"))), 1, 13), 16, 10).cast("long")
        val eligible = embN.select(col("vec_id").as("doc_id"))
          .crossJoin(broadcast(anchors.select("anchor")))
          .filter(col("doc_id") =!= col("anchor"))
          .join(pos.select(col("anchor"), col("doc_id")),
            Seq("anchor", "doc_id"), "left_anti")
          .withColumn("k", negKey)
        val wN = org.apache.spark.sql.expressions.Window
          .partitionBy("anchor").orderBy(col("k").asc, col("doc_id").asc)
        val neg = graft.plans.GroupedTopK.of(eligible, Seq("anchor"),
          Seq(col("k").asc, col("doc_id").asc), 3)
          .withColumn("rank", row_number().over(wN).cast("long"))
          .select(col("anchor"), col("rank"), col("doc_id"))
        pos.withColumn("role", lit("pos"))
          .unionByName(neg.withColumn("role", lit("neg")))
          .select(col("anchor"), col("role"), col("rank"), col("doc_id"))
          .orderBy(col("anchor"), col("role").desc, col("rank"))
      },
      Some("""WITH dexp AS (
             |  SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
             |    generate_subscripts(embedding, 1) AS i
             |  FROM embeddings
             |), norms AS (
             |  SELECT vec_id,
             |    sqrt(CAST(SUM(CAST(x * x AS DECIMAL(38,12)))
             |      AS DOUBLE)) AS nrm
             |  FROM dexp GROUP BY vec_id
             |), qd AS (
             |  SELECT vec_id AS anchor, i, x AS y FROM dexp
             |  WHERE vec_id % 100 = 7
             |), dots AS (
             |  SELECT q.anchor, d.vec_id,
             |    CAST(SUM(CAST(d.x * q.y AS DECIMAL(38,12)))
             |      AS DOUBLE) AS dp
             |  FROM dexp d JOIN qd q USING (i)
             |  GROUP BY q.anchor, d.vec_id
             |), pos AS (
             |  SELECT anchor, CAST(r AS BIGINT) AS rank, doc_id FROM (
             |    SELECT dt.anchor, dt.vec_id AS doc_id,
             |      row_number() OVER (PARTITION BY dt.anchor
             |        ORDER BY dt.dp / (nd.nrm * nq.nrm) DESC,
             |          dt.vec_id ASC) AS r
             |    FROM dots dt
             |    JOIN norms nd ON nd.vec_id = dt.vec_id
             |    JOIN norms nq ON nq.vec_id = dt.anchor
             |    WHERE dt.vec_id <> dt.anchor)
             |  WHERE r <= 3
             |), anch AS (
             |  SELECT DISTINCT vec_id AS anchor FROM embeddings
             |  WHERE vec_id % 100 = 7
             |), neg AS (
             |  SELECT anchor, CAST(r AS BIGINT) AS rank, doc_id FROM (
             |    SELECT a.anchor, e.vec_id AS doc_id,
             |      row_number() OVER (PARTITION BY a.anchor
             |        ORDER BY CAST('0x' || substr(md5(
             |          CAST(a.anchor AS VARCHAR) || '#' ||
             |          CAST(e.vec_id AS VARCHAR)), 1, 13) AS BIGINT)
             |          ASC, e.vec_id ASC) AS r
             |    FROM anch a
             |    JOIN embeddings e ON e.vec_id <> a.anchor
             |    WHERE NOT EXISTS (
             |      SELECT 1 FROM pos p
             |      WHERE p.anchor = a.anchor AND p.doc_id = e.vec_id))
             |  WHERE r <= 3
             |)
             |SELECT anchor, role, rank, doc_id FROM (
             |  SELECT anchor, 'pos' AS role, rank, doc_id FROM pos
             |  UNION ALL
             |  SELECT anchor, 'neg' AS role, rank, doc_id FROM neg)
             |ORDER BY anchor, role DESC, rank""".stripMargin)),

    // SEMI-HARD negative mining — the refinement contrastive training
    // actually wants over q236's uniform negatives (Schroff et al.
    // CVPR'15: negatives NEAR the anchor teach more than random ones,
    // but the very nearest are often unlabeled positives): take
    // cosine ranks kPos+1 .. kPos+kNeg — the band just past the
    // mined positives. Same anchors × corpus exact-cosine oracle
    // shape as q236 (the gate form); at scale the band comes from the
    // SAME ivfTopKBatch call that mines positives with
    // k = kPos + kNeg (ContrastiveSampling.minePositives — one probe
    // pays for both roles), which is why the declared ranks are a
    // contiguous prefix band rather than an independent sample.
    QueryDef(
      "q245_semihard_negatives",
      (s, d) => {
        def fdot(a: org.apache.spark.sql.Column,
            b: org.apache.spark.sql.Column) =
          graft.functions.DotExactExpr.dotExactFast(a, b)
        val embN = embeddings(s, d)
          .select(col("vec_id"), col("embedding"),
            sqrt(fdot(col("embedding"), col("embedding"))).as("nrm"))
        val anchors = embN.filter(col("vec_id") % 100 === 7)
          .select(col("vec_id").as("anchor"),
            col("embedding").as("a_emb"), col("nrm").as("anrm"))
        val cos = embN.crossJoin(broadcast(anchors))
          .filter(col("vec_id") =!= col("anchor"))
          .select(col("anchor"), col("vec_id").as("doc_id"),
            (fdot(col("embedding"), col("a_emb")) /
              (col("nrm") * col("anrm"))).as("cos_sim"))
        val wP = org.apache.spark.sql.expressions.Window
          .partitionBy("anchor")
          .orderBy(col("cos_sim").desc, col("doc_id").asc)
        graft.plans.GroupedTopK.of(cos, Seq("anchor"),
          Seq(col("cos_sim").desc, col("doc_id").asc), 6)
          .withColumn("rank", row_number().over(wP).cast("long"))
          .filter(col("rank").between(4, 6))
          .select(col("anchor"), col("rank"), col("doc_id"))
          .orderBy("anchor", "rank")
      },
      Some("""WITH dexp AS (
             |  SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
             |    generate_subscripts(embedding, 1) AS i
             |  FROM embeddings
             |), norms AS (
             |  SELECT vec_id,
             |    sqrt(CAST(SUM(CAST(x * x AS DECIMAL(38,12)))
             |      AS DOUBLE)) AS nrm
             |  FROM dexp GROUP BY vec_id
             |), qd AS (
             |  SELECT vec_id AS anchor, i, x AS y FROM dexp
             |  WHERE vec_id % 100 = 7
             |), dots AS (
             |  SELECT q.anchor, d.vec_id,
             |    CAST(SUM(CAST(d.x * q.y AS DECIMAL(38,12)))
             |      AS DOUBLE) AS dp
             |  FROM dexp d JOIN qd q USING (i)
             |  GROUP BY q.anchor, d.vec_id
             |)
             |SELECT anchor, CAST(r AS BIGINT) AS rank, doc_id FROM (
             |  SELECT dt.anchor, dt.vec_id AS doc_id,
             |    row_number() OVER (PARTITION BY dt.anchor
             |      ORDER BY dt.dp / (nd.nrm * nq.nrm) DESC,
             |        dt.vec_id ASC) AS r
             |  FROM dots dt
             |  JOIN norms nd ON nd.vec_id = dt.vec_id
             |  JOIN norms nq ON nq.vec_id = dt.anchor
             |  WHERE dt.vec_id <> dt.anchor)
             |WHERE r BETWEEN 4 AND 6
             |ORDER BY anchor, r""".stripMargin)),

    // Dataset MIXTURE resampling — the knob between corpus prep and
    // training: rebalance per-source contributions to a target mix
    // (uniform here: every source capped to the smallest source's
    // count) by deterministic hash order, so the "random" subset is
    // reproducible across runs and engines (the q73 no-RNG stance).
    // The selected-id checksum pins WHICH docs were chosen, not just
    // how many. At 100 TB: one per-source count (K rows), one
    // rank-within-source window (shuffle keyed by source — bounded
    // groups; a heavily skewed source bounds at its own size, and the
    // hash-order rank needs no global sort), one per-source re-agg.
    QueryDef(
      "q246_mixture_resample",
      (s, d) => {
        val key = conv(substring(md5(concat(lit("mix#"),
          col("doc_id").cast("string"))), 1, 13), 16, 10).cast("long")
        val docs0 = documents(s, d)
          .select(col("source"), col("doc_id"))
          .withColumn("k", key)
        val counts = docs0.groupBy("source")
          .agg(count(lit(1)).cast("long").as("n_docs"))
        val nmin = counts.agg(min(col("n_docs")).as("n_target"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("source").orderBy(col("k").asc, col("doc_id").asc)
        docs0
          .withColumn("r", row_number().over(w).cast("long"))
          .crossJoin(broadcast(nmin))
          .filter(col("r") <= col("n_target"))
          .groupBy("source")
          .agg(count(lit(1)).cast("long").as("n_selected"),
            sum(col("doc_id")).cast("long").as("sel_docid_sum"),
            first(col("n_target")).as("n_target"))
          .join(broadcast(counts), "source")
          .select(col("source"), col("n_docs"), col("n_target"),
            col("n_selected"), col("sel_docid_sum"))
          .orderBy("source")
      },
      Some("""WITH d0 AS (
             |  SELECT source, doc_id,
             |    CAST('0x' || substr(md5('mix#' ||
             |      CAST(doc_id AS VARCHAR)), 1, 13) AS BIGINT) AS k
             |  FROM documents
             |), counts AS (
             |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs
             |  FROM d0 GROUP BY source
             |), nmin AS (
             |  SELECT CAST(MIN(n_docs) AS BIGINT) AS n_target
             |  FROM counts
             |), ranked AS (
             |  SELECT source, doc_id,
             |    CAST(row_number() OVER (PARTITION BY source
             |      ORDER BY k ASC, doc_id ASC) AS BIGINT) AS r
             |  FROM d0
             |), sel AS (
             |  SELECT source,
             |    CAST(COUNT(*) AS BIGINT) AS n_selected,
             |    CAST(SUM(doc_id) AS BIGINT) AS sel_docid_sum
             |  FROM ranked CROSS JOIN nmin
             |  WHERE r <= n_target GROUP BY source
             |)
             |SELECT c.source, c.n_docs, nmin.n_target,
             |  s.n_selected, s.sel_docid_sum
             |FROM counts c
             |JOIN sel s ON s.source = c.source
             |CROSS JOIN nmin
             |ORDER BY c.source""".stripMargin))
  )
}

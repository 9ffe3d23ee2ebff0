package graft.llm

import graft.{SparkFixture, Tables}
import graft.functions.CosineSimilarityExpr
import graft.functions.VectorFunctions
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

class LlmSpec extends AnyFunSuite with SparkFixture with Matchers {

  private val sfDir = "/root/testdata/sf0.001"

  private lazy val plantedDocs = {
    val s = spark
    import s.implicits._
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    Seq(
      (1L, base),
      (2L, base + " phi"),                     // near-dup of 1
      (3L, "one two three four five six seven eight nine ten eleven twelve"),
      (4L, "red green blue cyan magenta yellow black white gray pink teal navy"))
      .toDF("doc_id", "text")
  }

  test("MinHashDedup finds planted near-dups, skips unrelated docs") {
    val pairs = MinHashDedup.nearDuplicates(plantedDocs, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    pairs shouldBe Array((1L, 2L))
  }

  test("spark.ml MinHashLSH variant agrees on the planted pair") {
    val pairs = MinHashDedup.candidatePairsML(plantedDocs,
        maxJaccardDistance = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    pairs should contain((1L, 2L))
    pairs should not contain ((3L, 4L))
  }

  test("cosine_fast expression ≈ exact decimal cosine on real embeddings") {
    val emb = Tables.embeddings(spark, sfDir).limit(50)
    val qv = emb.filter(col("vec_id") === 0).select(col("embedding").as("q"))
    val both = emb.crossJoin(broadcast(qv))
      .select(
        CosineSimilarityExpr.cosineFast(col("embedding"), col("q")).as("fast"),
        VectorFunctions.cosine(col("embedding"), col("q")).as("exact"))
      .collect()
    both.foreach(r => r.getDouble(0) shouldBe r.getDouble(1) +- 1e-9)
  }

  test("cosine_fast works from SQL and rejects wrong types") {
    Tables.embeddings(spark, sfDir).limit(5)
      .createOrReplaceTempView("emb_test")
    val r = spark.sql(
      "SELECT cosine_fast(embedding, embedding) c FROM emb_test").collect()
    r.foreach(_.getDouble(0) shouldBe 1.0 +- 1e-12)
    an[Exception] should be thrownBy
      spark.sql("SELECT cosine_fast('a', 'b')").collect()
  }

  test("EmbeddingSearch: LSH top-k is a subset ranking consistent with " +
      "brute force") {
    val emb = Tables.embeddings(spark, sfDir)
    val brute = EmbeddingSearch.bruteForceTopK(spark, emb, 0L, 50)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val lsh = EmbeddingSearch.lshTopK(spark, emb, 0L, 10)
      .collect().map(r => r.getLong(0) -> r.getDouble(1))
    lsh should not be empty
    // every LSH hit that brute force also ranked must carry the same score
    lsh.foreach { case (id, sim) =>
      brute.get(id).foreach(_ shouldBe sim +- 1e-12)
    }
  }

  test("EmbeddingSearch: IVF top-k scores agree with brute force and " +
      "recall grows with nProbe") {
    val emb = Tables.embeddings(spark, sfDir)
    val cents = Centroids.byLabel(spark, emb)
    val brute = EmbeddingSearch.bruteForceTopK(spark, emb, 0L, 20)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    def hits(nProbe: Int): Map[Long, Double] =
      EmbeddingSearch.ivfTopK(spark, emb, cents, 0L, 20, nProbe)
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val ivf3 = hits(3)
    ivf3 should not be empty
    // any id both rankings surface must carry the identical exact score
    ivf3.foreach { case (id, sim) =>
      brute.get(id).foreach(_ shouldBe sim +- 1e-12)
    }
    // probing every cell IS brute force — recall must reach 100%
    hits(10).keySet shouldBe brute.keySet
  }

  test("EmbeddingSearch: filtered IVF = brute force over the filtered " +
      "corpus when probing every cell; subset of it when probing few") {
    val emb = Tables.embeddings(spark, sfDir)
    val cents = Centroids.byLabel(spark, emb)
    // Brute force restricted to the predicate (query vec 0 exempt so
    // its embedding is still found).
    val filteredEmb = emb.filter(col("label") === 2 || col("vec_id") === 0)
    val brute = EmbeddingSearch.bruteForceTopK(spark, filteredEmb, 0L, 20)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    def hits(nProbe: Int): Map[Long, Double] =
      EmbeddingSearch.filteredIvfTopK(spark, emb, cents, 0L, 20,
        col("label") === 2, nProbe)
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val all = hits(10)
    all.keySet shouldBe brute.keySet
    all.foreach { case (id, sim) => brute(id) shouldBe sim +- 1e-12 }
    // Few probes: recall drops, so OTHER label-2 candidates may fill
    // k — but every returned id must satisfy the predicate, and any
    // id the exact top-20 also surfaced must carry the identical
    // exact score.
    val labels = emb.select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val few = hits(2)
    few.keys.foreach(id => labels(id) shouldBe 2)
    few.foreach { case (id, sim) =>
      brute.get(id).foreach(_ shouldBe sim +- 1e-12)
    }
  }

  test("EmbeddingSearch: adaptive filtered IVF sizes the probe by the " +
      "predicate and falls back to filtered brute force") {
    val emb = Tables.embeddings(spark, sfDir)
    val cents = Centroids.byLabel(spark, emb)
    val pred = col("label") === 2
    val filteredEmb = emb.filter(pred || col("vec_id") === 0)
    val brute = EmbeddingSearch.bruteForceTopK(spark, filteredEmb, 0L, 10)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    def adaptive(target: Int): Map[Long, Double] =
      EmbeddingSearch.adaptiveFilteredIvfTopK(spark, emb, cents, 0L, 10,
        pred, targetCandidates = target)
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // unreachable target -> all cells probed = filtered brute force,
    // with identical scores (the fallback trigger)
    val fb = adaptive(1000000)
    fb.keySet shouldBe brute.keySet
    fb.foreach { case (id, sim) => brute(id) shouldBe sim +- 1e-12 }
    // the default 3k target: recall is monotone in the candidate
    // superset, and the adaptive prefix contains nProbe=1's cell, so
    // its truth hits must contain the fixed nProbe=1 truth hits
    val fixed1 = EmbeddingSearch.filteredIvfTopK(spark, emb, cents, 0L,
        10, pred, nProbe = 1)
      .collect().map(_.getLong(0)).toSet
    val ad = adaptive(30).keySet
    (fixed1.intersect(brute.keySet)
      .subsetOf(ad.intersect(brute.keySet))) shouldBe true
    // a tiny target stops at the first cell holding a survivor: the
    // result is nonempty, predicate-pure, and score-consistent with
    // the exact filtered ranking
    val labels = emb.select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val tiny = adaptive(1)
    tiny should not be empty
    tiny.keys.foreach(id => labels(id) shouldBe 2)
    tiny.foreach { case (id, sim) =>
      brute.get(id).foreach(_ shouldBe sim +- 1e-12)
    }
  }

  test("EmbeddingSearch: multi-probe LSH candidates contain the " +
      "single-probe candidates, scores stay exact") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.01")
    val single = EmbeddingSearch.lshTopK(spark, emb, 0L, 50)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val multi = EmbeddingSearch.lshTopKMultiProbe(spark, emb, 0L, 50)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    multi.size should be >= single.size
    // every single-probe hit that survives the wider top-50 cut keeps
    // its exact score; candidates only grow, so a dropped id means a
    // better multi-probe candidate displaced it
    multi.foreach { case (id, sim) =>
      single.get(id).foreach(_ shouldBe sim +- 1e-12)
    }
  }

  test("EmbeddingSearch: mutual top-k at nProbe = K equals the " +
      "declared exact reciprocal pairs") {
    val all = Tables.embeddings(spark, "/root/testdata/sf0.01")
    val cents = Centroids.byLabel(spark, all)
    val got = EmbeddingSearch.mutualTopK(spark,
        all.filter(col("label") === 2), cents, k = 3, nProbe = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = graft.SparkEntry.queries("q252_mutual_knn")(
        spark, "/root/testdata/sf0.01")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    got shouldBe want
    got should not be empty
  }

  test("EmbeddingSearch: batched IVF equals the per-query probe for " +
      "each query in the set") {
    val emb = Tables.embeddings(spark, sfDir)
    val cents = Centroids.byLabel(spark, emb)
    val queries = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val batch = EmbeddingSearch
      .ivfTopKBatch(spark, emb, cents, queries, k = 10, nProbe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .groupBy(_._1)
      .map { case (q, rows) => q -> rows.map(t => (t._2, t._3)).toSet }
    batch.keySet shouldBe (0L until 5L).toSet
    (0L until 5L).foreach { q =>
      val single = EmbeddingSearch.ivfTopK(spark, emb, cents, q, 10, 2)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
      withClue(s"query $q:") { batch(q) shouldBe single }
    }
  }

  test("EmbeddingSearch: batched IVF with broadcastProbes=false (the " +
      "driver-table query-set path) equals the broadcast form") {
    val emb = Tables.embeddings(spark, sfDir)
    val cents = Centroids.byLabel(spark, emb)
    val queries = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    def run(bc: Boolean) = EmbeddingSearch
      .ivfTopKBatch(spark, emb, cents, queries, k = 10, nProbe = 2,
        broadcastProbes = bc)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSet
    run(false) shouldBe run(true)
  }

  test("EmbeddingSearch: spark.ml BRP-LSH variant returns ranked neighbors") {
    val emb = Tables.embeddings(spark, sfDir)
    val out = EmbeddingSearch.lshTopKBRP(spark, emb, 0L, 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    out should not be empty
    out.map(_._1) should not contain 0L
    out.map(_._2).toList shouldBe out.map(_._2).toList.sorted // ascending distance
  }

  test("DedupClusters: planted near-dup pair collapses to one survivor") {
    val pairs = MinHashDedup.nearDuplicates(plantedDocs, threshold = 0.5)
    val kept = DedupClusters.deduplicate(plantedDocs, pairs)
      .select("doc_id").collect().map(_.getLong(0)).sorted
    kept shouldBe Array(1L, 3L, 4L) // doc 2 (near-dup of 1) dropped
  }

  test("DedupClusters: chain components converge past the unrolled depth") {
    val s = spark
    import s.implicits._
    // a 6-node path (diameter 5) plus an isolated pair — label
    // propagation must walk the whole chain down to min id 10
    val pairs = Seq((10L, 11L), (11L, 12L), (12L, 13L), (13L, 14L),
      (14L, 15L), (20L, 21L)).toDF("a_id", "b_id")
    val comps = DedupClusters.components(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    (10L to 15L).foreach(id => comps(id) shouldBe 10L)
    comps(20L) shouldBe 20L
    comps(21L) shouldBe 20L
    // the 3-round unrolled form is NOT enough for diameter 5 — the
    // convergence-checked library form is what callers should use
    val unrolled = DedupClusters.componentsUnrolled(pairs, rounds = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    unrolled(15L) should be > 10L
  }

  test("Multimodal: binary payloads, batched stub decode, metadata profile") {
    val assets = Multimodal.fromDocuments(Tables.documents(spark, sfDir))
    val feats = Multimodal.decodeFeatures(spark, assets)
    val sample = feats.limit(5).collect()
    sample.foreach { f =>
      f.feature should have length 8
      f.feature.sum shouldBe 1.0f +- 1e-4f // normalized histogram
      f.n_bytes should be > 0
    }
    val profile = Multimodal.metadataProfile(assets).collect()
    profile should have length 1
    profile.head.getAs[String]("modality") shouldBe "image"
    profile.head.getAs[Long]("n_assets") shouldBe 500L
  }

  test("Multimodal: binaryFile source reads files as assets end-to-end") {
    val dir = java.nio.file.Files.createTempDirectory("graft-bin")
    java.nio.file.Files.write(dir.resolve("a.img"),
      Array[Byte](1, 2, 3, 4, 5))
    java.nio.file.Files.write(dir.resolve("b.img"), Array[Byte](9, 8))
    java.nio.file.Files.write(dir.resolve("skip.txt"), Array[Byte](0))
    val assets = Multimodal.fromBinaryFiles(spark, dir.toString, "*.img")
    val rows = assets.orderBy(col("meta.n_bytes").desc).collect()
    rows should have length 2 // glob filtered out skip.txt
    rows.head.getAs[Array[Byte]]("payload") shouldBe
      Array[Byte](1, 2, 3, 4, 5)
    rows.map(_.getAs[Long]("asset_id")).distinct should have length 2
    // the downstream stages accept the binaryFile-sourced frame
    val feats = Multimodal.decodeFeatures(spark, assets).collect()
    feats should have length 2
    feats.foreach(_.feature should have length 8)
  }

  test("Multimodal: resize bounds payloads, frame sampling fans out rows") {
    val assets = Multimodal.fromDocuments(Tables.documents(spark, sfDir))
    val resized = Multimodal.resize(spark, assets, targetBytes = 64)
      .collect()
    resized should have length 500
    resized.foreach(_.payload.length should be <= 64)

    val origBytes = assets.select(col("asset_id"),
        octet_length(col("payload")).as("n")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val frames = Multimodal.frameSample(spark, assets,
      frameSize = 16, every = 4)
    val byAsset = frames.groupBy("asset_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    byAsset.keySet shouldBe origBytes.keySet
    byAsset.foreach { case (id, n) =>
      val nFrames = math.ceil(origBytes(id) / 16.0).toLong
      n shouldBe (nFrames + 3) / 4 // every 4th frame, first always kept
    }
  }

  test("Multimodal.frameManifest: frame count/timestamps/batches from " +
      "metadata; sub-millisecond assets filtered, not fabricated") {
    val s = spark
    import s.implicits._
    val assets = Seq(
      (1L, 1L),      // 1 ms → exactly 1 frame at t=0
      (2L, 999L),    // still 1 frame
      (3L, 1000L),   // boundary: still 1 frame (frames at 0 only)
      (4L, 65500L),  // 66 frames → batches 0..2 at batchSize 32
      (5L, 0L),      // filtered — sequence(0, -1) would DESCEND
      (6L, -5L))     // filtered
      .toDF("id", "dur")
    val got = graft.llm.Multimodal
      .frameManifest(assets, "id", "dur", intervalMs = 1000L,
        batchSize = 32)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    got.map(_._1).distinct.sorted shouldBe Array(1L, 2L, 3L, 4L)
    got.count(_._1 == 4L) shouldBe 66
    // timestamps stride the interval; batch ids pack 32 frames
    val a4 = got.filter(_._1 == 4L).sortBy(_._2)
    a4.head shouldBe ((4L, 0L, 0L, 0L))
    a4.last shouldBe ((4L, 65L, 65000L, 2L))
    a4.map(_._4).distinct.sorted shouldBe Array(0L, 1L, 2L)
    got.filter(_._1 == 1L) shouldBe Array((1L, 0L, 0L, 0L))
  }
}

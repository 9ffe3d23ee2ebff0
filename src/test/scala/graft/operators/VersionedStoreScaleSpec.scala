package graft.operators

import graft.SparkFixture
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** The round-15 scale hardening of the commit-log store:
  * checkpointed cold reads (no O(commits) small-file replay),
  * optimistic concurrent-writer retry (append races land BOTH
  * commits; conflicting rewrites abort), multi-column + string zone
  * stats in commit records (string-key range reads prune, and a
  * delta append can never leave the pruning stale or over-pruned —
  * the log IS the manifest), and age-based vacuum retention from
  * persisted commit timestamps.
  */
class VersionedStoreScaleSpec extends AnyFunSuite with SparkFixture
    with Matchers {

  private def freshPath(): String =
    java.nio.file.Files.createTempDirectory("graft-vsscale").toString +
      "/store"

  private def batch(ids: Range) = {
    val s = spark
    import s.implicits._
    ids.map(i => (i.toLong, s"doc-$i", i % 5)).toDF("id", "body", "g")
  }

  private def ids(path: String): Seq[Long] =
    VersionedStore.read(spark, path)
      .select("id").collect().map(_.getLong(0)).toSeq.sorted

  // ---------------------------------------------------------- ckpt

  test("checkpoint: a cold read resolves from checkpoint + suffix " +
      "only — pre-checkpoint commit dirs are never opened (proven " +
      "by corrupting them) — and time travel below the checkpoint " +
      "still works from the snapshot") {
    val p = freshPath()
    spark.conf.set("graft.store.checkpointInterval", "4")
    try {
      VersionedStore.create(spark, p)
      (0 until 6).foreach(i =>
        VersionedStore.append(batch(i * 10 until i * 10 + 10), p))
      // interval 4 → checkpoints at v4 (and the pointer exists)
      VersionedStore.checkpointVersions(spark, p) shouldBe Seq(4L)
      val f = org.apache.hadoop.fs.FileSystem
        .get(spark.sparkContext.hadoopConfiguration)
      val ptr = new org.apache.hadoop.fs.Path(s"$p/_last_checkpoint")
      f.exists(ptr) shouldBe true
      // the pointer is a single plain JSON FILE (the public Delta
      // log shape external tools can consume), not a parquet dir
      f.getFileStatus(ptr).isFile shouldBe true
      val in = f.open(ptr)
      val ptrTxt = try scala.io.Source.fromInputStream(in).mkString
        finally in.close()
      ptrTxt shouldBe """{"version":4}"""
      // corrupt every pre-checkpoint commit record: overwrite its
      // parquet files with garbage — any attempt to read them fails
      (1 to 4).foreach { v =>
        val dir = new java.io.File(f"$p/log/v$v%09d")
        dir.listFiles().filter(_.getName.endsWith(".parquet"))
          .foreach { pf =>
            val w = new java.io.FileOutputStream(pf)
            w.write("garbage".getBytes); w.close()
          }
      }
      // cold resolution (cache dropped) must come from ckpt + v5/v6
      VersionedStore.dropLogCache(p)
      ids(p) shouldBe (0L until 60L)
      // time travel BELOW the checkpoint works from the snapshot too
      VersionedStore.readAt(spark, p, 2L)
        .select("id").collect().map(_.getLong(0)).toSeq.sorted shouldBe
        (0L until 20L)
      // and the control: WITHOUT a checkpoint the same corruption is
      // fatal on a cold read — the checkpoint is what saved us above
      val p2 = freshPath()
      spark.conf.set("graft.store.checkpointInterval", "0")
      VersionedStore.create(spark, p2)
      (0 until 2).foreach(i =>
        VersionedStore.append(batch(i * 10 until i * 10 + 10), p2))
      val dir2 = new java.io.File(f"$p2/log/v${1}%09d")
      dir2.listFiles().filter(_.getName.endsWith(".parquet"))
        .foreach { pf =>
          val w = new java.io.FileOutputStream(pf)
          w.write("garbage".getBytes); w.close()
        }
      VersionedStore.dropLogCache(p2)
      an[Exception] should be thrownBy ids(p2)
    } finally spark.conf.unset("graft.store.checkpointInterval")
  }

  test("checkpoint: warm incremental access never re-reads the " +
      "checkpoint, and explicit checkpoint() at any version is " +
      "read-equivalent") {
    val p = freshPath()
    spark.conf.set("graft.store.checkpointInterval", "0")
    try {
      VersionedStore.create(spark, p)
      (0 until 3).foreach(i =>
        VersionedStore.append(batch(i * 5 until i * 5 + 5), p))
      VersionedStore.checkpoint(spark, p, 2L)
      VersionedStore.checkpointVersions(spark, p) shouldBe Seq(2L)
      VersionedStore.dropLogCache(p)
      ids(p) shouldBe (0L until 15L)
      VersionedStore.history(spark, p).count() shouldBe 3L
      // a later append on the warm cache only reads its own dir
      VersionedStore.append(batch(15 until 20), p)
      ids(p) shouldBe (0L until 20L)
    } finally spark.conf.unset("graft.store.checkpointInterval")
  }

  // ----------------------------------------------------------- occ

  test("optimistic retry: two racing appends BOTH land — the loser " +
      "rebases onto the winner's version instead of erroring") {
    val s = spark
    import s.implicits._
    val p = freshPath()
    VersionedStore.create(spark, p)
    VersionedStore.append(batch(0 until 10), p) // v1
    // writer A stages its group and computes next version = 2 ...
    val aRows = Seq((100L, "a", 0)).toDF("id", "body", "g")
    aRows.write.parquet(s"$p/data/f50")
    // ... but writer B wins version 2 first
    val bRows = Seq((200L, "b", 0)).toDF("id", "body", "g")
    bRows.write.parquet(s"$p/data/f60")
    VersionedStore.commitAt(spark, p, 2L,
      Seq(VersionedStore.GroupAdd(60L, 1L)), Seq.empty)
    // A's stale attempt at v2 must rebase to v3 — both rows visible
    val landed = VersionedStore.commitRetrying(spark, p,
      Seq(VersionedStore.GroupAdd(50L, 1L)), Seq.empty,
      firstV = 2L)
    landed shouldBe 3L
    ids(p) should contain allOf (100L, 200L)
    VersionedStore.latestVersion(spark, p) shouldBe 3L
  }

  test("optimistic retry: a rewrite whose removed group was touched " +
      "by the winning commit ABORTS loudly (no silent lost update)") {
    val s = spark
    import s.implicits._
    val p = freshPath()
    VersionedStore.create(spark, p)
    VersionedStore.append(batch(0 until 10), p) // v1, f1
    // writer B wins v2 with a compaction-style rewrite of f1
    val bRows = batch(0 until 10)
    bRows.write.parquet(s"$p/data/f70")
    VersionedStore.commitAt(spark, p, 2L,
      Seq(VersionedStore.GroupAdd(70L, 10L)), Seq(1L))
    // writer A staged its own rewrite of f1 — rebase must refuse
    val aRows = Seq((999L, "x", 0)).toDF("id", "body", "g")
    aRows.write.parquet(s"$p/data/f80")
    val e = intercept[RuntimeException] {
      VersionedStore.commitRetrying(spark, p,
        Seq(VersionedStore.GroupAdd(80L, 1L)), Seq(1L), firstV = 2L)
    }
    e.getMessage should include("conflicting rewrite")
    // the winner's state is intact
    ids(p) shouldBe (0L until 10L)
  }

  test("optimistic retry: a fid claimed by the winner aborts the " +
      "rebase (the loser's data dir may be clobbered)") {
    val s = spark
    import s.implicits._
    val p = freshPath()
    VersionedStore.create(spark, p)
    VersionedStore.append(batch(0 until 5), p) // v1, f1
    val rows = Seq((300L, "c", 0)).toDF("id", "body", "g")
    rows.write.parquet(s"$p/data/f90")
    VersionedStore.commitAt(spark, p, 2L,
      Seq(VersionedStore.GroupAdd(90L, 1L)), Seq.empty)
    val e = intercept[RuntimeException] {
      VersionedStore.commitRetrying(spark, p,
        Seq(VersionedStore.GroupAdd(90L, 1L)), Seq.empty,
        firstV = 2L)
    }
    e.getMessage should include("claimed file-group")
  }

  // --------------------------------------------------- multi zones

  test("string + multi-column zones: commit records carry per-column " +
      "hulls, readRangeStr scans only overlapping groups, and the " +
      "residual filter settles exactness") {
    val s = spark
    import s.implicits._
    val p = freshPath()
    VersionedStore.create(spark, p)
    def named(lo: Char, hi: Char, base: Long) =
      (lo to hi).zipWithIndex.map { case (c, i) =>
        (base + i, s"$c-name", (c - 'a').toLong) }
        .toDF("id", "name", "rank")
    VersionedStore.append(named('a', 'f', 0), p,
      zoneCols = Seq("name", "id"))
    VersionedStore.append(named('g', 'm', 100), p,
      zoneCols = Seq("name", "id"))
    VersionedStore.append(named('n', 'z', 200), p,
      zoneCols = Seq("name", "id"))
    VersionedStore.storeZoneCols(spark, p) shouldBe Seq("id", "name")
    // the pruning decision itself: a range inside the second batch
    val v = VersionedStore.latestVersion(spark, p)
    VersionedStore.candidateFidsStr(spark, p, v, "name",
      "h-", "k-zzz") shouldBe Seq(2L)
    // served content is exact (residual filter inside the survivor)
    VersionedStore.readRangeStr(spark, p, "name", "h-", "k-zzz")
      .select("name").collect().map(_.getString(0)).sorted shouldBe
      Array("h-name", "i-name", "j-name", "k-name")
    // numeric zones prune via the same records (no legacy statsCol)
    VersionedStore.candidateFids(spark, p, v, "id", 150L,
      250L) shouldBe Seq(3L)
    VersionedStore.readRange(spark, p, "id", 150L, 250L)
      .count() shouldBe named('n', 'z', 200)
      .filter(col("id") <= 250).count()
  }

  test("no over-prune after a delta: an append that widens a " +
      "column's hull is immediately visible to range reads — the " +
      "log is the manifest, freshness is automatic") {
    val s = spark
    import s.implicits._
    val p = freshPath()
    VersionedStore.create(spark, p)
    (0 until 3).foreach { i =>
      VersionedStore.append(
        (i * 10 until i * 10 + 10).map(j =>
          (j.toLong, f"k$j%03d")).toDF("id", "key"), p,
        zoneCols = Seq("key"))
    }
    // the delta lands OUTSIDE every existing hull
    VersionedStore.append(
      Seq((900L, "z900"), (901L, "z901")).toDF("id", "key"), p,
      zoneCols = Seq("key"))
    VersionedStore.readRangeStr(spark, p, "key", "z", "zzzz")
      .select("key").collect().map(_.getString(0)).sorted shouldBe
      Array("z900", "z901")
    // and after a keyed rewrite the hulls are recomputed per group
    VersionedStore.deleteWhere(spark, p, col("key") === "z900")
    VersionedStore.readRangeStr(spark, p, "key", "z", "zzzz")
      .select("key").collect().map(_.getString(0)) shouldBe
      Array("z901")
    // merge on the zone-armed STRING key prunes its scan and stays
    // exact: the matched key is REPLACED (new id), nothing else moves
    VersionedStore.merge(spark, p,
      Seq((999L, "z901")).toDF("id", "key"), Seq("key"))
    val z = VersionedStore.read(spark, p)
      .filter(col("key") === "z901").collect()
    z.map(_.getLong(0)).toSeq shouldBe Seq(999L)
  }

  // -------------------------------------------------- age vacuum

  test("vacuumOlderThan: reclaims only file-groups invisible at " +
      "every version younger than the cutoff; the latest version " +
      "survives regardless of age") {
    val s = spark
    import s.implicits._
    val p = freshPath()
    VersionedStore.create(spark, p)
    val day = 86400000L
    def commitBatch(ids: Range, fid: Long, ts: Long): Unit = {
      ids.map(i => (i.toLong, s"d$i", 0)).toDF("id", "body", "g")
        .write.parquet(s"$p/data/f$fid")
      VersionedStore.commitAt(spark, p,
        VersionedStore.latestVersion(spark, p) + 1,
        Seq(VersionedStore.GroupAdd(fid,
          ids.size.toLong)), Seq.empty, ts = ts)
    }
    commitBatch(0 until 5, 1L, ts = 1 * day)    // v1 (old)
    commitBatch(5 until 10, 2L, ts = 2 * day)   // v2 (old)
    // v3: compaction-style rewrite, recent
    (0 until 10).map(i => (i.toLong, s"d$i", 0))
      .toDF("id", "body", "g").write.parquet(s"$p/data/f3")
    VersionedStore.commitAt(spark, p, 3L,
      Seq(VersionedStore.GroupAdd(3L, 10L)), Seq(1L, 2L),
      ts = 10 * day)
    commitBatch(10 until 12, 4L, ts = 11 * day) // v4 (recent)
    // cutoff at day 9: v1/v2 age out; f1/f2 are visible ONLY there
    val victims = VersionedStore.vacuumOlderThan(spark, p, 9 * day)
    victims shouldBe Seq(1L, 2L)
    ids(p) shouldBe (0L until 12L)
    VersionedStore.readAt(spark, p, 3L).count() shouldBe 10L
    an[Exception] should be thrownBy
      VersionedStore.readAt(spark, p, 1L).count()
    // cutoff far in the future: everything old ages out but the
    // latest version's groups are untouchable
    VersionedStore.vacuumOlderThan(spark, p, 100 * day) shouldBe empty
    ids(p) shouldBe (0L until 12L)
  }

  // ------------------------------------- clustered multi-group opt

  test("multi-group clustered compaction: disjoint per-group zone " +
      "hulls, content preserved, deletion vectors folded, and a " +
      "narrow range read prunes to O(1) groups") {
    val p = freshPath()
    val s = spark
    import s.implicits._
    VersionedStore.create(spark, p)
    // interleave ids across four groups: every group's id hull spans
    // [i, ~96+i], so any range hits all four
    (0 until 4).foreach { i =>
      VersionedStore.append(
        batch(0 until 100).where(pmod(col("id"), lit(4)) === i), p,
        zoneCols = Seq("id"))
    }
    VersionedStore.deleteKeysDeferred(spark, p,
      Seq(7L, 8L).toDF("id"), Seq("id"))
    val v1 = VersionedStore.latestVersion(spark, p)
    VersionedStore.candidateFids(spark, p, v1, "id", 10L, 20L)
      .size shouldBe 4
    VersionedStore.compact(spark, p, clusterBy = Seq("id"),
      numGroups = 4)
    val v2 = VersionedStore.latestVersion(spark, p)
    // content identical, DVs folded away
    ids(p) shouldBe (0L until 100L).filterNot(Seq(7L, 8L).contains)
    VersionedStore.describe(spark, p).head
      .getAs[Long]("n_dv_groups") shouldBe 0L
    // narrow ranges now prune: [10,20] hits at most 2 of the groups
    val cand = VersionedStore.candidateFids(spark, p, v2,
      "id", 10L, 20L)
    cand.size should be <= 2
    VersionedStore.readRange(spark, p, "id", 10L, 20L)
      .select("id").collect().map(_.getLong(0)).toSeq.sorted shouldBe
      (10L to 20L).filterNot(Seq(7L, 8L).contains)
    // pre-compaction snapshots still time travel
    VersionedStore.readAt(spark, p, 4L).count() shouldBe 100L
  }

  // ------------------------------------------------------- restore

  test("restore rolls back content AND schema as one metadata " +
      "commit, and the store stays fully writable afterwards") {
    val p = freshPath()
    VersionedStore.create(spark, p)
    VersionedStore.append(batch(0 until 10), p)            // v1
    VersionedStore.append(
      batch(10 until 20).withColumn("extra", lit(1L)), p,
      evolve = true)                                       // v2
    VersionedStore.read(spark, p).columns should contain("extra")
    VersionedStore.restore(spark, p, 1L) shouldBe 3L
    // content and SCHEMA are v1's again — the evolved-then-removed
    // group's schema must not leak out of schemaAt
    ids(p) shouldBe (0L until 10L)
    VersionedStore.read(spark, p).columns.toSeq shouldBe
      Seq("id", "body", "g")
    // the rolled-back schema is the write gate again: a base-schema
    // append lands without evolve
    VersionedStore.append(batch(20 until 25), p)           // v4
    ids(p) shouldBe ((0L until 10L) ++ (20L until 25L))
    // the undone version stays auditable (time travel above the
    // restore target still reproduces it)
    VersionedStore.readAt(spark, p, 2L).count() shouldBe 20L
    // restore to the current latest is a no-op, not a commit
    val latest = VersionedStore.latestVersion(spark, p)
    VersionedStore.restore(spark, p, latest) shouldBe latest
    VersionedStore.latestVersion(spark, p) shouldBe latest
  }

  test("restore re-surfaces deletion vectors folded by a later " +
      "compaction, and describe never double-counts re-published " +
      "records") {
    val p = freshPath()
    val s = spark
    import s.implicits._
    VersionedStore.create(spark, p)
    VersionedStore.append(batch(0 until 50), p)            // v1
    VersionedStore.deleteKeysDeferred(spark, p,
      Seq(1L, 2L, 3L).toDF("id"), Seq("id"))               // v2 (dv)
    VersionedStore.compact(spark, p)                       // v3 folds
    VersionedStore.restore(spark, p, 2L) shouldBe 4L
    // the DV mask is in force again at latest
    ids(p) shouldBe (0L until 50L).filterNot(Seq(1L, 2L, 3L).contains)
    val d = VersionedStore.describe(spark, p).head
    d.getAs[Long]("n_rows") shouldBe 47L
    d.getAs[Long]("n_dv_groups") shouldBe 1L
  }

  // ------------------------------------------- real append racing

  test("TRULY concurrent appends through the public API: every " +
      "writer lands, nothing is clobbered (fid claims + OCC rebase)") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val p = freshPath()
    VersionedStore.create(spark, p)
    val writers = (0 until 4).map { w =>
      Future {
        VersionedStore.append(
          batch(w * 100 until w * 100 + 10), p)
      }
    }
    Await.result(Future.sequence(writers), 120.seconds)
    // all four commits landed (rebased, not failed), at four
    // DISTINCT fids, and the content is the exact union — the old
    // maxFid+1 allocation would have staged two writers into the
    // same dir and corrupted one of them
    VersionedStore.latestVersion(spark, p) shouldBe 4L
    ids(p) shouldBe (0 until 4)
      .flatMap(w => w * 100L until w * 100L + 10L).sorted
    val hist = VersionedStore.history(spark, p)
    hist.select("fid").distinct().count() shouldBe 4L
  }

  test("z-order compaction survives wide-span keys (epoch-micros " +
      "scale) without Long overflow in the bucket scaling") {
    val p = freshPath()
    VersionedStore.create(spark, p)
    (0 until 2).foreach { i =>
      VersionedStore.append(
        batch(0 until 100).where(pmod(col("id"), lit(2)) === i)
          .withColumn("ts", col("id") * 17_000_000_000_000L), p,
        zoneCols = Seq("ts", "g"))
    }
    VersionedStore.compact(spark, p, clusterBy = Seq("ts", "g"),
      numGroups = 4, zorder = true)
    // content intact and the wide-span dim still prunes
    ids(p) shouldBe (0L until 100L)
    val v = VersionedStore.latestVersion(spark, p)
    val nLive = VersionedStore.describe(spark, p)
      .head.getAs[Long]("n_live_groups").toInt
    VersionedStore.candidateFids(spark, p, v, "ts",
      0L, 10L * 17_000_000_000_000L).size should be < nLive
    // ...and the NARROW dim prunes too — the assertion whose absence
    // let the divide-only scaling regression ship: with the wide key
    // owning every high interleave bit unshared, a point probe on g
    // scanned every group
    VersionedStore.candidateFids(spark, p, v, "g",
      4L, 4L).size should be < nLive
  }

  test("z-order compaction with UNBALANCED key spans: the narrow " +
      "dimension still prunes (multiply-first scaling stretches it " +
      "into the shared bit width — divide-only degenerated to " +
      "single-column clustering on the wide key)") {
    val p = freshPath()
    VersionedStore.create(spark, p)
    val s = spark
    import s.implicits._
    // 0..4999 against 0..499 — the sf0.1 documents shape
    // (doc_id 0..4999 vs n_chars 44..577) that broke q357
    val df = (0 until 5000)
      .map(i => (i.toLong, (i.toLong * 7919) % 500, s"doc-$i"))
      .toDF("id", "n", "body")
    VersionedStore.append(df, p, zoneCols = Seq("id", "n"))
    VersionedStore.compact(spark, p, clusterBy = Seq("id", "n"),
      numGroups = 8, zorder = true)
    ids(p) shouldBe (0L until 5000L)
    val v = VersionedStore.latestVersion(spark, p)
    val nLive = VersionedStore.describe(spark, p)
      .head.getAs[Long]("n_live_groups").toInt
    // the wide dimension prunes (it always did)...
    VersionedStore.candidateFids(spark, p, v, "id",
      0L, 624L).size should be < nLive
    // ...and the narrow one does too: an eighth-span window must
    // skip groups whose n-hull lies elsewhere
    VersionedStore.candidateFids(spark, p, v, "n",
      0L, 61L).size should be < nLive
  }

  // ---------------------------------------- properties + policy

  test("table properties round-trip, travel with clones, and drive " +
      "the retention-policy vacuum") {
    val p = freshPath()
    val c = freshPath()
    val day = 24L * 3600 * 1000
    VersionedStore.create(spark, p)
    VersionedStore.propertiesOf(spark, p) shouldBe Map.empty
    VersionedStore.setProperties(spark, p,
      Map("retention.ms" -> (7 * day).toString, "owner" -> "corpus"))
    VersionedStore.propertiesOf(spark, p)("owner") shouldBe "corpus"
    // no policy → no-op; with the table's own policy, versions older
    // than 7 days age out (commit ts injected via commitAt)
    def commitBatch(ids: Range, fid: Long, ts: Long): Unit = {
      val s = spark
      import s.implicits._
      ids.map(i => (i.toLong, s"d$i", 0)).toDF("id", "body", "g")
        .write.parquet(s"$p/data/f$fid")
      VersionedStore.commitAt(spark, p,
        VersionedStore.latestVersion(spark, p) + 1,
        Seq(VersionedStore.GroupAdd(fid, ids.size.toLong)),
        if (fid == 1L) Seq.empty else Seq(fid - 1), ts = ts)
    }
    commitBatch(0 until 5, 1L, ts = 1 * day)    // v1, old
    commitBatch(0 until 8, 2L, ts = 20 * day)   // v2 rewrite, recent
    // now = day 25: v1 is 24 days old (> 7), v2 is 5 days old
    VersionedStore.vacuumByPolicy(spark, p,
      nowMs = 25 * day) shouldBe Seq(1L)
    an[Exception] should be thrownBy
      VersionedStore.readAt(spark, p, 1L).count()
    ids(p) shouldBe (0L until 8L)
    // a table with NO policy never vacuums by policy
    val p2 = freshPath()
    VersionedStore.create(spark, p2)
    VersionedStore.append(batch(0 until 5), p2)
    VersionedStore.vacuumByPolicy(spark, p2) shouldBe empty
    // properties travel with a shallow clone
    VersionedStore.cloneTo(spark, p, c)
    VersionedStore.propertiesOf(spark, c)("retention.ms") shouldBe
      (7 * day).toString
  }

  test("a properties or constraints publish cut between its two " +
      "renames rolls back to the last complete table") {
    import org.apache.hadoop.fs.{FileSystem, Path}
    val p = freshPath()
    VersionedStore.create(spark, p)
    VersionedStore.setProperties(spark, p, Map("owner" -> "corpus"))
    VersionedStore.setConstraints(spark, p,
      Seq(graft.check.NotNull("id")))
    val f = FileSystem.get(spark.sparkContext.hadoopConfiguration)
    // state after the live dir moved aside and before the new one
    // moved in
    f.rename(new Path(s"$p/properties"),
      new Path(s"$p/.properties.bak")) shouldBe true
    f.rename(new Path(s"$p/constraints"),
      new Path(s"$p/.constraints.bak")) shouldBe true
    VersionedStore.propertiesOf(spark, p) shouldBe Map("owner" -> "corpus")
    VersionedStore.constraintsOf(spark, p) shouldBe
      Seq(graft.check.NotNull("id"))
    f.exists(new Path(s"$p/.properties.bak")) shouldBe false
    // a replace leaves only the new map and no hidden siblings
    VersionedStore.setProperties(spark, p, Map("team" -> "search"))
    VersionedStore.propertiesOf(spark, p) shouldBe Map("team" -> "search")
    f.listStatus(new Path(p)).map(_.getPath.getName)
      .filter(_.startsWith(".properties")) shouldBe empty
  }

  // -------------------------------------------- zorder + log stats

  test("z-order compaction prunes on BOTH clustered columns where " +
      "range clustering prunes only the leading one") {
    def build(zorder: Boolean): String = {
      val p = freshPath()
      VersionedStore.create(spark, p)
      // two independent dims: id ascending, g cycling — interleaved
      // appends leave every group spanning both ranges
      (0 until 4).foreach { i =>
        VersionedStore.append(
          batch(0 until 400).where(pmod(col("id"), lit(4)) === i)
            .withColumn("g", (col("id") * 37 % 400).cast("int")), p,
          zoneCols = Seq("id", "g"))
      }
      VersionedStore.compact(spark, p, clusterBy = Seq("id", "g"),
        numGroups = 8, zorder = zorder)
      p
    }
    val zp = build(zorder = true)
    val rp = build(zorder = false)
    def cands(p: String, c: String, lo: Long, hi: Long): Int =
      VersionedStore.candidateFids(spark, p,
        VersionedStore.latestVersion(spark, p), c, lo, hi).size
    def nLive(p: String): Int = VersionedStore.describe(spark, p)
      .head.getAs[Long]("n_live_groups").toInt
    // leading dim: both layouts prune a narrow id window
    cands(zp, "id", 100L, 140L) should be < nLive(zp)
    cands(rp, "id", 100L, 140L) should be < nLive(rp)
    // SECOND dim: the z-store prunes, the range-store cannot
    cands(zp, "g", 0L, 40L) should be < nLive(zp)
    cands(rp, "g", 0L, 40L) shouldBe nLive(rp)
    // content identical either way
    VersionedStore.read(spark, zp).count() shouldBe 400L
    VersionedStore.readRange(spark, zp, "g", 0L, 40L)
      .count() shouldBe
      VersionedStore.read(spark, rp)
        .filter(col("g").between(0, 40)).count()
  }

  test("log-only COUNT/MIN/MAX are exact when sound and REFUSE " +
      "when a DV or zone blind spot could lie") {
    val p = freshPath()
    val s = spark
    import s.implicits._
    VersionedStore.create(spark, p)
    VersionedStore.append(batch(0 until 100), p,
      zoneCols = Seq("id"))
    VersionedStore.append(batch(100 until 150), p)
    VersionedStore.fastCount(spark, p) shouldBe Some(150L)
    VersionedStore.fastMinMax(spark, p, "id") shouldBe
      Some((0L, 149L))
    // an unzoned column is a blind spot → refuse
    VersionedStore.fastMinMax(spark, p, "g") shouldBe None
    // a live DV makes counts and extremes untrustworthy → refuse;
    // compaction folds it and restores the fast path
    VersionedStore.deleteKeysDeferred(spark, p,
      Seq(0L, 149L).toDF("id"), Seq("id"))
    VersionedStore.fastCount(spark, p) shouldBe None
    VersionedStore.fastMinMax(spark, p, "id") shouldBe None
    VersionedStore.compact(spark, p)
    VersionedStore.fastCount(spark, p) shouldBe Some(148L)
    VersionedStore.fastMinMax(spark, p, "id") shouldBe
      Some((1L, 148L))
  }

  test("changesKeyed tags keyed rewrites as update pre/post images " +
      "with the right content on each side, and BOTH feed " +
      "vocabularies replicate to the same end state") {
    val s = spark
    import s.implicits._
    val p = freshPath()
    VersionedStore.create(spark, p)
    VersionedStore.append(batch(0 until 40), p)                 // v1
    val upd = batch(0 until 40).where(col("id") % 4 === 0)
      .withColumn("g", lit(9))
      .unionByName(batch(100 until 105))
    VersionedStore.merge(spark, p, upd, Seq("id"))              // v2
    VersionedStore.deleteKeys(spark, p,
      Seq(1L, 2L).toDF("id"), Seq("id"))                        // v3
    val feed = VersionedStore
      .changesKeyed(spark, p, 1L, 3L, Seq("id")).cache()
    def idsOf(kind: String): Seq[Long] =
      feed.filter(col("_change") === kind)
        .select("id").collect().map(_.getLong(0)).toSeq.sorted
    val updated = (0L until 40L).filter(_ % 4 == 0)
    idsOf("update_preimage") shouldBe updated
    idsOf("update_postimage") shouldBe updated
    idsOf("delete") shouldBe Seq(1L, 2L)
    idsOf("insert") shouldBe (100L until 105L)
    // the preimage carries the ORIGINAL row, the postimage the new
    feed.filter(col("_change") === "update_preimage")
      .collect().foreach(r =>
        r.getAs[Int]("g") shouldBe (r.getAs[Long]("id") % 5).toInt)
    feed.filter(col("_change") === "update_postimage")
      .collect().foreach(_.getAs[Int]("g") shouldBe 9)
    // replication composes identically from either vocabulary
    val plain = VersionedStore.changes(spark, p, 1L, 3L)
    val want = VersionedStore.read(spark, p)
      .orderBy("id").collect().toSeq
    Seq(feed, plain).foreach { fd =>
      val r = freshPath()
      VersionedStore.create(spark, r)
      VersionedStore.append(batch(0 until 40), r) // replica at v1
      VersionedStore.applyChanges(spark, fd, r, Seq("id"))
      VersionedStore.read(spark, r)
        .orderBy("id").collect().toSeq shouldBe want
    }
  }

  // --------------------------------------------------------- bloom

  test("bloom sidecars: a point lookup opens only the group that " +
      "holds the key, the discipline propagates through compaction " +
      "and merge, and unarmed groups stay sound candidates") {
    val p = freshPath()
    val s = spark
    import s.implicits._
    VersionedStore.create(spark, p)
    // interleaved ids: zones can't tell the four groups apart for a
    // point probe, blooms can
    (0 until 4).foreach { i =>
      VersionedStore.append(
        batch(0 until 400).where(pmod(col("id"), lit(4)) === i), p,
        bloomCols = Seq("id"))
    }
    val v1 = VersionedStore.latestVersion(spark, p)
    VersionedStore.storeBloomCols(spark, p) shouldBe Seq("id")
    // id 123 lives in exactly one group (123 % 4 = 3); fpp 1% may
    // admit a false positive, never a false negative
    val cand = VersionedStore.pointCandidates(spark, p, v1, "id", 123L)
    cand.size should be <= 2
    VersionedStore.readPoint(spark, p, "id", 123L)
      .select("id").collect().map(_.getLong(0)).toSeq shouldBe Seq(123L)
    // an ABSENT key prunes everything (modulo fp) and returns empty
    VersionedStore.pointCandidates(spark, p, v1, "id", 100000L)
      .size should be <= 1
    VersionedStore.readPoint(spark, p, "id", 100000L)
      .count() shouldBe 0L
    // propagation: a merge and a compaction keep the arm without
    // anyone re-passing bloomCols
    VersionedStore.merge(spark, p,
      Seq((1000L, "m", 0)).toDF("id", "body", "g"), Seq("id"))
    VersionedStore.compact(spark, p)
    VersionedStore.storeBloomCols(spark, p) shouldBe Seq("id")
    VersionedStore.readPoint(spark, p, "id", 1000L)
      .select("body").collect().map(_.getString(0)).toSeq shouldBe
      Seq("m")
    // an unarmed append (bloom discipline self-propagates, so arm is
    // kept even here) — and a fresh store with NO blooms treats all
    // groups as candidates
    val p2 = freshPath()
    VersionedStore.create(spark, p2)
    VersionedStore.append(batch(0 until 10), p2)
    VersionedStore.pointCandidates(spark, p2,
      VersionedStore.latestVersion(spark, p2), "id", 3L) shouldBe
      Seq(1L)
    VersionedStore.readPoint(spark, p2, "id", 3L).count() shouldBe 1L
  }

  test("CONCURRENT appendIdempotent replays of the same txn land " +
      "exactly one copy — the conflict handler recognizes a winner " +
      "carrying the same app transaction and no-ops instead of " +
      "rebasing a duplicate") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val p = freshPath()
    VersionedStore.create(spark, p)
    // a prior commit so racing replays contend on version 2
    VersionedStore.append(batch(500 until 510), p)
    val replays = (0 until 4).map { _ =>
      Future {
        VersionedStore.appendIdempotent(batch(0 until 10), p, txn = 42L)
      }
    }
    val versions =
      Await.result(Future.sequence(replays), 120.seconds)
    // every replayer reports the SAME committed version, the window
    // landed once, and the store carries exactly one copy
    versions.toSet.size shouldBe 1
    VersionedStore.hasTxn(spark, p, 42L) shouldBe true
    ids(p) shouldBe ((0L until 10L) ++ (500L until 510L)).sorted
    VersionedStore.read(spark, p)
      .where(col("id") < 10).count() shouldBe 10L
  }

  test("a point probe of an UNSUPPORTED type on a bloom-armed " +
      "column degrades to unpruned, never crashes") {
    val p = freshPath()
    VersionedStore.create(spark, p)
    VersionedStore.append(batch(0 until 20), p, bloomCols = Seq("id"))
    val v = VersionedStore.latestVersion(spark, p)
    // Double probes are outside BloomFilter.mightContain's domain:
    // the sidecar veto must stand down (group stays a candidate)
    // and the residual filter settles the answer
    noException should be thrownBy
      VersionedStore.pointCandidates(spark, p, v, "id", 3.5d)
    VersionedStore.readPoint(spark, p, "id", 3.5d).count() shouldBe 0L
  }

  test("the bloom sidecar cache is bounded: under a tiny byte cap " +
      "old entries are evicted, not accumulated forever") {
    val cap = "graft.store.bloomCacheMaxBytes"
    System.setProperty(cap, "1")
    try {
      val p = freshPath()
      VersionedStore.create(spark, p)
      (0 until 3).foreach { i =>
        VersionedStore.append(
          batch(i * 100 until i * 100 + 50), p, bloomCols = Seq("id"))
      }
      val v = VersionedStore.latestVersion(spark, p)
      // probing across all three armed groups loads three sidecars;
      // a 1-byte cap keeps at most one resident at a time
      Seq(0L, 100L, 200L).foreach { k =>
        VersionedStore.pointCandidates(spark, p, v, "id", k)
      }
      VersionedStore.bloomCacheSize should be <= 1
    } finally System.clearProperty(cap)
  }

  test("bloom sidecars survive cloning (loc-aware sidecar " +
      "resolution) and vacuum reclaims them with their groups") {
    val p = freshPath()
    val c = freshPath()
    VersionedStore.create(spark, p)
    VersionedStore.append(batch(0 until 100), p,
      bloomCols = Seq("id"))
    VersionedStore.append(batch(100 until 200), p,
      bloomCols = Seq("id"))
    VersionedStore.cloneTo(spark, p, c)
    // the clone prunes point lookups with the SOURCE's sidecars
    val vC = VersionedStore.latestVersion(spark, c)
    VersionedStore.pointCandidates(spark, c, vC, "id", 150L)
      .size should be <= 1
    VersionedStore.readPoint(spark, c, "id", 150L)
      .count() shouldBe 1L
    // vacuum on the source reclaims sidecars with their groups —
    // after the borrower is gone (a live clone's borrow markers
    // would spare the groups, sidecars and all)
    val f = org.apache.hadoop.fs.FileSystem
      .get(spark.sparkContext.hadoopConfiguration)
    f.delete(new org.apache.hadoop.fs.Path(c), true)
    VersionedStore.compact(spark, p)
    VersionedStore.vacuum(spark, p,
      retainFrom = VersionedStore.latestVersion(spark, p))
    f.exists(new org.apache.hadoop.fs.Path(
      s"$p/bloom/f1-id")) shouldBe false
    f.exists(new org.apache.hadoop.fs.Path(
      s"$p/bloom/f3-id")) shouldBe true
  }

  // --------------------------------------------------------- clone

  test("shallow clone is metadata-only, reads the source's groups, " +
      "and diverges copy-on-write without touching the source") {
    val p = freshPath()
    val c = freshPath()
    val s = spark
    import s.implicits._
    val f = org.apache.hadoop.fs.FileSystem
      .get(spark.sparkContext.hadoopConfiguration)
    VersionedStore.create(spark, p)
    VersionedStore.append(batch(0 until 30), p)
    VersionedStore.deleteKeysDeferred(spark, p,
      Seq(3L).toDF("id"), Seq("id"))
    VersionedStore.cloneTo(spark, p, c) shouldBe 1L
    // zero-copy: the clone owns NO data dirs, yet reads the source's
    // content — including the source's deletion vector
    f.exists(new org.apache.hadoop.fs.Path(s"$c/data")) shouldBe false
    ids(c) shouldBe (0L until 30L).filterNot(_ == 3L)
    // copy-on-write divergence: mutations on the clone mint LOCAL
    // groups; the source's content and version history are untouched
    VersionedStore.append(batch(100 until 110), c)
    VersionedStore.deleteKeys(spark, c, Seq(5L).toDF("id"), Seq("id"))
    ids(c) shouldBe ((0L until 30L) ++ (100L until 110L))
      .filterNot(Seq(3L, 5L).contains)
    ids(p) shouldBe (0L until 30L).filterNot(_ == 3L)
    VersionedStore.latestVersion(spark, p) shouldBe 2L
    // the rewritten cloned-in group became local; the source's dir
    // for it still exists (the rewrite replaced the REFERENCE)
    f.exists(new org.apache.hadoop.fs.Path(s"$p/data/f1")) shouldBe true
    // a clone of the clone flattens foreign locations to the
    // ORIGINAL owner: c2's refs point at p for groups c borrowed,
    // and at c for groups c minted locally. Deleting c therefore
    // kills both c and c2 — and c2 must fail LOUDLY on its dangling
    // c-owned refs, never serve partial data
    val c2 = freshPath()
    VersionedStore.cloneTo(spark, c, c2)
    f.delete(new org.apache.hadoop.fs.Path(c), true)
    an[Exception] should be thrownBy ids(c)
    an[Exception] should be thrownBy ids(c2)
  }

  test("clone at a PINNED version snapshots history: the clone " +
      "serves the pinned state while the source moves on") {
    val p = freshPath()
    val c = freshPath()
    VersionedStore.create(spark, p)
    VersionedStore.append(batch(0 until 10), p)             // v1
    VersionedStore.append(batch(10 until 20), p)            // v2
    VersionedStore.deleteWhere(spark, p, col("id") < 5L)    // v3
    VersionedStore.cloneTo(spark, p, c, version = Some(2L))
    ids(c) shouldBe (0L until 20L)
    // source keeps mutating; the pinned clone is unaffected
    VersionedStore.append(batch(20 until 30), p)
    ids(c) shouldBe (0L until 20L)
    ids(p) shouldBe (5L until 30L)
    // cloning an EMPTY version fails loudly
    val e = the[RuntimeException] thrownBy
      VersionedStore.cloneTo(spark, p, freshPath(),
        version = Some(0L))
    e.getMessage should include("empty")
  }

  test("vacuum on the clone source SPARES the borrowed groups " +
      "while the clone lives (borrow markers), and reclaims them " +
      "once the borrower is gone") {
    val p = freshPath()
    val c = freshPath()
    VersionedStore.create(spark, p)
    VersionedStore.append(batch(0 until 10), p)
    VersionedStore.cloneTo(spark, p, c)
    ids(c) shouldBe (0L until 10L)
    // source compacts + vacuums: the borrowed group is the natural
    // victim, but the live clone's borrow marker spares it — the
    // clone keeps reading (historically this vacuum DELETED the
    // clone's bytes; CloneVacuumSpec pins the full contract)
    VersionedStore.append(batch(10 until 20), p)
    VersionedStore.compact(spark, p)
    VersionedStore.vacuum(spark, p,
      retainFrom = VersionedStore.latestVersion(spark, p))
    ids(c) shouldBe (0L until 10L)
    ids(p) shouldBe (0L until 20L)
    // borrower gone → the next vacuum reclaims
    org.apache.hadoop.fs.FileSystem
      .get(spark.sparkContext.hadoopConfiguration)
      .delete(new org.apache.hadoop.fs.Path(c), true)
    VersionedStore.vacuum(spark, p,
      retainFrom = VersionedStore.latestVersion(spark, p))
      .length should be >= 1
  }

  test("restore to a vacuumed version fails loudly instead of " +
      "serving partial data") {
    val p = freshPath()
    VersionedStore.create(spark, p)
    VersionedStore.append(batch(0 until 10), p)            // v1
    VersionedStore.append(batch(10 until 20), p)           // v2
    VersionedStore.compact(spark, p)                       // v3
    VersionedStore.vacuum(spark, p, retainFrom = 3L)
    val e = the[RuntimeException] thrownBy
      VersionedStore.restore(spark, p, 1L)
    e.getMessage should include("vacuumed")
    // the failed restore committed nothing
    VersionedStore.latestVersion(spark, p) shouldBe 3L
    ids(p) shouldBe (0L until 20L)
  }
}

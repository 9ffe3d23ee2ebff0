package graft.streaming

import graft.SparkFixture
import graft.operators.VersionedStore
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Exactly-once change-feed consumption ([[StoreChangeFeed]]): the
  * replica equals the source after every window, and every crash
  * point — before the window, between the delete and insert halves,
  * after the insert but before the cursor advance, and the nasty
  * variant where the SOURCE advances before the replay — converges
  * to the same state with no duplicates and no lost rows.
  */
class StoreChangeFeedSpec extends AnyFunSuite with SparkFixture
    with Matchers {

  private def freshDir(): String =
    java.nio.file.Files.createTempDirectory("graft-feed").toString

  private def batch(ids: Range, tag: String = "a") = {
    val s = spark
    import s.implicits._
    ids.map(i => (i.toLong, s"$tag$i")).toDF("id", "body")
  }

  private def content(path: String): Map[Long, String] =
    VersionedStore.read(spark, path).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap

  private def hfs = org.apache.hadoop.fs.FileSystem
    .get(spark.sparkContext.hadoopConfiguration)

  /** Rewind the cursor — simulating a consumer that crashed before
    * its cursor advance: drop every marker above `v` (and make sure
    * `v`'s own marker exists, as a completed earlier window left it
    * or its GC'd predecessor implies it).
    */
  private def rewindCursor(cursorPath: String, v: Long): Unit = {
    val d = new org.apache.hadoop.fs.Path(cursorPath)
    if (hfs.exists(d)) hfs.listStatus(d).foreach { st =>
      val n = st.getPath.getName
      if (n.matches("v\\d+") && n.drop(1).toLong > v)
        hfs.delete(st.getPath, true)
    }
    if (v > 0) {
      if (!hfs.exists(d)) hfs.mkdirs(d)
      val out = hfs.create(
        new org.apache.hadoop.fs.Path(d, s"v$v"), true)
      out.close()
    }
  }

  test("happy path: the replica tracks the source across appends, " +
      "merges, deletes, and a compaction, window by window") {
    val d = freshDir()
    val src = s"$d/src"; val dst = s"$d/dst"; val cur = s"$d/cursor"
    val s = spark
    import s.implicits._
    VersionedStore.create(spark, src)
    VersionedStore.append(batch(0 until 20), src)
    StoreChangeFeed.replicate(spark, src, dst, cur, Seq("id")) shouldBe
      (0L, 1L)
    content(dst) shouldBe content(src)
    // replace + insert + delete, then a compaction (nets out in the
    // feed), consumed as ONE window
    VersionedStore.merge(spark, src,
      Seq((3L, "m3"), (100L, "m100")).toDF("id", "body"), Seq("id"))
    VersionedStore.deleteKeys(spark, src,
      Seq(5L).toDF("id"), Seq("id"))
    VersionedStore.compact(spark, src)
    StoreChangeFeed.replicate(spark, src, dst, cur, Seq("id"))._2 shouldBe
      VersionedStore.latestVersion(spark, src)
    content(dst) shouldBe content(src)
    // idle poll: nothing to do, cursor stays
    StoreChangeFeed.replicate(spark, src, dst, cur, Seq("id")) shouldBe
      (4L, 4L)
  }

  test("crash after the insert half, before the cursor advance: the " +
      "replay applies nothing twice") {
    val d = freshDir()
    val src = s"$d/src"; val dst = s"$d/dst"; val cur = s"$d/cursor"
    val s = spark
    import s.implicits._
    VersionedStore.create(spark, src)
    VersionedStore.append(batch(0 until 10), src)
    StoreChangeFeed.replicate(spark, src, dst, cur, Seq("id"))
    // window 2: a replace (delete+insert for id 2) and fresh rows
    VersionedStore.merge(spark, src,
      Seq((2L, "new2"), (50L, "fresh")).toDF("id", "body"), Seq("id"))
    StoreChangeFeed.replicate(spark, src, dst, cur, Seq("id"))
    val settled = content(dst)
    settled(2L) shouldBe "new2"
    // simulate the crash: cursor rewound to the pre-window value,
    // intent + replica exactly as the crashed attempt left them
    rewindCursor(cur, 1L)
    StoreChangeFeed.replicate(spark, src, dst, cur, Seq("id")) shouldBe
      (1L, 2L)
    content(dst) shouldBe settled
    StoreChangeFeed.cursorOf(spark, cur) shouldBe 2L
    // and the replica saw NO extra commit from the replay
    VersionedStore.latestVersion(spark, dst) shouldBe 3L
  }

  test("crash + SOURCE advances before the replay: the write-ahead " +
      "intent pins the original window, then the new one applies — " +
      "no duplicates") {
    val d = freshDir()
    val src = s"$d/src"; val dst = s"$d/dst"; val cur = s"$d/cursor"
    VersionedStore.create(spark, src)
    VersionedStore.append(batch(0 until 10), src)
    StoreChangeFeed.replicate(spark, src, dst, cur, Seq("id"))
    VersionedStore.append(batch(10 until 20), src)
    StoreChangeFeed.replicate(spark, src, dst, cur, Seq("id"))
    // crash before cursor advance...
    rewindCursor(cur, 1L)
    // ...and the source commits MORE before the consumer restarts
    VersionedStore.append(batch(20 until 30), src)
    StoreChangeFeed.replicateAll(spark, src, dst, cur,
      Seq("id")) shouldBe 3L
    content(dst) shouldBe content(src)
    VersionedStore.read(spark, dst).count() shouldBe 30L
  }

  test("a restore past a deletion vector UN-masks rows and the " +
      "feed carries them as inserts — the replica converges to the " +
      "rollback instead of silently diverging") {
    val d = freshDir()
    val src = s"$d/src"; val dst = s"$d/dst"; val cur = s"$d/cursor"
    val s = spark
    import s.implicits._
    VersionedStore.create(spark, src)
    VersionedStore.append(batch(0 until 10), src)            // v1
    StoreChangeFeed.replicate(spark, src, dst, cur, Seq("id"))
    VersionedStore.deleteKeysDeferred(spark, src,
      Seq(5L).toDF("id"), Seq("id"))                         // v2 dv
    StoreChangeFeed.replicate(spark, src, dst, cur, Seq("id"))
    content(dst).keySet should not contain 5L
    // ops decide the deferred delete was wrong: restore to v1. The
    // window (2,3] changes NO group set — only the DV vanishes —
    // and row 5 must still travel as an insert
    VersionedStore.restore(spark, src, 1L)                   // v3
    StoreChangeFeed.replicate(spark, src, dst, cur, Seq("id"))
    content(dst) shouldBe content(src)
    content(dst).keySet should contain(5L)
  }

  test("pure-delete window replays are idempotent") {
    val d = freshDir()
    val src = s"$d/src"; val dst = s"$d/dst"; val cur = s"$d/cursor"
    val s = spark
    import s.implicits._
    VersionedStore.create(spark, src)
    VersionedStore.append(batch(0 until 10), src)
    StoreChangeFeed.replicate(spark, src, dst, cur, Seq("id"))
    VersionedStore.deleteKeys(spark, src,
      Seq(1L, 2L).toDF("id"), Seq("id"))
    StoreChangeFeed.replicate(spark, src, dst, cur, Seq("id"))
    val settled = content(dst)
    rewindCursor(cur, 1L)
    StoreChangeFeed.replicate(spark, src, dst, cur, Seq("id"))
    content(dst) shouldBe settled
    StoreChangeFeed.cursorOf(spark, cur) shouldBe 2L
  }
}

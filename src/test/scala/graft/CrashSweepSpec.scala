package graft

import java.nio.file.{Files, Paths}

import scala.util.{Success, Try}

import graft.meta.{MetaEntry, MetadataStore}
import graft.operators.{StoreManifest, VersionedStore, WinnowIndex}
import graft.streaming.{StoreChangeFeed, StoreStreamingWrite}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Crash consistency of every in-place replace, by fault injection.
  *
  * Each case builds an old state once under a `faulty://` path
  * ([[FaultyFileSystem]]), records the counted mutating calls of one
  * clean run of the operation, and then for every call k (and, for a
  * rename or delete, both a throw and a false return) runs the
  * operation on a fresh copy of the old state with call k faulted.
  * Afterwards the module's own reader must return exactly the old or
  * the new content (exactly the new one when the operation reported
  * success), and a clean re-run must reach the new content.
  */
class CrashSweepSpec extends AnyFunSuite with SparkFixture
    with Matchers {

  private def faulty(dir: String) = s"faulty://$dir"

  private def copyTree(src: String, dst: String): Unit = {
    val from = Paths.get(src)
    val walk = Files.walk(from)
    try walk.forEach { p =>
      val to = Paths.get(dst).resolve(from.relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(to)
      else Files.copy(p, to)
    } finally walk.close()
  }

  /** Sweep `op` over every counted call. `setup`, `op` and `read` take
    * the root URI of one copy. An `op` that is not idempotent (an
    * append) is re-run only where the fault left the old content.
    */
  private def sweep[T](setup: String => Unit, op: String => Unit,
      read: String => T, idempotent: Boolean = true): Unit = {
    spark.sparkContext.hadoopConfiguration
      .set("fs.faulty.impl", classOf[FaultyFileSystem].getName)
    val base = Files.createTempDirectory("graft-sweep").toString
    val template = s"$base/template"
    setup(faulty(template))
    var copies = 0
    def fresh(): String = {
      copies += 1
      val d = s"$base/c$copies"
      copyTree(template, d)
      faulty(d)
    }
    val old = read(fresh())
    val probe = fresh()
    val (clean, calls) = FaultyFileSystem.run(0)(op(probe))
    clean.get
    val neu = read(probe)
    neu should not be old
    calls should not be empty
    val faults = calls.zipWithIndex.flatMap { case (c, i) =>
      val modes =
        if (c.op == "rename" || c.op == "delete") Seq(false, true)
        else Seq(false)
      modes.map(asFalse => (i + 1, c, asFalse))
    }
    val failures = faults.flatMap { case (k, call, asFalse) =>
      val root = fresh()
      val (out, _) = FaultyFileSystem.run(k, asFalse)(op(root))
      val seen = Try(read(root))
      val where = s"#$k $call (${if (asFalse) "false" else "throw"}, " +
        s"op ${if (out.isSuccess) "succeeded" else "failed"})"
      val after =
        if (seen == Success(neu) && out.isSuccess) None
        else if (out.isSuccess) Some(s"$where: reader saw $seen")
        else if (seen != Success(old) && seen != Success(neu))
          Some(s"$where: reader saw $seen")
        else None
      val rerun = Try {
        if (idempotent || seen == Success(old)) op(root)
        read(root)
      }
      after.toSeq ++ (rerun match {
        case Success(v) if v == neu => None
        case other => Some(s"$where: clean re-run gave $other")
      })
    }
    info(s"${faults.size} injected faults over ${calls.size} calls")
    withClue(s"${faults.size} injected faults over ${calls.size} " +
        s"calls:\n${failures.mkString("\n")}\n") {
      failures shouldBe empty
    }
  }

  private def rows(ids: Range, tag: String) = {
    val s = spark
    import s.implicits._
    ids.map(i => (i.toLong, s"$tag$i")).toDF("id", "body")
  }

  private def ids(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getString(1))).toSeq.sorted

  test("MetadataStore.put: old or new table at every fault") {
    def kv(root: String) = new MetadataStore(spark, s"$root/kv")
    sweep(
      root => kv(root).init(Seq(MetaEntry("a", "t", "1"),
        MetaEntry("b", "t", "2"))),
      root => kv(root).put("a", "t", "9"),
      root => Seq("a", "b").map(kv(root).get))
  }

  test("VersionedStore.setProperties: old or new map at every fault") {
    sweep(
      root => {
        VersionedStore.create(spark, s"$root/s")
        VersionedStore.setProperties(spark, s"$root/s", Map("k" -> "1"))
      },
      root => VersionedStore.setProperties(spark, s"$root/s",
        Map("k" -> "2", "owner" -> "x")),
      root => VersionedStore.propertiesOf(spark, s"$root/s"))
  }

  test("StoreManifest.pin: old or new pin set at every fault") {
    sweep(
      root => {
        VersionedStore.create(spark, s"$root/s")
        VersionedStore.append(rows(0 until 5, "a"), s"$root/s")
        StoreManifest.pin(spark, Seq(s"$root/s"), s"$root/m")
        VersionedStore.append(rows(5 until 10, "a"), s"$root/s")
      },
      root => { StoreManifest.pin(spark, Seq(s"$root/s"), s"$root/m"); () },
      root => StoreManifest.versions(spark, s"$root/m")
        .map { case (p, v) => p.stripPrefix(root) -> v })
  }

  test("WinnowIndex.compact: the index keeps its rows at every fault") {
    val s = spark
    import s.implicits._
    def docs(ids: Range) = ids.map(i =>
      (i.toLong, (0 until 12).map(j => s"w${(i * 7 + j) % 10}")
        .mkString(" "))).toDF("doc_id", "text")
    def idx(root: String) = s"$root/idx"
    sweep(
      root => {
        WinnowIndex.build(docs(0 until 6), idx(root), buckets = 4)
        WinnowIndex.addDelta(docs(6 until 9), idx(root), buckets = 4)
      },
      root => WinnowIndex.compact(spark, idx(root), buckets = 4),
      root => {
        val stored = WinnowIndex.read(spark, idx(root))
        val files = stored.inputFiles.length
        (stored.as[(Long, Long, Long)].collect().toSeq.sorted, files)
      })
  }

  test("a Bloom-armed VersionedStore.append: old or new content at " +
      "every fault") {
    def store(root: String) = s"$root/s"
    sweep(
      root => {
        VersionedStore.create(spark, store(root))
        VersionedStore.append(rows(0 until 5, "a"), store(root),
          bloomCols = Seq("id"))
      },
      root => {
        VersionedStore.append(rows(5 until 10, "b"), store(root),
          bloomCols = Seq("id")); ()
      },
      root => {
        val all = VersionedStore.read(spark, store(root))
        (ids(all), ids(all.filter(col("id") === 7L)))
      },
      idempotent = false)
  }

  test("StoreChangeFeed.replicate: old or new replica at every fault") {
    def rep(root: String) = StoreChangeFeed.replicate(spark,
      s"$root/src", s"$root/dst", s"$root/cursor", Seq("id"))
    sweep(
      root => {
        VersionedStore.create(spark, s"$root/src")
        VersionedStore.append(rows(0 until 5, "a"), s"$root/src")
        rep(root)
        VersionedStore.append(rows(5 until 10, "b"), s"$root/src")
      },
      root => { rep(root); () },
      root => ids(VersionedStore.read(spark, s"$root/dst")))
  }

  test("VersionedStore.adoptStreamEpoch: old or new content at every " +
      "fault, and a replayed epoch adds nothing") {
    def store(root: String) = s"$root/s"
    def setup(root: String): Unit = {
      VersionedStore.create(spark, store(root))
      VersionedStore.append(rows(0 until 5, "a"), store(root))
      ()
    }
    // epoch 0 of the `toTable` sink: two tasks stage their rows with
    // Spark's parquet writer, then the driver commits the epoch
    def epoch(root: String): Unit = {
      val sink = new StoreStreamingWrite(store(root),
        StructType.fromDDL("id BIGINT, body STRING"), "q")
      val tasks = sink.createStreamingWriterFactory(null)
      val staged = Seq(5 until 8, 8 until 10).zipWithIndex.map {
        case (ids, p) =>
          val w = tasks.createWriter(p, p.toLong, 0L)
          try {
            ids.foreach(i => w.write(
              InternalRow(i.toLong, UTF8String.fromString(s"b$i"))))
            w.commit()
          } finally w.close()
      }
      sink.commit(0L, staged.toArray)
    }
    def content(root: String) = ids(VersionedStore.read(spark, store(root)))
    sweep(setup, epoch, content)
    val root = Files.createTempDirectory("graft-replay").toString
    setup(root)
    epoch(root)
    val (v, once) = (VersionedStore.latestVersion(spark, store(root)),
      content(root))
    once.map(_._1) shouldBe (0L until 10L)
    epoch(root)
    VersionedStore.latestVersion(spark, store(root)) shouldBe v
    content(root) shouldBe once
  }
}

package graft.operators

import graft.SparkFixture
import org.apache.hadoop.fs.{FileSystem, Path}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** The object-storage commit contract: [[VersionedStore]]'s three
  * atomicity points (commit publication, fid claims, checkpoint
  * pointer) ride on [[LogStore]]. An exclusive implementation that
  * does NOT use filesystem rename (a conditional-PUT stand-in) must
  * run the full concurrent protocol unchanged; a non-exclusive one
  * (raw S3 rename semantics) must be REFUSED loudly before a byte is
  * written — never silent last-writer-wins corruption.
  */
class LogStoreSpec extends AnyFunSuite with SparkFixture
    with Matchers {

  private def freshPath(): String =
    java.nio.file.Files.createTempDirectory("graft-logstore").toString +
      "/store"

  private def batch(ids: Range) = {
    val s = spark
    import s.implicits._
    ids.map(i => (i.toLong, s"doc-$i", i % 5)).toDF("id", "body", "g")
  }

  private def ids(path: String): Seq[Long] =
    VersionedStore.read(spark, path)
      .select("id").collect().map(_.getLong(0)).toSeq.sorted

  /** Exclusivity WITHOUT rename atomicity: winner election happens
    * under an internal lock (what a conditional `If-None-Match` PUT
    * or a coordinator table provides on S3), and only then does data
    * move. Proves the store's protocol needs the exclusive-winner
    * primitive, not HDFS rename itself.
    */
  private final class ConditionalPutLogStore extends LogStore {
    val publishes = new java.util.concurrent.atomic.AtomicInteger(0)
    def exclusive: Boolean = true
    def publish(f: FileSystem, tmp: Path, dest: Path): Boolean =
      synchronized {
        publishes.incrementAndGet()
        if (f.exists(dest)) false
        else { require(f.rename(tmp, dest)); true }
      }
    def createExclusive(f: FileSystem, p: Path): Boolean =
      synchronized {
        if (f.exists(p)) false
        else { f.create(p, false).close(); true }
      }
  }

  /** Raw-S3 "rename": copy-then-delete with last-writer-wins — the
    * second publisher of a version silently replaces the first.
    */
  private final class NaiveObjectStoreLogStore extends LogStore {
    def exclusive: Boolean = false
    def publish(f: FileSystem, tmp: Path, dest: Path): Boolean = {
      if (f.exists(dest)) f.delete(dest, true)
      f.rename(tmp, dest)
    }
    def createExclusive(f: FileSystem, p: Path): Boolean = {
      if (f.exists(p)) f.delete(p, false)
      f.create(p, true).close(); true
    }
  }

  test("the full concurrent-append protocol runs unchanged through " +
      "a rename-free exclusive LogStore (conditional-PUT stand-in)") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val ls = new ConditionalPutLogStore
    VersionedStore.setLogStore(ls)
    try {
      val p = freshPath()
      VersionedStore.create(spark, p)
      val writers = (0 until 4).map { w =>
        Future {
          VersionedStore.append(batch(w * 100 until w * 100 + 10), p)
        }
      }
      Await.result(Future.sequence(writers), 120.seconds)
      VersionedStore.latestVersion(spark, p) shouldBe 4L
      ids(p) shouldBe (0 until 4)
        .flatMap(w => w * 100L until w * 100L + 10L).sorted
      ls.publishes.get() should be >= 4
    } finally VersionedStore.setLogStore(HdfsLogStore)
  }

  test("a NON-exclusive LogStore (raw S3 rename semantics) is " +
      "refused loudly before anything is written — and the refusal " +
      "is warranted: the primitive really is last-writer-wins") {
    val p = freshPath()
    VersionedStore.create(spark, p)
    VersionedStore.append(batch(0 until 10), p)
    val naive = new NaiveObjectStoreLogStore
    // first, the demonstration: two staged publications to ONE
    // destination both "succeed", and the second silently replaces
    // the first — this is what raw S3 rename does to a commit log
    val f = FileSystem.get(spark.sparkContext.hadoopConfiguration)
    val base = new Path(freshPath()); f.mkdirs(base)
    def stage(n: String, body: String): Path = {
      val t = new Path(base, n)
      val out = f.create(t, true)
      out.write(body.getBytes("UTF-8")); out.close(); t
    }
    val dest = new Path(base, "v1")
    naive.publish(f, stage("a", "winner"), dest) shouldBe true
    naive.publish(f, stage("b", "clobberer"), dest) shouldBe true
    val in = f.open(dest)
    val got = try scala.io.Source.fromInputStream(in).mkString
      finally in.close()
    got shouldBe "clobberer" // the first commit is GONE, silently
    // therefore the store refuses to commit through it
    VersionedStore.setLogStore(naive)
    try {
      val before = VersionedStore.latestVersion(spark, p)
      val e = intercept[RuntimeException] {
        VersionedStore.append(batch(100 until 110), p)
      }
      e.getMessage should include("non-exclusive")
      e.getMessage should include("conditional PUT")
      // nothing landed, nothing was lost
      VersionedStore.latestVersion(spark, p) shouldBe before
      ids(p) shouldBe (0L until 10L)
    } finally VersionedStore.setLogStore(HdfsLogStore)
  }

  test("rename-into-existing-directory race is DETECTED: a loser " +
      "whose exists-check missed the winner does not nest its " +
      "record inside the winner's dir and call it success") {
    val raw = FileSystem.get(spark.sparkContext.hadoopConfiguration)
    val base = new Path(freshPath()); raw.mkdirs(base)
    val dest = new Path(base, "v7")
    def stage(n: String): Path = {
      val d = new Path(base, n)
      raw.mkdirs(d)
      raw.create(new Path(d, "record.parquet"), true).close()
      d
    }
    // the winner publishes normally
    HdfsLogStore.publish(raw, stage("tmp-winner"), dest) shouldBe true
    // the loser's filesystem LIES once about dest (simulating the
    // exists→rename window): POSIX-y rename then moves the loser's
    // tmp INSIDE dest instead of failing — the silent-lost-commit
    // shape the detection exists for
    val blindFs = new org.apache.hadoop.fs.FilterFileSystem(raw) {
      private var blind = true
      override def exists(p: Path): Boolean =
        if (blind && p == dest) { blind = false; false }
        else super.exists(p)
    }
    val loserTmp = stage("tmp-loser")
    HdfsLogStore.publish(blindFs, loserTmp, dest) shouldBe false
    // the winner's record is intact, nothing nested, loser cleaned
    raw.exists(new Path(dest, "record.parquet")) shouldBe true
    raw.exists(new Path(dest, "tmp-loser")) shouldBe false
    raw.listStatus(dest).length shouldBe 1
  }

  test("HdfsLogStore classifies outcomes: lost race = false, " +
      "filesystem fault = thrown error (never a phantom conflict)") {
    val f = FileSystem.get(spark.sparkContext.hadoopConfiguration)
    val base = new Path(freshPath()); f.mkdirs(base)
    def stage(n: String): Path = {
      val t = new Path(base, n)
      f.create(t, true).close(); t
    }
    val dest = new Path(base, "v1")
    HdfsLogStore.publish(f, stage("a"), dest) shouldBe true
    // destination taken → lost race, reported as false
    HdfsLogStore.publish(f, stage("b"), dest) shouldBe false
    // rename failing with the destination ABSENT (source missing —
    // a stand-in for any real fs fault) → THROWN (either the
    // filesystem's own exception or the store's explicit
    // filesystem-error message), never reported as a lost race
    val gone = new Path(base, "never-staged")
    val err = intercept[Exception] {
      HdfsLogStore.publish(f, gone, new Path(base, "v2"))
    }
    (err.isInstanceOf[java.io.IOException] ||
      err.getMessage.contains("filesystem error")) shouldBe true
    // exclusive create: second claim of one marker loses
    val m = new Path(base, "claim-f7")
    HdfsLogStore.createExclusive(f, m) shouldBe true
    HdfsLogStore.createExclusive(f, m) shouldBe false
  }
}

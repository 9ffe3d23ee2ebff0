package graft.operators

import graft.SparkFixture
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** The pin set is atomic and immune to post-pin drift: reads through
  * the manifest reproduce every store at its pinned version after
  * appends, deletes, and compactions land on top, and a vacuum past
  * a pinned version fails the manifest read loudly.
  */
class StoreManifestSpec extends AnyFunSuite with SparkFixture
    with Matchers {

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString + "/x"

  private def batch(ids: Range) = {
    val s = spark
    import s.implicits._
    ids.map(i => (i.toLong, s"d$i")).toDF("id", "body")
  }

  test("readAll serves pinned versions across post-pin mutations; " +
      "vacuum past a pin fails loudly") {
    val a = tmp("man-a")
    val b = tmp("man-b")
    val m = tmp("man-m") + "/manifest"
    VersionedStore.create(spark, a)
    VersionedStore.create(spark, b)
    VersionedStore.append(batch(0 until 10), a)   // a@1
    VersionedStore.append(batch(100 until 105), b) // b@1
    val pinned = StoreManifest.pin(spark, Seq(a, b), m)
    pinned shouldBe Map(a -> 1L, b -> 1L)

    // drift on top of the pin
    VersionedStore.append(batch(10 until 20), a)          // a@2
    VersionedStore.deleteWhere(spark, b, col("id") === 101L) // b@2
    VersionedStore.compact(spark, b)                       // b@3

    val read = StoreManifest.readAll(spark, m)
    read(a).select("id").collect().map(_.getLong(0)).sorted shouldBe
      (0L until 10L).toArray
    read(b).select("id").collect().map(_.getLong(0)).sorted shouldBe
      (100L until 105L).toArray

    // a vacuum that passes the pinned version makes the manifest
    // read fail loudly instead of serving a different corpus
    VersionedStore.vacuum(spark, b, retainFrom = 3L)
    val e = intercept[RuntimeException] {
      StoreManifest.readAll(spark, m)(b).count()
    }
    e.getMessage should include("vacuumed")
  }

  test("a manifest publish cut between its two renames keeps the " +
      "previous pin set") {
    import org.apache.hadoop.fs.{FileSystem, Path}
    val a = tmp("man-ca")
    val m = tmp("man-cm") + "/manifest"
    VersionedStore.create(spark, a)
    VersionedStore.append(batch(0 until 10), a)   // a@1
    StoreManifest.pin(spark, Seq(a), m) shouldBe Map(a -> 1L)
    VersionedStore.append(batch(10 until 20), a)  // a@2
    val f = FileSystem.get(spark.sparkContext.hadoopConfiguration)
    // state after the live manifest moved aside and before the new
    // one moved in: the staged new pin set sits in the hidden tmp
    val tmpDir = new Path(new Path(m).getParent, ".manifest.tmp")
    f.mkdirs(tmpDir) shouldBe true
    f.rename(new Path(m), new Path(new Path(m).getParent,
      ".manifest.bak")) shouldBe true
    StoreManifest.versions(spark, m) shouldBe Map(a -> 1L)
    StoreManifest.readAll(spark, m)(a).count() shouldBe 10L
    // the next pin replaces it and leaves no hidden siblings
    StoreManifest.pin(spark, Seq(a), m) shouldBe Map(a -> 2L)
    StoreManifest.versions(spark, m) shouldBe Map(a -> 2L)
    f.listStatus(new Path(m).getParent).map(_.getPath.getName)
      .filter(_.startsWith(".manifest")) shouldBe empty
  }
}

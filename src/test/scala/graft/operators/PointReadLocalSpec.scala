package graft.operators

import graft.{JobSites, SparkFixture}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** `readPoint` decodes a small candidate set on the driver and serves
  * it as a local relation: collecting it runs no Spark job, and its
  * rows are exactly those of a plain filtered read. Stores with a live
  * deletion vector, or candidates above the byte cap, keep the Spark
  * scan.
  */
class PointReadLocalSpec extends AnyFunSuite with SparkFixture
    with Matchers {

  private def freshPath(): String =
    java.nio.file.Files.createTempDirectory("graft-pointlocal")
      .toString + "/store"

  /** Rows `ids` with an Int, a String and a Double column derived from
    * the id, so each probe type has a column of its own type.
    */
  private def batch(ids: Range): DataFrame =
    spark.range(ids.start.toLong, ids.end.toLong, 1, 1).select(
      col("id"), (col("id") % 1000).cast("int").as("i"),
      format_string("s%06d", col("id")).as("s"),
      (col("id") / 4.0).as("d"))

  private def zonedStore(): String = {
    val p = freshPath()
    VersionedStore.create(spark, p)
    (0 until 4).foreach { g =>
      VersionedStore.append(batch(g * 500 until (g + 1) * 500), p,
        zoneCols = Seq("id", "s"), bloomCols = Seq("s"))
    }
    p
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  private def onDriver(df: DataFrame): Boolean = {
    val leaves = df.queryExecution.analyzed.collectLeaves()
    leaves.forall(_.isInstanceOf[LocalRelation])
  }

  private def onSpark(df: DataFrame): Boolean =
    df.queryExecution.analyzed.collectLeaves()
      .exists(_.isInstanceOf[LogicalRelation])

  /** readPoint equals a plain filtered read, column names included. */
  private def samePoint(p: String, keyCol: String, value: Any): DataFrame = {
    val got = VersionedStore.readPoint(spark, p, keyCol, value)
    val plain = VersionedStore.read(spark, p)
      .filter(col(keyCol) === lit(value))
    got.columns.toSeq shouldBe plain.columns.toSeq
    rows(got) shouldBe rows(plain)
    got
  }

  test("a point read on a small zoned, Bloom-armed store runs no " +
      "Spark job") {
    val p = zonedStore()
    VersionedStore.readPoint(spark, p, "id", 1234L).collect()
    var got = Seq.empty[Row]
    val sites = JobSites.during(spark) {
      got = VersionedStore.readPoint(spark, p, "id", 1234L).collect()
        .toSeq
    }
    sites shouldBe empty
    got.map(_.getAs[Long]("id")) shouldBe Seq(1234L)
    JobSites.during(spark) {
      VersionedStore.readPoint(spark, p, "s", "s000777").collect()
    } shouldBe empty
    onDriver(VersionedStore.readPoint(spark, p, "id", 1234L)) shouldBe
      true
  }

  test("the driver path equals a plain filtered read: a hit, a key " +
      "outside every zone and a Bloom veto") {
    val p = zonedStore()
    onDriver(samePoint(p, "id", 1234L)) shouldBe true
    rows(samePoint(p, "id", 1234L)) should have size 1
    // outside every zone: no candidate, the empty relation
    val v = VersionedStore.latestVersion(spark, p)
    VersionedStore.pointCandidates(spark, p, v, "id", 99999L) shouldBe
      empty
    val none = samePoint(p, "id", 99999L)
    onDriver(none) shouldBe true
    none.schema.map(f => f.name -> f.dataType) shouldBe
      VersionedStore.read(spark, p).schema.map(f => f.name -> f.dataType)
    // inside the zone of the last group, absent from its sidecar
    val zoned = VersionedStore.candidateFidsStr(spark, p, v, "s",
      "s001500a", "s001500a")
    zoned should not be empty
    VersionedStore.pointCandidates(spark, p, v, "s", "s001500a")
      .size should be < zoned.size
    rows(samePoint(p, "s", "s001500a")) shouldBe empty
  }

  test("the driver path serves a renamed key column and reads NULL " +
      "for a column a group predates") {
    val p = zonedStore()
    // a nullable column: the zoned Spark scan cannot yet read a
    // non-nullable added column from groups that predate it
    VersionedStore.append(batch(2000 until 2500)
      .withColumn("tag", when(col("id") >= 0, lit("new"))), p,
      evolve = true, zoneCols = Seq("id"))
    VersionedStore.renameColumn(spark, p, "id", "key")
    val old = samePoint(p, "key", 321L)
    onDriver(old) shouldBe true
    old.collect().map(_.getAs[String]("tag")).toSeq shouldBe Seq(null)
    val fresh = samePoint(p, "key", 2100L)
    onDriver(fresh) shouldBe true
    fresh.collect().map(_.getAs[String]("tag")).toSeq shouldBe Seq("new")
    JobSites.during(spark) {
      VersionedStore.readPoint(spark, p, "key", 321L).collect()
    } shouldBe empty
  }

  test("the driver path reads a clone's groups from the source store") {
    val src = zonedStore()
    val dst = freshPath()
    VersionedStore.cloneTo(spark, src, dst)
    VersionedStore.append(batch(5000 until 5100), dst,
      zoneCols = Seq("id"))
    Seq(1234L, 5050L).foreach { k =>
      onDriver(samePoint(dst, "id", k)) shouldBe true
      rows(samePoint(dst, "id", k)) should have size 1
    }
    JobSites.during(spark) {
      VersionedStore.readPoint(spark, dst, "id", 1234L).collect()
    } shouldBe empty
  }

  test("Int, Long, String and Double probes equal a plain filtered " +
      "read, on their own columns and across types") {
    val p = zonedStore()
    val probes: Seq[(String, Any)] = Seq(
      "i" -> 234, "id" -> 1234L, "s" -> "s001234", "d" -> 308.5d,
      "id" -> 1234, "id" -> "1234", "id" -> 1234.0d, "id" -> 1234.5d,
      "i" -> 234L, "d" -> 308)
    probes.foreach { case (c, value) =>
      withClue(s"$c = $value (${value.getClass.getSimpleName}): ") {
        onDriver(samePoint(p, c, value)) shouldBe true
      }
    }
    rows(samePoint(p, "i", 234)) should have size 2
    rows(samePoint(p, "id", 1234.5d)) shouldBe empty
  }

  test("a live deletion vector and candidates above the byte cap take " +
      "the Spark path and stay correct") {
    val p = zonedStore()
    import spark.implicits._
    VersionedStore.deleteKeysDeferred(spark, p,
      Seq(1234L, 1500L).toDF("id"), Seq("id"))
    Seq(1234L, 1235L, 1500L).foreach { k =>
      onSpark(samePoint(p, "id", k)) shouldBe true
    }
    rows(samePoint(p, "id", 1234L)) shouldBe empty
    rows(samePoint(p, "id", 1235L)) should have size 1

    // random hex strings barely compress: one group above the cap
    val big = freshPath()
    VersionedStore.create(spark, big)
    VersionedStore.append(spark.range(0, 60000, 1, 1).select(col("id"),
      sha2(col("id").cast("string"), 256).as("h1"),
      sha2(col("id").cast("string"), 512).as("h2")), big,
      zoneCols = Seq("id"))
    val bytes = org.apache.hadoop.fs.FileSystem
      .get(spark.sparkContext.hadoopConfiguration)
      .getContentSummary(new org.apache.hadoop.fs.Path(s"$big/data"))
      .getLength
    bytes should be > VersionedStore.PointLocalMaxBytes
    val got = samePoint(big, "id", 12345L)
    onSpark(got) shouldBe true
    rows(got) should have size 1
  }

  test("Byte, Short and Long probes prune by zones alike") {
    val p = freshPath()
    VersionedStore.create(spark, p)
    (0 until 4).foreach { g =>
      VersionedStore.append(batch(g * 10 until (g + 1) * 10), p,
        zoneCols = Seq("id"))
    }
    val v = VersionedStore.latestVersion(spark, p)
    val byLong = VersionedStore.pointCandidates(spark, p, v, "id", 5L)
    byLong should have size 1
    VersionedStore.pointCandidates(spark, p, v, "id", 5.toShort) shouldBe
      byLong
    VersionedStore.pointCandidates(spark, p, v, "id", 5.toByte) shouldBe
      byLong
    rows(samePoint(p, "id", 5.toShort)) should have size 1
    rows(samePoint(p, "id", 5.toByte)) should have size 1
  }
}

package graft.meta

import java.nio.file.Files

import graft.{JobSites, SparkFixture}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.Row
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

class MetadataStoreSpec extends AnyFunSuite with SparkFixture with Matchers {

  private def freshStore(): MetadataStore = {
    val dir = Files.createTempDirectory("graft-meta").toString + "/kv"
    val store = new MetadataStore(spark, dir)
    store.init(Seq(
      MetaEntry("bundesliga_match_scores", "transactional", ""),
      MetaEntry("laliga_match_scores", "transactional", "old/value")))
    store
  }

  test("get / getKeyType (reference :35-45,104-114)") {
    val s = freshStore()
    s.getKeyType("bundesliga_match_scores") shouldBe Some("transactional")
    s.get("laliga_match_scores") shouldBe Some("old/value")
    s.get("missing") shouldBe None
  }

  test("updatePathValue mirrors the generated UPDATE (reference :80-92): " +
      "m_value = m_key_type || '/' || key || '/' || suffix") {
    val s = freshStore()
    s.updatePathValue("bundesliga_match_scores", "2022/may/12/")
    s.get("bundesliga_match_scores") shouldBe
      Some("transactional/bundesliga_match_scores/2022/may/12/")
    // other keys untouched
    s.get("laliga_match_scores") shouldBe Some("old/value")
  }

  test("put upserts") {
    val s = freshStore()
    s.put("new_key", "master", "v1")
    s.get("new_key") shouldBe Some("v1")
    s.put("new_key", "master", "v2")
    s.get("new_key") shouldBe Some("v2")
    s.df.count() shouldBe 3
  }

  private def visibleParts(dir: String): Seq[String] = {
    val p = new Path(dir)
    p.getFileSystem(spark.sessionState.newHadoopConf())
      .listStatus(p).toSeq.map(_.getPath.getName)
      .filterNot(n => n.startsWith(".") || n.startsWith("_"))
  }

  test("lookups and updates run in the driver: no Spark job") {
    val s = freshStore()
    val sites = JobSites.during(spark) {
      s.get("laliga_match_scores") shouldBe Some("old/value")
      s.getKeyType("bundesliga_match_scores") shouldBe Some("transactional")
      s.updatePathValue("bundesliga_match_scores", "2022/may/12/")
      s.put("new_key", "master", "v1")
    }
    sites shouldBe empty
  }

  test("a directory written by the old Spark path reads and updates " +
      "in place, leaving one visible part") {
    val dir = Files.createTempDirectory("graft-meta-old").toString + "/kv"
    val schema = StructType(Seq("m_key", "m_key_type", "m_value")
      .map(StructField(_, StringType)))
    spark.createDataFrame(spark.sparkContext.parallelize(Seq(
        Row("bundesliga_match_scores", "transactional", ""),
        Row("laliga_match_scores", "transactional", "old/value")), 1),
        schema)
      .coalesce(1).write.parquet(dir)
    val sparkPart = visibleParts(dir)
    sparkPart should have size 1

    val s = new MetadataStore(spark, dir)
    s.getKeyType("bundesliga_match_scores") shouldBe Some("transactional")
    s.get("laliga_match_scores") shouldBe Some("old/value")
    s.updatePathValue("bundesliga_match_scores", "2022/may/12/")

    val parts = visibleParts(dir)
    parts should have size 1
    parts should not contain sparkPart.head
    s.df.count() shouldBe 2
    s.get("bundesliga_match_scores") shouldBe
      Some("transactional/bundesliga_match_scores/2022/may/12/")
    s.df.collect().map(r => r.getString(0) -> r.getString(2)).toMap shouldBe
      Map("bundesliga_match_scores" ->
        "transactional/bundesliga_match_scores/2022/may/12/",
        "laliga_match_scores" -> "old/value")
  }

  test("a publish cut between its two renames rolls back to the " +
      "last complete table; a leftover backup is dropped") {
    val root = Files.createTempDirectory("graft-meta-crash")
    val s = new MetadataStore(spark, s"$root/kv")
    s.init(Seq(MetaEntry("k", "t", "v1")))
    val fs = new Path(root.toString)
      .getFileSystem(spark.sessionState.newHadoopConf())
    // state after `kv` moved aside and before the new copy moved in
    fs.rename(new Path(s"$root/kv"), new Path(s"$root/.kv.bak")) shouldBe true
    s.get("k") shouldBe Some("v1")
    fs.exists(new Path(s"$root/.kv.bak")) shouldBe false
    // state after the publish and before the backup was dropped
    s.put("k", "t", "v2")
    fs.mkdirs(new Path(s"$root/.kv.bak"))
    s.get("k") shouldBe Some("v2")
    fs.exists(new Path(s"$root/.kv.bak")) shouldBe false
    s.df.count() shouldBe 1
  }
}

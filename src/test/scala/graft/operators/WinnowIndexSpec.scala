package graft.operators

import graft.{SparkFixture, Tables}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Materialized winnow index: parquet round-trip parity with the
  * inline selection, and the bucket-pruned value probe.
  */
class WinnowIndexSpec extends AnyFunSuite with SparkFixture
    with Matchers {

  private val sfDir = "/root/testdata/sf0.001"

  private def docs = Tables.documents(spark, sfDir)

  private def asSet(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSet

  test("build + read round-trips the inline fingerprint index " +
      "exactly (schema and rows)") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-widx").toString + "/idx"
    WinnowIndex.build(docs, dir)
    val stored = WinnowIndex.read(spark, dir)
    stored.schema.fields.map(f => (f.name, f.dataType.typeName))
      .toSeq shouldBe Seq(("doc_id", "long"), ("pos", "long"),
        ("fph", "long"))
    val inline = Winnowing.fingerprints(docs)
    asSet(stored) shouldBe asSet(inline)
  }

  test("probe returns exactly the stored rows sharing a fingerprint " +
      "with the probe set, via a pushed fbucket partition filter") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-widx-p").toString + "/idx"
    WinnowIndex.build(docs, dir)
    val all = Winnowing.fingerprints(docs)
    // probe with one document's fingerprints: expect every index row
    // (any doc) carrying one of those values
    val probeSet = all.filter(col("doc_id") === 0L).select("fph")
    val want = asSet(all.join(
      probeSet.distinct(), "fph")
      .select("doc_id", "pos", "fph"))
    val got = WinnowIndex.probe(spark, dir, probeSet)
    asSet(got.select("doc_id", "pos", "fph")) shouldBe want
    want should not be empty
    // the partition filter actually reached the scan
    val plan = got.queryExecution.executedPlan.toString
    plan should include("fbucket")
  }

  test("addDelta: base build + batch append equals the full build, " +
      "and probes see delta rows") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-widx-d").toString + "/idx"
    val base = docs.filter(col("doc_id") % 10 =!= 7)
    val batch = docs.filter(col("doc_id") % 10 === 7)
    batch.count() should be > 0L
    WinnowIndex.build(base, dir)
    WinnowIndex.addDelta(batch, dir)
    asSet(WinnowIndex.read(spark, dir)) shouldBe
      asSet(Winnowing.fingerprints(docs))
    // a probe keyed on a DELTA document's fingerprints finds them
    val batchFps = Winnowing.fingerprints(batch)
    val probeSet = batchFps
      .select("doc_id").distinct().limit(1)
      .join(batchFps, "doc_id").select("fph")
    val got = WinnowIndex.probe(spark, dir, probeSet)
    asSet(got.select("doc_id", "pos", "fph")) shouldBe
      asSet(Winnowing.fingerprints(docs)
        .join(probeSet.distinct(), "fph")
        .select("doc_id", "pos", "fph"))
  }

  test("compact folds delta files back to one per bucket without " +
      "changing rows") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-widx-c").toString + "/idx"
    val base = docs.filter(col("doc_id") % 10 =!= 7)
    val batch = docs.filter(col("doc_id") % 10 === 7)
    WinnowIndex.build(base, dir)
    WinnowIndex.addDelta(batch, dir)
    def parquetFiles(): Map[String, Int] = {
      val root = new java.io.File(dir)
      root.listFiles().filter(_.getName.startsWith("fbucket="))
        .map(d => d.getName ->
          d.listFiles().count(_.getName.endsWith(".parquet")))
        .toMap
    }
    // after the delta, buckets touched by BOTH writes hold 2 files
    parquetFiles().values.max should be >= 2
    val before = asSet(WinnowIndex.read(spark, dir))
    WinnowIndex.compact(spark, dir)
    val after = parquetFiles()
    after.values.max shouldBe 1
    asSet(WinnowIndex.read(spark, dir)) shouldBe before
  }

  test("compact survives crashed-compaction leftovers without " +
      "duplicating rows (stale tmp/old dirs are cleared first)") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-widx-x").toString + "/idx"
    WinnowIndex.build(docs, dir)
    val before = asSet(WinnowIndex.read(spark, dir))
    // simulate a prior compaction that crashed mid-flight: a full
    // stale copy at .compact-tmp (crashed before the swap) AND a
    // stale .compact-old (crashed between the two renames). Without
    // the pre-clean, rename(tmp, path) would NEST the new tmp inside
    // the stale dir and the next read would see every row twice.
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    import org.apache.hadoop.fs.Path
    fs.mkdirs(new Path(dir + ".compact-old"))
    WinnowIndex.write(WinnowIndex.read(spark, dir),
      dir + ".compact-tmp")
    WinnowIndex.compact(spark, dir)
    asSet(WinnowIndex.read(spark, dir)) shouldBe before
    fs.exists(new Path(dir + ".compact-tmp")) shouldBe false
    fs.exists(new Path(dir + ".compact-old")) shouldBe false
  }

  test("compact after a crash between its two renames restores the " +
      "moved-aside index instead of deleting it") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-widx-r").toString + "/idx"
    WinnowIndex.build(docs, dir)
    val before = asSet(WinnowIndex.read(spark, dir))
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    import org.apache.hadoop.fs.Path
    // the crashed compaction had written its rewrite to .compact-tmp
    // and moved the live index aside to .compact-old; the live path
    // is gone and .compact-old holds the only complete copy
    WinnowIndex.write(WinnowIndex.read(spark, dir),
      dir + ".compact-tmp")
    fs.rename(new Path(dir), new Path(dir + ".compact-old")) shouldBe
      true
    fs.exists(new Path(dir)) shouldBe false
    WinnowIndex.compact(spark, dir)
    asSet(WinnowIndex.read(spark, dir)) shouldBe before
    fs.exists(new Path(dir + ".compact-tmp")) shouldBe false
    fs.exists(new Path(dir + ".compact-old")) shouldBe false
  }
}

package graft.operators

import graft.SparkFixture
import org.apache.spark.sql.functions._
import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers

import scala.util.Random

class BloomJoinSpec extends AnyFlatSpec with Matchers with SparkFixture {

  behavior of "BloomJoin"

  private def longs(name: String, vs: Seq[java.lang.Long]) = {
    val s = spark
    import s.implicits._
    vs.toDF(name)
  }

  it should "equal the plain semi/anti joins on random long keys " +
      "across fpp settings (false positives corrected exactly)" in {
    val s = spark
    import s.implicits._
    (1 to 3).foreach { seed =>
      val rnd = new Random(seed)
      val big = Seq.fill(400)(rnd.nextInt(120).toLong)
        .map(java.lang.Long.valueOf)
      val dim = Seq.fill(25)(rnd.nextInt(120).toLong).distinct
        .map(java.lang.Long.valueOf)
      val bigDf = longs("k", big)
      val dimDf = longs("dk", dim)
      val semiExp = bigDf
        .join(dimDf, bigDf("k") === dimDf("dk"), "left_semi")
        .collect().map(_.getLong(0)).sorted
      val antiExp = bigDf
        .join(dimDf, bigDf("k") === dimDf("dk"), "left_anti")
        .collect().map(_.getLong(0)).sorted
      // a high fpp forces false positives through the candidate branch
      Seq(0.5, 0.01).foreach { fpp =>
        withClue(s"seed $seed fpp $fpp semi:") {
          BloomJoin.semiJoinPruned(bigDf, dimDf, "k", "dk", fpp)
            .collect().map(_.getLong(0)).sorted shouldBe semiExp
        }
        withClue(s"seed $seed fpp $fpp anti:") {
          BloomJoin.antiJoinPruned(bigDf, dimDf, "k", "dk", fpp)
            .collect().map(_.getLong(0)).sorted shouldBe antiExp
        }
      }
    }
  }

  it should "keep null-key rows in the anti join and drop them from " +
      "the semi join (plain equi-join semantics)" in {
    val bigDf = longs("k", Seq[java.lang.Long](1L, 2L, null, 3L, null))
    val dimDf = longs("dk", Seq[java.lang.Long](2L, 3L))
    BloomJoin.semiJoinPruned(bigDf, dimDf, "k", "dk")
      .collect().map(_.getLong(0)).sorted shouldBe Array(2L, 3L)
    val anti = BloomJoin.antiJoinPruned(bigDf, dimDf, "k", "dk")
      .collect().map(r => if (r.isNullAt(0)) -1L else r.getLong(0))
      .sorted
    anti shouldBe Array(-1L, -1L, 1L) // both null rows survive
  }

  it should "handle an empty dim set (semi empty, anti passes all)" in {
    val bigDf = longs("k", (1L to 50L).map(java.lang.Long.valueOf))
    val empty = longs("dk", Seq.empty)
    BloomJoin.semiJoinPruned(bigDf, empty, "k", "dk")
      .count() shouldBe 0L
    BloomJoin.antiJoinPruned(bigDf, empty, "k", "dk")
      .count() shouldBe 50L
  }

  it should "work on string keys (fingerprint decontamination shape)" in {
    val s = spark
    import s.implicits._
    val docs = graft.Tables.documents(s, "/root/testdata/sf0.001")
      .select(col("doc_id"), md5(col("text")).as("fp"))
    val contaminated = docs.filter(col("doc_id") % 7 === 0)
      .select(col("fp").as("bad_fp"))
    val expected = docs
      .join(contaminated, docs("fp") === contaminated("bad_fp"),
        "left_anti")
      .collect().map(_.getLong(0)).sorted
    BloomJoin.antiJoinPruned(docs, contaminated, "fp", "bad_fp")
      .collect().map(_.getLong(0)).sorted shouldBe expected
    expected.length should be < 500 // the filter actually removed docs
  }

  it should "match the plain anti join via the one-scan probed form " +
      "(withProbe + antiJoinOnProbe on a materialized input)" in {
    val s = spark
    import s.implicits._
    val rnd = new Random(7)
    val bigDf = longs("k",
      Seq.fill(300)(rnd.nextInt(90).toLong).map(java.lang.Long.valueOf) ++
        Seq[java.lang.Long](null, null))
    val dimDf = longs("dk",
      Seq.fill(20)(rnd.nextInt(90).toLong).distinct
        .map(java.lang.Long.valueOf))
    val expected = bigDf
      .join(dimDf, bigDf("k") === dimDf("dk"), "left_anti")
      .collect().map(r => if (r.isNullAt(0)) -1L else r.getLong(0)).sorted
    val probed = BloomJoin.withProbe(bigDf, dimDf, "k", "dk", "__mc",
      fpp = 0.5).cache() // materialized: one scan feeds both branches
    try {
      probed.schema.fieldNames should contain("__mc")
      val got = BloomJoin.antiJoinOnProbe(probed, dimDf, "k", "dk", "__mc")
      got.schema.fieldNames should not contain "__mc"
      got.collect()
        .map(r => if (r.isNullAt(0)) -1L else r.getLong(0))
        .sorted shouldBe expected
    } finally probed.unpersist()
    // reserved-name collision fails loudly instead of overwriting
    an[IllegalArgumentException] should be thrownBy
      BloomJoin.withProbe(probed, dimDf, "k", "dk", "__mc")
  }

  it should "build the filter in a single Spark job (no sizing count)" in {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("bloomb").toString
    (1L to 5000L).toDF("k").write.mode("overwrite").parquet(dir)
    val keys = spark.read.parquet(dir)
    val group = "bloom-build-" + System.nanoTime()
    spark.sparkContext.setJobGroup(group, "bloom build", false)
    val filter =
      try BloomJoin.buildFilter(keys, "k")
      finally spark.sparkContext.clearJobGroup()
    // status store updates are async — poll until the job shows up
    val deadline = System.currentTimeMillis() + 10000
    def jobs() = spark.sparkContext.statusTracker.getJobIdsForGroup(group)
    while (jobs().isEmpty && System.currentTimeMillis() < deadline)
      Thread.sleep(50)
    Thread.sleep(200) // catch a straggler second job if one ran
    jobs().length shouldBe 1
    // and the size-estimated filter still has zero false negatives
    (1L to 5000L).foreach(k => filter.mightContainLong(k) shouldBe true)
  }

  it should "probe inside whole-stage codegen with no join on the " +
      "definite branch" in {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("bloomj").toString
    (1L to 1000L).toDF("k").write.mode("overwrite").parquet(dir)
    val bigDf = spark.read.parquet(dir)
    val dimDf = longs("dk", (1L to 10L).map(java.lang.Long.valueOf))
    val filter = BloomJoin.buildFilter(dimDf, "dk", 0.01)
    val pruned = bigDf.filter(graft.functions.BloomMightContainExpr
      .mightContain(filter, col("k")))
    val plan = pruned.queryExecution.executedPlan.toString
    // the probe is a plain Filter inside a whole-stage codegen span
    // (the `*(n)` prefix) — no exchange, no join, no UDF fallback
    plan should include("*(1) Filter bloommightcontain")
    plan.toLowerCase should not include "exchange"
    // interpreted eval and codegen agree probe by probe
    val viaSql = pruned.collect().map(_.getLong(0)).toSet
    val expr = graft.functions.BloomMightContainExpr(
      graft.functions.BloomMightContainExpr.serialize(filter),
      org.apache.spark.sql.catalyst.expressions.BoundReference(
        0, org.apache.spark.sql.types.LongType, nullable = false))
    val viaEval = (1L to 1000L).filter { k =>
      expr.eval(org.apache.spark.sql.catalyst.InternalRow(k)) ==
        true
    }.toSet
    viaSql shouldBe viaEval
    // and every true dim key is present (no false negatives, ever)
    (1L to 10L).foreach(k => viaEval should contain(k))
  }
}

package graft.plans

import graft.SparkFixture
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Plan contract for the Bloom file-skipping rule: on a FILE-backed
  * table hash-bucketed by a high-cardinality column (the layout
  * where zone maps prune nothing), an equality / IN lookup on a
  * registered column must inject a zfile partition filter, never
  * change results (no false negatives, the soundness direction), and
  * refuse to fire on unregistered predicates.
  */
class BloomSkipRuleSpec extends AnyFunSuite with SparkFixture
    with Matchers {

  private lazy val dir = {
    val s = spark
    import s.implicits._
    val d = java.nio.file.Files
      .createTempDirectory("graft-bloom").toString + "/t"
    // 8 files, ids hash-scattered (NOT clustered): every file's
    // [min, max] id zone spans nearly the whole domain
    (0 until 800).map(i => (i.toLong, s"tag${i % 50}"))
      .toDF("id", "tag")
      .withColumn("zfile",
        expr("cast(conv(substring(md5(cast(id as string)),1,13)," +
          "16,10) as bigint) % 8"))
      .write.partitionBy("zfile").parquet(d)
    d
  }

  private def table = spark.read.parquet(dir)

  private def withRule[T](body: => T): T = {
    val s = spark
    if (!s.experimental.extraOptimizations.contains(BloomSkipRule))
      s.experimental.extraOptimizations =
        s.experimental.extraOptimizations :+ BloomSkipRule
    try body finally BloomSkipRule.clear()
  }

  private def scannedParts(
      q: org.apache.spark.sql.DataFrame): Option[Int] = {
    q.collect()
    q.queryExecution.executedPlan.collectLeaves().collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.selectedPartitions.partitionCount
    }
  }

  test("driver bitPositions matches the Spark-SQL build expression") {
    val s = spark
    import s.implicits._
    val vals = Seq("0", "123", "abc", "tag7")
    val sparkBits = vals.toDF("v")
      .select(col("v"), explode(expr("sequence(0, 2)")).as("i"))
      .select(col("v"),
        expr("cast(conv(substring(md5(concat(v, ':', " +
          "cast(i as string))),1,13),16,10) as bigint) % 4096")
          .cast("int").as("b"))
      .collect().map(r => (r.getString(0), r.getInt(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toMap
    vals.foreach { v =>
      BloomSkipRule.bitPositions(v, 4096, 3) shouldBe sparkBits(v)
    }
  }

  test("point lookup on a hash-scattered id prunes to the owning " +
      "file and preserves results") {
    withRule {
      val t = table
      BloomSkipRule.register(t, "zfile", Seq("id"))
      val q = t.filter(col("id") === 417L)
      q.collect().map(_.getLong(0)).toSeq shouldBe Seq(417L)
      // one true file + bloom false positives (none expected at
      // 100 values/file over 4096 bits, but cap loosely)
      scannedParts(q).get should be <= 2
      // zone maps would NOT have helped here: every file's id range
      // spans nearly the whole domain
      ZoneMapPruneRule.clear()
      val ze = ZoneMapPruneRule.register(t, "zfile", Seq("id"))
      ZoneMapPruneRule.survivors(ze,
        Map("id" -> (Some(417L), Some(417L)))).length shouldBe 8
      ZoneMapPruneRule.clear()
    }
  }

  test("IN lookup prunes to the union of owning files; absent " +
      "values prune everything") {
    withRule {
      val t = table
      BloomSkipRule.register(t, "zfile", Seq("id"))
      val q = t.filter(col("id").isin(5L, 300L, 731L))
      q.collect().map(_.getLong(0)).sorted shouldBe
        Array(5L, 300L, 731L)
      scannedParts(q).get should be <= 4
      // a value outside the domain: every filter misses → the
      // injected IN is empty and the scan folds away entirely
      val qa = t.filter(col("id") === 123456L)
      qa.count() shouldBe 0L
      scannedParts(qa).getOrElse(0) shouldBe 0
    }
  }

  test("string column lookups prune through the same store; OR of " +
      "recognized disjuncts prunes to the union") {
    withRule {
      val t = table
      BloomSkipRule.register(t, "zfile", Seq("id", "tag"))
      // tag17 rows live in several files; the filter must find
      // exactly the files holding them
      val want = t.filter(col("tag") === "tag17").collect()
        .map(_.getLong(0)).sorted
      BloomSkipRule.clear()
      BloomSkipRule.register(t, "zfile", Seq("id", "tag"))
      val q = t.filter(col("tag") === "tag17")
      q.collect().map(_.getLong(0)).sorted shouldBe want
      val qo = t.filter(col("id") === 5L || col("id") === 300L)
      qo.collect().map(_.getLong(0)).sorted shouldBe Array(5L, 300L)
      scannedParts(qo).get should be <= 3
      // an OR with an unrecognized disjunct must NOT prune
      val qu = t.filter(col("id") === 5L || col("tag") > "tag48")
      val wantU = qu.collect().map(_.getLong(0)).sorted
      BloomSkipRule.clear()
      BloomSkipRule.register(t, "zfile", Seq("id"))
      t.filter(col("id") === 5L || col("tag") > "tag48")
        .collect().map(_.getLong(0)).sorted shouldBe wantU
    }
  }

  test("refuses to fire on unregistered predicates and is a no-op " +
      "on its own output") {
    withRule {
      val t = table
      BloomSkipRule.register(t, "zfile", Seq("id"))
      // range predicate: not an equality — no pruning
      val qr = t.filter(col("id") > 700L)
      qr.count() shouldBe 99L
      scannedParts(qr) shouldBe Some(8)
      // unregistered column — no pruning
      val qt = t.filter(col("tag") === "tag3")
      qt.count() shouldBe 16L
      scannedParts(qt) shouldBe Some(8)
    }
  }

  test("delta-append + re-register: new values are found, stale " +
      "filters never drop appended rows") {
    withRule {
      val s = spark
      import s.implicits._
      val d = java.nio.file.Files
        .createTempDirectory("graft-bloom-delta").toString + "/t"
      (0 until 100).map(i => (i.toLong, (i % 4).toLong))
        .toDF("id", "zfile").write.partitionBy("zfile").parquet(d)
      BloomSkipRule.register(spark.read.parquet(d), "zfile", Seq("id"))
      // delta lands a new file with ids the OLD filters never saw;
      // the registration contract (same as ZoneMapPruneRule) is
      // re-register right after the delta — stale filters would
      // prune the appended file
      Seq((900L, 9L), (901L, 9L)).toDF("id", "zfile")
        .write.mode("append").partitionBy("zfile").parquet(d)
      val t2 = spark.read.parquet(d)
      BloomSkipRule.register(t2, "zfile", Seq("id"))
      t2.filter(col("id") === 900L).count() shouldBe 1L
      val q = t2.filter(col("id") === 900L)
      q.count() shouldBe 1L
      scannedParts(q).get should be <= 2
    }
  }

  test("randomized no-false-negative sweep: pruned lookups always " +
      "equal rule-free ground truth") {
    withRule {
      val t = table
      BloomSkipRule.register(t, "zfile", Seq("id"))
      val rnd = new scala.util.Random(41)
      (0 until 20).foreach { _ =>
        val ids = Seq.fill(1 + rnd.nextInt(4))(
          rnd.nextInt(1000).toLong)
        val got = t.filter(col("id").isin(ids: _*))
          .collect().map(_.getLong(0)).sorted
        got shouldBe ids.distinct.filter(_ < 800).sorted.toArray
      }
    }
  }
}

package graft.plans

import graft.SparkFixture
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Plan contract for the automatic zone-map pruning rule: on a
  * FILE-backed zfile-partitioned table (a LocalRelation would
  * constant-fold the filter away before the rule sees it — the DPP
  * spec gotcha), a range predicate on a registered clustered column
  * must inject a zfile partition filter into the scan, never change
  * results, and refuse to fire on unregistered predicates.
  */
class ZoneMapPruneRuleSpec extends AnyFunSuite with SparkFixture
    with Matchers {

  private lazy val dir = {
    val s = spark
    import s.implicits._
    val d = java.nio.file.Files
      .createTempDirectory("graft-zmap").toString + "/t"
    // 8 files × 100 rows; k is perfectly clustered by file (zone
    // [f*100, f*100+99]); u is uniform noise (useless zones)
    (0 until 800)
      .map(i => (i.toLong, (i % 8).toLong, (i * 37 % 100).toLong))
      .toDF("k", "zf", "u")
      .withColumn("k", col("zf") * 100 + col("k") % 100)
      .select(col("k"), col("u"), col("zf").as("zfile"))
      .write.partitionBy("zfile").parquet(d)
    d
  }

  private def table = spark.read.parquet(dir)

  private def withRule[T](body: => T): T = {
    val s = spark
    if (!s.experimental.extraOptimizations.contains(ZoneMapPruneRule))
      s.experimental.extraOptimizations =
        s.experimental.extraOptimizations :+ ZoneMapPruneRule
    try body finally ZoneMapPruneRule.clear()
  }

  test("range predicate on the clustered column injects a zfile " +
      "partition filter and preserves results") {
    withRule {
      val t = table
      ZoneMapPruneRule.register(t, "zfile", Seq("k"))
      val q = t.filter(col("k") >= 250 && col("k") <= 420)
        .select("k", "u")
      val rows = q.collect()
      // ground truth from an unregistered, rule-free read
      ZoneMapPruneRule.clear()
      val want = table.filter(col("k") >= 250 && col("k") <= 420)
        .select("k", "u").collect()
      rows.map(r => (r.getLong(0), r.getLong(1))).sorted shouldBe
        want.map(r => (r.getLong(0), r.getLong(1))).sorted
      // the scan carries the injected partition filter: files 2..4
      val plan = q.queryExecution.executedPlan.toString
      plan should include("PartitionFilters")
      plan should include("zfile")
      val scanned = q.queryExecution.executedPlan.collectLeaves()
        .collectFirst {
          case f: org.apache.spark.sql.execution.FileSourceScanExec =>
            f.selectedPartitions.partitionCount
        }
      scanned shouldBe Some(3)
    }
  }

  test("strict bounds tighten by one: k > 299 skips file 2") {
    withRule {
      val t = table
      val e = ZoneMapPruneRule.register(t, "zfile", Seq("k"))
      // decision function: (299, 420] should survive files 3..4 only
      ZoneMapPruneRule.survivors(e,
        Map("k" -> (Some(300L), Some(420L)))) shouldBe Seq(3L, 4L)
      val q = t.filter(col("k") > 299 && col("k") < 421)
      val want = {
        ZoneMapPruneRule.clear()
        val n = spark.read.parquet(dir)
          .filter(col("k") > 299 && col("k") < 421).count()
        ZoneMapPruneRule.register(t, "zfile", Seq("k"))
        n
      }
      q.count() shouldBe want
      val scanned = q.queryExecution.executedPlan.collectLeaves()
        .collectFirst {
          case f: org.apache.spark.sql.execution.FileSourceScanExec =>
            f.selectedPartitions.partitionCount
        }
      scanned shouldBe Some(2)
    }
  }

  test("IN-list predicates prune by the list hull") {
    withRule {
      val t = table
      val e = ZoneMapPruneRule.register(t, "zfile", Seq("k"))
      // hull [110, 315] -> files 1..3
      ZoneMapPruneRule.survivors(e,
        Map("k" -> (Some(110L), Some(315L)))) shouldBe Seq(1L, 2L, 3L)
      val q = t.filter(col("k").isin(110L, 315L, 220L))
      val want = {
        ZoneMapPruneRule.clear()
        val n = spark.read.parquet(dir)
          .filter(col("k").isin(110L, 315L, 220L)).count()
        ZoneMapPruneRule.register(t, "zfile", Seq("k"))
        n
      }
      q.count() shouldBe want
      val scanned = q.queryExecution.executedPlan.collectLeaves()
        .collectFirst {
          case f: org.apache.spark.sql.execution.FileSourceScanExec =>
            f.selectedPartitions.partitionCount
        }
      scanned shouldBe Some(3)
    }
  }

  test("refuses to fire on unclustered or unregistered predicates") {
    withRule {
      val t = table
      ZoneMapPruneRule.register(t, "zfile", Seq("k"))
      // u is not a clustered column -> full scan, full result
      val q = t.filter(col("u") < 50)
      val plan = q.queryExecution.optimizedPlan.toString
      plan should not include "zfile IN"
      val unreg = spark.read.parquet(dir).filter(col("u") < 50)
      q.count() shouldBe unreg.count()
      // an unregistered table with a k predicate is untouched too
      ZoneMapPruneRule.clear()
      val q2 = spark.read.parquet(dir).filter(col("k") >= 250)
      val scanned = q2.queryExecution.executedPlan.collectLeaves()
        .collectFirst {
          case f: org.apache.spark.sql.execution.FileSourceScanExec =>
            f.selectedPartitions.partitionCount
        }
      scanned shouldBe Some(8)
    }
  }

  test("all-NULL zone columns register without error and their " +
      "files always survive") {
    withRule {
      val s = spark
      import s.implicits._
      val d = java.nio.file.Files
        .createTempDirectory("graft-zmap-null").toString + "/t"
      // file 0: k all NULL (no usable zone); file 1: k in [100, 199]
      (0 until 200)
        .map(i => (if (i < 100) None else Some(i.toLong),
          (i / 100).toLong))
        .toDF("k", "zfile")
        .write.partitionBy("zfile").parquet(d)
      val t = spark.read.parquet(d)
      // r13 ADVICE finding: this used to NPE on getLong of the null
      // min/max aggregate
      val e = ZoneMapPruneRule.register(t, "zfile", Seq("k"))
      // file 0 has no k zone -> survives ANY k bound; file 1 prunes
      ZoneMapPruneRule.survivors(e,
        Map("k" -> (Some(500L), None))) shouldBe Seq(0L)
      val q = t.filter(col("k") >= 500)
      q.count() shouldBe 0L
      val scanned = q.queryExecution.executedPlan.collectLeaves()
        .collectFirst {
          case f: org.apache.spark.sql.execution.FileSourceScanExec =>
            f.selectedPartitions.partitionCount
        }
      scanned shouldBe Some(1) // file 1 pruned, file 0 kept
    }
  }

  test("strict bounds at Long extremes drop the conjunct instead of " +
      "wrapping (k > Long.MaxValue must not invert the bound)") {
    withRule {
      val t = table
      ZoneMapPruneRule.register(t, "zfile", Seq("k"))
      // wrap would turn this into k >= Long.MinValue (every file
      // survives but also every OTHER conjunct's pruning is polluted
      // by the broken lo) — the guarded form simply ignores it.
      // the bounds need RESOLVED attrs: pull the analyzed
      // Filter condition (long literals, so no cast wraps them)
      def condOf(df: org.apache.spark.sql.DataFrame) =
        df.queryExecution.analyzed.collectFirst {
          case org.apache.spark.sql.catalyst.plans.logical
              .Filter(c, _) => c
        }.get
      def boundsOf(df: org.apache.spark.sql.DataFrame) =
        PruneBounds.conjunction(condOf(df), _.name == "k")
      val bounds = boundsOf(t.filter(col("k") > Long.MaxValue &&
        col("k") < 200L))
      bounds.get("k") shouldBe Some(PruneBounds.Bound("l", None,
        Some(199L)))
      val bounds2 = boundsOf(t.filter(col("k") < Long.MinValue))
      bounds2 shouldBe empty
      // end-to-end: the unsatisfiable conjunct still yields 0 rows
      // (Spark evaluates it), with pruning from the sane conjunct
      t.filter(col("k") > Long.MaxValue && col("k") < 200L)
        .count() shouldBe 0L
    }
  }

  test("re-register REPLACES the previous entry for the same table " +
      "plan (the freshness hook after a store rewrite)") {
    withRule {
      val t = table
      def scanned(q: org.apache.spark.sql.DataFrame): Option[Int] = {
        q.collect()
        q.queryExecution.executedPlan.collectLeaves().collectFirst {
          case f: org.apache.spark.sql.execution.FileSourceScanExec =>
            f.selectedPartitions.partitionCount
        }
      }
      ZoneMapPruneRule.register(t, "zfile", Seq("k"))
      scanned(t.filter(col("k") >= 700)) shouldBe Some(1)
      // re-register the SAME plan with different clustered columns:
      // the stale entry must be REPLACED, not stacked — otherwise
      // apply() keeps consulting the old zones forever (the
      // delta-append staleness failure mode, observed here as the k
      // pruning surviving a registration that dropped k)
      ZoneMapPruneRule.register(t, "zfile", Seq("u"))
      scanned(t.filter(col("k") >= 700)) shouldBe Some(8)
    }
  }

  private def scannedParts(
      q: org.apache.spark.sql.DataFrame): Option[Int] = {
    q.collect()
    q.queryExecution.executedPlan.collectLeaves().collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.selectedPartitions.partitionCount
    }
  }

  test("DATE predicates prune: day-since-epoch zones match folded " +
      "DateType literals") {
    withRule {
      val s = spark
      import s.implicits._
      val d = java.nio.file.Files
        .createTempDirectory("graft-zmap-date").toString + "/t"
      // 4 files, one month each (1994-01 .. 1994-04)
      (0 until 4).flatMap { f =>
        (1 to 28).map(day =>
          (java.sql.Date.valueOf(f"1994-${f + 1}%02d-$day%02d"),
            f.toLong))
      }.toDF("sd", "zfile")
        .write.partitionBy("zfile").parquet(d)
      val t = spark.read.parquet(d)
      ZoneMapPruneRule.register(t, "zfile", Seq("sd"))
      val q = t.filter(col("sd")
        .between(lit(java.sql.Date.valueOf("1994-02-05")),
          lit(java.sql.Date.valueOf("1994-02-20"))))
      q.count() shouldBe 16L
      scannedParts(q) shouldBe Some(1)
      // strict date bound tightens by one DAY
      val q2 = t.filter(col("sd") >
        lit(java.sql.Date.valueOf("1994-03-28")))
      q2.count() shouldBe 28L
      scannedParts(q2) shouldBe Some(1)
    }
  }

  test("OR-of-ranges prunes to the union of per-disjunct survivors, " +
      "intersected with the other conjuncts") {
    withRule {
      val t = table
      ZoneMapPruneRule.register(t, "zfile", Seq("k"))
      // two disjoint ranges -> files 1 and 6 only
      val q = t.filter(col("k").between(110, 190) ||
        col("k").between(610, 690))
      val want = {
        ZoneMapPruneRule.clear()
        val n = spark.read.parquet(dir)
          .filter(col("k").between(110, 190) ||
            col("k").between(610, 690)).count()
        ZoneMapPruneRule.register(t, "zfile", Seq("k"))
        n
      }
      q.count() shouldBe want
      scannedParts(q) shouldBe Some(2)
      // OR with an unrecognized disjunct must NOT prune by the OR
      // (only the other conjuncts may) — soundness guard
      val q2 = t.filter((col("k").between(110, 190) ||
        col("u") < 5) && col("k") < 400)
      scannedParts(q2) shouldBe Some(4) // k < 400 alone: files 0..3
      // AND-composition: the OR's union intersects a plain bound
      val q3 = t.filter((col("k").between(110, 190) ||
        col("k").between(610, 690)) && col("k") < 400)
      scannedParts(q3) shouldBe Some(1) // {1, 6} ∩ files 0..3 = {1}
    }
  }

  private lazy val strDir = {
    val s = spark
    import s.implicits._
    val d = java.nio.file.Files
      .createTempDirectory("graft-zmap-str").toString + "/t"
    // 4 files, lang perfectly clustered; v clustered 100-blocks
    Seq("de", "en", "fr", "it").zipWithIndex.flatMap { case (lg, f) =>
      (0 until 100).map(i => (lg, (f * 100 + i).toLong, f.toLong))
    }.toDF("lang", "v", "zfile")
      .write.partitionBy("zfile").parquet(d)
    d
  }

  test("STRING zones prune equality, IN hulls, ranges, and " +
      "ASCII-prefix LIKE") {
    withRule {
      val t = spark.read.parquet(strDir)
      ZoneMapPruneRule.register(t, "zfile", Seq("lang", "v"))
      def sc(q: org.apache.spark.sql.DataFrame): Option[Int] =
        scannedParts(q)
      val qe = t.filter(col("lang") === "en")
      qe.count() shouldBe 100L
      sc(qe) shouldBe Some(1)
      val qi = t.filter(col("lang").isin("de", "en"))
      qi.count() shouldBe 200L
      sc(qi) shouldBe Some(2) // hull [de, en]
      val qp = t.filter(col("lang").like("f%"))
      qp.count() shouldBe 100L
      sc(qp) shouldBe Some(1) // [f, g) via asciiNextPrefix
      val qr = t.filter(col("lang") >= "fr")
      qr.count() shouldBe 200L
      sc(qr) shouldBe Some(2)
      // mixed classes AND-compose: string bound ∩ numeric bound = ∅
      // (an empty IN folds to false and the scan itself may be
      // optimized away — 0 scanned or no scan node both mean pruned)
      val qm = t.filter(col("lang") >= "en" && col("v") < 50)
      qm.count() shouldBe 0L
      sc(qm).getOrElse(0) shouldBe 0
      // string OR-of-equalities prunes to the union {de, it}
      val qo = t.filter(col("lang") === "de" || col("lang") === "it")
      qo.count() shouldBe 200L
      sc(qo) shouldBe Some(2)
    }
  }

  test("delta-append + re-register workflow: appended ranges are " +
      "found, scanned tightly, never over-pruned") {
    withRule {
      val s = spark
      import s.implicits._
      val d = java.nio.file.Files
        .createTempDirectory("graft-zmap-delta").toString + "/t"
      (0 until 200).map(i => (i.toLong, (i / 100).toLong))
        .toDF("k", "zfile").write.partitionBy("zfile").parquet(d)
      ZoneMapPruneRule.register(spark.read.parquet(d), "zfile",
        Seq("k"))
      // delta lands a new file whose range the OLD zones never saw
      (0 until 100).map(i => (1000L + i, 2L)).toDF("k", "zfile")
        .write.mode("append").partitionBy("zfile").parquet(d)
      val t2 = spark.read.parquet(d)
      ZoneMapPruneRule.register(t2, "zfile", Seq("k"))
      val q = t2.filter(col("k") >= 1000)
      q.count() shouldBe 100L // nothing over-pruned
      scannedParts(q) shouldBe Some(1) // and the fresh zones prune
    }
  }
}

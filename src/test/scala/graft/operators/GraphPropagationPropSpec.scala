package graft.operators

import graft.SparkFixture
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import scala.util.Random

/** Randomized parity for the graph-propagation operators: the
  * distributed rounds must equal a driver-side reference that applies
  * the SAME quantization (floor(x·10⁹ + 0.5) scaled-long sums) — the
  * reference reproduces the contract, not merely "approximately the
  * same scores", so any divergence (ordering, partitioning, missing
  * nodes, normalization) fails exactly.
  */
class GraphPropagationPropSpec extends AnyFunSuite with SparkFixture
    with Matchers {

  private def q9(x: Double): Long =
    math.floor(x * 1000000000.0 + 0.5).toLong

  test("propagateMax equals the quantized driver-side reference on " +
      "random bipartite graphs") {
    val s = spark
    import s.implicits._
    (1 to 4).foreach { seed =>
      val rnd = new Random(seed)
      val edges = Seq.fill(80)(
        (rnd.nextInt(12).toLong, (100 + rnd.nextInt(8)).toLong))
        .distinct
      val scores = edges.map(_._1).distinct
        .map(c => (c, 0.05 + rnd.nextDouble()))

      val got = GraphPropagation.propagateMax(
          edges.toDF("c", "sp").repartition(5),
          "c", "sp", scores.toDF("c", "hub"), "hub", "auth")
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap

      val sMap = scores.toMap
      val sums = edges.groupBy(_._2).map { case (sp, es) =>
        sp -> es.map(e => q9(sMap(e._1))).sum
      }
      val m = sums.values.max
      val expected = sums.map { case (sp, v) =>
        sp -> v.toDouble / m
      }

      withClue(s"seed $seed:") { got shouldBe expected }
    }
  }

  test("pageRank equals the quantized driver-side reference on random " +
      "directed graphs") {
    val s = spark
    import s.implicits._
    (1 to 3).foreach { seed =>
      val rnd = new Random(seed)
      val edges = Seq.fill(60)(
        (rnd.nextInt(10).toLong, rnd.nextInt(10).toLong))
        .filter(e => e._1 != e._2).distinct

      val got = GraphPropagation.pageRank(
          edges.toDF("src", "dst").repartition(4),
          "src", "dst", iters = 3)
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap

      val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct
      val outdeg = edges.groupBy(_._1).map { case (k, es) =>
        k -> es.size
      }
      var rank = nodes.map(n => n -> 1.0).toMap
      for (_ <- 1 to 3) {
        val s9 = edges
          .groupBy(_._2)
          .map { case (dst, es) =>
            dst -> es.map(e => q9(rank(e._1) / outdeg(e._1))).sum
          }
        rank = nodes.map { n =>
          n -> (0.15 + 0.85 * (s9.getOrElse(n, 0L).toDouble / 1e9))
        }.toMap
      }

      withClue(s"seed $seed:") { got shouldBe rank }
    }
  }

  test("pageRankDelta (cold seed) equals full recompute on random " +
      "graphs under random base/delta splits") {
    val s = spark
    import s.implicits._
    (1 to 3).foreach { seed =>
      val rnd = new Random(seed + 100)
      val edges = Seq.fill(70)(
        (rnd.nextInt(12).toLong, rnd.nextInt(12).toLong))
        .filter(e => e._1 != e._2).distinct
      val (base, delta) = edges.partition(_ => rnd.nextBoolean())
      if (base.nonEmpty && delta.nonEmpty) {
        val full = GraphPropagation.pageRank(
            edges.toDF("src", "dst").repartition(4),
            "src", "dst", iters = 2)
          .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
        val st = GraphPropagation.pageRankDelta(
          GraphPropagation.pageRankInit(
            base.toDF("src", "dst").repartition(3), "src", "dst",
            iters = 1),
          delta.toDF("src", "dst").repartition(2),
          "src", "dst", iters = 2, warmStart = false)
        val inc = st.rank
          .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
        withClue(s"seed $seed:") { inc shouldBe full }
      }
    }
  }

  test("pageRankDelta with random retractions AND additions equals " +
      "full recompute on the net edge list") {
    val s = spark
    import s.implicits._
    (1 to 3).foreach { seed =>
      val rnd = new Random(seed + 500)
      val all = Seq.fill(80)(
        (rnd.nextInt(12).toLong, rnd.nextInt(12).toLong))
        .filter(e => e._1 != e._2).distinct
      // base ⊇ retract; delta disjoint from the surviving base
      val (base, delta) = all.partition(_ => rnd.nextDouble() < 0.6)
      val retract = base.filter(_ => rnd.nextDouble() < 0.3)
      val net = base.filterNot(retract.toSet) ++ delta
      if (base.nonEmpty && retract.nonEmpty && net.nonEmpty) {
        val full = GraphPropagation.pageRank(
            net.toDF("src", "dst").repartition(4),
            "src", "dst", iters = 2)
          .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
        val st = GraphPropagation.pageRankDelta(
          GraphPropagation.pageRankInit(
            base.toDF("src", "dst").repartition(3), "src", "dst",
            iters = 1),
          delta.toDF("src", "dst").repartition(2),
          "src", "dst", iters = 2, warmStart = false,
          retractions = Some(retract.toDF("src", "dst")))
        val inc = st.rank
          .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
        withClue(s"seed $seed:") { inc shouldBe full }
        // structure parity: the maintained node set equals the net
        // edge list's nodes (degree-0 nodes removed)
        val wantNodes = (net.map(_._1) ++ net.map(_._2)).distinct.toSet
        st.nodes.collect().map(_.getLong(0)).toSet shouldBe wantNodes
      }
    }
  }

  test("upper_tri_prod6 equals the quantized reference on random " +
      "vectors (sign mix, tiny and large magnitudes)") {
    val s = spark
    import s.implicits._
    (1 to 4).foreach { seed =>
      val rnd = new Random(seed)
      val vec = Array.fill(16)(
        ((rnd.nextDouble() - 0.5) * math.pow(10, rnd.nextInt(5) - 2))
          .toFloat)

      val got = Seq(Tuple1(vec.toSeq)).toDF("v")
        .select(explode(
          graft.functions.UpperTriProd6Expr.upperTriProd6(col("v")))
          .as("c"))
        .select("c.i", "c.j", "c.p6")
        .as[(Long, Long, Long)].collect()
        .map(t => (t._1, t._2) -> t._3).toMap

      val expected = (for {
        i <- vec.indices; j <- i until vec.length
      } yield (i + 1L, j + 1L) ->
        math.floor(vec(i).toDouble * vec(j).toDouble * 1000000.0 + 0.5)
          .toLong).toMap

      withClue(s"seed $seed:") { got shouldBe expected }
    }
  }
}

package graft.functions

import graft.SparkFixture
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

class FunctionsSpec extends AnyFunSuite with SparkFixture with Matchers {
  import TextFunctions._
  import VectorFunctions._

  test("trigrams: sliding word 3-grams; empty below 3 words") {
    val s = spark
    import s.implicits._
    val df = Seq("a b c d", "x y", "p q r").toDF("text")
      .select(trigrams(words(col("text"))).as("g"))
    df.collect().map(_.getSeq[String](0).toList).toList shouldBe List(
      List("a b c", "b c d"), Nil, List("p q r"))
  }

  test("fingerprint normalizes case and whitespace") {
    val s = spark
    import s.implicits._
    val df = Seq(("A  b\tC", "a b c")).toDF("x", "y")
      .select(fingerprint(col("x")).as("fx"), fingerprint(col("y")).as("fy"))
    val r = df.head()
    r.getString(0) shouldBe r.getString(1)
  }

  test("minhash: identical gram sets → identical signatures; " +
      "disjoint sets → (a.s.) different") {
    val s = spark
    import s.implicits._
    val df = Seq(
      (1L, "the quick brown fox jumps over the lazy dog end"),
      (2L, "the quick brown fox jumps over the lazy dog end"),
      (3L, "completely different words in this other document here now yes"))
      .toDF("doc_id", "text")
    val grams = df.select(col("doc_id"),
      explode(trigrams(words(col("text")))).as("gram"))
    val sigs = grams.groupBy("doc_id")
      .agg(minhashAgg(col("gram"), 0).as("h0"), minhashAgg(col("gram"), 1).as("h1"))
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getString(2))).toMap
    sigs(1L) shouldBe sigs(2L)
    sigs(1L) should not be sigs(3L)
  }

  test("cosine: self-similarity 1.0, orthogonal 0.0, precision exact") {
    val s = spark
    import s.implicits._
    val df = Seq(
      (Array(1.0f, 0.0f, 2.0f), Array(1.0f, 0.0f, 2.0f)),
      (Array(1.0f, 0.0f, 0.0f), Array(0.0f, 3.0f, 0.0f)))
      .toDF("a", "b")
      .select(cosine(col("a"), col("b")).as("c"))
    val got = df.collect().map(_.getDouble(0))
    got(0) shouldBe 1.0 +- 1e-12
    got(1) shouldBe 0.0
  }

  test("signBit gives deterministic LSH buckets") {
    val s = spark
    import s.implicits._
    val df = Seq(
      (Array(1.0f, 1.0f), Array(1.0f, 0.0f)),  // dot=1 → '1'
      (Array(-1.0f, 0.5f), Array(1.0f, 0.0f))) // dot=-1 → '0'
      .toDF("v", "p")
      .select(signBit(col("v"), col("p")).as("b"))
    df.collect().map(_.getString(0)).toList shouldBe List("1", "0")
  }

  test("approx_count_distinct stays within its documented rsd of exact") {
    // q42's HLL half: Spark's default rsd is 0.05; assert a 3-sigma
    // bound (15%) per group on real data — the property the q42 oracle
    // checks cross-engine.
    val li = graft.Tables.lineitem(spark, "/root/testdata/sf0.01")
    val rows = li.groupBy("l_returnflag")
      .agg(approx_count_distinct(col("l_partkey")).as("approx"),
        count_distinct(col("l_partkey")).as("exact"))
      .collect()
    rows.length should be > 0
    rows.foreach { r =>
      val (approx, exact) = (r.getLong(1), r.getLong(2))
      math.abs(approx - exact).toDouble should be <= exact * 0.15
    }
  }

  test("cosine_fast registration rejects wrong arity from SQL") {
    an[Exception] should be thrownBy
      spark.sql("SELECT cosine_fast(array(1.0f), array(1.0f), array(1.0f))")
        .collect()
  }

  test("dot_exact fused expression is bit-identical to the HOF fold") {
    val spark2 = spark
    val emb = graft.Tables.embeddings(spark2, "/root/testdata/sf0.001")
    val qv = emb.filter(col("vec_id") === 0).select(col("embedding").as("q"))
    val both = emb.crossJoin(broadcast(qv))
      .select(
        graft.functions.DotExactExpr.dotExactFast(col("embedding"), col("q"))
          .as("fused"),
        VectorFunctions.dot(col("embedding"), col("q")).as("hof"))
      .collect()
    both.length should be > 0
    // bit-identical, not approximately equal — the fused form replaces
    // the HOF fold inside oracle-gated queries
    both.foreach { r =>
      java.lang.Double.doubleToLongBits(r.getDouble(0)) shouldBe
        java.lang.Double.doubleToLongBits(r.getDouble(1))
    }
  }

  test("dot_exact accepts a double-array side (literal model vectors) " +
      "and matches the all-double cast form bit for bit") {
    val spark2 = spark
    val emb = graft.Tables.embeddings(spark2, "/root/testdata/sf0.001")
    // centroid-like double literal: a real embedding widened to double
    val cent: Array[Double] = emb.filter(col("vec_id") === 1)
      .head().getSeq[Float](1).map(_.toDouble).toArray
    val both = emb
      .select(
        graft.functions.DotExactExpr
          .dotExactFast(col("embedding"), typedLit(cent)).as("mixed"),
        graft.functions.DotExactExpr
          .dotExactFast(
            col("embedding").cast("array<double>"), typedLit(cent))
          .as("dd"))
      .collect()
    both.length should be > 0
    both.foreach { r =>
      java.lang.Double.doubleToLongBits(r.getDouble(0)) shouldBe
        java.lang.Double.doubleToLongBits(r.getDouble(1))
    }
  }

  test("dot_double matches a driver-side left-to-right double fold " +
      "bit for bit (codegen and interpreted agree)") {
    val spark2 = spark
    val emb = graft.Tables.embeddings(spark2, "/root/testdata/sf0.001")
    val qRow: Array[Double] = emb.filter(col("vec_id") === 1)
      .head().getSeq[Float](1).map(_.toDouble).toArray
    val rows = emb
      .select(col("embedding"),
        graft.functions.DotDoubleExpr
          .dotDouble(col("embedding"), typedLit(qRow)).as("fused"))
      .collect()
    rows.length should be > 0
    rows.foreach { r =>
      val v = r.getSeq[Float](0)
      var acc = 0.0
      var i = 0
      val n = math.min(v.length, qRow.length)
      while (i < n) { acc += v(i).toDouble * qRow(i); i += 1 }
      java.lang.Double.doubleToLongBits(r.getDouble(1)) shouldBe
        java.lang.Double.doubleToLongBits(acc)
    }
  }

  test("dot expressions fail loudly on mismatched vector dimensions") {
    val spark2 = spark
    import spark2.implicits._
    val df = Seq((Array(1.0f, 2.0f, 3.0f), Array(1.0f, 2.0f)))
      .toDF("a", "b")
    def rootMsg(t: Throwable): String = {
      var c: Throwable = t
      while (c.getCause != null) c = c.getCause
      String.valueOf(c.getMessage)
    }
    // codegen path (collect runs the generated loop)
    val exd = intercept[Exception] {
      df.select(graft.functions.DotDoubleExpr.dotDouble(col("a"), col("b")))
        .collect()
    }
    rootMsg(exd) should include("mismatched vector dimensions")
    val exe = intercept[Exception] {
      df.select(
        graft.functions.DotExactExpr.dotExactFast(col("a"), col("b")))
        .collect()
    }
    rootMsg(exe) should include("mismatched vector dimensions")
    // interpreted path (direct eval, no codegen)
    import org.apache.spark.sql.catalyst.expressions.Literal
    val a3 = Literal.create(Array(1.0f, 2.0f, 3.0f))
    val a2 = Literal.create(Array(1.0f, 2.0f))
    an[IllegalArgumentException] should be thrownBy
      graft.functions.DotDoubleExpr(a3, a2).eval(null)
    an[IllegalArgumentException] should be thrownBy
      graft.functions.DotExactExpr(a3, a2).eval(null)
  }

  test("rollingHashes: shared text windows collide, count matches") {
    val s2 = spark
    import s2.implicits._
    val rows = Seq("the quick brown fox", "quick brown foxes run")
      .toDF("t")
      .select(TextFunctions.rollingHashes($"t", 8).as("h"))
      .collect().map(_.getSeq[Long](0))
    rows(0).length shouldBe "the quick brown fox".length - 7
    // the shared substring "quick brown fox" (15 chars) contributes
    // 15 - 8 + 1 = 8 identical windows on both sides
    rows(0).toSet.intersect(rows(1).toSet).size should be >= 8
  }

  test("redactPii scrubs emails and phone shapes, leaves prose alone") {
    val s = spark
    import s.implicits._
    val out = Seq(
      "write to jane.doe+x@example.co.uk today",
      "call +1 (555) 123-4567 or 555-1234567 now",
      "nothing sensitive here 42")
      .toDF("text")
      .select(TextFunctions.redactPii($"text").as("t"))
      .collect().map(_.getString(0))
    out(0) shouldBe "write to [EMAIL] today"
    out(1) shouldBe "call [PHONE] or [PHONE] now"
    out(2) shouldBe "nothing sensitive here 42"
  }
}

package graft.functions

import graft.SparkFixture
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** UpperTriProd6Expr: the compiled upper-triangle pair generator
  * behind the zero-shuffle covariance — pair completeness, quantizer
  * agreement with the declarative spelling, and type/null handling.
  */
class UpperTriProd6Spec extends AnyFunSuite with SparkFixture
    with Matchers {

  import spark.implicits._

  private def gen(vec: Seq[Float]): Array[(Long, Long, Long)] = {
    Seq(Tuple1(vec)).toDF("v")
      .select(explode(UpperTriProd6Expr.upperTriProd6(col("v")))
        .as("c"))
      .select("c.i", "c.j", "c.p6")
      .as[(Long, Long, Long)]
      .collect()
  }

  test("emits exactly the 1-based upper triangle with quantized products") {
    val out = gen(Seq(1.5f, -2.0f, 0.25f))
    out.length shouldBe 6
    out.map(t => (t._1, t._2)).toSet shouldBe
      Set((1L, 1L), (1L, 2L), (1L, 3L), (2L, 2L), (2L, 3L), (3L, 3L))
    val m = out.map(t => (t._1, t._2) -> t._3).toMap
    m((1L, 1L)) shouldBe 2250000L // 1.5·1.5
    m((1L, 2L)) shouldBe -3000000L // 1.5·(−2)
    m((2L, 2L)) shouldBe 4000000L
    m((2L, 3L)) shouldBe -500000L
    m((3L, 3L)) shouldBe 62500L
  }

  test("quantizer is floor(p·1e6 + 0.5): matches the formula elementwise") {
    val xs = Seq(0.1234567f, -0.7654321f, 3.14159f)
    val out = gen(xs).map(t => (t._1, t._2) -> t._3).toMap
    for (i <- xs.indices; j <- i until xs.size) {
      val p = xs(i).toDouble * xs(j).toDouble
      out((i + 1L, j + 1L)) shouldBe
        math.floor(p * 1000000.0 + 0.5).toLong
    }
  }

  test("empty vector yields no pairs; null vector yields no rows") {
    gen(Seq.empty) shouldBe empty
    val n = Seq(Tuple1(null.asInstanceOf[Seq[Float]])).toDF("v")
      .select(explode(UpperTriProd6Expr.upperTriProd6(col("v"))))
      .count()
    n shouldBe 0L
  }

  test("double input accepted; non-array input rejected at analysis") {
    val d = Seq(Tuple1(Seq(2.0, 3.0))).toDF("v")
      .select(explode(UpperTriProd6Expr.upperTriProd6(col("v")))
        .as("c"))
      .select("c.p6").as[Long].collect().sorted
    d shouldBe Array(4000000L, 6000000L, 9000000L)
    an[Exception] should be thrownBy
      Seq(Tuple1("nope")).toDF("v")
        .select(UpperTriProd6Expr.upperTriProd6(col("v")))
        .collect()
  }

  test("null ELEMENT fails loudly instead of fabricating a product") {
    val ex = intercept[Exception] {
      Seq(Tuple1(Seq[java.lang.Double](1.0, null))).toDF("v")
        .select(explode(UpperTriProd6Expr.upperTriProd6(col("v"))))
        .collect()
    }
    ex.getMessage should include("null vector element")
  }
}

package graft.functions

import graft.SparkFixture
import graft.plans.GroupedTopKStrategy
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.functions.{col, explode}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** `GraftExtensions` is the only place that names the engine's
  * functions, rules and strategy in a session: the Column APIs build
  * their expressions directly (no by-name lookup), and the declared
  * queries install nothing on the session they run in.
  */
class SessionSurfaceSpec extends AnyFunSuite with SparkFixture
    with Matchers {

  private val sfDir = "/root/testdata/sf0.001"

  test("the Column APIs evaluate in a session whose by-name " +
      "functions are dropped") {
    val s = spark.newSession()
    Seq("cosine_fast", "dot_exact", "dot_double", "bloom_might_contain")
      .foreach(n => s.sessionState.functionRegistry
        .dropFunction(FunctionIdentifier(n)))
    import s.implicits._
    val df = Seq((Array(1.0f, 2.0f), Array(3.0f, 4.0f), 5L))
      .toDF("a", "b", "k")
    val filter = graft.operators.BloomJoin.buildFilter(
      Seq(5L, 6L).toDF("dk"), "dk")
    val r = df.select(
      CosineSimilarityExpr.cosineFast(col("a"), col("b")),
      DotExactExpr.dotExactFast(col("a"), col("b")),
      DotDoubleExpr.dotDouble(col("a"), col("b")),
      BloomMightContainExpr.mightContain(filter, col("k"))).head()
    r.getDouble(0) shouldBe 11.0 / (math.sqrt(5.0) * 5.0) +- 1e-12
    r.getDouble(1) shouldBe 11.0
    r.getDouble(2) shouldBe 11.0
    r.getBoolean(3) shouldBe true
    df.select(explode(UpperTriProd6Expr.upperTriProd6(col("a"))).as("t"))
      .select(col("t.i"), col("t.j"), col("t.p6")).collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2))) shouldBe
      Array((1L, 1L, 1000000L), (1L, 2L, 2000000L), (2L, 2L, 4000000L))
  }

  test("declared queries leave a fresh session's extra optimizations " +
      "and strategies empty, and the planner with one GroupedTopK " +
      "strategy") {
    val s = spark.newSession()
    Seq("q126_fuzzy_match", "q311_zonemap_rule_gate",
      "q325_bloomskip_point_lookup", "q298_summary_rewrite",
      "q228_bm25_topk").foreach { q =>
      graft.SparkEntry.allQueries.find(_.name == q).get
        .run(s, sfDir).collect()
    }
    s.experimental.extraOptimizations shouldBe empty
    s.experimental.extraStrategies shouldBe empty
    s.sessionState.planner.strategies
      .count(_ == GroupedTopKStrategy) shouldBe 1
  }
}

package graft.functions

import graft.SparkFixture
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.graft.StoreSqlShims
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** The codegen defaults `GraftExtensions` sets: a session built with
  * the extension compiles each generated class once per JVM, and an
  * explicit setting wins over the defaults.
  */
class CodegenDefaultsSpec extends AnyFunSuite with SparkFixture
    with Matchers {

  private val CacheKey = "spark.sql.codegen.cache.maxEntries"

  /** Generated classes Janino compiled (cache misses) during `body`. */
  private def compiles(body: => Unit): Long = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    body
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
  }

  test("the session reports both defaults") {
    spark.conf.get(CacheKey) shouldBe "1000"
    spark.conf.get("spark.sql.codegen.useIdInClassName") shouldBe "false"
  }

  test("a second pass over more than 100 distinct generated classes " +
      "compiles none of them") {
    // each factor is inlined into its stage's code: one distinct
    // whole-stage class per plan
    def pass(): Unit = (1 to 120).foreach { i =>
      spark.range(0, 4, 1, 1).selectExpr(s"id * ${i + 7919} AS x")
        .collect()
    }
    val first = compiles(pass())
    first should be > 100L
    compiles(pass()) shouldBe 0L
  }

  test("contextDefault leaves a key the context's conf holds alone") {
    StoreSqlShims.contextDefault(CacheKey, "5")
    spark.sparkContext.getConf.get(CacheKey) shouldBe "1000"
  }
}

package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression,
  ExpressionInfo, Literal, Lower, Md5, RegExpReplace, StringTrim}
import org.apache.spark.sql.graft.StoreSqlShims
import org.apache.spark.sql.types.BinaryType

/** Session-extension entry point: activate the engine's custom
  * Catalyst surface at session build time —
  *
  * {{{
  * SparkSession.builder()
  *   .config("spark.sql.extensions", "graft.functions.GraftExtensions")
  * }}}
  *
  * This is the production registration path (every session on the
  * cluster gets the functions, including pure-SQL clients); the
  * per-session `CosineSimilarityExpr.register(spark)` helper remains
  * for ad-hoc use. Catalyst sees a first-class Expression either way —
  * codegen, null-propagation and type checks all participate in
  * optimization, unlike an opaque UDF.
  *
  * Session defaults: the extension also sets two Spark confs, each
  * only where the user has not set it, so that each generated class
  * compiles once per JVM.
  *  - `spark.sql.codegen.cache.maxEntries = 1000` (Spark: 100). The
  *    generated-class cache evicts the least recently used class; the
  *    serving mix cycles through 176 distinct classes, so at 100 each
  *    was evicted before its next use and Janino recompiled it
  *    (~20 ms a class) on every cycle.
  *  - `spark.sql.codegen.useIdInClassName = false`. Adaptive
  *    execution numbers codegen stages in the order it materializes
  *    them, which varies between runs, and the number is part of the
  *    class name, so identical code missed the cache.
  * The cache size is a static conf that `CodeGenerator` reads once
  * per JVM, on first use, so it is written into the `SparkContext`'s
  * conf here, before the session's shared state exists. A JVM whose
  * first codegen ran in a session built without this extension keeps
  * Spark's 100. An explicit `.config(key, value)` on
  * `SparkSession.builder()` (or `--conf`) wins over either default.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    StoreSqlShims.contextDefault("spark.sql.codegen.cache.maxEntries",
      "1000")
    StoreSqlShims.contextDefault("spark.sql.codegen.useIdInClassName",
      "false")
    ext.injectFunction(GraftExtensions.cosineFastDescriptor)
    ext.injectFunction(GraftExtensions.dotExactDescriptor)
    ext.injectFunction(GraftExtensions.dotDoubleDescriptor)
    ext.injectFunction(GraftExtensions.bloomMightContainDescriptor)
    ext.injectFunction(GraftExtensions.fingerprintDescriptor)
    ext.injectFunction(GraftExtensions.redactPiiDescriptor)
    ext.injectResolutionRule(new graft.plans.StoreTimeTravelRule(_))
    ext.injectResolutionRule(new graft.plans.GraftCatalogRule(_))
    graft.plans.StoreTvfs.all.foreach(ext.injectTableFunction)
    ext.injectOptimizerRule(_ => graft.plans.LevenshteinGuardRule)
    ext.injectOptimizerRule(_ => graft.plans.SummaryRewriteRule)
    ext.injectOptimizerRule(_ => graft.plans.ZoneMapPruneRule)
    ext.injectOptimizerRule(_ => graft.plans.BloomSkipRule)
    ext.injectPlannerStrategy(_ => graft.plans.GroupedTopKStrategy)
    // SQL maintenance verbs (OPTIMIZE / VACUUM / RESTORE) over
    // registered store tables; everything else delegates verbatim
    ext.injectParser((_, parser) =>
      new graft.plans.GraftSqlParser(parser))
  }
}

object GraftExtensions {
  /** (name, info, builder) descriptor for `cosine_fast`. */
  val cosineFastDescriptor: (FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => Expression) = (
    FunctionIdentifier("cosine_fast"),
    new ExpressionInfo(classOf[CosineSimilarityExpr].getName, "cosine_fast"),
    (exprs: Seq[Expression]) => {
      require(exprs.length == 2,
        s"cosine_fast expects 2 arguments, got ${exprs.length}")
      CosineSimilarityExpr(exprs(0), exprs(1))
    })

  /** Fused exact-decimal dot product (see DotExactExpr). */
  val dotExactDescriptor: (FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => Expression) = (
    FunctionIdentifier("dot_exact"),
    new ExpressionInfo(classOf[DotExactExpr].getName, "dot_exact"),
    (exprs: Seq[Expression]) => {
      require(exprs.length == 2,
        s"dot_exact expects 2 arguments, got ${exprs.length}")
      DotExactExpr(exprs(0), exprs(1))
    })

  /** Fused plain-double sequential dot product (see DotDoubleExpr). */
  val dotDoubleDescriptor: (FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => Expression) = (
    FunctionIdentifier("dot_double"),
    new ExpressionInfo(classOf[DotDoubleExpr].getName, "dot_double"),
    (exprs: Seq[Expression]) => {
      require(exprs.length == 2,
        s"dot_double expects 2 arguments, got ${exprs.length}")
      DotDoubleExpr(exprs(0), exprs(1))
    })

  /** Bloom membership probe (see BloomMightContainExpr); the first
    * argument must fold to the serialized filter bytes.
    */
  val bloomMightContainDescriptor: (FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => Expression) = (
    FunctionIdentifier("bloom_might_contain"),
    new ExpressionInfo(classOf[BloomMightContainExpr].getName,
      "bloom_might_contain"),
    (exprs: Seq[Expression]) => {
      require(exprs.length == 2,
        s"bloom_might_contain expects 2 arguments, got ${exprs.length}")
      val bytes = exprs.head match {
        case Literal(b: Array[Byte], BinaryType) => b
        case e if e.foldable && e.dataType == BinaryType =>
          e.eval().asInstanceOf[Array[Byte]]
        case other => throw new IllegalArgumentException(
          "bloom_might_contain: first argument must be a binary " +
            s"literal (the serialized filter), got $other")
      }
      BloomMightContainExpr(bytes, exprs(1))
    })

  /** SQL spelling of TextFunctions.fingerprint: pure-SQL clients get
    * the same normalized-text dedup key — the expression tree composes
    * built-in codegen'd nodes, so no UDF boundary.
    */
  val fingerprintDescriptor: (FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => Expression) = (
    FunctionIdentifier("fingerprint"),
    new ExpressionInfo(classOf[Md5].getName, "fingerprint"),
    (exprs: Seq[Expression]) => {
      require(exprs.length == 1,
        s"fingerprint expects 1 argument, got ${exprs.length}")
      Md5(Cast(new StringTrim(
        RegExpReplace(Lower(exprs(0)), Literal("\\s+"), Literal(" "))),
        BinaryType))
    })

  /** Ad-hoc registration of every extension function on an existing
    * session (the cluster path sets spark.sql.extensions instead —
    * builder-time config can't be added to a live session).
    */
  def registerAll(spark: org.apache.spark.sql.SparkSession): Unit =
    Seq(cosineFastDescriptor, dotExactDescriptor, dotDoubleDescriptor,
      bloomMightContainDescriptor, fingerprintDescriptor,
      redactPiiDescriptor)
      .foreach { case (ident, _, builder) =>
        spark.sessionState.functionRegistry
          .createOrReplaceTempFunction(ident.funcName, builder, "scala_udf")
      }

  /** SQL spelling of TextFunctions.redactPii. */
  val redactPiiDescriptor: (FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => Expression) = (
    FunctionIdentifier("redact_pii"),
    new ExpressionInfo(classOf[RegExpReplace].getName, "redact_pii"),
    (exprs: Seq[Expression]) => {
      require(exprs.length == 1,
        s"redact_pii expects 1 argument, got ${exprs.length}")
      RegExpReplace(
        RegExpReplace(exprs(0),
          Literal("[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"),
          Literal("[EMAIL]")),
        Literal("\\+?[0-9][0-9()\\-\\s]{6,}[0-9]"),
        Literal("[PHONE]"))
    })
}

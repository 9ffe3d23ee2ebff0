package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression,
  ExpressionInfo, Literal, Md5, RegExpReplace}
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
  * This is the one place that gives the engine's functions, rules and
  * strategy a name in a session (every session on the cluster gets
  * them, including pure-SQL clients); [[GraftExtensions.registerAll]]
  * installs the same function descriptors on a live session. The
  * Column APIs (`CosineSimilarityExpr.cosineFast` and the like) build
  * their expressions directly and need neither. Catalyst sees a
  * first-class Expression either way — codegen, null-propagation and
  * type checks all participate in optimization, unlike an opaque UDF.
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
    GraftExtensions.all.foreach(ext.injectFunction)
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
  /** (name, info, builder): what `injectFunction` takes. */
  type Descriptor = (FunctionIdentifier, ExpressionInfo,
    Seq[Expression] => Expression)

  /** A descriptor whose builder checks the argument count first. */
  private def descriptor(name: String, cls: Class[_], arity: Int)(
      build: Seq[Expression] => Expression): Descriptor = (
    FunctionIdentifier(name),
    new ExpressionInfo(cls.getName, name),
    (exprs: Seq[Expression]) => {
      require(exprs.length == arity,
        s"$name expects $arity argument${if (arity == 1) "" else "s"}" +
          s", got ${exprs.length}")
      build(exprs)
    })

  /** Codegen'd cosine similarity (see CosineSimilarityExpr). */
  val cosineFastDescriptor: Descriptor =
    descriptor("cosine_fast", classOf[CosineSimilarityExpr], 2)(
      e => CosineSimilarityExpr(e(0), e(1)))

  /** Fused exact-decimal dot product (see DotExactExpr). */
  val dotExactDescriptor: Descriptor =
    descriptor("dot_exact", classOf[DotExactExpr], 2)(
      e => DotExactExpr(e(0), e(1)))

  /** Fused plain-double sequential dot product (see DotDoubleExpr). */
  val dotDoubleDescriptor: Descriptor =
    descriptor("dot_double", classOf[DotDoubleExpr], 2)(
      e => DotDoubleExpr(e(0), e(1)))

  /** Bloom membership probe (see BloomMightContainExpr); the first
    * argument must fold to the serialized filter bytes.
    */
  val bloomMightContainDescriptor: Descriptor =
    descriptor("bloom_might_contain", classOf[BloomMightContainExpr], 2) {
      e =>
        val bytes = e.head match {
          case Literal(b: Array[Byte], BinaryType) => b
          case f if f.foldable && f.dataType == BinaryType =>
            f.eval().asInstanceOf[Array[Byte]]
          case other => throw new IllegalArgumentException(
            "bloom_might_contain: first argument must be a binary " +
              s"literal (the serialized filter), got $other")
        }
        BloomMightContainExpr(bytes, e(1))
    }

  /** SQL spelling of TextFunctions.fingerprint: pure-SQL clients get
    * the same normalized-text dedup key, built by the Column function
    * itself — built-in codegen'd nodes, so no UDF boundary.
    */
  val fingerprintDescriptor: Descriptor =
    descriptor("fingerprint", classOf[Md5], 1)(e => StoreSqlShims
      .expression(TextFunctions.fingerprint(StoreSqlShims.column(e(0)))))

  /** SQL spelling of TextFunctions.redactPii. */
  val redactPiiDescriptor: Descriptor =
    descriptor("redact_pii", classOf[RegExpReplace], 1)(e => StoreSqlShims
      .expression(TextFunctions.redactPii(StoreSqlShims.column(e(0)))))

  private val all: Seq[Descriptor] = Seq(cosineFastDescriptor,
    dotExactDescriptor, dotDoubleDescriptor, bloomMightContainDescriptor,
    fingerprintDescriptor, redactPiiDescriptor)

  /** Ad-hoc registration of every extension function on an existing
    * session (the cluster path sets spark.sql.extensions instead —
    * builder-time config can't be added to a live session).
    */
  def registerAll(spark: org.apache.spark.sql.SparkSession): Unit =
    all.foreach { case (ident, _, builder) =>
      spark.sessionState.functionRegistry
        .createOrReplaceTempFunction(ident.funcName, builder, "scala_udf")
    }
}

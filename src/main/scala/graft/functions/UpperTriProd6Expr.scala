package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.StoreSqlShims
import org.apache.spark.sql.types._

/** Upper-triangle scaled products of a vector with itself:
  * `array<float|double>` → `array<struct<i, j, p6>>` with one entry
  * per 1-based pair i ≤ j and `p6 = floor(xᵢ·xⱼ·10⁶ + 0.5)` as a
  * long — the map-side pair generator behind
  * [[graft.llm.EmbeddingPca.covariance]]'s zero-shuffle moment pass.
  *
  * Exists for THROUGHPUT, not expressiveness: the same stream is
  * declarable as nested `transform`s, but higher-order functions are
  * CodegenFallback and evaluate their lambda trees INTERPRETED, per
  * element — measured 4.2 s for the sf0.1 covariance vs 2.3 s for
  * the explode + self-join it replaced, i.e. the interpreted CPU
  * exceeded the shuffle it saved. This expression is the d(d+1)/2
  * loop as compiled Scala (one virtual call per ROW instead of per
  * element); it stays CodegenFallback (array-of-struct writing buys
  * little over the compiled loop) and the explode above it remains a
  * codegen'd Generate.
  *
  * Quantizer: `floor(p·10⁶ + 0.5)` in PURE IEEE double arithmetic —
  * bit-identical in any engine (DuckDB spelling
  * `CAST(floor(x * 1000000.0 + 0.5) AS BIGINT)`), unlike decimal
  * `round()`, whose Spark implementation allocates a BigDecimal per
  * element (~100 ns — comparable to the entire rest of the loop).
  * It is half-UP at exact .5 (vs round's half-away-from-zero); the
  * ≤ 5·10⁻⁷ per-term difference is the same deterministic
  * quantization slack the covariance contract already documents,
  * applied identically on both engines.
  */
case class UpperTriProd6Expr(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult
          .TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult
          .TypeCheckFailure(
            s"upper_tri_prod6 expects array<float|double>, " +
              s"got ${other.sql}")
    }

  private def isFloat: Boolean = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("i", LongType, nullable = false),
      StructField("j", LongType, nullable = false),
      StructField("p6", LongType, nullable = false))),
    containsNull = false)

  override def nullSafeEval(v: Any): Any = {
    val arr = v.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val xs = new Array[Double](n)
    val f = isFloat // hoisted: a per-element dataType match defeats
    // the single-compiled-loop purpose of this expression
    var k = 0
    while (k < n) {
      // null elements have no defined product; fail loudly like the
      // dot-product expressions rather than fabricating a 0
      if (arr.isNullAt(k)) throw new IllegalArgumentException(
        "upper_tri_prod6: null vector element")
      xs(k) = if (f) arr.getFloat(k).toDouble else arr.getDouble(k)
      k += 1
    }
    val out = new Array[AnyRef](n * (n + 1) / 2)
    var idx = 0
    var i = 0
    while (i < n) {
      val xi = xs(i)
      var j = i
      while (j < n) {
        val p6 = math.floor(xi * xs(j) * 1000000.0 + 0.5).toLong
        out(idx) = new GenericInternalRow(
          Array[Any]((i + 1).toLong, (j + 1).toLong, p6))
        idx += 1
        j += 1
      }
      i += 1
    }
    new GenericArrayData(out.asInstanceOf[Array[Any]])
  }

  override protected def withNewChildInternal(
      newChild: Expression): Expression = copy(newChild)
}

object UpperTriProd6Expr {

  /** Column API: builds the expression directly, in any session. */
  def upperTriProd6(v: Column): Column =
    StoreSqlShims.column(UpperTriProd6Expr(StoreSqlShims.expression(v)))
}

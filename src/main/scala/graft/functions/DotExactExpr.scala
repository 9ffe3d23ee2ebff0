package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.StoreSqlShims
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Fused exact-decimal dot product over two `array<float>` columns —
  * bit-identical to the `zip_with` + `aggregate` DECIMAL(20,12) fold
  * in VectorFunctions.dotExact, an order of magnitude cheaper.
  *
  * Semantics replicated element by element: widen float→double
  * (exact), multiply in double (what `x.cast(double) * y.cast(double)`
  * does), round the product to scale 12 HALF_UP via
  * `BigDecimal.valueOf` (the same Double.toString-based conversion
  * Spark's double→decimal Cast performs), sum exactly, convert the
  * exact sum to double once at the end (same as Decimal.toDouble).
  * What it REMOVES is the per-element Catalyst machinery: no zip_with
  * array materialization, no lambda-variable binding per element, no
  * Decimal wrapper allocation — one generated loop with two
  * BigDecimal ops per element.
  *
  * The sign of the result is exact: the smallest nonzero magnitude an
  * exact scale-12 sum can have is 1e-12, far above double underflow,
  * so `dot_exact(a, b) >= 0` is the same predicate as on the decimal
  * (which is why signBit can build on the double form).
  */
case class DotExactExpr(left: Expression, right: Expression)
    extends BinaryExpression {

  // Either side may be array<float> or array<double>: float elements
  // widen to double exactly, so mixing a float corpus column with a
  // double model-vector literal (e.g. centroid means) keeps the same
  // element semantics as casting both to double first.
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
      case _ => false
    })
    if (ok)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"dot_exact expects array<float|double> on both sides, got " +
          s"(${left.dataType.sql}, ${right.dataType.sql})")
  }

  private def isFloat(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def dataType: DataType = DoubleType

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val (lf, rf) = (isFloat(left), isFloat(right))
    val n = x.numElements()
    // fail loudly: silently truncating to the shorter side would mask
    // a wrong-dimension bug upstream (mixed models, bad ingest)
    if (n != y.numElements())
      throw new IllegalArgumentException(
        s"dot_exact: mismatched vector dimensions ($n vs " +
          s"${y.numElements()})")
    var acc = java.math.BigDecimal.ZERO
    var i = 0
    while (i < n) {
      val xv = if (lf) x.getFloat(i).toDouble else x.getDouble(i)
      val yv = if (rf) y.getFloat(i).toDouble else y.getDouble(i)
      acc = acc.add(java.math.BigDecimal.valueOf(xv * yv)
        .setScale(12, java.math.RoundingMode.HALF_UP))
      i += 1
    }
    acc.doubleValue
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      val p = ctx.freshName("p")
      def get(arr: String, e: Expression): String =
        if (isFloat(e)) s"((double) $arr.getFloat($i))"
        else s"$arr.getDouble($i)"
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  throw new IllegalArgumentException(
         |    "dot_exact: mismatched vector dimensions (" + $n +
         |    " vs " + $b.numElements() + ")");
         |}
         |java.math.BigDecimal $acc = java.math.BigDecimal.ZERO;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $p = ${get(a, left)} * ${get(b, right)};
         |  $acc = $acc.add(java.math.BigDecimal.valueOf($p)
         |    .setScale(12, java.math.RoundingMode.HALF_UP));
         |}
         |${ev.value} = $acc.doubleValue();
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): Expression = copy(newLeft, newRight)
}

object DotExactExpr {

  /** Column API: builds the expression directly, in any session. */
  def dotExactFast(a: Column, b: Column): Column =
    StoreSqlShims.column(DotExactExpr(
      StoreSqlShims.expression(a), StoreSqlShims.expression(b)))
}

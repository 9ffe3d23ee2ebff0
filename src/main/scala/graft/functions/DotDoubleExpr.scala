package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.StoreSqlShims
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Fused plain-double dot product over two `array<float|double>`
  * columns: one codegen'd loop, strict LEFT-TO-RIGHT accumulation.
  *
  * Unlike [[DotExactExpr]] the sum is ordinary IEEE double addition —
  * two float ops per element instead of two BigDecimal allocations
  * (~50× cheaper) — so the result depends on evaluation order. The
  * fixed index-order fold is exactly reproducible by any engine that
  * folds sequentially (DuckDB: `list_reduce` over the element-wise
  * products, which seeds with element 0 and adds left to right; the
  * only divergence from our 0.0-seeded loop is a possible ±0.0, which
  * no ordering or sign predicate distinguishes).
  *
  * Use where per-row throughput matters and the consumer is a sign or
  * comparison against the SAME fold (LSH plane signs, argmax over
  * centroid scores) — not where results must be partition-order
  * independent (distributed aggregation of the dots themselves):
  * there, [[DotExactExpr]] remains the tool.
  */
case class DotDoubleExpr(left: Expression, right: Expression)
    extends BinaryExpression {

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
        s"dot_double expects array<float|double> on both sides, got " +
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
        s"dot_double: mismatched vector dimensions ($n vs " +
          s"${y.numElements()})")
    var acc = 0.0
    var i = 0
    while (i < n) {
      val xv = if (lf) x.getFloat(i).toDouble else x.getDouble(i)
      val yv = if (rf) y.getFloat(i).toDouble else y.getDouble(i)
      acc += xv * yv
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      def get(arr: String, e: Expression): String =
        if (isFloat(e)) s"((double) $arr.getFloat($i))"
        else s"$arr.getDouble($i)"
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  throw new IllegalArgumentException(
         |    "dot_double: mismatched vector dimensions (" + $n +
         |    " vs " + $b.numElements() + ")");
         |}
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += ${get(a, left)} * ${get(b, right)};
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): Expression = copy(newLeft, newRight)
}

object DotDoubleExpr {

  /** Column API: builds the expression directly, in any session. */
  def dotDouble(a: Column, b: Column): Column =
    StoreSqlShims.column(DotDoubleExpr(
      StoreSqlShims.expression(a), StoreSqlShims.expression(b)))
}

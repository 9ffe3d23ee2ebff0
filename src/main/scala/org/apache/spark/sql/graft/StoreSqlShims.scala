package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.ColumnNodeToExpressionConverter
import org.apache.spark.sql.types.StructType

/** The `private[sql]` (and one `private[spark]`) bridges the engine
  * needs, behind one tiny
  * object in a `org.apache.spark.sql` subpackage — the same placement
  * the public Delta Lake codebase uses for exactly these calls (its
  * classes live under `org.apache.spark.sql.delta`). Nothing else in
  * this repository reaches into Spark's package-private API; keep it
  * that way — every addition here widens the surface that can break
  * on a Spark upgrade.
  *
  *  - [[ofRows]]: a [[LogicalPlan]] — the SOURCE query a command
  *    carried from the parser, or a hand-built operator or relation —
  *    to an analyzed, runnable [[DataFrame]].
  *  - [[column]]: an unresolved parser [[Expression]] (a DML
  *    predicate / SET value) to a [[Column]] that resolves against
  *    whatever DataFrame it is applied to — the exact mechanism of
  *    the public `functions.expr`, minus the re-parse.
  *  - [[expression]]: the reverse, for operators that embed a
  *    caller's [[Column]] in a logical node.
  *  - [[nullable]]: a schema with every field (nested ones too)
  *    nullable, the shape a file scan reports.
  *  - [[contextDefault]]: a default written into the running
  *    `SparkContext`'s own conf, where static SQL confs are read.
  */
object StoreSqlShims {

  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
      plan)

  def column(e: Expression): Column =
    org.apache.spark.sql.classic.ExpressionUtils.column(e)

  /** Column → Catalyst expression, converted EAGERLY (Spark 4 keeps
    * the ColumnNode converter `private[sql]`; the lazy
    * `ExpressionUtils.expression` wrapper is not serializable and
    * never resolved inside custom logical nodes).
    */
  def expression(c: Column): Expression =
    ColumnNodeToExpressionConverter(c.node)

  def nullable(s: StructType): StructType = s.asNullable

  /** Re-wrap a [[Column]]'s expression in an ANSI-eval-mode cast —
    * the runtime half of ANSI store assignment (an out-of-range or
    * malformed value fails loudly instead of landing as NULL). The
    * plan-time half (`Cast.canANSIStoreAssign`) stays with the
    * callers; this shim only supplies the `Column` ↔ `Expression`
    * bridge.
    */
  def ansiCast(c: Column,
      dt: org.apache.spark.sql.types.DataType): Column =
    column(org.apache.spark.sql.catalyst.expressions.Cast(
      org.apache.spark.sql.classic.ExpressionUtils.expression(c),
      dt, None, org.apache.spark.sql.catalyst.expressions
        .EvalMode.ANSI))

  /** `key = value` in the active `SparkContext`'s own conf unless it
    * already holds `key` (an explicit setting wins); a no-op with no
    * active context. `SparkContext.conf` and `getActive` are
    * `private[spark]`, and `getConf` returns a copy. A session's
    * shared state copies this conf when it is first built, so a
    * value written before then reaches static SQL confs too.
    */
  def contextDefault(key: String, value: String): Unit =
    org.apache.spark.SparkContext.getActive
      .foreach(_.conf.setIfMissing(key, value))
}

package graft.plans

import scala.collection.mutable

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute,
  Expression, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateOrdering
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution,
  Distribution, Partitioning, UnspecifiedDistribution}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy,
  UnaryExecNode}
import org.apache.spark.sql.graft.StoreSqlShims

/** Per-group top-k as a first-class physical operator — extension
  * ladder rung (c): a custom [[LogicalPlan]] planned by a custom
  * [[SparkStrategy]] into a partial/final [[SparkPlan]] pair,
  * registered through `SparkSessionExtensions`
  * (`graft.functions.GraftExtensions`).
  *
  * Why a whole operator and not composition: the declarative spelling
  * (`row_number().over(partitionBy(g).orderBy(o)) <= k`, q60) makes
  * Spark shuffle EVERY fact row and fully sort each group before
  * discarding all but k — at 100 TB that is a fact-table-sized
  * exchange plus an O(n log n) sort for a k·|groups| answer. The
  * typed-Aggregator form ([[graft.operators.TopK]], q68) fixes the
  * asymptotics but pays Dataset encoder boundaries and fixed column
  * types. This operator works directly on [[UnsafeRow]]s with a
  * generated comparator, for any column shape:
  *
  *  - '''partial''' exec (no distribution requirement): one bounded
  *    k-element heap per group per input partition — map-side, so the
  *    exchange that follows carries at most k·|groups| rows per map
  *    partition, never the fact table;
  *  - '''final''' exec declares
  *    `requiredChildDistribution = ClusteredDistribution(groupExprs)`
  *    and Catalyst's `EnsureRequirements` inserts the single hash
  *    exchange; the same bounded-heap pass then merges the partials.
  *
  * Nothing is ever globally sorted; memory is O(groups-per-partition
  * × k) — for skewed group counts pick k·|groups| ≪ partition budget
  * or pre-bucket the groups.
  *
  * Semantics contract (tested against the window form in
  * GroupedTopKSpec): rows whose rank under `ordering` within their
  * group is ≤ k, where `ordering` MUST be a total order (add a unique
  * tie-break column) — with ties the kept set would otherwise be
  * partition-dependent. Output order across groups is unspecified, as
  * with any aggregate; sort afterwards if needed.
  *
  * Reference analog: "latest/top matchday rows per team" shapes the
  * reference materializes in SQL models (data_transformations/models,
  * SURVEY §2.5); here it is the scale-safe primitive those models
  * would call.
  */
case class GroupedTopK(
    groupExprs: Seq[Expression],
    ordering: Seq[SortOrder],
    k: Int,
    child: LogicalPlan) extends UnaryNode {
  require(k > 0, s"GroupedTopK: k must be positive, got $k")
  override def output: Seq[Attribute] = child.output
  override def maxRows: Option[Long] = child.maxRows
  override protected def withNewChildInternal(
      newChild: LogicalPlan): GroupedTopK = copy(child = newChild)
}

/** Plans [[GroupedTopK]] as partial-over-final bounded-heap execs. */
object GroupedTopKStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case GroupedTopK(groupExprs, ordering, k, child) =>
      val partial = GroupedTopKExec(groupExprs, ordering, k,
        partial = true, planLater(child))
      GroupedTopKExec(groupExprs, ordering, k,
        partial = false, partial) :: Nil
    case _ => Nil
  }
}

/** Bounded per-group top-k pass. `partial = true` runs map-side on
  * whatever partitioning the child has; `partial = false` demands
  * `ClusteredDistribution(groupExprs)` so each group's partials meet
  * in exactly one task.
  */
case class GroupedTopKExec(
    groupExprs: Seq[Expression],
    ordering: Seq[SortOrder],
    k: Int,
    partial: Boolean,
    child: SparkPlan) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output

  override def outputPartitioning: Partitioning = child.outputPartitioning

  override def requiredChildDistribution: Seq[Distribution] =
    if (partial) UnspecifiedDistribution :: Nil
    else ClusteredDistribution(groupExprs) :: Nil

  override def nodeName: String =
    if (partial) "GroupedTopKPartial" else "GroupedTopKFinal"

  override protected def withNewChildInternal(
      newChild: SparkPlan): GroupedTopKExec = copy(child = newChild)

  override protected def doExecute(): RDD[InternalRow] = {
    val groupExprsLocal = groupExprs
    val orderingLocal = ordering
    val childOutput = child.output
    val kLocal = k
    child.execute().mapPartitions({ iter =>
      val keyProj = UnsafeProjection.create(groupExprsLocal, childOutput)
      val cmp = GenerateOrdering.generate(orderingLocal, childOutput)
      // Max-heap by sort position: head = the WORST retained row, so
      // one O(log k) dequeue evicts it when a better row arrives.
      val heapOrd = new Ordering[UnsafeRow] {
        override def compare(a: UnsafeRow, b: UnsafeRow): Int =
          cmp.compare(a, b)
      }
      val heaps = mutable.HashMap.empty[UnsafeRow,
        mutable.PriorityQueue[UnsafeRow]]
      iter.foreach { row =>
        val unsafe = row.asInstanceOf[UnsafeRow]
        val heap = heaps.getOrElseUpdate(keyProj(unsafe).copy(),
          mutable.PriorityQueue.empty[UnsafeRow](heapOrd))
        if (heap.size < kLocal) heap.enqueue(unsafe.copy())
        else if (cmp.compare(unsafe, heap.head) < 0) {
          heap.dequeue()
          heap.enqueue(unsafe.copy())
        }
      }
      heaps.valuesIterator.flatMap(_.iterator)
    }, preservesPartitioning = true)
  }
}

object GroupedTopK {

  /** Idempotently make [[GroupedTopKStrategy]] visible to this
    * session's planner. Sessions built with
    * `spark.sql.extensions=graft.functions.GraftExtensions` already
    * have it, injected, and get no second copy; this covers ad-hoc
    * sessions (the `registerAll` analog).
    */
  def ensureStrategy(spark: SparkSession): Unit =
    if (!spark.sessionState.planner.strategies.contains(GroupedTopKStrategy))
      spark.experimental.extraStrategies =
        GroupedTopKStrategy +: spark.experimental.extraStrategies

  /** Top `k` rows of each `groupCols` group under `orderBy` (which
    * must be a total order — add a unique tie-break). Column exprs may
    * be plain columns (`asc` assumed) or explicit `.asc`/`.desc`.
    */
  def of(df: DataFrame, groupCols: Seq[String], orderBy: Seq[Column],
      k: Int): DataFrame = {
    val spark = df.sparkSession
    ensureStrategy(spark)
    val child = df.queryExecution.analyzed
    val groupExprs: Seq[Expression] =
      groupCols.map(c => StoreSqlShims.expression(df.col(c)))
    val sortOrders: Seq[SortOrder] =
      orderBy.map(StoreSqlShims.expression).map {
      case so: SortOrder => so
      case e => SortOrder(e, Ascending)
    }
    StoreSqlShims.ofRows(spark,
      GroupedTopK(groupExprs, sortOrders, k, child))
  }
}

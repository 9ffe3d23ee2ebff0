package graft.plans

import graft.operators.VersionedStore.ColZone
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.functions.{col, count, lit}

/** Zone-map file pruning as an automatic optimizer rule — the
  * planner half of the Z-order story (q148 gates the curve
  * arithmetic, q268 measures the layout's payoff, this rule makes
  * queries COLLECT it without hand-written pruning): a `Filter`
  * over a registered file-bucketed table whose condition bounds the
  * table's clustered columns gets an extra `fileCol IN (survivors)`
  * filter injected directly above the scan ([[FileSkipRule]]), where
  * survivors are the files whose registered per-file [min, max]
  * zones intersect the predicate's ranges — at 100 TB on a
  * Z-ordered layout that is q268's measured 4-of-147-files scan,
  * applied by the planner to ANY query with a qualifying predicate.
  *
  * Correctness constraints, enforced structurally:
  *  - bounds come from the shared extractor, [[PruneBounds]]: `=`,
  *    `<=>`, `<`, `<=`, `>`, `>=` against a literal (either operand
  *    order), `IN`/`InSet` hulls and ASCII-prefix `LIKE 'p%'`, on
  *    INTEGRAL, DATE (days-since-epoch zones) or STRING (binary-order
  *    zones) clustered columns, bare or under an integral-widening
  *    cast; an OR conjunct whose every disjunct is recognized prunes
  *    to the union of disjunct survivors. Every unrecognized conjunct
  *    is ignored — it can only make the true row set SMALLER than the
  *    bounds imply, so pruning by the recognized bounds alone never
  *    drops a matching row. Strict bounds tighten by ±1
  *    (integers/dates; strings stay inclusive).
  *  - a file survives unless SOME bounded column's zone is fully
  *    outside the predicate's range — the exact row-group rule a
  *    parquet reader applies to footer stats.
  *  - no recognized bounds → no rewrite.
  *
  * The registered zones are collected ONCE at register time (one
  * O(files)-row aggregate) in the store's own zone format: the same
  * [[PruneBounds.zoneAggs]] a `VersionedStore` commit writes, tested
  * by the same [[PruneBounds.admits]] a store scan prunes by. The
  * caller owns their freshness, exactly like SummaryRewriteRule's
  * summary contract: after the table changes, register it again.
  * A `VersionedStore`'s log already is the durable, per-commit zone
  * manifest of a store table.
  *
  * Injection paths: cluster-wide via
  * `spark.sql.extensions=graft.functions.GraftExtensions`, or on a
  * live session via `spark.experimental.extraOptimizations`.
  */
object ZoneMapPruneRule extends FileSkipRule {

  /** Per-file zones: fileId → the file's zones on `cols`.
    * `hasNullFile` marks rows whose file column is NULL — those rows
    * belong to no zone and the injected filter must keep them
    * (`fileCol IN (...)` alone evaluates to NULL on them and would
    * silently drop them).
    */
  final case class Entry(tablePlan: LogicalPlan, fileCol: String,
      cols: Seq[String], stats: Seq[(Long, Seq[ColZone])],
      hasNullFile: Boolean = false)
      extends FileSkipRule.Registered

  type E = Entry

  /** Register `table` (its analyzed plan is the match key) as
    * file-bucketed by integral column `fileCol` and clustered on
    * `cols`; collects the per-file zones in one aggregate pass —
    * integral and date columns get "l" zones (dates as days since the
    * epoch, the form PruneBounds reads a folded DateType literal in),
    * string columns "s" zones, other types none. Re-registering the
    * same table plan REPLACES its previous entry — the freshness hook:
    * after a store delta/rewrite, call register again and the stale
    * zones are gone (they can otherwise over-prune rows the delta
    * added outside the old bounds). A zone column that is all-NULL
    * within a file contributes no zone for that file (the file always
    * survives on that column), matching the parquet-footer convention.
    */
  def register(table: DataFrame, fileCol: String,
      cols: Seq[String]): Entry = {
    val zcs = PruneBounds.zoned(table, cols)
    val aggs = count(lit(1)).as("n") +:
      zcs.flatMap { case (c, _) => PruneBounds.zoneAggs(table, c) }
    val (nulls, files) = table
      .groupBy(col(fileCol).cast("long").as("__f"))
      .agg(aggs.head, aggs.tail: _*)
      .collect().partition(_.isNullAt(0))
    put(Entry(table.queryExecution.analyzed, fileCol, cols,
      files.map(r => r.getLong(0) ->
        PruneBounds.zonesOf(zcs, r.getLong(1), r.getAs[Any](_))).toSeq,
      nulls.nonEmpty))
  }

  /** The decision function, shared with the q311 gate's files-read
    * receipt so the declared number IS the rule's own pruning:
    * survivors = files whose every bounded column's zone intersects
    * the bound.
    */
  def survivors(e: Entry,
      bounds: Map[String, (Option[Long], Option[Long])]): Seq[Long] =
    conjunctionSurvivors(e, bounds.map { case (c, (lo, hi)) =>
      c -> PruneBounds.Bound("l", lo, hi)
    }).toSeq.flatten.sorted

  protected def prunes(e: Entry)(a: Attribute): Boolean =
    e.cols.contains(a.name)

  protected def fileCount(e: Entry): Int = e.stats.length

  /** Files whose zones admit the bounds ([[PruneBounds.admits]]). */
  protected def conjunctionSurvivors(e: Entry,
      bounds: Map[String, PruneBounds.Bound]): Option[Set[Long]] =
    Some(e.stats.collect {
      case (f, zones) if PruneBounds.admits(zones, bounds) => f
    }.toSet)
}

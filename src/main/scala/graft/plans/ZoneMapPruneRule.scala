package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.functions.{col, max, min, unix_date}
import org.apache.spark.sql.types.{DateType, StringType}

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
  * The registered stats are collected ONCE at register time (one
  * O(files)-row aggregate — the manifest a table format keeps); the
  * caller owns their freshness, exactly like SummaryRewriteRule's
  * summary contract.
  *
  * Injection paths: cluster-wide via
  * `spark.sql.extensions=graft.functions.GraftExtensions`, or on a
  * live session via `spark.experimental.extraOptimizations`.
  */
object ZoneMapPruneRule extends FileSkipRule {

  /** Per-file zones: fileId → (col → (lo, hi)). `hasNullFile` marks
    * rows whose file column is NULL — those rows belong to no zone
    * and the injected filter must keep them (`fileCol IN (...)`
    * alone evaluates to NULL on them and would silently drop them).
    */
  final case class Entry(tablePlan: LogicalPlan, fileCol: String,
      cols: Seq[String], stats: Seq[(Long, Map[String, (Long, Long)])],
      hasNullFile: Boolean = false,
      strStats: Map[Long, Map[String, (String, String)]] = Map.empty)
      extends FileSkipRule.Registered

  type E = Entry

  /** Register `table` (its analyzed plan is the match key) as
    * file-bucketed by integral column `fileCol` and Z-clustered on
    * integral columns `cols`; collects the per-file min/max zone
    * stats in one aggregate pass. Re-registering the same table plan
    * REPLACES its previous entry — the freshness hook: after a store
    * delta/rewrite, call register again and the stale zones are gone
    * (they can otherwise over-prune rows the delta added outside the
    * old bounds). A zone column that is all-NULL within a file
    * contributes no bound for that file (the file always survives on
    * that column), matching the parquet-footer convention.
    */
  def register(table: DataFrame, fileCol: String,
      cols: Seq[String]): Entry = put(build(table, fileCol, cols))

  /** The entry [[register]] records, without recording it. */
  private def build(table: DataFrame, fileCol: String,
      cols: Seq[String]): Entry = {
    // DATE zones ride as days-since-epoch longs (unix_date) — the
    // same integral form PruneBounds produces from a folded
    // DateType literal, so date predicates prune like integer ones.
    // STRING columns get min/max string zones (UTF8String binary
    // order on both the aggregate and the driver-side decision).
    val strCols = cols.filter(c =>
      table.schema(c).dataType == StringType)
    val numCols = cols.filterNot(strCols.contains)
    val aggs = numCols.flatMap { c =>
      val v =
        if (table.schema(c).dataType == DateType) unix_date(col(c))
        else col(c)
      Seq(min(v).cast("long").as(s"lo_$c"),
        max(v).cast("long").as(s"hi_$c"))
    } ++ strCols.flatMap(c =>
      Seq(min(col(c)).as(s"slo_$c"), max(col(c)).as(s"shi_$c")))
    val rows = table.groupBy(col(fileCol).cast("long").as("__f"))
      .agg(aggs.head, aggs.tail: _*)
      .collect()
    val hasNullFile = rows.exists(_.isNullAt(0))
    val stats = rows.filterNot(_.isNullAt(0))
      .map { r =>
        r.getLong(0) -> numCols.zipWithIndex.flatMap { case (c, i) =>
          if (r.isNullAt(1 + 2 * i) || r.isNullAt(2 + 2 * i)) None
          else Some(c -> (r.getLong(1 + 2 * i), r.getLong(2 + 2 * i)))
        }.toMap
      }.toSeq
    val sBase = 1 + 2 * numCols.length
    val strStats = rows.filterNot(_.isNullAt(0))
      .map { r =>
        r.getLong(0) -> strCols.zipWithIndex.flatMap { case (c, j) =>
          if (r.isNullAt(sBase + 2 * j) || r.isNullAt(sBase + 2 * j + 1))
            None
          else Some(c -> (r.getString(sBase + 2 * j),
            r.getString(sBase + 2 * j + 1)))
        }.toMap
      }.toMap
    Entry(table.queryExecution.analyzed, fileCol, cols, stats,
      hasNullFile, strStats)
  }

  /** Incremental freshness: fold ONLY the appended rows' zones into
    * a previous registration — at 100 TB a full re-register re-scans
    * the table to rebuild stats the delta didn't touch, while this
    * is one O(delta)-row aggregate (the manifest-update a table
    * format performs on commit). `newTable` is the post-append read
    * (its analyzed plan replaces the stale match key, so the updated
    * zones serve the new plan); `delta` holds exactly the appended
    * rows with the same schema. A delta file already present merges
    * by interval union (min of mins / max of maxes — an appended row
    * can only WIDEN a zone, never shrink it, so merged zones are the
    * zones a full rebuild would produce; ZoneMapPruneRuleSpec pins
    * the equivalence).
    */
  def addDelta(prev: Entry, newTable: DataFrame,
      delta: DataFrame): Entry = {
    val d = build(delta, prev.fileCol, prev.cols)
    val files = (prev.stats.map(_._1) ++ d.stats.map(_._1)).distinct
    val dNum = d.stats.toMap
    val pNum = prev.stats.toMap
    val stats = files.map { f =>
      val merged = (pNum.getOrElse(f, Map.empty).keySet ++
        dNum.getOrElse(f, Map.empty).keySet).map { c =>
        (pNum.getOrElse(f, Map.empty).get(c),
            dNum.getOrElse(f, Map.empty).get(c)) match {
          case (Some((alo, ahi)), Some((blo, bhi))) =>
            c -> (math.min(alo, blo), math.max(ahi, bhi))
          case (Some(z), None) => c -> z
          case (None, Some(z)) => c -> z
          case (None, None) => c -> (Long.MinValue, Long.MaxValue)
        }
      }.toMap
      f -> merged
    }
    val strStats = files.map { f =>
      val p = prev.strStats.getOrElse(f, Map.empty)
      val q = d.strStats.getOrElse(f, Map.empty)
      f -> (p.keySet ++ q.keySet).map { c =>
        (p.get(c), q.get(c)) match {
          case (Some((alo, ahi)), Some((blo, bhi))) =>
            c -> (if (PruneBounds.cmp(alo, blo) <= 0) alo else blo,
              if (PruneBounds.cmp(ahi, bhi) >= 0) ahi else bhi)
          case (Some(z), None) => c -> z
          case (None, Some(z)) => c -> z
          case (None, None) => c -> ("", "")
        }
      }.toMap
    }.filter(_._2.nonEmpty).toMap
    put(Entry(newTable.queryExecution.analyzed, prev.fileCol,
      prev.cols, stats, prev.hasNullFile || d.hasNullFile, strStats))
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

  /** Files whose every bounded column's zone, integral or string,
    * overlaps its bound.
    */
  protected def conjunctionSurvivors(e: Entry,
      bounds: Map[String, PruneBounds.Bound]): Option[Set[Long]] =
    Some(e.stats.collect {
      case (f, zones) if bounds.forall { case (c, b) =>
        val strs = e.strStats.getOrElse(f, Map.empty)
        zones.get(c).forall { case (lo, hi) =>
          PruneBounds.overlaps(b, "l", lo, hi) } &&
          strs.get(c).forall { case (lo, hi) =>
            PruneBounds.overlaps(b, "s", lo, hi) }
      } => f
    }.toSet)

  /** Persist a registration's zone stats as a parquet manifest —
    * the durable half of the table-format contract: a NEW session
    * (or a new driver after restart) re-arms pruning from the
    * KB-scale manifest alone, never re-scanning the table (at 100 TB
    * the register()-time aggregate is a full-corpus pass; the
    * manifest read is O(files) rows). Row kinds: "num"/"str" carry
    * one column's zone for one file; "file" marks file presence
    * (needed for files whose zone columns are all-NULL); one "meta"
    * row carries fileCol, the clustered column list, and the
    * null-file flag.
    */
  def saveManifest(e: Entry,
      spark: org.apache.spark.sql.SparkSession, path: String): Unit = {
    import spark.implicits._
    val num = e.stats.flatMap { case (f, zones) =>
      zones.map { case (c, (lo, hi)) =>
        ("num", f, c, lo, hi, null.asInstanceOf[String],
          null.asInstanceOf[String])
      }
    }
    val str = e.strStats.toSeq.flatMap { case (f, zones) =>
      zones.map { case (c, (lo, hi)) =>
        ("str", f, c, 0L, 0L, lo, hi)
      }
    }
    val files = e.stats.map { case (f, _) =>
      ("file", f, "", 0L, 0L, null.asInstanceOf[String],
        null.asInstanceOf[String])
    }
    val meta = Seq(("meta", if (e.hasNullFile) 1L else 0L,
      e.fileCol, 0L, 0L, e.cols.mkString(","),
      null.asInstanceOf[String]))
    (num ++ str ++ files ++ meta)
      .toDF("kind", "f", "c", "lo", "hi", "slo", "shi")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  /** Re-arm pruning for `table` from a saved manifest: registers an
    * entry identical to the one [[saveManifest]] captured (pinned in
    * ZoneMapPruneRuleSpec) without touching the table's data files.
    */
  def loadManifest(table: DataFrame, path: String): Entry = {
    val rows = table.sparkSession.read.parquet(path).collect()
    val meta = rows.find(_.getString(0) == "meta").getOrElse(
      throw new IllegalArgumentException(
        s"ZoneMapPruneRule.loadManifest: no meta row in $path"))
    val fileCol = meta.getString(2)
    val cols = meta.getString(5).split(",").toSeq.filter(_.nonEmpty)
    val hasNullFile = meta.getLong(1) == 1L
    val numRows = rows.filter(_.getString(0) == "num")
    val fileIds = rows.filter(_.getString(0) == "file")
      .map(_.getLong(1)).toSeq
    val stats = fileIds.map { f =>
      f -> numRows.filter(_.getLong(1) == f)
        .map(r => r.getString(2) -> (r.getLong(3), r.getLong(4)))
        .toMap
    }
    val strStats = rows.filter(_.getString(0) == "str")
      .groupBy(_.getLong(1))
      .map { case (f, rs) =>
        f -> rs.map(r =>
          r.getString(2) -> (r.getString(5), r.getString(6))).toMap
      }
    put(Entry(table.queryExecution.analyzed, fileCol, cols, stats,
      hasNullFile, strStats))
  }

  /** Per-column integral [lo, hi] bounds of the condition's
    * recognized conjuncts over the clustered columns `cols` — the
    * integral/date projection of [[PruneBounds.conjunction]].
    */
  def extractBounds(cond: Expression,
      cols: Seq[String]): Map[String, (Option[Long], Option[Long])] =
    PruneBounds.conjunction(cond, a => cols.contains(a.name)).collect {
      case (c, PruneBounds.Bound("l", lo, hi, _)) =>
        c -> (lo.map(_.asInstanceOf[Long]), hi.map(_.asInstanceOf[Long]))
    }
}

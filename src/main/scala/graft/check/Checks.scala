package graft.check

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Declarative data-quality constraint algebra — the Spark-native form
  * of the reference's Great Expectations suite and dbt schema tests.
  *
  * Reference semantics:
  *  - `expect_column_values_to_not_be_null` / dbt `not_null` →
  *    [[NotNull]] (great_expectations/expectations/
  *    bundesliga_match_scores_data_expectations.json:56-96,
  *    models/example/schema.yml:11,20).
  *  - `expect_column_values_to_be_in_set` → [[InSet]] (json:28-54).
  *  - `expect_table_columns_to_match_ordered_list` →
  *    [[ColumnsMatchOrdered]] (json:6-26) — pure metadata, no scan.
  *  - dbt `unique` → [[Unique]] (schema.yml:10,19).
  *
  * Where GE runs one warehouse query per expectation
  * (include/scripts/file_services/data_validator.py:29-37), this
  * evaluator fuses every row-level check into ONE aggregation pass —
  * a single scan regardless of suite size, which is what makes the
  * suite viable on a 100 TB table.
  */
sealed trait Check {
  /** Stable identifier used as the result column name. */
  def id: String

  /** Columns this check reads — schema-evolution gates (e.g.
    * `VersionedStore.dropColumn`) refuse to retire a column a live
    * constraint still references.
    */
  def referencedColumns: Seq[String] = this match {
    case NotNull(c) => Seq(c)
    case InSet(c, _) => Seq(c)
    case NonNegative(c) => Seq(c)
    case MatchesRegex(c, _) => Seq(c)
    case Malformed(c) => Seq(c)
    case Between(c, _, _) => Seq(c)
    case Unique(cs) => cs
    case ColumnsMatchOrdered(cs) => cs
  }
}

/** Row-level checks compile to a violation-counting aggregate column. */
sealed trait RowCheck extends Check {
  def violationExpr: Column
  final def agg: Column =
    sum(when(violationExpr, 1L).otherwise(0L)).as(id)
}

final case class NotNull(column: String) extends RowCheck {
  val id = s"notnull_$column"
  def violationExpr: Column = col(column).isNull
}

final case class InSet(column: String, values: Seq[String]) extends RowCheck {
  val id = s"inset_$column"
  def violationExpr: Column =
    !col(column).isin(values: _*) || col(column).isNull
}

final case class NonNegative(column: String) extends RowCheck {
  val id = s"nonneg_$column"
  def violationExpr: Column = col(column) < 0
}

final case class MatchesRegex(column: String, regex: String) extends RowCheck {
  val id = s"regex_$column"
  def violationExpr: Column = !col(column).rlike(regex) || col(column).isNull
}

/** Malformed-row count for PERMISSIVE staging reads (see
  * [[graft.ingest.ExternalTable.registerPermissive]]): a corrupt CSV
  * line parks its raw text in the corrupt-record column, so "how many
  * rows failed to parse" is just a not-null count — evaluated in the
  * same fused single pass as every other row check.
  */
final case class Malformed(corruptColumn: String = "_corrupt_record")
    extends RowCheck {
  val id = s"malformed_$corruptColumn"
  def violationExpr: Column = col(corruptColumn).isNotNull
}

/** GE `expect_column_values_to_be_between` (inclusive bounds; NULL is
  * a violation, matching GE's default mostly=1 semantics).
  */
final case class Between(column: String, lo: Double, hi: Double)
    extends RowCheck {
  val id = s"between_$column"
  def violationExpr: Column =
    col(column).isNull || col(column) < lo || col(column) > hi
}

/** Uniqueness over a key: violations = count(*) - count(distinct key).
  * Evaluated in the same single pass via a distinct aggregate.
  */
final case class Unique(columns: Seq[String]) extends Check {
  val id = s"unique_${columns.mkString("_")}"
}

/** Schema-order assertion — metadata only, never scans data. */
final case class ColumnsMatchOrdered(expected: Seq[String]) extends Check {
  val id = "columns_match_ordered"
}

final case class CheckResult(check: String, violations: Long) {
  def passed: Boolean = violations == 0
}

object CheckRunner {

  /** Duplicate ids (e.g. two InSet checks on the same column) would
    * silently collapse into one result row and emit duplicate agg
    * column names — reject the suite up front instead.
    */
  private def requireDistinctIds(checks: Seq[Check]): Unit = {
    val dups = checks.map(_.id).groupBy(identity).collect {
      case (id, occ) if occ.size > 1 => id
    }
    require(dups.isEmpty,
      s"duplicate check ids in suite: ${dups.mkString(", ")} — " +
        "give conflicting checks distinct columns/parameters")
  }

  /** The suite's violation-count aggregates, one per row-level or
    * [[Unique]] check, each named by its check id (distinct ids
    * required). `exact` counts [[Unique]] violations with a distinct
    * aggregate; otherwise with `approx_count_distinct` (HLL, ±2.5%),
    * the only form observed metrics accept.
    */
  private def aggCols(checks: Seq[Check], exact: Boolean): Seq[Column] = {
    requireDistinctIds(checks)
    checks.collect {
      case rc: RowCheck => rc.agg
      case u: Unique =>
        val key = struct(u.columns.map(col): _*)
        if (exact) (count(lit(1)) - count_distinct(key)).as(u.id)
        else greatest(count(lit(1)) - approx_count_distinct(key),
          lit(0L)).as(u.id)
    }
  }

  /** Evaluate a suite against a DataFrame in a single aggregation pass
    * (plus zero-cost metadata checks). Returns one result per check.
    */
  def run(df: DataFrame, checks: Seq[Check]): Seq[CheckResult] = {
    val aggs = aggCols(checks, exact = true)
    val metaResults = checks.collect { case c @ ColumnsMatchOrdered(exp) =>
      CheckResult(c.id, if (df.schema.fieldNames.sameElements(exp)) 0L else 1L)
    }
    val aggResults =
      if (aggs.isEmpty) Seq.empty
      else {
        val row = df.agg(aggs.head, aggs.tail: _*).head()
        row.schema.fieldNames.zipWithIndex.map { case (n, i) =>
          CheckResult(n, if (row.isNullAt(i)) 0L else row.getLong(i))
        }.toSeq
      }
    // preserve suite order
    val byId = (metaResults ++ aggResults).map(r => r.check -> r).toMap
    checks.map(c => byId(c.id))
  }

  /** The fused violation-count row as a DataFrame (checkpoint report
    * analog of data_validator.py:29-39) — used by declared queries.
    */
  def reportDf(df: DataFrame, checks: Seq[Check]): DataFrame = {
    val aggs = aggCols(checks, exact = true)
    require(aggs.nonEmpty, "no aggregable checks in suite")
    df.agg(aggs.head, aggs.tail: _*)
  }

  def success(results: Seq[CheckResult]): Boolean = results.forall(_.passed)

  /** In-flight validation: attach the fused violation aggregates to a
    * plan as OBSERVED METRICS, so the suite is evaluated during the
    * action that materializes the data — writing a 100 TB table and
    * validating it costs ONE scan total, versus write-then-rescan.
    *
    * Returns the instrumented frame (run any action on it) and the
    * `Observation` handle; read results with [[observedResults]]
    * after the action completes.
    *
    * Observed metrics cannot contain distinct aggregates, so [[Unique]]
    * rides on `approx_count_distinct` here (its violation count is an
    * HLL estimate, ±2.5% — the in-flight tripwire; run the exact
    * [[run]] pass when an estimate isn't enough).
    */
  def observed(df: DataFrame, checks: Seq[Check])
      : (DataFrame, org.apache.spark.sql.Observation) = {
    val aggs = aggCols(checks, exact = false)
    require(aggs.nonEmpty, "no aggregable checks in suite")
    val obs = org.apache.spark.sql.Observation()
    (df.observe(obs, aggs.head, aggs.tail: _*), obs)
  }

  /** Collect [[observed]] metrics after the action (blocks until the
    * action that consumed the instrumented frame finishes).
    */
  def observedResults(obs: org.apache.spark.sql.Observation,
      checks: Seq[Check]): Seq[CheckResult] = {
    val row = obs.get
    checks.collect {
      case c if row.contains(c.id) =>
        CheckResult(c.id, row(c.id).asInstanceOf[Long])
    }
  }

  /** Validation-result sink (reference: checkpoint actions persist
    * results + data docs to the store,
    * great_expectations/checkpoints/bundesliga_match_scores_checkpoint
    * .yml:9-20): one JSON report per run.
    */
  def writeReport(spark: org.apache.spark.sql.SparkSession,
      results: Seq[CheckResult], path: String): Unit = {
    import spark.implicits._
    results.toDF().coalesce(1).write.mode("overwrite").json(path)
  }
}

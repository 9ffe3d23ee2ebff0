package graft.plans

import graft.operators.VersionedStore
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{Attribute,
  AttributeReference, Cast, EvalMode, Expression}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.graft.StoreSqlShims
import org.apache.spark.sql.types.{LongType, StructType}

/** SQL DML over [[VersionedStore]] tables registered through
  * `registerTable` — `INSERT INTO` / `DELETE FROM` / `UPDATE`
  * resolve (via [[StoreTimeTravelRule]]) into these driver-side
  * commands, each of which is exactly one store API call and
  * therefore ONE atomic commit with the store's full discipline
  * (schema gate, constraints, zone/bloom propagation, OCC). Each
  * returns the committed version as its result row.
  *
  * The commands are LEAVES: the carried predicate / SET expressions
  * and the insert's source plan deliberately stay OUTSIDE the
  * analyzer's tree (an unresolved attribute inside a resolved
  * operator fails CheckAnalysis) — they resolve at RUN time against
  * the store's own DataFrame, the same late binding `functions.expr`
  * gives every API caller.
  */
sealed trait StoreDmlCommand extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("version", LongType, nullable = false)())
}

/** Opaque carrier that keeps an UNRESOLVED parser expression out of
  * `QueryPlan.expressions` (which recurses through Option/Seq
  * product elements): CheckAnalysis would reject the resolved
  * command for the unresolved attributes inside — but these
  * expressions resolve at RUN time against the store DataFrame, by
  * design.
  */
final class SqlExpr(val e: Expression) extends Serializable {
  override def toString: String = e.sql
}

private[plans] object StoreDml {
  /** Coerce `src`'s columns to the target schema under ANSI
    * store-assignment semantics — the discipline Spark's own
    * `INSERT` applies under the default
    * `storeAssignmentPolicy=ANSI`. A permissive `Column.cast` here
    * would turn an incompatible positional value (a string landed
    * into a LONG column by a reordered SELECT) into a silent NULL;
    * instead, statically-unreasonable coercions (string→numeric,
    * double→boolean, …) are rejected at plan time via
    * [[Cast.canANSIStoreAssign]], and legal-but-lossy ones
    * (long→int) cast in ANSI eval mode so overflow fails loudly at
    * run time.
    */
  def ansiAlign(src: DataFrame, tgt: StructType, path: String,
      stmt: String): DataFrame = {
    val cols = tgt.fields.map { f =>
      val sdt = src.schema(f.name).dataType
      if (sdt == f.dataType) col(f.name)
      else {
        require(Cast.canANSIStoreAssign(sdt, f.dataType),
          s"$stmt store table at $path: cannot assign column " +
            s"`${f.name}` from ${sdt.simpleString} to " +
            s"${f.dataType.simpleString} under ANSI store " +
            "assignment — cast the source value explicitly if the " +
            "coercion is intended")
        StoreSqlShims.column(Cast(UnresolvedAttribute(Seq(f.name)),
          f.dataType, None, EvalMode.ANSI)).as(f.name)
      }
    }
    src.select(cols.toIndexedSeq: _*)
  }
}

/** `INSERT INTO <store table> [(cols)] <query>` → one
  * [[VersionedStore.append]]. SQL inserts are BY POSITION: the query
  * output is renamed to the target schema (or to the user-specified
  * column list, remaining columns NULL) and coerced to the target
  * types under ANSI store assignment ([[StoreDml.ansiAlign]]), so a
  * reordered SELECT cannot silently land values in the wrong
  * columns — unreasonable coercions fail at plan time, lossy ones
  * at run time, never as silent NULLs. `INSERT INTO ... BY NAME`
  * resolves the query's OUTPUT NAMES against the table schema
  * instead (case-insensitively, like the analyzer): matched columns
  * land under their names in any order, absent NULLABLE columns
  * fill with a typed NULL, an absent non-nullable column or a
  * source column the table does not carry is rejected loudly.
  * `INSERT OVERWRITE` is ONE atomic [[VersionedStore.overwrite]]
  * commit — the fresh group lands and every live group (and
  * deletion vector) retires in the same log record, never a
  * two-commit truncation window. Partitioned inserts are rejected —
  * the store has no partition spec (zones/z-order cluster instead).
  */
case class StoreInsertCommand(path: String, query: LogicalPlan,
    userCols: Seq[String],
    overwrite: Boolean = false,
    byName: Boolean = false) extends StoreDmlCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    val src = StoreSqlShims.ofRows(spark, query)
    // a PARTITIONED BY table lands every insert range-clustered on
    // its declared columns (same as the v2 write path)
    val cluster = VersionedStore.clusterByOf(spark, path)
    def land(df: org.apache.spark.sql.DataFrame): Long =
      if (overwrite)
        VersionedStore.overwrite(df, path, clusterBy = cluster)
      else if (cluster.nonEmpty)
        VersionedStore.appendClustered(df, path, cluster)
      else VersionedStore.append(df, path)
    if (byName) {
      require(userCols.isEmpty, // the grammar already forbids it
        "INSERT BY NAME takes no column list")
      VersionedStore.tableSchema(spark, path) match {
        case None =>
          // empty store: the first insert defines the schema, and
          // by-name is trivially the source's own naming
          return Seq(Row(land(src)))
        case Some(tgt) =>
          def srcCol(f: String): Option[String] =
            src.columns.find(_.equalsIgnoreCase(f))
          val extra = src.columns.filterNot(c =>
            tgt.fieldNames.exists(_.equalsIgnoreCase(c)))
          require(extra.isEmpty,
            s"INSERT BY NAME into store table at $path: the table " +
              s"carries no column(s) ${extra.mkString(", ")} — " +
              "evolve the table first, never silently drop")
          val noFill = tgt.fields.filter(f =>
            srcCol(f.name).isEmpty && !f.nullable)
          require(noFill.isEmpty,
            s"INSERT BY NAME into store table at $path: non-" +
              s"nullable column(s) ${noFill.map(_.name)
                .mkString(", ")} absent from the query output " +
              "cannot fill with NULL")
          val aligned = src.select(tgt.fields.map { f =>
            srcCol(f.name) match {
              case Some(c) => col(c).as(f.name)
              case None => org.apache.spark.sql.functions.lit(null)
                .cast(f.dataType).as(f.name)
            }
          }.toIndexedSeq: _*)
          return Seq(Row(land(StoreDml.ansiAlign(aligned, tgt,
            path, "INSERT BY NAME into"))))
      }
    }
    val tgt = VersionedStore.tableSchema(spark, path).getOrElse {
      // EMPTY store: the first insert defines the schema (the same
      // contract as the API's first append) — names come from the
      // query output, or the full column list when one is given
      require(userCols.isEmpty ||
        userCols.length == src.columns.length,
        s"INSERT INTO empty store table at $path: the column list " +
          "must name every query output column (there is no table " +
          "schema to fill from yet)")
      val named =
        if (userCols.isEmpty) src
        else src.toDF(userCols.toIndexedSeq: _*)
      return Seq(Row(land(named)))
    }
    val aligned =
      if (userCols.isEmpty) {
        require(src.columns.length == tgt.fields.length,
          s"INSERT INTO store table at $path: query produces " +
            s"${src.columns.length} columns, table has " +
            s"${tgt.fields.length}")
        src.toDF(tgt.fieldNames.toIndexedSeq: _*)
      } else {
        require(src.columns.length == userCols.length,
          s"INSERT INTO store table at $path: query produces " +
            s"${src.columns.length} columns, column list names " +
            s"${userCols.length}")
        val missing = userCols.filterNot(tgt.fieldNames.contains)
        require(missing.isEmpty,
          s"INSERT INTO store table at $path: unknown column(s) " +
            missing.mkString(", "))
        val named = src.toDF(userCols.toIndexedSeq: _*)
        named.select(tgt.fields.map(f =>
          if (userCols.contains(f.name)) col(f.name)
          else org.apache.spark.sql.functions.lit(null)
            .cast(f.dataType).as(f.name)).toIndexedSeq: _*)
      }
    val typed = StoreDml.ansiAlign(aligned, tgt, path, "INSERT INTO")
    Seq(Row(land(typed)))
  }
}

/** `INSERT [OVERWRITE] <store table> PARTITION (c1=v1[, …]) <query>`
  * — the STATIC partition spec over a store table. The spec columns
  * are filled with the literal values (standard Spark semantics:
  * the query supplies the remaining columns by position), and:
  *
  *  - OVERWRITE → ONE atomic [[VersionedStore.replaceWhere]] commit:
  *    exactly the rows matching the spec are deleted and the batch
  *    lands — the reference's idempotent dated-partition re-ingest
  *    (re-running a day replaces that day, never duplicates it);
  *  - plain INSERT → an append of the spec-filled batch (clustered
  *    when the table declares clustering).
  *
  * Dynamic specs (`PARTITION (c1)` with no value) are refused
  * loudly — spell dynamic overwrite as
  * `df.writeTo(t).overwritePartitions()`.
  */
case class StoreReplacePartitionCommand(path: String,
    query: LogicalPlan, spec: Seq[(String, String)],
    overwrite: Boolean) extends StoreDmlCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    val src = StoreSqlShims.ofRows(spark, query)
    val tgt = VersionedStore.tableSchema(spark, path).getOrElse(
      sys.error(s"INSERT ... PARTITION into store table at $path: " +
        "the table has no schema yet — declare or insert plainly " +
        "first"))
    val specMap = spec.toMap
    spec.foreach { case (c, _) =>
      require(tgt.fieldNames.exists(_.equalsIgnoreCase(c)),
        s"INSERT ... PARTITION into store table at $path: unknown " +
          s"partition column `$c`")
    }
    val rest = tgt.fields.filterNot(f =>
      specMap.keys.exists(_.equalsIgnoreCase(f.name)))
    require(src.columns.length == rest.length,
      s"INSERT ... PARTITION into store table at $path: query " +
        s"produces ${src.columns.length} columns, table needs " +
        s"${rest.length} beyond the partition spec")
    val named = src.toDF(rest.map(_.name).toIndexedSeq: _*)
    val full = named.select(tgt.fields.map { f =>
      specMap.collectFirst {
        case (c, v) if c.equalsIgnoreCase(f.name) =>
          lit(v).cast(f.dataType).as(f.name)
      }.getOrElse(col(f.name))
    }.toIndexedSeq: _*)
    val typed = StoreDml.ansiAlign(full, tgt, path,
      "INSERT ... PARTITION into")
    val cluster = VersionedStore.clusterByOf(spark, path)
    val v =
      if (overwrite) {
        val pred = spec.map { case (c, lv) =>
          val f = tgt.fields.find(_.name.equalsIgnoreCase(c)).get
          col(f.name) === lit(lv).cast(f.dataType)
        }.reduce(_ && _)
        VersionedStore.replaceWhere(typed, path, pred,
          clusterBy = cluster)
      } else if (cluster.nonEmpty)
        VersionedStore.appendClustered(typed, path, cluster)
      else VersionedStore.append(typed, path)
    Seq(Row(v))
  }
}

/** `df.writeTo(t).overwritePartitions()` — DYNAMIC partition
  * overwrite over a clustered store table: replace exactly the
  * clustered keys PRESENT in the batch, as ONE
  * [[VersionedStore.replaceWhere]] commit. This command is the only
  * route: the catalog table declares no `OVERWRITE_DYNAMIC`
  * capability (Spark ships no V1Write fallback for this node), so
  * only the analyzer rule of `GraftExtensions` reaches it. The batch
  * aligns BY NAME (the writeTo contract): a column the table lacks
  * is refused, never silently dropped. The key list is
  * driver-bounded — a batch spraying over 1000 distinct keys should
  * spell its region as `overwrite(condition)` instead.
  */
case class StoreDynamicOverwriteCommand(path: String,
    query: LogicalPlan) extends StoreDmlCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    val src = StoreSqlShims.ofRows(spark, query)
    val tgt = VersionedStore.tableSchema(spark, path).getOrElse(
      sys.error(s"overwritePartitions into store table at $path: " +
        "the table has no schema yet"))
    val cluster = VersionedStore.clusterByOf(spark, path)
    require(cluster.nonEmpty,
      s"overwritePartitions into store table at $path: dynamic " +
        "partition overwrite needs a PARTITIONED BY table — use " +
        "overwrite(condition) or a plain append")
    def srcCol(f: String): Option[String] =
      src.columns.find(_.equalsIgnoreCase(f))
    val missing = tgt.fieldNames.filter(srcCol(_).isEmpty)
    require(missing.isEmpty,
      s"overwritePartitions into store table at $path: the batch " +
        s"is missing column(s) ${missing.mkString(", ")}")
    val extra = src.columns.filterNot(c =>
      tgt.fieldNames.exists(_.equalsIgnoreCase(c)))
    require(extra.isEmpty,
      s"overwritePartitions into store table at $path: the table " +
        s"carries no column(s) ${extra.mkString(", ")} — evolve the " +
        "table first, never silently drop")
    val aligned = src.select(tgt.fields.map(f =>
      col(srcCol(f.name).get).as(f.name)).toIndexedSeq: _*)
    val typed = StoreDml.ansiAlign(aligned, tgt, path,
      "overwritePartitions into")
    val keys = typed.select(cluster.map(col): _*)
      .distinct().limit(1001).collect()
    require(keys.length <= 1000,
      s"overwritePartitions into store table at $path: the batch " +
        "carries over 1000 distinct partition keys — spell the " +
        "region as overwrite(condition)")
    val pred = keys.map(k => cluster.zipWithIndex.map {
      case (c, i) => col(c) <=> lit(k.get(i))
    }.reduce(_ && _)).reduceOption(_ || _)
      .getOrElse(lit(false))
    Seq(Row(VersionedStore.replaceWhere(typed, path, pred,
      clusterBy = cluster)))
  }
}

/** `DELETE FROM <store table> WHERE <pred>` → one
  * [[VersionedStore.deleteWhere]] (copy-on-write, only matching
  * file-groups rewrite). An unconditional DELETE is rejected —
  * truncation should be spelled as itself (`TRUNCATE TABLE t`,
  * one O(metadata) retire-all commit), not reached by a dropped
  * WHERE clause.
  */
case class StoreDeleteCommand(path: String,
    cond: Option[SqlExpr]) extends StoreDmlCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    val pred = cond.getOrElse(sys.error(
      s"DELETE FROM store table at $path requires a WHERE clause " +
        "— unconditional truncation must be spelled as itself: " +
        "TRUNCATE TABLE t (one O(metadata) retire-all commit, " +
        "no per-group rewrite)"))
    Seq(Row(VersionedStore.deleteWhere(spark, path,
      StoreSqlShims.column(pred.e))))
  }
}

/** `UPDATE <store table> SET c = e, … [WHERE <pred>]` → one
  * [[VersionedStore.updateWhere]] (copy-on-write, one commit, SETs
  * and predicate all evaluated against the pre-update row).
  */
case class StoreUpdateCommand(path: String,
    sets: Seq[(String, SqlExpr)],
    cond: Option[SqlExpr]) extends StoreDmlCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    val pred = cond.map(h => StoreSqlShims.column(h.e))
      .getOrElse(org.apache.spark.sql.functions.lit(true))
    Seq(Row(VersionedStore.updateWhere(spark, path, pred,
      sets.map { case (c, h) => c -> StoreSqlShims.column(h.e) })))
  }
}

/** `MERGE INTO <store table> USING <source> ON <equi keys>` in the
  * two canonical forms the store's keyed primitives express exactly:
  *
  *  - `WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *`
  *    → one [[VersionedStore.merge]] (atomic keyed upsert: matched
  *    keys replaced, new keys appended, one commit);
  *  - `WHEN MATCHED THEN DELETE` (alone) →
  *    one [[VersionedStore.deleteKeys]].
  *
  * Source columns bind BY NAME to the target schema (the SQL `*`
  * vocabulary) and cast to the target types. Conditional or
  * per-column action forms are rejected loudly with the supported
  * shapes named — never approximated.
  */
case class StoreMergeCommand(path: String, source: LogicalPlan,
    keyCols: Seq[String], upsert: Boolean) extends StoreDmlCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    val src = StoreSqlShims.ofRows(spark, source)
    if (!upsert) {
      val missing = keyCols.filterNot(src.columns.contains)
      require(missing.isEmpty,
        s"MERGE INTO store table at $path: source lacks key " +
          s"column(s) ${missing.mkString(", ")}")
      return Seq(Row(VersionedStore.deleteKeys(spark, path,
        src.select(keyCols.map(col): _*), keyCols)))
    }
    val tgt = VersionedStore.read(spark, path).schema
    val missing = tgt.fieldNames.filterNot(src.columns.contains)
    require(missing.isEmpty,
      s"MERGE INTO store table at $path: INSERT * binds source " +
        s"columns by name, and the source lacks " +
        s"${missing.mkString(", ")}")
    // a source column the target does not carry would be SILENTLY
    // dropped by the projection below — data loss the writer never
    // asked for; reject it (evolve the table first)
    val extra = src.columns.filterNot(tgt.fieldNames.contains)
    require(extra.isEmpty,
      s"MERGE INTO store table at $path: source carries column(s) " +
        s"${extra.mkString(", ")} the table does not — evolve the " +
        "table first (append with evolve=true), never silently drop")
    val aligned = StoreDml.ansiAlign(src, tgt, path, "MERGE INTO")
    Seq(Row(VersionedStore.merge(spark, path, aligned, keyCols)))
  }
}

/** One WHEN-clause of a general SQL MERGE, carried from the parser
  * with its expressions already rebased onto the run-time binding
  * namespace ([[StoreTimeTravelRule]] rewrites target-qualified
  * attributes to plain names and source-qualified ones to
  * `_src_<name>` for matched actions / plain names for insert
  * actions). `star` marks `UPDATE SET *` / `INSERT *`.
  */
final case class StoreMergeActionSpec(kind: String,
  cond: Option[SqlExpr], sets: Seq[(String, SqlExpr)], star: Boolean)

/** The general `MERGE INTO <store table>` — conditional and
  * per-column WHEN clauses → one [[VersionedStore.mergeInto]] call
  * = ONE atomic commit (first-match-wins across clauses, the SQL
  * MERGE contract). The canonical `UPDATE SET * / INSERT *` and
  * bare-DELETE forms keep their dedicated fast paths
  * ([[StoreMergeCommand]]).
  */
case class StoreMergeIntoCommand(path: String, source: LogicalPlan,
    keyCols: Seq[String], matched: Seq[StoreMergeActionSpec],
    notMatched: Seq[StoreMergeActionSpec]) extends StoreDmlCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    import VersionedStore.{MergeDelete, MergeInsert, MergeUpdate}
    val src = StoreSqlShims.ofRows(spark, source)
    def c(h: Option[SqlExpr]) = h.map(x => StoreSqlShims.column(x.e))
    def sets(a: StoreMergeActionSpec) =
      a.sets.map { case (k, h) => k -> StoreSqlShims.column(h.e) }
    val m = matched.map {
      case a if a.kind == "update" =>
        MergeUpdate(c(a.cond), if (a.star) Nil else sets(a))
      case a => MergeDelete(c(a.cond))
    }
    val nm = notMatched.map(a =>
      MergeInsert(c(a.cond), if (a.star) Nil else sets(a)))
    Seq(Row(VersionedStore.mergeInto(spark, path, src, keyCols,
      m, nm)))
  }
}

package graft.plans

import graft.operators.VersionedStore
import org.apache.spark.sql.catalyst.{FunctionIdentifier,
  TableIdentifier}
import org.apache.spark.sql.catalyst.expressions.{Attribute,
  AttributeReference, Expression}
import org.apache.spark.sql.catalyst.parser.ParserInterface
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.types.{LongType, StructType}
import org.apache.spark.sql.{Row, SparkSession}

/** SQL maintenance verbs over registered store tables — the
  * statements a warehouse operator types, routed to the existing
  * lifecycle APIs (each is the API call's exact semantics, one
  * commit where the API commits once):
  *
  * {{{
  * OPTIMIZE t                           -- compact (declared clustering)
  * OPTIMIZE t ZORDER BY (c1, c2)        -- z-order clustered compaction
  * VACUUM t                             -- policy/default retention
  * VACUUM t RETAIN 48 HOURS             -- age horizon
  * RESTORE t TO VERSION AS OF 3         -- one restore commit
  * TRUNCATE TABLE t                     -- one retire-all commit
  * SHOW CREATE TABLE t                  -- reproducible DDL
  * DESCRIBE DETAIL t                    -- store_describe's summary
  * DESCRIBE HISTORY t                   -- store_history's commit log
  * }}}
  *
  * Parsed by [[GraftSqlParser]], a delegating parser
  * (`injectParser`): the three verb shapes are matched against the
  * registry-resolved table name; EVERYTHING else — including these
  * verbs over names that are not registered store tables — falls
  * through verbatim to Spark's own parser, so no existing SQL
  * changes meaning. Malformed store-verb statements fail loudly
  * with the supported grammar named, never a silent fall-through to
  * a confusing catalog error.
  */
object StoreMaintenanceSql {

  /** `OPTIMIZE <name> [ZORDER BY (c1, …)]` — recognized only AFTER
    * the name resolves through the store registry.
    */
  private val OptimizeRe =
    """(?is)\s*OPTIMIZE\s+([\w.]+)\s*(?:ZORDER\s+BY\s*\(\s*([\w\s,]+?)\s*\))?\s*;?\s*""".r
  private val VacuumRe =
    """(?is)\s*VACUUM\s+([\w.]+)\s*(?:RETAIN\s+(\d+)\s+HOURS)?\s*;?\s*""".r
  private val RestoreRe =
    """(?is)\s*RESTORE\s+([\w.]+)\s+TO\s+VERSION\s+AS\s+OF\s+(\d+)\s*;?\s*""".r
  private val TruncateRe =
    """(?is)\s*TRUNCATE\s+TABLE\s+([\w.]+)\s*;?\s*""".r
  private val ShowCreateRe =
    """(?is)\s*SHOW\s+CREATE\s+TABLE\s+([\w.]+)\s*;?\s*""".r
  private val DescDetailRe =
    """(?is)\s*DESC(?:RIBE)?\s+DETAIL\s+([\w.]+)\s*;?\s*""".r
  private val DescHistoryRe =
    """(?is)\s*DESC(?:RIBE)?\s+HISTORY\s+([\w.]+)\s*;?\s*""".r

  /** A store verb with a registered name but a malformed tail —
    * falling through would surface as Spark's own "unknown syntax"
    * error with no hint at the supported grammar; reject loudly
    * here instead.
    */
  private val VerbHeadRe =
    """(?is)\s*(OPTIMIZE|VACUUM|RESTORE)\s+([\w.]+)\b.*""".r

  /** Registry name or catalog table (`lake[.ns].t` of a configured
    * [[graft.sources.GraftStoreCatalog]]) → store path; None falls
    * through to the delegate parser.
    */
  private def storePath(name: String): Option[String] =
    graft.sources.GraftStoreCatalog.storePath(name.split('.').toSeq,
      SparkSession.active)

  /** The store-verb plan for `sqlText`, if it is one over a
    * registered or catalog name; None falls through to the
    * delegate parser.
    */
  def parse(sqlText: String): Option[LogicalPlan] = sqlText match {
    case OptimizeRe(name, zcols) =>
      storePath(name).map { p =>
        val cols = Option(zcols).toSeq.flatMap(
          _.split(',').map(_.trim).filter(_.nonEmpty))
        StoreOptimizeCommand(p, cols)
      }
    case VacuumRe(name, hours) =>
      storePath(name).map(p =>
        StoreVacuumCommand(p, Option(hours).map(_.toLong)))
    case RestoreRe(name, v) =>
      storePath(name).map(p =>
        StoreRestoreCommand(p, v.toLong))
    // TRUNCATE is a real Spark statement over non-store names
    // (falls through); over a store/catalog name it is the store's
    // one retire-all commit. A PARTITION-spec TRUNCATE does not
    // match and falls through to Spark's own v2 refusal.
    case TruncateRe(name) =>
      storePath(name).map(p => StoreTruncateCommand(p))
    // observability sugar over the existing TVF surfaces — the verbs
    // a warehouse user actually types. Over non-store names all
    // three fall through verbatim (SHOW CREATE TABLE / DESCRIBE are
    // real Spark statements elsewhere).
    case ShowCreateRe(name) =>
      storePath(name).map(p => StoreShowCreateCommand(name, p))
    case DescDetailRe(name) =>
      storePath(name).map(p => VersionedStore
        .describe(SparkSession.active, p).queryExecution.analyzed)
    case DescHistoryRe(name) =>
      storePath(name).map(p => VersionedStore
        .history(SparkSession.active, p).queryExecution.analyzed)
    case VerbHeadRe(verb, name)
        if storePath(name).isDefined =>
      sys.error(
        s"${verb.toUpperCase} over store table `$name`: malformed " +
          "statement — supported forms: OPTIMIZE t [ZORDER BY " +
          "(c1, …)]; VACUUM t [RETAIN n HOURS]; RESTORE t TO " +
          "VERSION AS OF n")
    case _ => None
  }
}

/** `OPTIMIZE t [ZORDER BY (…)]` → one [[VersionedStore.compact]]
  * commit: ZORDER BY = z-order clustered compaction over the named
  * columns (8 range-disjoint groups, the q357 shape); plain
  * OPTIMIZE follows the table's DECLARED clustering (the
  * `PARTITIONED BY` property — range for one column, z-order for
  * several) and only a table with neither folds to one group.
  * Returns the compaction's committed version.
  */
case class StoreOptimizeCommand(path: String,
    zorderBy: Seq[String]) extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("version", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val cluster =
      if (zorderBy.nonEmpty) zorderBy
      else VersionedStore.clusterByOf(spark, path)
    val v =
      if (cluster.isEmpty) VersionedStore.compact(spark, path)
      else VersionedStore.compact(spark, path, clusterBy = cluster,
        numGroups = 8, zorder = zorderBy.nonEmpty || cluster.size > 1)
    Seq(Row(v))
  }
}

/** `SHOW CREATE TABLE t` over a store/catalog table — the
  * reproducible DDL: declared schema, provider, the clustered
  * layout as its PARTITIONED BY origin, and the persisted
  * TBLPROPERTIES. One row, Spark's own `createtab_stmt` shape.
  */
case class StoreShowCreateCommand(name: String,
    path: String) extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("createtab_stmt",
      org.apache.spark.sql.types.StringType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val schema = VersionedStore.tableSchema(spark, path)
      .getOrElse(org.apache.spark.sql.types.StructType(Nil))
    val cols = schema.fields.map(f =>
      s"  `${f.name}` ${f.dataType.sql}" +
        (if (f.nullable) "" else " NOT NULL")).mkString(",\n")
    val cluster = VersionedStore.clusterByOf(spark, path)
    val props = VersionedStore.propertiesOf(spark, path) -
      VersionedStore.ClusterByProp
    val sb = new StringBuilder
    sb ++= s"CREATE TABLE $name (\n$cols)\nUSING graft-store"
    if (cluster.nonEmpty)
      sb ++= cluster.mkString("\nPARTITIONED BY (", ", ", ")")
    if (props.nonEmpty)
      sb ++= props.toSeq.sorted
        .map { case (k, v) => s"  '$k' = '$v'" }
        .mkString("\nTBLPROPERTIES (\n", ",\n", ")")
    Seq(Row(sb.result()))
  }
}

/** `TRUNCATE TABLE t` → ONE [[VersionedStore.truncate]] retire-all
  * commit: schema, properties, and lineage stay; time travel below
  * the commit serves the old content until vacuum.
  */
case class StoreTruncateCommand(path: String)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("version", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] =
    Seq(Row(VersionedStore.truncate(spark, path)))
}

/** `VACUUM t [RETAIN n HOURS]` → [[VersionedStore.vacuumOlderThan]]
  * at the age horizon (or [[VersionedStore.vacuumByPolicy]] under
  * the table's retention property when no RETAIN is given; a table
  * with no policy vacuums nothing — never a silent
  * everything-but-latest reclaim). Returns the reclaimed group
  * count.
  */
case class StoreVacuumCommand(path: String,
    retainHours: Option[Long]) extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("reclaimed_groups", LongType,
      nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val reclaimed = retainHours match {
      case Some(h) => VersionedStore.vacuumOlderThan(spark, path,
        System.currentTimeMillis() - h * 3600000L)
      case None => VersionedStore.vacuumByPolicy(spark, path,
        System.currentTimeMillis())
    }
    Seq(Row(reclaimed.length.toLong))
  }
}

/** `RESTORE t TO VERSION AS OF n` → one [[VersionedStore.restore]]
  * commit (the rollback-as-new-commit contract: history is never
  * rewritten). Returns the restore's committed version.
  */
case class StoreRestoreCommand(path: String,
    toVersion: Long) extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("version", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] =
    Seq(Row(VersionedStore.restore(spark, path, toVersion)))
}

/** Delegating session parser: store maintenance verbs over
  * REGISTERED names parse to their commands; every other statement
  * — and the entire non-plan parser surface — delegates verbatim.
  */
class GraftSqlParser(delegate: ParserInterface)
    extends ParserInterface {
  override def parsePlan(sqlText: String): LogicalPlan =
    StoreMaintenanceSql.parse(sqlText)
      .getOrElse(delegate.parsePlan(sqlText))
  override def parseExpression(sqlText: String): Expression =
    delegate.parseExpression(sqlText)
  override def parseTableIdentifier(
      sqlText: String): TableIdentifier =
    delegate.parseTableIdentifier(sqlText)
  override def parseFunctionIdentifier(
      sqlText: String): FunctionIdentifier =
    delegate.parseFunctionIdentifier(sqlText)
  override def parseMultipartIdentifier(
      sqlText: String): Seq[String] =
    delegate.parseMultipartIdentifier(sqlText)
  override def parseQuery(sqlText: String): LogicalPlan =
    delegate.parseQuery(sqlText)
  override def parseRoutineParam(sqlText: String): StructType =
    delegate.parseRoutineParam(sqlText)
  override def parseTableSchema(sqlText: String): StructType =
    delegate.parseTableSchema(sqlText)
  override def parseDataType(sqlText: String)
      : org.apache.spark.sql.types.DataType =
    delegate.parseDataType(sqlText)
}

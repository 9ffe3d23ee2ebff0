package graft.plans

import graft.operators.VersionedStore
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression,
  ExpressionInfo}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Table-valued functions over [[VersionedStore]] tables — the SQL
  * observability surface (the public lakehouse designs expose the
  * same shapes: `table_changes`, DESCRIBE HISTORY/DETAIL):
  *
  * {{{
  * SELECT * FROM store_history('doc_store')
  * SELECT * FROM store_describe('doc_store')
  * SELECT * FROM store_changes('doc_store', 2, 5)
  * SELECT * FROM store_changes_keyed('doc_store', 2, 5, 'id')
  * }}}
  *
  * `store_changes_keyed` is the update-image flavor: rows whose key
  * appears on both sides of the window pair into
  * `update_preimage`/`update_postimage` (the public CDF vocabulary)
  * instead of an unrelated delete+insert.
  *
  * The argument names a `registerTable` registration, or is a raw
  * store path (registrations win). All three are driver-side log
  * reads (`store_changes` additionally scans only the CHANGED
  * file-groups when executed); the TVF builder runs at analysis
  * time and costs one cached log read. Arguments must be literals —
  * a TVF's relation must be resolvable before execution, exactly
  * like a table name.
  */
object StoreTvfs {

  private def lit(e: Expression, fn: String, what: String): Any = {
    require(e.foldable,
      s"$fn: the $what argument must be a literal")
    e.eval()
  }

  private def strLit(e: Expression, fn: String,
      what: String): String = lit(e, fn, what) match {
    case s: org.apache.spark.unsafe.types.UTF8String => s.toString
    case s: String => s
    case other => sys.error(
      s"$fn: the $what argument must be a string literal, got $other")
  }

  private def longLit(e: Expression, fn: String,
      what: String): Long = lit(e, fn, what) match {
    case l: java.lang.Long => l
    case i: java.lang.Integer => i.toLong
    case other => sys.error(
      s"$fn: the $what argument must be an integer literal, " +
        s"got $other")
  }

  private def pathFor(nameOrPath: String): String =
    graft.sources.GraftStoreCatalog.storePath(nameOrPath.split('.').toSeq,
      org.apache.spark.sql.SparkSession.active).getOrElse(nameOrPath)

  val historyDescriptor: (FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => LogicalPlan) = (
    FunctionIdentifier("store_history"),
    new ExpressionInfo(VersionedStore.getClass.getName,
      "store_history"),
    (exprs: Seq[Expression]) => {
      require(exprs.length == 1,
        s"store_history expects 1 argument (table name or path), " +
          s"got ${exprs.length}")
      val spark = SparkSession.active
      VersionedStore.history(spark,
        pathFor(strLit(exprs(0), "store_history", "table")))
        .queryExecution.analyzed
    })

  val describeDescriptor: (FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => LogicalPlan) = (
    FunctionIdentifier("store_describe"),
    new ExpressionInfo(VersionedStore.getClass.getName,
      "store_describe"),
    (exprs: Seq[Expression]) => {
      require(exprs.length == 1,
        s"store_describe expects 1 argument (table name or path), " +
          s"got ${exprs.length}")
      val spark = SparkSession.active
      VersionedStore.describe(spark,
        pathFor(strLit(exprs(0), "store_describe", "table")))
        .queryExecution.analyzed
    })

  val changesDescriptor: (FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => LogicalPlan) = (
    FunctionIdentifier("store_changes"),
    new ExpressionInfo(VersionedStore.getClass.getName,
      "store_changes"),
    (exprs: Seq[Expression]) => {
      require(exprs.length == 3,
        s"store_changes expects (table, fromVersion, toVersion), " +
          s"got ${exprs.length} argument(s)")
      val spark = SparkSession.active
      VersionedStore.changes(spark,
        pathFor(strLit(exprs(0), "store_changes", "table")),
        longLit(exprs(1), "store_changes", "fromVersion"),
        longLit(exprs(2), "store_changes", "toVersion"))
        .queryExecution.analyzed
    })

  val changesKeyedDescriptor: (FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => LogicalPlan) = (
    FunctionIdentifier("store_changes_keyed"),
    new ExpressionInfo(VersionedStore.getClass.getName,
      "store_changes_keyed"),
    (exprs: Seq[Expression]) => {
      require(exprs.length == 4,
        s"store_changes_keyed expects (table, fromVersion, " +
          s"toVersion, 'k1[,k2…]'), got ${exprs.length} argument(s)")
      val spark = SparkSession.active
      val keys = strLit(exprs(3), "store_changes_keyed", "key list")
        .split(",").map(_.trim).filter(_.nonEmpty).toSeq
      require(keys.nonEmpty,
        "store_changes_keyed: the key list must name at least one " +
          "column")
      VersionedStore.changesKeyed(spark,
        pathFor(strLit(exprs(0), "store_changes_keyed", "table")),
        longLit(exprs(1), "store_changes_keyed", "fromVersion"),
        longLit(exprs(2), "store_changes_keyed", "toVersion"), keys)
        .queryExecution.analyzed
    })

  val all = Seq(historyDescriptor, describeDescriptor,
    changesDescriptor, changesKeyedDescriptor)
}

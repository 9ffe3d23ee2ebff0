package graft.sources

import graft.operators.VersionedStore
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession, SQLContext}
import org.apache.spark.sql.connector.catalog.{Identifier,
  SupportsNamespaces, SupportsRead, SupportsWrite, Table,
  TableCapability, TableCatalog, TableChange}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder, V1Scan}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo,
  SupportsTruncate, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.sources.{BaseRelation,
  InsertableRelation, TableScan}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** [[VersionedStore]]s as REAL catalog tables — a Data Source V2
  * [[TableCatalog]] whose warehouse is one directory tree of stores:
  *
  * {{{
  * spark.sql.catalog.lake      = graft.sources.GraftStoreCatalog
  * spark.sql.catalog.lake.root = /warehouse
  *
  * CREATE TABLE lake.docs (id BIGINT, body STRING) USING `graft-store`
  * SHOW TABLES IN lake
  * INSERT INTO lake.docs SELECT ...        -- full write discipline
  * SELECT * FROM lake.docs VERSION AS OF 3 -- native v2 time travel
  * df.writeTo("lake.docs").append()
  * DROP TABLE lake.docs                    -- refuses if cloned-from
  * }}}
  *
  * A table named `lake.ns.t` IS the store at `<root>/ns/t` — the
  * identifier maps to the path, the store's commit log is the
  * single source of truth (no secondary metastore to drift), and a
  * directory with a `log/` subdir is a table, so `SHOW TABLES`
  * equals reality even after out-of-band store creation. This
  * mirrors the reference's convention of deriving lake paths from
  * entity names (reference: utils/get_src_tgt_folders.py) — made a
  * first-class catalog instead of string-gluing paths.
  *
  * WRITES keep the store's whole write discipline (schema gate,
  * ANSI assignment via Spark's own v2 output resolution,
  * constraints, zone/bloom propagation, OCC): the write builder is
  * a [[V1Write]], so every v2 write path — `INSERT INTO`,
  * `INSERT OVERWRITE` (truncate), `df.writeTo(...).append()`,
  * CTAS — lands as ONE `VersionedStore.append`/`overwrite` commit
  * on the driver, never a per-task file dump that would bypass the
  * commit log.
  *
  * READS resolve through [[graft.plans.GraftCatalogRule]] when the
  * session runs GraftExtensions: the v2 relation swaps to the
  * store's native parquet plan (column pruning, zone-map and bloom
  * pruning, DV anti-joins — identical to registry reads). Without
  * extensions, the [[V1Scan]] fallback in [[GraftStoreTable]] still
  * serves correct rows.
  *
  * `CREATE TABLE` anchors the DECLARED schema as the empty store's
  * first commit ([[VersionedStore.declareSchema]]) — the first
  * insert must match it, instead of defining the table by accident.
  * `DROP TABLE` refuses while any sibling table's LIVE groups
  * borrow the dropped store's data (a zero-copy clone) — dropping
  * the source would dangle the clone's reads.
  */
class GraftStoreCatalog extends TableCatalog with SupportsNamespaces {

  private var catalogName: String = _
  private var root: String = _

  override def initialize(name: String,
      options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    root = Option(options.get("root")).getOrElse(sys.error(
      s"GraftStoreCatalog `$name`: set spark.sql.catalog.$name" +
        ".root to the warehouse directory"))
  }

  override def name(): String = catalogName

  private def spark = SparkSession.active
  private def fs(p: Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def dirOf(ns: Seq[String]): Path =
    ns.foldLeft(new Path(root))((p, n) => new Path(p, n))

  /** `lake.a.b.t` ↔ `<root>/a/b/t` — namespaces nest arbitrarily
    * deep as plain directories; a table is any directory with a
    * `log/` subdir.
    */
  private def pathOf(ident: Identifier): String =
    new Path(dirOf(ident.namespace().toSeq),
      ident.name()).toString

  private def isStore(p: Path): Boolean =
    fs(p).exists(new Path(p, "log"))

  override def listTables(
      namespace: Array[String]): Array[Identifier] = {
    val d = dirOf(namespace.toSeq)
    val f = fs(d)
    if (!f.exists(d)) throw new org.apache.spark.sql.catalyst
      .analysis.NoSuchNamespaceException(
        catalogName +: namespace.toSeq)
    f.listStatus(d).filter(st => st.isDirectory &&
        isStore(st.getPath))
      .map(st => Identifier.of(namespace, st.getPath.getName))
      .sortBy(_.name())
  }

  override def tableExists(ident: Identifier): Boolean =
    isStore(new Path(pathOf(ident)))

  override def loadTable(ident: Identifier): Table = {
    val p = pathOf(ident)
    if (!isStore(new Path(p)))
      throw new org.apache.spark.sql.catalyst.analysis
        .NoSuchTableException(
          (catalogName +: ident.namespace().toSeq) :+ ident.name())
    GraftStoreTable(p, None)
  }

  /** `VERSION AS OF n` over a catalog table — Spark's native v2
    * time-travel resolution calls this overload; the pinned table's
    * scan serves [[VersionedStore.readAt]].
    */
  override def loadTable(ident: Identifier, version: String): Table = {
    val p = pathOf(ident)
    val v =
      try version.toLong
      catch {
        case _: NumberFormatException => sys.error(
          s"GraftStoreCatalog: VERSION AS OF over `$ident` expects " +
            s"a numeric commit version, got '$version'")
      }
    GraftStoreTable(p, Some(v))
  }

  /** `TIMESTAMP AS OF ts` — micros since epoch from the analyzer,
    * resolved to the newest version committed at or before it.
    */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    val p = pathOf(ident)
    GraftStoreTable(p, Some(VersionedStore.versionAtTimestamp(
      spark, p, timestamp / 1000L)))
  }

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: java.util.Map[String, String]): Table = {
    // PARTITIONED BY (c1, c2) maps onto the store's CLUSTERED
    // layout: the identity transforms persist as the cluster-by
    // property, every insert lands range-clustered on them with
    // per-group zone hulls, and predicates on them prune whole
    // groups — partition pruning without one directory per value
    // (the reference's date-partitioned year/month/day tree,
    // partitioner.py:7-25, served by zones instead of paths).
    // Bucket/days/truncate transforms are refused, not approximated.
    val clusterCols = partitions.toSeq.map {
      case t if t.name() == "identity" &&
          t.references().length == 1 =>
        val fn = t.references()(0).fieldNames()
        require(fn.length == 1,
          "GraftStoreCatalog: PARTITIONED BY supports top-level " +
            s"columns only, got ${fn.mkString(".")}")
        fn(0)
      case other => sys.error(
        s"GraftStoreCatalog: PARTITIONED BY transform $other is " +
          "not supported — name plain columns (identity); they " +
          "become the store's clustered layout")
    }
    clusterCols.foreach(c => require(
      schema.fieldNames.exists(_.equalsIgnoreCase(c)),
      s"GraftStoreCatalog: PARTITIONED BY column `$c` is not in " +
        "the table schema"))
    val provider = Option(properties.get(TableCatalog.PROP_PROVIDER))
    require(provider.forall(pv => pv.equalsIgnoreCase("graft-store") ||
      pv.equalsIgnoreCase("graft_store")),
      s"GraftStoreCatalog: unsupported provider ${provider.get} — " +
        "tables in this catalog are USING graft-store")
    val p = pathOf(ident)
    if (isStore(new Path(p)))
      throw new org.apache.spark.sql.catalyst.analysis
        .TableAlreadyExistsException(
          (catalogName +: ident.namespace().toSeq) :+ ident.name())
    VersionedStore.create(spark, p)
    if (schema.nonEmpty) VersionedStore.declareSchema(spark, p, schema)
    // user TBLPROPERTIES persist WITH the table (retention.ms
    // drives policy vacuum, owners/hints travel on clone) — the
    // engine-reserved keys the analyzer injects are not user state
    val reserved = Set(TableCatalog.PROP_PROVIDER,
      TableCatalog.PROP_LOCATION, TableCatalog.PROP_COMMENT,
      TableCatalog.PROP_OWNER, TableCatalog.PROP_EXTERNAL)
    val userProps = {
      val it = properties.entrySet().iterator()
      val b = Map.newBuilder[String, String]
      while (it.hasNext) {
        val e = it.next()
        if (!reserved.contains(e.getKey) &&
          !e.getKey.startsWith("option.")) b += e.getKey -> e.getValue
      }
      b.result()
    }
    val withCluster =
      if (clusterCols.isEmpty) userProps
      else userProps + (VersionedStore.ClusterByProp ->
        clusterCols.mkString(","))
    if (withCluster.nonEmpty)
      VersionedStore.setProperties(spark, p, withCluster)
    GraftStoreTable(p, None)
  }

  /** `ALTER TABLE` routed to the store's own evolution commits —
    * each change is ONE metadata commit, nothing rewrites:
    * `ADD COLUMNS` → [[VersionedStore.addColumns]] (schema-anchor
    * widening; old groups serve NULL) or, for a dotted name like
    * `pay.c`, [[VersionedStore.addNestedField]] (widen a struct in
    * place, same NULL contract), `RENAME COLUMN` →
    * [[VersionedStore.renameColumn]] (log-carried column mapping),
    * `DROP COLUMN` → [[VersionedStore.dropColumn]],
    * `ALTER COLUMN … TYPE` → [[VersionedStore.retypeColumn]]
    * (widening family only), `ALTER COLUMN … FIRST/AFTER` →
    * [[VersionedStore.moveColumn]], SET/UNSET TBLPROPERTIES →
    * [[VersionedStore.setProperties]]. Nested renames / drops /
    * retypes are rejected loudly — never approximated.
    */
  override def alterTable(ident: Identifier,
      changes: TableChange*): Table = {
    val p = pathOf(ident)
    if (!isStore(new Path(p)))
      throw new org.apache.spark.sql.catalyst.analysis
        .NoSuchTableException(
          (catalogName +: ident.namespace().toSeq) :+ ident.name())
    changes.foreach {
      case add: TableChange.AddColumn if
          add.fieldNames().length > 1 =>
        // nested add — widen a struct column in place (one anchor
        // commit; old groups serve the new field as NULL). Position
        // inside the struct is refused: nested fields append at the
        // struct's end (no nested moveColumn lineage to keep).
        require(add.position() == null,
          "GraftStoreCatalog: ADD COLUMNS FIRST/AFTER is not " +
            "supported inside structs — nested fields append at " +
            s"the struct's end (${add.fieldNames().mkString(".")})")
        VersionedStore.addNestedField(spark, p,
          add.fieldNames().init.toSeq,
          org.apache.spark.sql.types.StructField(
            add.fieldNames().last, add.dataType(),
            nullable = add.isNullable))
      case add: TableChange.AddColumn =>
        val name = add.fieldNames()(0)
        VersionedStore.addColumns(spark, p, Seq(
          org.apache.spark.sql.types.StructField(
            name, add.dataType(), nullable = add.isNullable)))
        // an explicit position is a second metadata commit on top
        // of the widening anchor (both KB-scale; nothing rewrites)
        add.position() match {
          case null => ()
          case _: TableChange.First =>
            VersionedStore.moveColumn(spark, p, name, None)
          case a: TableChange.After =>
            VersionedStore.moveColumn(spark, p, name,
              Some(a.column()))
          case other => sys.error(
            s"GraftStoreCatalog: unsupported column position $other")
        }
      case rn: TableChange.RenameColumn =>
        require(rn.fieldNames().length == 1,
          "GraftStoreCatalog: RENAME COLUMN renames top-level " +
            s"columns only, got ${rn.fieldNames().mkString(".")}")
        VersionedStore.renameColumn(spark, p,
          rn.fieldNames()(0), rn.newName())
      case del: TableChange.DeleteColumn =>
        require(del.fieldNames().length == 1,
          "GraftStoreCatalog: DROP COLUMN drops top-level columns " +
            s"only, got ${del.fieldNames().mkString(".")}")
        VersionedStore.dropColumn(spark, p, del.fieldNames()(0))
      case setp: TableChange.SetProperty =>
        VersionedStore.setProperties(spark, p,
          VersionedStore.propertiesOf(spark, p) +
            (setp.property() -> setp.value()))
      case rmp: TableChange.RemoveProperty =>
        VersionedStore.setProperties(spark, p,
          VersionedStore.propertiesOf(spark, p) - rmp.property())
      case ut: TableChange.UpdateColumnType =>
        require(ut.fieldNames().length == 1,
          "GraftStoreCatalog: ALTER COLUMN TYPE retypes top-level " +
            s"columns only, got ${ut.fieldNames().mkString(".")}")
        VersionedStore.retypeColumn(spark, p, ut.fieldNames()(0),
          ut.newDataType())
      case up: TableChange.UpdateColumnPosition =>
        require(up.fieldNames().length == 1,
          "GraftStoreCatalog: ALTER COLUMN FIRST/AFTER moves " +
            s"top-level columns only, got ${up.fieldNames()
              .mkString(".")}")
        val after = up.position() match {
          case _: TableChange.First => None
          case a: TableChange.After => Some(a.column())
          case other => sys.error(
            s"GraftStoreCatalog: unsupported column position $other")
        }
        VersionedStore.moveColumn(spark, p, up.fieldNames()(0),
          after)
      case other => sys.error(
        s"GraftStoreCatalog: unsupported ALTER TABLE change $other " +
          "— supported: ADD COLUMNS (nullable; top-level or nested " +
          "struct field), RENAME COLUMN, DROP COLUMN, ALTER COLUMN " +
          "TYPE (widening)")
    }
    loadTable(ident)
  }

  /** `ref` points into the tree rooted at `target` — compared by
    * PATH COMPONENTS, so a sibling table whose name merely extends
    * `target`'s (`/wh/ns/t` vs `/wh/ns/t2`) never false-positives.
    */
  private def refUnder(ref: String, target: String): Boolean =
    ref == target || ref.startsWith(target + "/")

  /** Tables whose LIVE groups borrow data from under `target`
    * (zero-copy clones) — every table in the warehouse is scanned
    * except those under `exclude` (a doomed namespace's own members
    * may freely borrow from each other). Shared by [[dropTable]] and
    * the cascade path of [[dropNamespace]].
    */
  private def cloneDependents(target: String,
      exclude: Option[String]): Seq[Identifier] =
    (Array.empty[String] +: allNamespaces()).flatMap { ns =>
      listTables(ns.toArray).filter { other =>
        val op = pathOf(other)
        !refUnder(op, target) &&
          exclude.forall(e => !refUnder(op, e)) &&
          VersionedStore.foreignRefs(spark, op)
            .exists(refUnder(_, target))
      }
    }.toSeq

  override def dropTable(ident: Identifier): Boolean = {
    val p = new Path(pathOf(ident))
    if (!isStore(p)) return false
    // refuse while any other table's LIVE groups borrow this store's
    // data (zero-copy clone): dropping the source dangles the clone
    cloneDependents(p.toString, None).headOption.foreach(other =>
      sys.error(
        s"GraftStoreCatalog: cannot drop `$ident` — table " +
          s"`$other` is cloned from it (live file-groups " +
          "reference its data). Drop or compact the clone first"))
    fs(p).delete(p, true)
  }

  /** `ALTER TABLE … RENAME TO …` — one directory move: the store's
    * log travels with its data, so the renamed table serves every
    * version immediately. Safe under exactly [[dropTable]]'s
    * contract: a table some OTHER table is cloned from cannot move
    * (the clone's log references these data paths absolutely);
    * a table that itself borrows from others CAN (its foreign `loc`
    * records are absolute paths elsewhere, untouched by the move).
    */
  override def renameTable(oldIdent: Identifier,
      newIdent: Identifier): Unit = {
    val src = new Path(pathOf(oldIdent))
    if (!isStore(src))
      throw new org.apache.spark.sql.catalyst.analysis
        .NoSuchTableException(
          (catalogName +: oldIdent.namespace().toSeq) :+
            oldIdent.name())
    val dst = new Path(pathOf(newIdent))
    if (isStore(dst))
      throw new org.apache.spark.sql.catalyst.analysis
        .TableAlreadyExistsException(
          (catalogName +: newIdent.namespace().toSeq) :+
            newIdent.name())
    require(namespaceExists(newIdent.namespace()),
      s"GraftStoreCatalog: target namespace " +
        s"${newIdent.namespace().mkString(".")} does not exist")
    cloneDependents(src.toString, None).headOption.foreach(other =>
      sys.error(
        s"GraftStoreCatalog: cannot rename `$oldIdent` — table " +
          s"`$other` is cloned from it (live file-groups reference " +
          "its data paths). Drop or compact the clone first"))
    if (!fs(src).rename(src, dst)) sys.error(
      s"GraftStoreCatalog: cannot move $src to $dst")
  }

  // ---- namespaces: the directory tree under the root, nested ----

  /** Every namespace in the warehouse, nested — each non-store
    * directory under the root is one (`<root>/a/b` ↔ `lake.a.b`);
    * store directories terminate the recursion (a table's internal
    * dirs are not namespaces).
    */
  private def allNamespaces(): Seq[Array[String]] = {
    val r = new Path(root)
    val f = fs(r)
    def walk(d: Path, prefix: Seq[String]): Seq[Array[String]] =
      f.listStatus(d).toSeq
        .filter(st => st.isDirectory && !isStore(st.getPath))
        .flatMap { st =>
          val ns = prefix :+ st.getPath.getName
          ns.toArray +: walk(st.getPath, ns)
        }
    if (!f.exists(r)) Seq.empty else walk(r, Seq.empty)
  }

  override def listNamespaces(): Array[Array[String]] =
    allNamespaces().filter(_.length == 1).toArray

  override def listNamespaces(
      namespace: Array[String]): Array[Array[String]] =
    if (namespace.isEmpty) listNamespaces()
    else if (namespaceExists(namespace)) {
      val d = dirOf(namespace.toSeq)
      fs(d).listStatus(d)
        .filter(st => st.isDirectory && !isStore(st.getPath))
        .map(st => namespace :+ st.getPath.getName)
    } else throw new org.apache.spark.sql.catalyst.analysis
      .NoSuchNamespaceException(catalogName +: namespace.toSeq)

  override def namespaceExists(namespace: Array[String]): Boolean =
    namespace.isEmpty || {
      val d = dirOf(namespace.toSeq)
      fs(d).exists(d) && !isStore(d)
    }

  override def loadNamespaceMetadata(namespace: Array[String])
      : java.util.Map[String, String] =
    if (namespaceExists(namespace))
      java.util.Collections.emptyMap()
    else throw new org.apache.spark.sql.catalyst.analysis
      .NoSuchNamespaceException(catalogName +: namespace.toSeq)

  override def createNamespace(namespace: Array[String],
      metadata: java.util.Map[String, String]): Unit = {
    require(namespace.nonEmpty,
      "GraftStoreCatalog: empty namespace")
    val d = dirOf(namespace.toSeq)
    if (!fs(d).mkdirs(d)) sys.error(
      s"GraftStoreCatalog: cannot create namespace dir $d")
  }

  override def alterNamespace(namespace: Array[String],
      changes: org.apache.spark.sql.connector.catalog
        .NamespaceChange*): Unit = sys.error(
    "GraftStoreCatalog: namespaces carry no mutable metadata")

  /** Tables under a namespace AND all its nested namespaces. */
  private def tablesUnder(
      namespace: Array[String]): Seq[Identifier] =
    listTables(namespace).toSeq ++
      allNamespaces().filter(ns =>
        ns.length > namespace.length &&
          ns.startsWith(namespace)).flatMap(ns =>
        listTables(ns.toArray))

  override def dropNamespace(namespace: Array[String],
      cascade: Boolean): Boolean = {
    val d = dirOf(namespace.toSeq)
    if (!namespaceExists(namespace) || namespace.isEmpty)
      return false
    val members = tablesUnder(namespace)
    if (!cascade && members.nonEmpty) sys.error(
      s"GraftStoreCatalog: namespace ${namespace.mkString(".")} " +
        "is not empty (use CASCADE)")
    // cascade gets the SAME clone-dependency discipline as dropTable:
    // a table OUTSIDE the doomed namespace whose live groups borrow
    // data from inside it would be left with dangling reads. Members
    // borrowing from each other die together — no check needed.
    members.foreach { t =>
      cloneDependents(pathOf(t), Some(d.toString)).headOption
        .foreach(other => sys.error(
          s"GraftStoreCatalog: cannot drop namespace " +
            s"${namespace.mkString(".")} — table `$other` outside " +
            s"it is cloned from `$t` (live file-groups reference " +
            "its data). Drop or compact the clone first"))
    }
    fs(d).delete(d, true)
  }
}

object GraftStoreCatalog {
  /** The store behind a SQL name: a name registered through
    * `VersionedStore.registerTable`, else a catalog table
    * ([[resolvePath]] in `session`, which is only evaluated for an
    * unregistered name and may fail: then None). None when it is
    * neither; each caller keeps its own fallback.
    */
  def storePath(parts: Seq[String],
      session: => SparkSession): Option[String] =
    VersionedStore.registeredPath(parts.mkString("."))
      .orElse(scala.util.Try(session).toOption
        .flatMap(resolvePath(_, parts)))

  /** Resolve `catalog[.ns].table` name parts to a store path when
    * the head names a session catalog CONFIGURED as a
    * [[GraftStoreCatalog]] (`spark.sql.catalog.<name>` +
    * `.root`) and the directory is a store — the bridge that lets
    * the registry-born SQL surfaces (DML commands, maintenance
    * verbs, TVF string args) accept catalog tables uniformly.
    * Pure conf + filesystem probe, never throws: an unknown name,
    * a non-graft catalog, or a missing table is None and the
    * caller falls through to its own path.
    */
  def resolvePath(session: SparkSession,
      parts: Seq[String]): Option[String] = {
    if (parts.length < 2) return None
    val cname = parts.head
    if (!session.conf.getOption(s"spark.sql.catalog.$cname")
        .contains(classOf[GraftStoreCatalog].getName)) return None
    session.conf.getOption(s"spark.sql.catalog.$cname.root")
      .flatMap { root =>
        val p = parts.tail.foldLeft(new Path(root))(new Path(_, _))
        val log = new Path(p, "log")
        val f = log.getFileSystem(
          session.sparkContext.hadoopConfiguration)
        if (f.exists(log)) Some(p.toString) else None
      }
  }
}

/** One catalog table = one [[VersionedStore]] (optionally pinned at
  * a version for time travel). Reads prefer the analyzer swap to
  * the store's native parquet plan ([[graft.plans
  * .GraftCatalogRule]]); the [[V1Scan]] here is the
  * correct-anywhere fallback. Writes are [[V1Write]]: one atomic
  * store commit with the full write discipline, for every v2 write
  * path (INSERT / INSERT OVERWRITE / writeTo.append / CTAS).
  */
object GraftStoreTable {
  /** v1 [[org.apache.spark.sql.sources.Filter]] → [[Column]] for the
    * conditional-overwrite region — exact translations only; an
    * untranslatable shape is refused loudly (an over-broad region
    * would silently delete rows, an under-broad one would duplicate).
    */
  private[sources] def filterToColumn(path: String,
      f: org.apache.spark.sql.sources.Filter)
      : org.apache.spark.sql.Column = {
    import org.apache.spark.sql.sources._
    import org.apache.spark.sql.functions.{col, lit, not}
    f match {
      case EqualTo(a, v) => col(a) === lit(v)
      case EqualNullSafe(a, v) => col(a) <=> lit(v)
      case GreaterThan(a, v) => col(a) > lit(v)
      case GreaterThanOrEqual(a, v) => col(a) >= lit(v)
      case LessThan(a, v) => col(a) < lit(v)
      case LessThanOrEqual(a, v) => col(a) <= lit(v)
      case In(a, vs) => col(a).isin(vs.toIndexedSeq: _*)
      case IsNull(a) => col(a).isNull
      case IsNotNull(a) => col(a).isNotNull
      case And(l, r) =>
        filterToColumn(path, l) && filterToColumn(path, r)
      case Or(l, r) =>
        filterToColumn(path, l) || filterToColumn(path, r)
      case Not(c) => not(filterToColumn(path, c))
      case AlwaysTrue => lit(true)
      case AlwaysFalse => lit(false)
      case other => sys.error(
        s"GraftStoreTable: overwrite condition $other over the " +
          s"store at $path cannot be translated exactly — use a " +
          "comparison/IN/AND/OR/NOT condition over table columns")
    }
  }
}

final case class GraftStoreTable(path: String,
    pinnedVersion: Option[Long]) extends Table
    with SupportsRead with SupportsWrite
    with org.apache.spark.sql.connector.catalog.TruncatableTable {

  /** `TRUNCATE TABLE lake.t` — one O(metadata) retire-all store
    * commit ([[VersionedStore.truncate]]); schema/properties/
    * lineage stay, time travel below the commit still serves the
    * old content until vacuum.
    */
  override def truncateTable(): Boolean = {
    require(pinnedVersion.isEmpty,
      "GraftStoreTable: cannot TRUNCATE a time-travel snapshot")
    VersionedStore.truncate(spark, path)
    true
  }

  private def spark = SparkSession.active

  private[graft] def readDf: DataFrame = pinnedVersion match {
    case Some(v) => VersionedStore.readAt(spark, path, v)
    case None => VersionedStore.read(spark, path)
  }

  override def name(): String =
    s"graft-store $path" +
      pinnedVersion.map(v => s" @v$v").getOrElse("")

  override def schema(): StructType = pinnedVersion match {
    case Some(_) => readDf.schema
    case None => VersionedStore.tableSchema(spark, path)
      .getOrElse(StructType(Nil))
  }

  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ,
      TableCapability.V1_BATCH_WRITE,
      TableCapability.STREAMING_WRITE, TableCapability.TRUNCATE,
      TableCapability.OVERWRITE_BY_FILTER)

  /** DESCRIBE EXTENDED / SHOW TBLPROPERTIES serve the store's own
    * persisted properties (retention policy, owner — the state that
    * travels with the table), plus the provider tag.
    */
  override def properties(): java.util.Map[String, String] = {
    val m = new java.util.HashMap[String, String]()
    m.put(org.apache.spark.sql.connector.catalog.TableCatalog
      .PROP_PROVIDER, "graft-store")
    VersionedStore.propertiesOf(spark, path).foreach {
      case (k, v) => m.put(k, v); ()
    }
    m
  }

  override def newScanBuilder(
      options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new V1Scan {
        override def readSchema(): StructType =
          GraftStoreTable.this.schema()
        override def toV1TableScan[T <: BaseRelation with TableScan](
            context: SQLContext): T =
          new BaseRelation with TableScan {
            override def sqlContext: SQLContext = context
            override def schema: StructType = readSchema()
            override def buildScan()
                : org.apache.spark.rdd.RDD[org.apache.spark.sql.Row] =
              readDf.rdd
          }.asInstanceOf[T]
        // `spark.readStream.table("lake.t")` — the append row feed
        // with offsets = store versions; rewrite commits fail
        // loudly unless skipChangeCommits=true (the CDC feed
        // remains format("graft-store-changes"))
        override def toMicroBatchStream(
            checkpointLocation: String): org.apache.spark.sql
            .connector.read.streaming.MicroBatchStream =
          new graft.streaming.StoreTableRowStream(path,
            GraftStoreTable.this.schema(),
            options.getBoolean("skipChangeCommits", false),
            Option(options.get("startingVersion")).map(_.toLong))
      }
    }

  override def newWriteBuilder(
      info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder with SupportsTruncate
        with org.apache.spark.sql.connector.write.SupportsOverwrite {
      require(pinnedVersion.isEmpty,
        "GraftStoreTable: cannot write to a time-travel snapshot")
      private var replace = false
      /** A conditional overwrite region (`writeTo(...).overwrite(c)`
        * / `INSERT OVERWRITE` with a static PARTITION spec routed by
        * Spark's v2 resolution) — one atomic
        * [[VersionedStore.replaceWhere]] commit.
        */
      private var replaceCond: Option[
        org.apache.spark.sql.Column] = None
      override def truncate(): WriteBuilder = { replace = true; this }
      override def overwrite(filters: Array[
          org.apache.spark.sql.sources.Filter]): WriteBuilder = {
        if (filters.isEmpty || filters.forall(
          _ == org.apache.spark.sql.sources.AlwaysTrue)) {
          replace = true
        } else replaceCond = Some(filters.map(
          GraftStoreTable.filterToColumn(path, _)).reduce(_ && _))
        this
      }
      override def build(): Write = new V1Write {
        override def toInsertableRelation: InsertableRelation =
          new InsertableRelation {
            override def insert(data: DataFrame,
                overwrite: Boolean): Unit = {
              // a PARTITIONED BY table lands every insert
              // range-clustered on its declared columns (per-group
              // zone hulls → partition-pruned reads)
              val cluster = VersionedStore.clusterByOf(spark, path)
              replaceCond match {
                case Some(c) =>
                  VersionedStore.replaceWhere(data, path, c,
                    clusterBy = cluster)
                case None =>
                  if (replace || overwrite)
                    VersionedStore.overwrite(data, path,
                      clusterBy = cluster)
                  else if (cluster.nonEmpty)
                    VersionedStore.appendClustered(data, path,
                      cluster)
                  else VersionedStore.append(data, path)
              }
              ()
            }
          }
        // `df.writeStream.toTable("lake.t")` — per-task staged
        // parquet, one txn-tagged store commit per epoch (replay =
        // no-op): the exactly-once sink behind the STANDARD API
        override def toStreaming: org.apache.spark.sql.connector
            .write.streaming.StreamingWrite = {
          require(!replace,
            "GraftStoreTable: streaming writes append only")
          new graft.streaming.StoreStreamingWrite(path,
            info.schema(), info.queryId())
        }
      }
    }
}

package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType}
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.graft.StoreSqlShims
import graft.plans.PruneBounds

/** Commit-log versioned parquet store — the minimal table format the
  * delta-maintenance family (q305 IVF add-batch, q310 winnow delta,
  * q321 dedup ledger) has been converging on, made explicit. The
  * reference pipeline rewrites its lake paths in place (copy into a
  * dated partition, `mode("overwrite")` dbt materializations); at
  * 100 TB in-place rewrite is unusable — a reader mid-scan observes
  * a half-deleted directory, a crashed writer leaves a truncated
  * table, and yesterday's rows are simply gone. The industry answer
  * (Delta Lake / Iceberg, both public designs) is a commit log:
  * immutable data file-groups plus an append-only log of
  * add/remove actions, where publishing one new log entry IS the
  * atomic commit. This is that answer built from parquet primitives:
  *
  *   <path>/data/f<fid>/       one immutable parquet file-group per
  *                             committed add (never rewritten)
  *   <path>/log/v%09d/         one parquet commit record per version;
  *                             the single directory RENAME that puts
  *                             a record at its final name is the
  *                             commit point
  *
  * Log record rows: (action "add"|"remove"|"dv", fid, rows, txn,
  * ts, zone hulls, schema). Version v's visible content = parquet
  * union of fids added minus removed by records ≤ v, minus rows
  * masked by live deletion-vector key groups (action "dv" — the
  * merge-on-read cheap path for point deletes). Readers resolve the
  * file list from the log only — NEVER by listing `data/` — so a
  * half-written file-group from a crashed append is invisible (no
  * log record names it) and an eventually-consistent object listing
  * cannot corrupt a read. Every `graft.store.checkpointInterval`-th
  * commit also publishes a CHECKPOINT (one parquet snapshot of all
  * records so far, + a `_last_checkpoint` pointer), so a cold
  * reader resolves the log as checkpoint + suffix instead of an
  * O(commits) small-file replay. Commits go through optimistic
  * concurrency ([[commitRetrying]]): a writer that loses the
  * version rename rebases and retries when the winners touched
  * disjoint file-groups (append vs append always lands both) and
  * aborts loudly on a conflicting rewrite.
  *
  * What this buys over the rename-swap stores ([[WinnowIndex.compact]]):
  *  - atomic append: data lands fully before the log rename; a crash
  *    at ANY point leaves the previous version intact and visible;
  *  - crash-safe compaction: remove-all + add-one in ONE commit
  *    record — old and new content never coexist, no rollback dance;
  *  - time travel: `readAt(v)` reproduces any retained version —
  *    the "which corpus snapshot trained this model" audit question;
  *  - snapshot isolation: a reader that resolved its file list at
  *    version v scans immutable file-groups, unaffected by
  *    concurrent appends/compactions until `vacuum` passes its
  *    retention horizon;
  *  - targeted delete: `deleteWhere` rewrites ONLY the file-groups
  *    that contain matching rows (removal-request compliance at
  *    O(affected files), not O(table)).
  *
  * Scale shape: the log is O(commits) KB-scale parquet read once per
  * query plan on the driver; data stays distributed and is read by
  * one multi-path parquet scan, so pushdown/pruning work unchanged.
  * Single-writer per store (the reference's Airflow model — one DAG
  * owns a path); a racing second writer loses the commit rename and
  * fails loudly rather than corrupting (pinned in the spec).
  */
object VersionedStore {

  /** The filesystem of `p`'s own scheme (the default FS serves only
    * unqualified paths).
    */
  private def fs(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def fs(spark: SparkSession, path: String): FileSystem =
    fs(spark, new Path(path))

  private def logDir(path: String) = new Path(s"$path/log")
  private def dataDir(path: String, fid: Long) =
    new Path(s"$path/data/f$fid")
  private def versionName(v: Long) = f"v$v%09d"

  /** Start an empty store at `path`, clearing any prior content. */
  def create(spark: SparkSession, path: String): Unit = {
    val f = fs(spark, path)
    val p = new Path(path)
    if (f.exists(p) && !f.delete(p, true))
      sys.error(s"VersionedStore.create: cannot clear $path")
    if (!f.mkdirs(logDir(path)))
      sys.error(s"VersionedStore.create: cannot create log at $path")
    // a re-created store restarts version numbering at the same
    // path — cached records from the previous incarnation must not
    // survive (the listing alone could not distinguish them), and
    // neither must the previous incarnation's claim high-water mark
    // (fid numbering would start inflated at a fresh store)
    logCache.synchronized { logCache.remove(path) }
    claimHighWater.remove(path)
    ()
  }

  /** Commit an explicit schema anchor — the CREATE TABLE shape: a
    * freshly-created EMPTY store declares its schema before any
    * data arrives (one action-"schema" record, the same anchor
    * restore/clone commits carry), so the catalog and readers serve
    * the declared shape immediately and the first insert must MATCH
    * it through [[checkSchema]] instead of defining the table by
    * accident. Returns the committed version.
    */
  def declareSchema(spark: SparkSession, path: String,
      schema: org.apache.spark.sql.types.StructType): Long = {
    require(latestVersion(spark, path) == 0L,
      s"VersionedStore.declareSchema: $path already has commits — " +
        "declaring is the CREATE TABLE shape; evolve a live table " +
        "through addColumns / renameColumn / dropColumn (an " +
        "arbitrary anchor could silently drop or retype columns)")
    commitRetrying(spark, path, Nil, Nil,
      schemaAnchor = Some(schema.json))
  }

  /** Metadata-only ADD COLUMNS — the ALTER TABLE shape: ONE schema-
    * anchor commit widens the table; nothing rewrites, old groups
    * serve the new columns as NULL through the read path's explicit
    * schema (the rule evolve-by-append already relies on). Additive
    * and nullable only (old rows have no value to backfill);
    * retired (renamed-away/dropped) names can never return — the
    * same lineage-collision guard as the append boundary.
    */
  def addColumns(spark: SparkSession, path: String,
      cols: Seq[org.apache.spark.sql.types.StructField]): Long = {
    require(cols.nonEmpty, "VersionedStore.addColumns: no columns")
    val cur = schemaAt(spark, path, Long.MaxValue).getOrElse(
      sys.error(s"VersionedStore.addColumns: no table schema at " +
        s"$path — declare or append first"))
    cols.foreach { f =>
      require(!cur.fieldNames.exists(_.equalsIgnoreCase(f.name)),
        s"VersionedStore.addColumns: column `${f.name}` already " +
          "exists")
      require(f.nullable,
        s"VersionedStore.addColumns: new column `${f.name}` must " +
          "be nullable — existing rows have no value to backfill")
    }
    val retired = everUsedNames(spark, path) -- cur.fieldNames
    val reuse = cols.map(_.name).filter(retired)
    require(reuse.isEmpty,
      s"VersionedStore.addColumns: ${reuse.mkString(", ")} reuse " +
        "a renamed-away or dropped column name — pick a name this " +
        "table has never carried")
    commitRetrying(spark, path, Nil, Nil,
      schemaAnchor = Some(org.apache.spark.sql.types.StructType(
        cur.fields ++ cols).json))
  }

  /** Nested ADD COLUMNS — `ALTER TABLE t ADD COLUMNS (pay.c LONG)`:
    * ONE schema-anchor commit widens a STRUCT shape in place.
    * Nothing rewrites; groups written before the anchor serve the
    * new field as NULL through the read path's clipped parquet
    * schema (batch) and the feed reader's missing-field guard
    * (streaming) — the same contract as top-level [[addColumns]].
    * `parent` names the struct to widen: struct fields by name,
    * plus the standard pseudo-steps `element` (into an array) and
    * `value` (into a map's values) — so `arr.element.x` and
    * `m.value.x` widen structs inside collections. `key` is
    * refused (map keys are identity — a new key field would change
    * what old rows' keys MEAN). Additive and nullable only.
    * Renames/drops/retypes INSIDE structs remain refused — nested
    * fields have no column-mapping lineage, so only the operation
    * with no old bytes to re-bind (add) is safe.
    */
  def addNestedField(spark: SparkSession, path: String,
      parent: Seq[String],
      col: org.apache.spark.sql.types.StructField): Long = {
    import org.apache.spark.sql.types.{ArrayType, MapType,
      StructType, DataType}
    require(parent.nonEmpty, "VersionedStore.addNestedField: " +
      "empty parent path — use addColumns for top-level columns")
    require(col.nullable,
      s"VersionedStore.addNestedField: new field `${col.name}` " +
        "must be nullable — existing rows have no value to backfill")
    val cur = schemaAt(spark, path, Long.MaxValue).getOrElse(
      sys.error(s"VersionedStore.addNestedField: no table schema " +
        s"at $path — declare or append first"))
    def addTo(dt: DataType, p: Seq[String],
        seen: Seq[String]): DataType = (dt, p) match {
      case (st: StructType, Nil) =>
        require(!st.fieldNames.exists(_.equalsIgnoreCase(col.name)),
          "VersionedStore.addNestedField: field " +
            s"`${(seen :+ col.name).mkString(".")}` already exists")
        StructType(st.fields :+ col)
      case (st: StructType, head +: tail) =>
        val idx = st.fields.indexWhere(_.name.equalsIgnoreCase(head))
        require(idx >= 0, "VersionedStore.addNestedField: no " +
          s"column `${(seen :+ head).mkString(".")}`")
        val f = st.fields(idx)
        StructType(st.fields.updated(idx, f.copy(dataType =
          addTo(f.dataType, tail, seen :+ head))))
      case (ArrayType(et, n), head +: tail)
          if head.equalsIgnoreCase("element") =>
        ArrayType(addTo(et, tail, seen :+ "element"), n)
      case (MapType(k, v, n), head +: tail)
          if head.equalsIgnoreCase("value") =>
        MapType(k, addTo(v, tail, seen :+ "value"), n)
      case (_: MapType, head +: _)
          if head.equalsIgnoreCase("key") => sys.error(
        "VersionedStore.addNestedField: cannot add fields inside " +
          s"map KEYS (`${(seen :+ "key").mkString(".")}`) — keys " +
          "are row identity; old rows' keys cannot grow a field")
      case (other, _) => sys.error(
        "VersionedStore.addNestedField: " +
          s"`${seen.mkString(".")}` is ${other.simpleString}, not " +
          "a struct — nested ADD COLUMNS targets struct fields " +
          "(step into collections with `element` / `value`)")
    }
    commitRetrying(spark, path, Nil, Nil,
      schemaAnchor = Some(addTo(cur, parent, Nil)
        .asInstanceOf[StructType].json))
  }

  /** One listing of the log dir: (committed versions, checkpoint
    * versions), both ascending. Tmp dirs from crashed commits
    * (`.tmp-*`) match neither name pattern and are invisible here —
    * ignoring them IS the crash recovery. Checkpoints ride in the
    * SAME listing, so discovering them costs zero extra RPCs (the
    * reason there is no load-bearing `_last_checkpoint` pointer: we
    * must list the log dir anyway to learn the latest version — the
    * pointer file is still written for operators/external tools, but
    * readers never depend on it).
    */
  private def logListing(spark: SparkSession,
      path: String): (Seq[Long], Seq[Long]) = {
    val f = fs(spark, path)
    val ld = logDir(path)
    if (!f.exists(ld)) sys.error(
      s"VersionedStore: no store at $path (missing log dir)")
    val names = f.listStatus(ld).toSeq.map(_.getPath.getName)
    (names.filter(_.matches("v\\d{9}")).map(_.drop(1).toLong).sorted,
      names.filter(_.matches("ckpt-v\\d{9}"))
        .map(_.drop(6).toLong).sorted)
  }

  /** Committed versions at `path`, ascending. */
  def versions(spark: SparkSession, path: String): Seq[Long] =
    logListing(spark, path)._1

  def latestVersion(spark: SparkSession, path: String): Long =
    versions(spark, path).lastOption.getOrElse(0L)

  /** One column's zone in a commit record: `t` = "l" (integral —
    * `lo`/`hi` are decimal-string longs) or "s" (string — raw
    * values, UTF8 binary order, the order Spark's min/max aggregates
    * use). The zone is the ONLY per-group min/max the log carries —
    * a `statsCol` hull is an ordinary "l" zone. Multi-column and
    * string zones are what let [[readRange]]/[[readRangeStr]]/
    * [[merge]] prune on more than one key and on string keys.
    */
  final case class ColZone(c: String, t: String, lo: String, hi: String)

  /** Per-file-group zone stats carried in the commit record,
    * computed from the group's written parquet at commit time.
    * `zones` carries any number of per-column (lo, hi) hulls,
    * integral or string; a group without a zone on a column is
    * always a candidate for any key range on it. `stats` is only a
    * NAME: the `statsCol` marker of the store's clustering
    * discipline ([[storeStatsCol]]), set when the group carries an
    * "l" zone on that column — its hull is that zone.
    */
  final case class GroupAdd(fid: Long, n: Long,
      stats: Option[String] = None,
      schemaJson: Option[String] = None,
      zones: Seq[ColZone] = Nil,
      /** Foreign data location (absolute dir) for groups this store
        * references but does not own — how [[cloneTo]] shares a
        * source's file-groups by METADATA only. None = the group
        * lives under this store's own `data/f<fid>`.
        */
      loc: Option[String] = None,
      /** Columns with a per-group Bloom-filter SIDECAR
        * (`<path>/bloom/f<fid>-<col>`) — the record carries only the
        * column names; the bits live beside the data because a
        * production group's bloom is MBs, far too big for a log
        * record (the same reason the public designs keep file-level
        * indexes out of the log).
        */
      blooms: Seq[String] = Nil)

  /** Thrown when a commit loses the version rename to a concurrent
    * writer — the signal [[commitRetrying]]'s optimistic
    * rebase-and-retry loop distinguishes from real failures.
    */
  private[operators] final class CommitConflict(msg: String)
    extends RuntimeException(msg)

  /** The installed commit-arbitration backend ([[HdfsLogStore]] by
    * default). An S3 deployment installs an exclusive implementation
    * backed by conditional PUT or a commit coordinator — see
    * [[LogStore]] for the contract and README for the 100 TB note.
    */
  @volatile private var logStoreImpl: LogStore = HdfsLogStore

  def logStore: LogStore = logStoreImpl

  def setLogStore(ls: LogStore): Unit = logStoreImpl = ls

  /** Every mutation calls this BEFORE writing a byte: committing
    * through a backend that cannot pick one winner per version (raw
    * S3 rename) would let two writers both "succeed" and silently
    * lose a commit — the failure mode must be a loud refusal at the
    * first write, not corruption discovered at read time.
    */
  private def requireExclusive(op: String): Unit = {
    if (!logStoreImpl.exclusive) sys.error(
      s"VersionedStore.$op: the installed LogStore " +
        s"(${logStoreImpl.getClass.getName}) declares non-exclusive " +
        "publication — concurrent writers could silently clobber " +
        "each other's commits (the S3 rename trap). Install an " +
        "exclusive implementation (conditional PUT / commit " +
        "coordinator); see LogStore's scaladoc")
  }

  /** Optimistic-concurrency commit (the Delta OCC protocol's second
    * half): attempt at latest+1; on losing the rename to a
    * concurrent writer, re-read the log and REBASE onto the new
    * latest when the winning commits touch disjoint file-groups —
    * rebasing is serializable because a commit that only adds fresh
    * groups and removes groups the winners never touched has the
    * same effect in either commit order. Abort loudly when
    *  - a winner touched any group this commit removes (conflicting
    *    rewrite — the caller must redo its detection/rewrite against
    *    the new snapshot), or
    *  - a winner claimed one of this commit's fids (the data dir may
    *    have been clobbered by the winner's writeGroup), or
    *  - the retry budget is exhausted (livelock guard).
    * Appends always rebase (fresh fids, no removes). `firstV` lets
    * the race spec reproduce a stale first attempt deterministically.
    *
    * `guard` extends the rebase rule to DETECTION-BASED
    * copy-on-write commands (the mutation core [[rewriteMatching]]
    * behind deleteWhere / updateWhere / replaceWhere / deleteKeys /
    * merge / mergeInto builds it), whose correctness depends on what
    * their detection scan SAW, not just on which groups they
    * rewrite: `guard = Some((baseV, safe))` re-validates the
    * detection snapshot against every commit that landed after
    * `baseV` — before the first attempt (commits in the
    * detection-to-commit window raise no version conflict at all)
    * and again at each rebase. The winners must all be PLAIN
    * APPENDS (a concurrent rewrite/DV/restore restructures rows the
    * detection may have read — abort, redo against the new
    * snapshot), and `safe(winnerFids)` must confirm the appended
    * groups contain no row the detection would have matched
    * (predicate hit for UPDATE/DELETE, key overlap for the merges).
    * This is the public Delta conflict rule: blind appends rebase
    * freely; an append that could change a read-based command's
    * outcome is a ConcurrentAppend conflict.
    */
  private[operators] def commitRetrying(spark: SparkSession,
      path: String, adds: Seq[GroupAdd], removes: Seq[Long],
      txn: Long = -1L, dvs: Seq[GroupAdd] = Nil,
      firstV: Long = -1L,
      renames: Seq[(String, String, String)] = Nil,
      schemaAnchor: Option[String] = None,
      guard: Option[(Long, Seq[Long] => Boolean)] = None,
      txnApp: Option[String] = None,
      neutral: Boolean = false): Long = {
    val maxAttempts = 5
    var attempt = 0
    def guardCheck(): Unit = guard.foreach { case (baseV, safe) =>
      val laters = logRecords(spark, path).filter(_.v > baseV)
      if (laters.nonEmpty) {
        val structural = laters.filter(_.action != "add")
        if (structural.nonEmpty) sys.error(
          "VersionedStore: concurrent commit(s) restructured the " +
            s"table after this operation's snapshot v$baseV at " +
            s"$path (${structural.map(_.action).distinct
              .mkString(", ")}) — aborting (redo the operation " +
            "against the new snapshot)")
        if (!safe(laters.map(_.fid))) sys.error(
          "VersionedStore: concurrent append(s) after snapshot " +
            s"v$baseV at $path carry rows this operation's " +
            "detection scan would have matched — aborting (redo " +
            "the operation against the new snapshot)")
        // schema lost-update, in the DETECTION-TO-COMMIT window the
        // row checks above cover: a concurrent EVOLVE-BY-APPEND
        // winner is action "add" and row-safe (key-disjoint), but
        // this commit's add records carry the pre-evolution schema —
        // schemaAt takes the newest add, so committing them would
        // silently revert the table schema (drop the concurrently
        // added column). Same rule as the rebase path's schema
        // check; it must also run when no version CONFLICT is raised
        val ourSchemas = (adds ++ dvs).flatMap(_.schemaJson)
        val laterSchemas = laters.flatMap(_.schemaJson)
        if (ourSchemas.nonEmpty &&
          schemasDiverge(ourSchemas, laterSchemas)) sys.error(
          "VersionedStore: concurrent schema change — a commit " +
            s"after this operation's snapshot v$baseV at $path " +
            "carries a different table schema; aborting " +
            "(revalidate against the evolved schema)")
      }
    }
    var v =
      if (firstV >= 0) firstV
      else {
        // ONE log snapshot decides both the idempotence probe and
        // the attempt version: a txn-tagged winner either committed
        // before this snapshot (the probe returns it) or occupies a
        // version >= our attempt (versions are dense, so the attempt
        // CONFLICTS and the handler's re-probe catches it). Separate
        // probe/version reads had a window where a winner landing
        // between them let a replay win a later version cleanly —
        // a double-applied window with no conflict ever raised.
        val recs = logRecords(spark, path)
        if (txn >= 0) {
          recs.find(r => r.txn == txn && r.txnApp == txnApp) match {
            case Some(r) => return r.v
            case None => ()
          }
        }
        recs.map(_.v).maxOption.getOrElse(0L) + 1
      }
    // the detection-to-commit window: commits that landed after the
    // caller's snapshot but before this attempt raise no version
    // conflict, so the guard must run BEFORE the first attempt too
    guardCheck()
    while (true) {
      try return commitAt(spark, path, v, adds, removes, txn, dvs,
        renames = renames, schemaAnchor = schemaAnchor,
        txnApp = txnApp, neutral = neutral)
      catch {
        case _: CommitConflict =>
          attempt += 1
          if (attempt >= maxAttempts) sys.error(
            s"VersionedStore: commit at $path lost $maxAttempts " +
              "version races — giving up (livelock guard)")
          val latest = latestVersion(spark, path)
          // idempotence guard: when this commit is txn-tagged and a
          // WINNING commit already carries the same app transaction
          // (two replayers of the same window raced past the
          // committedTxn probe), this attempt must become a no-op
          // success at the winner's version, NOT a rebase — rebasing
          // would double-apply the window. Our claimed fid and its
          // written data dir become unreferenced orphans vacuum
          // reclaims. This mirrors the reference OCC design's
          // same-app-transaction conflict rule.
          if (txn >= 0) {
            committedTxn(spark, path, txn, txnApp) match {
              case Some(winV) => return winV
              case None => ()
            }
          }
          val winners = logRecords(spark, path)
            .filter(_.v >= v).map(_.fid).toSet
          val ours = (adds ++ dvs).map(_.fid)
          val clash = ours.filter(winners)
          if (clash.nonEmpty) sys.error(
            "VersionedStore: concurrent writer claimed file-group " +
              s"fid(s) ${clash.mkString(", ")} at $path — this " +
              "commit's data dirs may be clobbered; aborting " +
              "(re-run the whole operation)")
          val touched = removes.filter(winners)
          if (touched.nonEmpty) sys.error(
            "VersionedStore: conflicting rewrite — concurrent " +
              s"commit(s) touched file-group(s) " +
              s"${touched.mkString(", ")} this operation rewrites " +
              s"at $path; aborting (redo the operation against the " +
              "new snapshot)")
          // schema lost-update guard: the newest add record's schema
          // BECOMES the table schema (schemaAt), so rebasing over a
          // winner that evolved the schema would silently revert it
          val ourSchemas = (adds ++ dvs).flatMap(_.schemaJson)
          // rename/drop/anchor commits also carry the table schema —
          // a rebase over a winning one would silently revert it
          val winnerSchemas = logRecords(spark, path)
            .filter(r => r.v >= v && (r.action == "add" ||
              r.action == "rename" || r.action == "drop" ||
              r.action == "schema"))
            .flatMap(_.schemaJson)
          if (ourSchemas.nonEmpty &&
            schemasDiverge(ourSchemas, winnerSchemas)) sys.error(
            "VersionedStore: concurrent schema change — a winning " +
              s"commit at $path carries a different table schema; " +
              "aborting (revalidate against the evolved schema)")
          guardCheck() // re-validate the detection snapshot against
                       // the winner before rebasing over it
          v = latest + 1
      }
    }
    -1L // unreachable
  }

  /** True when any of `winners`' schemas names a different COLUMN
    * SET or column TYPE than every one of `ours` — the schema
    * lost-update test, compared structurally (name → dataType), not
    * on raw schema JSON: nullability flags legitimately differ
    * between equivalent batches (recordedSchema ORs them at the
    * next write), and aborting on those would turn every
    * key-disjoint concurrent append into a false conflict.
    */
  private def schemasDiverge(ours: Seq[String],
      winners: Seq[String]): Boolean = {
    def shape(j: String): Map[String, String] =
      org.apache.spark.sql.types.DataType.fromJson(j)
        .asInstanceOf[org.apache.spark.sql.types.StructType]
        .fields.map(f => f.name -> f.dataType.catalogString).toMap
    val ourShapes = ours.map(shape).toSet
    winners.map(shape).exists(!ourShapes.contains(_))
  }

  private def commit(spark: SparkSession, path: String,
      adds: Seq[GroupAdd], removes: Seq[Long],
      dvs: Seq[GroupAdd] = Nil,
      guard: Option[(Long, Seq[Long] => Boolean)] = None,
      neutral: Boolean = false): Long =
    commitRetrying(spark, path, adds, removes, -1L, dvs,
      guard = guard, neutral = neutral)

  /** The commit body at an EXPLICIT version — separated so the spec
    * can reproduce the two-writers race (both computed the same next
    * version; the loser's rename must fail, not clobber). `txn` tags
    * the record for [[appendIdempotent]]; -1 = untagged. `dvs` are
    * deletion-vector key groups (action "dv"). `ts` stamps the
    * commit wall-clock (millis; -1 → now) for age-based retention —
    * persisted in the record, never inferred from dir mtimes. The
    * tmp-write + rename makes the log record appear atomically;
    * rename-into-existing would NEST (the WinnowIndex lesson), so an
    * existing destination — a concurrent writer won the version —
    * raises [[CommitConflict]] and the loser's orphan data stays
    * invisible.
    */
  private[operators] def commitAt(spark: SparkSession, path: String,
      v: Long, adds: Seq[GroupAdd], removes: Seq[Long],
      txn: Long = -1L, dvs: Seq[GroupAdd] = Nil,
      ts: Long = -1L,
      renames: Seq[(String, String, String)] = Nil,
      drops: Seq[(String, String, String)] = Nil,
      schemaAnchor: Option[String] = None,
      txnApp: Option[String] = None,
      neutral: Boolean = false): Long = {
    requireExclusive("commit")
    val f = fs(spark, path)
    // the tmp name is unique PER ATTEMPT: two writers racing for the
    // same version must stage into disjoint dirs (a shared
    // `.tmp-v…` name let one writer delete or rename the other's
    // half-written record — found by the truly-concurrent append
    // spec). Crashed tmps match no log-name pattern (invisible to
    // readers) and are KB-scale litter.
    val tmp = new Path(s"$path/log/.tmp-" +
      s"${java.util.UUID.randomUUID}-${versionName(v)}")
    val stamp = if (ts >= 0) ts else System.currentTimeMillis()
    def rec(action: String, fid: Long = -1L,
        schemaJson: Option[String] = None,
        ren: Option[(String, String)] = None): LogRec =
      LogRec(v, action, fid, 0L, txn, None, schemaJson, stamp,
        ren = ren, txnApp = txnApp, neutral = neutral)
    def addRec(action: String, a: GroupAdd): LogRec =
      rec(action, a.fid, a.schemaJson).copy(rows = a.n,
        stats = a.stats, zones = a.zones, loc = a.loc,
        blooms = a.blooms)
    val recs: Seq[LogRec] =
      adds.map(addRec("add", _)) ++ dvs.map(addRec("dv", _)) ++
      removes.map(rec("remove", _)) ++
      renames.map { case (from, to, newSchemaJson) =>
        rec("rename", schemaJson = Some(newSchemaJson),
          ren = Some((from, to)))
      } ++
      drops.map { case (logical, phys, newSchemaJson) =>
        rec("drop", schemaJson = Some(newSchemaJson),
          ren = Some((logical, phys)))
      } ++
      // the anchor's supremacy is enforced by [[actionPriority]]
      // (action "schema" sorts above every other record within a
      // version), not by this physical write order — restore/clone pin
      // the restored version's exact table schema with it (their
      // republished add records carry each group's ORIGINAL schema,
      // which is stale whenever the newest schema-bearing commit at
      // the restored version was a pure-metadata rename/drop)
      schemaAnchor.toSeq.map(sj => rec("schema", schemaJson = Some(sj)))
    // driver-side metadata write: same parquet layout as the previous
    // coalesce(1) Spark write (one part file in the record dir), at
    // file-I/O latency instead of a Spark job per commit
    MetaParquet.write(spark.sparkContext.hadoopConfiguration, tmp,
      logSchema, logCols, recs.map(encode))
    val dest = new Path(s"$path/log/${versionName(v)}")
    // publication is the LogStore's exclusive-winner primitive:
    // `false` = a concurrent writer owns this version (the OCC loop
    // rebases); a real filesystem fault (rename failing with the
    // destination still absent) THROWS from the implementation
    // instead — retrying it at 5 successive versions would litter 5
    // orphan attempts and mask the error as phantom "lost races"
    val published =
      try logStore.publish(f, tmp, dest)
      catch { case e: Throwable => f.delete(tmp, true); throw e }
    if (!published) {
      f.delete(tmp, true)
      throw new CommitConflict(
        s"VersionedStore.commit: version $v already " +
          s"committed at $path — concurrent writer conflict")
    }
    maybeCheckpoint(spark, path, v)
    v
  }

  /** One parsed commit-record row. `txn` -1, `stats`/`zones` empty,
    * `ts` -1, and `schemaJson` None for records written before those
    * columns existed. `stats` is the `statsCol` marker's name only;
    * its hull is the "l" entry of `zones` on that column.
    */
  private final case class LogRec(v: Long, action: String, fid: Long,
      rows: Long, txn: Long, stats: Option[String],
      schemaJson: Option[String], ts: Long = -1L,
      zones: Seq[ColZone] = Nil, loc: Option[String] = None,
      blooms: Seq[String] = Nil,
      /** (old logical name, new logical name) of an action="rename"
        * record — the log-carried column mapping ([[renameColumn]]).
        */
      ren: Option[(String, String)] = None,
      /** The application/query id scoping `txn` — streaming writers
        * tag each epoch commit with their queryId so a SECOND query
        * (or the same pipeline restarted under a fresh checkpoint,
        * whose epoch ids reset to 0) never mistakes another writer's
        * epochs for its own replays. None for batch txns and all
        * records written before the column existed.
        */
      txnApp: Option[String] = None,
      /** True for records of a DATA-NEUTRAL commit — a compaction /
        * OPTIMIZE rewrite that preserves the table's visible content
        * by construction. [[changes]] serves an all-neutral window
        * as the empty feed without reading a byte (the Delta CDF
        * rule: OPTIMIZE commits are excluded from the change feed);
        * records written before the column existed read as
        * non-neutral, which is always sound (the exceptAll netting
        * still cancels them).
        */
      neutral: Boolean = false)

  /** Driver-side incremental log cache, per JVM: the log is
    * O(commits) of KB-scale parquet, but re-reading it through a
    * Spark job on EVERY latestVersion/liveFids/stats lookup made each
    * store operation pay several round-trips. The cache is keyed by
    * the ACTUAL log listing (an FS call, the commit source of truth),
    * so it can never serve stale state: a version set that differs
    * from the cached one triggers a read of exactly the missing
    * version files, and [[create]] drops the entry (same path, new
    * store). External writers are still seen — their new version
    * appears in the listing and is read on next access.
    */
  private val logCache =
    scala.collection.mutable.Map.empty[String, (Set[Long], Seq[LogRec])]

  /** Column spec of a commit-log record — the single source of truth
    * for both the driver-side writer ([[commitAt]] / [[checkpoint]])
    * and the driver-side reader ([[logRecords]]). The LAYOUT on disk
    * is unchanged from the original Spark-written records (snappy
    * parquet, standard lists), so stores written by earlier builds —
    * and records a SPEC writes with Spark — read identically.
    */
  private val logCols = Seq(
    MetaParquet.Col("action", "string"),
    MetaParquet.Col("fid", "long"),
    MetaParquet.Col("rows", "long"),
    MetaParquet.Col("txn", "long"),
    MetaParquet.Col("stat_col", "string"),
    MetaParquet.Col("stat_min", "long"),
    MetaParquet.Col("stat_max", "long"),
    MetaParquet.Col("schema_json", "string"),
    MetaParquet.Col("ts", "long"),
    MetaParquet.Col("zc", "strings"),
    MetaParquet.Col("zt", "strings"),
    MetaParquet.Col("zlo", "strings"),
    MetaParquet.Col("zhi", "strings"),
    MetaParquet.Col("loc", "string"),
    MetaParquet.Col("bc", "strings"),
    MetaParquet.Col("ren_from", "string"),
    MetaParquet.Col("ren_to", "string"),
    MetaParquet.Col("txn_app", "string"),
    MetaParquet.Col("neutral", "long"))
  private val logSchema = MetaParquet.schemaOf("graft_log", logCols)
  private val ckptCols = MetaParquet.Col("v", "long") +: logCols
  private val ckptSchema = MetaParquet.schemaOf("graft_ckpt", ckptCols)

  /** Encode one [[LogRec]] as a raw metadata row (absent = NULL) —
    * the one encoder behind both [[commitAt]] and [[checkpoint]]
    * (which adds the record's version as `v`). `stat_min`/`stat_max`
    * are never written: the marker's hull rides in the zones.
    */
  private def encode(r: LogRec): Map[String, Any] =
    Map[String, Any]("action" -> r.action, "fid" -> r.fid,
      "rows" -> r.rows, "txn" -> r.txn, "ts" -> r.ts,
      "zc" -> r.zones.map(_.c), "zt" -> r.zones.map(_.t),
      "zlo" -> r.zones.map(_.lo), "zhi" -> r.zones.map(_.hi),
      "bc" -> r.blooms) ++
      r.stats.map("stat_col" -> _) ++
      r.schemaJson.map("schema_json" -> _) ++
      r.loc.map("loc" -> _) ++
      r.ren.toSeq.flatMap { case (from, to) =>
        Seq("ren_from" -> from, "ren_to" -> to) } ++
      r.txnApp.map("txn_app" -> _) ++
      (if (r.neutral) Seq("neutral" -> 1L) else Nil)

  /** Decode one raw metadata row (name→value map; absent = NULL,
    * including columns the file predates) into a [[LogRec]] at
    * version `v`. Records written before the marker became a name
    * carry its hull as `stat_min`/`stat_max`; that hull decodes into
    * one more "l" zone unless the record already has a zone on the
    * column (the zone wins).
    */
  private def recOf(m: Map[String, Any], v: Long): LogRec = {
    def str(n: String) = m.get(n).map(_.asInstanceOf[String])
    def lng(n: String) = m.get(n).map(_.asInstanceOf[Long])
    def strs(n: String) = m.get(n) match {
      case Some(s: Seq[_]) => s.map(_.asInstanceOf[String])
      case _ => Nil
    }
    val (zc, zt, zlo, zhi) =
      (strs("zc"), strs("zt"), strs("zlo"), strs("zhi"))
    val typed = zc.indices.map(i =>
      ColZone(zc(i), zt(i), zlo(i), zhi(i)))
    val oldHull = for (c <- str("stat_col"); l <- lng("stat_min");
        h <- lng("stat_max") if !typed.exists(_.c.equalsIgnoreCase(c)))
      yield ColZone(c, "l", l.toString, h.toString)
    val zones = typed ++ oldHull
    val stats = str("stat_col").filter(c =>
      zones.exists(z => z.c == c && z.t == "l"))
    val ren = for (f <- str("ren_from"); t <- str("ren_to"))
      yield (f, t)
    LogRec(v, str("action").getOrElse(
        sys.error(s"VersionedStore: log record without action at v$v")),
      lng("fid").getOrElse(-1L), lng("rows").getOrElse(0L),
      lng("txn").getOrElse(-1L), stats, str("schema_json"),
      lng("ts").getOrElse(-1L), zones, str("loc"), strs("bc"),
      ren, str("txn_app"), lng("neutral").exists(_ == 1L))
  }

  private def logRecords(spark: SparkSession,
      path: String): Seq[LogRec] = logCache.synchronized {
    val (vsSeq, ckpts) = logListing(spark, path)
    val vs = vsSeq.toSet
    val (cachedVs, cachedRecs) =
      logCache.getOrElse(path, (Set.empty[Long], Seq.empty[LogRec]))
    if (cachedVs == vs) return cachedRecs
    val keep = cachedRecs.filter(r => vs.contains(r.v))
    val missing = (vs -- keep.map(_.v)).toSeq.sorted
    // cold-read acceleration: when the cache holds nothing useful,
    // ONE parquet read of the newest checkpoint replaces O(covered
    // commits) per-version small-file reads; only the suffix commits
    // past it are read from their own dirs. A WARM cache (missing =
    // a short recent suffix) never touches a checkpoint — reading a
    // full snapshot to extract two new commits would invert the win.
    val ckpt =
      if (keep.nonEmpty) None
      else ckpts.filter(c => missing.nonEmpty &&
        c >= missing.head && vs.contains(c)).lastOption
    // driver-side reads: a version dir is KBs of parquet — reading it
    // through a Spark job paid scheduling + codegen per commit; the
    // direct read costs file I/O only (same bytes, same tolerance for
    // records written before a column existed)
    val f = fs(spark, path)
    val conf = spark.sparkContext.hadoopConfiguration
    val fromCkpt = ckpt match {
      case Some(cv) =>
        val wanted = missing.filter(_ <= cv).toSet
        MetaParquet.read(f, conf,
            new Path(s"$path/log/ckpt-${versionName(cv)}"))
          .map(m => recOf(m, m.get("v") match {
            case Some(v: Long) => v
            case _ => sys.error(
              s"VersionedStore: checkpoint row without version at $path")
          }))
          .filter(r => wanted.contains(r.v))
      case None => Seq.empty[LogRec]
    }
    val rest = missing.filter(m => ckpt.forall(m > _))
    val fresh = rest.flatMap(x =>
      MetaParquet.read(f, conf,
          new Path(s"$path/log/${versionName(x)}"))
        .map(recOf(_, x)))
    val recs = (keep ++ fromCkpt ++ fresh)
      .sortBy(r => (r.v, actionPriority(r.action), r.fid))
    logCache(path) = (vs, recs)
    recs
  }

  /** EXPLICIT within-version record ordering — the resolution order
    * every last-record-wins consumer ([[schemaAt]], [[mappingAt]])
    * depends on. This used to be `sortBy(r.action)`, which put the
    * restore/clone `schema` anchor last only because "schema" sorts
    * alphabetically after "add"/"drop"/"rename" — an accident a
    * future action name would silently break. The order mirrors the
    * semantic application order inside one commit: data records,
    * then column-mapping changes (renames before drops, the order
    * [[commitAt]] writes them), then the explicit schema anchor,
    * which must always win. Unknown future actions sort BETWEEN the
    * mapping records and the anchor, so they can never displace it.
    */
  private def actionPriority(action: String): Int = action match {
    case "add" => 0
    case "dv" => 1
    case "remove" => 2
    case "rename" => 3
    case "drop" => 4
    case "schema" => 9
    case _ => 5
  }

  /** Spec hook: forget the in-JVM cache for `path`, forcing the next
    * access to resolve cold from disk (checkpoint + suffix).
    */
  private[graft] def dropLogCache(path: String): Unit =
    logCache.synchronized { logCache.remove(path); () }

  /** Write a checkpoint at version `v`: ONE parquet dir holding every
    * commit record with version ≤ v (published tmp+rename like a
    * commit), plus a `_last_checkpoint` pointer file for external
    * tools. Cold readers then resolve the log as checkpoint + suffix
    * instead of replaying O(commits) per-version dirs — the
    * `_last_checkpoint` idea of the public Delta log design; without
    * it, cold planning at production commit counts is an O(commits)
    * small-file storm on object storage. Checkpoints are derived
    * data: best-effort (a failed checkpoint never fails the commit
    * that triggered it), reconstructible, and ignored when absent.
    */
  def checkpoint(spark: SparkSession, path: String, v: Long): Unit = {
    val f = fs(spark, path)
    val recs = logRecords(spark, path).filter(_.v <= v)
    if (recs.isEmpty) return
    // unique per attempt, like commitAt's tmp: concurrent
    // checkpointers must never stage into each other's dir
    val tmp = new Path(s"$path/log/.tmp-ckpt-" +
      s"${java.util.UUID.randomUUID}-${versionName(v)}")
    MetaParquet.write(spark.sparkContext.hadoopConfiguration, tmp,
      ckptSchema, ckptCols, recs.map(r => encode(r) + ("v" -> r.v)))
    val dest = new Path(s"$path/log/ckpt-${versionName(v)}")
    // derived data, but still published through the LogStore so an
    // object-store deployment gets an atomic (never torn) snapshot;
    // losing the publish race to a concurrent checkpointer is
    // benign — both staged EQUIVALENT content for this version
    if (f.exists(dest) && !f.delete(dest, true))
      sys.error(s"VersionedStore.checkpoint: cannot replace $dest")
    if (!logStore.publish(f, tmp, dest)) {
      f.delete(tmp, true)
      return
    }
    // advisory pointer (readers derive the newest checkpoint from
    // the log listing they already pay for). A single small JSON
    // FILE, matching the public Delta log's `_last_checkpoint`
    // shape — a parquet DIRECTORY here would be consumable by no
    // external tool
    val ptrTmp = new Path(
      s"$path/.tmp-${java.util.UUID.randomUUID}-_last_checkpoint")
    val out = f.create(ptrTmp, true)
    try out.write(s"""{"version":$v}""".getBytes("UTF-8"))
    finally out.close()
    val ptr = new Path(s"$path/_last_checkpoint")
    if (f.exists(ptr)) f.delete(ptr, true)
    if (!logStore.publish(f, ptrTmp, ptr)) {
      f.delete(ptrTmp, true) // raced a concurrent checkpointer: fine
      ()
    }
  }

  /** Checkpoint cadence: every `graft.store.checkpointInterval`-th
    * version (session conf; default 10; 0 disables). Failures are
    * swallowed — the commit already succeeded and a checkpoint is
    * derived data.
    */
  private def maybeCheckpoint(spark: SparkSession, path: String,
      v: Long): Unit = {
    val interval =
      try spark.conf.get("graft.store.checkpointInterval", "10").toInt
      catch { case _: NumberFormatException => 10 }
    if (interval > 0 && v % interval == 0) {
      try checkpoint(spark, path, v)
      catch { case scala.util.control.NonFatal(_) => () }
    }
  }

  /** Versions with a checkpoint at `path`, ascending. */
  def checkpointVersions(spark: SparkSession,
      path: String): Seq[Long] = logListing(spark, path)._2

  /** All log actions up to and including `v` (O(commits) metadata
    * rows, independent of data size; cache-served).
    */
  private def actions(spark: SparkSession, path: String,
      v: Long): Seq[(Long, String, Long, Long)] =
    logRecords(spark, path).filter(_.v <= v)
      .map(r => (r.v, r.action, r.fid, r.rows))

  /** Order-aware liveness: a fid's state at version `v` is decided
    * by its LAST log action ≤ v — a remove after an add retires the
    * group; an add/dv record landing after a remove RE-SURFACES it
    * (the mechanism behind [[restore]], which re-publishes an old
    * version's records instead of copying any data). On histories
    * that never re-publish a fid this is exactly the plain
    * "added minus removed" rule. `kind` selects content ("add") or
    * deletion-vector ("dv") groups — a fid is only ever one of the
    * two (fids are never reused across [[writeGroup]] calls).
    */
  private def liveOf(as: Seq[(Long, String, Long, Long)],
      kind: String): Seq[Long] =
    as.groupBy(_._3).iterator.collect {
      case (fid, recs) if recs.exists(_._2 == kind) &&
        recs.maxBy(_._1)._2 != "remove" => fid
    }.toSeq.sorted

  /** Content file-groups visible at version `v` (deletion-vector key
    * groups are NOT content — see [[liveDvFids]]).
    */
  private def liveFids(spark: SparkSession, path: String,
      v: Long): Seq[Long] =
    liveOf(actions(spark, path, v), "add")

  /** Deletion-vector key groups in force at version `v`: each is a
    * small parquet frame of key tuples whose matching rows are
    * invisible at read time. A compaction (or a DV-purging merge)
    * removes them like any other fid.
    */
  private def liveDvFids(spark: SparkSession, path: String,
      v: Long): Seq[Long] =
    liveOf(actions(spark, path, v), "dv")

  /** Apply the deletion vectors in force at `v` to content carrying
    * a `_vs_fid` column: one broadcast anti-join per live DV group on
    * that group's OWN columns (a DV frame's schema IS its key
    * tuple), restricted to content groups with fid < dvFid — the
    * PRECEDENCE rule that makes re-insertion just work: a DV masks
    * only rows that existed when it was committed, so a later
    * append/merge-insert of the same key (higher fid) is visible
    * with no DV bookkeeping. DV frames are KB-scale key lists; the
    * common no-DV case folds over nothing and adds zero to the plan.
    */
  private def applyDvs(spark: SparkSession, path: String, v: Long,
      df: DataFrame): DataFrame = {
    // DV frames carry PHYSICAL key names (written like any group);
    // the content they mask is served under LOGICAL names at `v` —
    // translate before matching
    lazy val inv = mappingAt(spark, path, v).map(_.swap)
    liveDvFids(spark, path, v).foldLeft(df) { (acc, dvFid) =>
      // DV groups are committed without a schema: read it from the
      // footer here, not through a schema-inference job
      val dir = groupDir(spark, path, dvFid)
      val raw = spark.read.schema(footerSchema(spark, dir))
        .parquet(dir.toString)
      val keys =
        if (inv.isEmpty) raw
        else raw.select(raw.columns.map(c =>
          col(c).as(inv.getOrElse(c, c))): _*)
      val renamed = keys.columns.foldLeft(keys)((k, c) =>
        k.withColumnRenamed(c, s"_dv_$c"))
      val cond = keys.columns.map(c =>
        acc(c) <=> renamed(s"_dv_$c")).reduce(_ && _) &&
        acc("_vs_fid") < lit(dvFid)
      acc.join(broadcast(renamed), cond, "left_anti")
    }
  }

  /** DV-applied visible content at `v` (fids resolved from the log;
    * the `_vs_fid` carrier column is added only when DVs are live
    * and dropped before returning).
    */
  private def visibleAt(spark: SparkSession, path: String, v: Long,
      fids: Seq[Long]): DataFrame = {
    val dvs = liveDvFids(spark, path, v)
    if (dvs.isEmpty) readFids(spark, path, fids, v)
    else applyDvs(spark, path, v,
      readFids(spark, path, fids, v).withColumn("_vs_fid",
        regexp_extract(input_file_name(), "/data/f(\\d+)/[^/]*$", 1)
          .cast("long")))
      .drop("_vs_fid")
  }

  /** Data directory of file-group `fid`, honoring a foreign
    * location recorded by [[cloneTo]]: a cloned-in group resolves to
    * the SOURCE store's dir (zero-copy), everything else to this
    * store's own `data/f<fid>`. Writes never consult this — local
    * mutations always mint local groups, which is what makes a clone
    * copy-on-write.
    */
  private def groupDir(spark: SparkSession, path: String,
      fid: Long): Path =
    logRecords(spark, path)
      .find(r => r.fid == fid && r.loc.isDefined)
      .map(r => new Path(r.loc.get))
      .getOrElse(dataDir(path, fid))

  private def groupExists(spark: SparkSession, path: String,
      fid: Long): Boolean = {
    val d = groupDir(spark, path, fid)
    fs(spark, d).exists(d)
  }

  /** Data dirs of `fids` in order, loc-aware ([[groupDir]]), resolved
    * with ONE pass over the cached log.
    */
  private def groupDirs(spark: SparkSession, path: String,
      fids: Seq[Long]): Seq[String] = {
    val locs = logRecords(spark, path)
      .collect { case r if r.loc.isDefined => r.fid -> r.loc.get }
      .toMap
    fids.map(fid =>
      locs.get(fid).getOrElse(dataDir(path, fid).toString))
  }

  /** The `statsCol` marker of every marked file-group (fids are
    * never reused once committed, so at most one add record per
    * fid). Records written before the marker existed are simply
    * absent here.
    */
  private def groupStats(spark: SparkSession,
      path: String): Map[Long, String] =
    logRecords(spark, path)
      .collect { case r if r.action == "add" && r.stats.isDefined =>
        r.fid -> r.stats.get }
      .toMap

  /** The store's maintained stats column, if EVERY live file-group
    * carries the marker on the same column — mutators use this to
    * keep the discipline self-propagating (their new groups get the
    * marker and its "l" zone on the same column), and key-range
    * pruning is only sound when no live group is a blind spot. The
    * marker is a name; the hull it stands for is the group's zone.
    */
  def storeStatsCol(spark: SparkSession,
      path: String): Option[String] = {
    val live = liveFids(spark, path, latestVersion(spark, path))
    val stats = groupStats(spark, path)
    val cols = live.map(stats.get)
    if (live.nonEmpty && cols.forall(_ == cols.head)) cols.head
    else None
  }

  /** Multi-column zones of every file-group that carries them
    * (commit-record `zones`), keyed by fid.
    */
  private def groupZones(spark: SparkSession,
      path: String): Map[Long, Seq[ColZone]] =
    logRecords(spark, path)
      .collect { case r if r.action == "add" && r.zones.nonEmpty =>
        r.fid -> r.zones }
      .toMap

  /** Live file-groups at `v` whose `keyCol` zone overlaps `b` (the
    * shared [[graft.plans.PruneBounds]] test); groups without a zone
    * of `b`'s family on the column are always candidates (sound:
    * pruning only ever weakens).
    */
  private def zoneCandidates(spark: SparkSession, path: String,
      v: Long, keyCol: String, b: PruneBounds.Bound): Seq[Long] = {
    val pk = physOf(spark, path, v, keyCol) // zones carry PHYSICAL names
    val zones = groupZones(spark, path)
    liveFids(spark, path, v).filter(fid =>
      zones.getOrElse(fid, Nil).filter(_.c == pk)
        .forall(PruneBounds.overlaps(b, _)))
  }

  /** Live file-groups whose integral `keyCol` zone [min,max]
    * overlaps [lo,hi]; groups without that zone are always
    * candidates. A `statsCol` hull is such a zone like any other.
    * This is the 100 TB lever for [[merge]]/[[deleteWhere]]: a keyed
    * mutation against a range-clustered store touches O(overlapping
    * groups), never O(table).
    */
  private[graft] def candidateFids(spark: SparkSession,
      path: String, v: Long, keyCol: String, lo: Long,
      hi: Long): Seq[Long] =
    zoneCandidates(spark, path, v, keyCol,
      PruneBounds.Bound("l", Some(lo), Some(hi)))

  /** String-key variant of [[candidateFids]]: live groups whose
    * `keyCol` STRING zone overlaps [lo,hi] in UTF8 binary order;
    * groups without a string zone on the column are always
    * candidates.
    */
  private[graft] def candidateFidsStr(spark: SparkSession,
      path: String, v: Long, keyCol: String, lo: String,
      hi: String): Seq[Long] =
    zoneCandidates(spark, path, v, keyCol,
      PruneBounds.Bound("s", Some(lo), Some(hi)))

  /** True when `keyCol`'s physical column carries a zone in some
    * group live at `v` (a `statsCol` hull included) — the test that
    * arms zone-pruned key reads and keyed mutations.
    */
  private def zoneArmed(spark: SparkSession, path: String, v: Long,
      keyCol: String): Boolean = {
    val pk = physOf(spark, path, v, keyCol)
    val zones = groupZones(spark, path)
    liveFids(spark, path, v).exists(fid =>
      zones.getOrElse(fid, Nil).exists(_.c == pk))
  }

  /** Live file-groups a single-key mutation's detection scan must
    * read. When the key is zone-armed, the span of `keys`' key
    * values prunes to the groups whose zone overlaps it; a span with
    * no non-NULL key matches nothing. `span` is that (min, max) row
    * when the caller already computed it ([[keyGate]]); otherwise one
    * aggregate over `keys` computes it. Any other key shape reads
    * every live group.
    */
  private def keySpanFids(spark: SparkSession, path: String, v: Long,
      keyCols: Seq[String], keys: DataFrame,
      span: Option[org.apache.spark.sql.Row] = None): Seq[Long] =
    keyCols match {
      case Seq(c) if zoneArmed(spark, path, v, c) &&
          zoneTypeOf(keys, c).isDefined =>
        val r = span.getOrElse {
          val aggs = keySpanAggs(keys, c)
          keys.agg(aggs.head, aggs.tail: _*).head
        }
        if (r.isNullAt(0)) Seq.empty
        else if (zoneTypeOf(keys, c).contains("s"))
          candidateFidsStr(spark, path, v, c, r.getString(0),
            r.getString(1))
        else candidateFids(spark, path, v, c, r.getLong(0),
          r.getLong(1))
      case _ => liveFids(spark, path, v)
    }

  /** (min, max) of key column `c` in zone space
    * ([[PruneBounds.zoneValue]]); none when the column has no zone
    * family.
    */
  private def keySpanAggs(keys: DataFrame, c: String): Seq[Column] =
    if (zoneTypeOf(keys, c).isEmpty) Nil
    else Seq(min(PruneBounds.zoneValue(keys, c)),
      max(PruneBounds.zoneValue(keys, c)))

  /** The one duplicate-key gate of the keyed writes ([[merge]],
    * [[mergeInto]], a keyed model's first run): true when `df`
    * carries some key tuple twice. For a single key the same one-job
    * pass also returns the key span ([[keySpanAggs]], fields 0 and
    * 1, absent for a key with no zone family) that [[keySpanFids]]
    * prunes by — the span of the distinct keys equals the span of
    * the raw rows.
    */
  private[graft] def keyGate(df: DataFrame,
      keyCols: Seq[String]): (Boolean, Option[org.apache.spark.sql.Row]) =
    keyCols match {
      case Seq(c) =>
        val aggs = keySpanAggs(df, c) :+ max(col("_cnt"))
        val r = df.groupBy(col(c)).agg(count(lit(1)).as("_cnt"))
          .agg(aggs.head, aggs.tail: _*).head
        val m = r.length - 1
        (!r.isNullAt(m) && r.getLong(m) > 1, Some(r))
      case _ =>
        (df.groupBy(keyCols.map(col): _*).count()
          .filter(col("count") > 1).limit(1).count() > 0, None)
    }

  /** The zone family of `df`'s column `c` ([[PruneBounds.zoneType]]). */
  private def zoneTypeOf(df: DataFrame, c: String): Option[String] =
    PruneBounds.zoneType(df.schema(c).dataType)

  /** The `statsCol` marker a group of `df` records: the column's name
    * when the group got an "l" zone on it and the column is integral.
    * An empty or all-NULL group stays unmarked, and so does a column
    * of any other type — a date's day-number zone is still written,
    * but a caller's long key range could mean other units.
    */
  private def markerOf(df: DataFrame, statsCol: Option[String],
      zones: Seq[ColZone]): Option[String] =
    statsCol.filter(c =>
      df.schema(c).dataType != org.apache.spark.sql.types.DateType &&
        zones.exists(z => z.c == c && z.t == "l"))

  /** Build file-group `fid`'s per-column Bloom SIDECARS
    * (`<path>/bloom/f<fid>-<col>`, tmp+rename) from its written
    * parquet and return the armed column names for the commit
    * record. ~1.2 KB per 1k rows at 1% fpp — KBs at test scale, MBs
    * for a production group, which is exactly why the bits live in a
    * sidecar and only the column NAME rides in the log. ONE extra
    * scan of the (just-written, page-cached) group builds ALL armed
    * columns' filters together (`stat.bloomFilter` is one full pass
    * PER column; the fused pass puts each row's k values into k
    * filters — same create(n, fpp) sizing, same put() encoding, so
    * the sidecar bits are identical); blooms are opt-in, unarmed
    * stores pay nothing.
    */
  private def buildBlooms(spark: SparkSession, path: String,
      fid: Long, n: Long, cols: Seq[String],
      schema: StructType): Seq[String] = {
    if (cols.isEmpty || n == 0) return Nil
    val armed = cols.distinct.filter(schema.fieldNames.contains)
      .filter(c => PruneBounds.bloomable(schema(c).dataType))
    if (armed.isEmpty) return Nil
    // read under the schema the group was written with: no job to
    // infer it from the footers
    val written = spark.read.schema(StructType(armed.map(schema(_))))
      .parquet(dataDir(path, fid).toString)
    import org.apache.spark.util.sketch.BloomFilter
    val expected = math.max(n, 1L)
    val zero = armed.map(_ =>
      BloomFilter.create(expected, 0.01)).toArray
    val merged = written.select(armed.map(col): _*).rdd
      .treeAggregate(zero)(
        (bfs, row) => {
          var i = 0
          while (i < bfs.length) {
            if (!row.isNullAt(i)) bfs(i).put(row.get(i))
            i += 1
          }
          bfs
        },
        (a, b) => {
          var i = 0
          while (i < a.length) { a(i).mergeInPlace(b(i)); i += 1 }
          a
        })
    val f = fs(spark, path)
    armed.zip(merged).map { case (c, bf) =>
      // both hidden names match vacuum's sidecar pattern, so a
      // crash's leftovers go with their group
      val tmp = new Path(s"$path/bloom/.tmp-f$fid-$c")
      InPlace.replace(f, new Path(s"$path/bloom/f$fid-$c"), tmp,
          tmp.suffix(".bak")) { t =>
        val out = f.create(t, true)
        try bf.writeTo(out) finally out.close()
      }
      c
    }
  }

  /** Loc-aware sidecar path: a cloned-in group's bloom lives beside
    * its data in the OWNING store (`loc` is `<owner>/data/f<fid>`,
    * the sidecar `<owner>/bloom/f<fid>-<col>`).
    */
  private def bloomPathOf(spark: SparkSession, path: String,
      fid: Long, c: String): Path =
    logRecords(spark, path)
      .find(r => r.fid == fid && r.loc.isDefined) match {
      case Some(r) =>
        val owner = new Path(r.loc.get).getParent.getParent
        new Path(owner, s"bloom/f$fid-$c")
      case None => new Path(s"$path/bloom/f$fid-$c")
    }

  /** Driver-side sidecar cache: a (store, fid, col) sidecar is
    * immutable once its commit is visible (fids are never reused
    * after a successful commit), so cached bits can never go stale —
    * but compaction/vacuum retire fids forever, so an UNBOUNDED map
    * of MB-scale filters leaks in a long-lived serving driver.
    * Access-ordered LRU bounded by total filter bytes: eviction only
    * costs a re-read on the next probe of a cold sidecar.
    */
  private def bloomCacheMaxBytes: Long = java.lang.Long
    .getLong("graft.store.bloomCacheMaxBytes", 256L << 20)
  private var bloomCacheBytes: Long = 0L
  private val bloomCache = new java.util.LinkedHashMap[
    String, org.apache.spark.util.sketch.BloomFilter](16, 0.75f, true)

  /** Test-only view of the sidecar cache population. */
  private[operators] def bloomCacheSize: Int =
    bloomCache.synchronized(bloomCache.size())

  private def bloomBytes(
      bf: org.apache.spark.util.sketch.BloomFilter): Long =
    bf.bitSize() / 8 + 1

  private def loadBloom(spark: SparkSession, path: String, fid: Long,
      c: String): Option[org.apache.spark.util.sketch.BloomFilter] =
    bloomCache.synchronized {
      val bp = bloomPathOf(spark, path, fid, c)
      Option(bloomCache.get(bp.toString)).orElse {
        val f = fs(spark, bp)
        if (!f.exists(bp)) None
        else {
          val in = f.open(bp)
          val bf = try org.apache.spark.util.sketch.BloomFilter
            .readFrom(in) finally in.close()
          bloomCache.put(bp.toString, bf)
          bloomCacheBytes += bloomBytes(bf)
          val it = bloomCache.entrySet().iterator()
          while (bloomCacheBytes > bloomCacheMaxBytes &&
              bloomCache.size() > 1 && it.hasNext) {
            val eldest = it.next()
            if (eldest.getKey != bp.toString) {
              bloomCacheBytes -= bloomBytes(eldest.getValue)
              it.remove()
            }
          }
          Some(bf)
        }
      }
    }

  /** Loud API-boundary check that caller-supplied stats/zone/bloom
    * column names exist in the batch (logical names).
    */
  private def requireCols(df: DataFrame, op: String,
      cols: Seq[String]): Unit = {
    val missing = cols.distinct.filterNot(df.columns.contains)
    require(missing.isEmpty,
      s"VersionedStore.$op: stats/zone/bloom column(s) " +
        s"${missing.mkString(", ")} not in the batch schema " +
        s"(${df.columns.mkString(", ")})")
  }

  /** The logical schema a mutating batch RECORDS: its own fields,
    * except a column the table already carries never TIGHTENS its
    * nullability through an incidental batch property (a literal
    * INSERT's non-null output, a rewrite projection's inference
    * would otherwise flip the column to required and make every
    * later partial INSERT's NULL fill illegal) — the recorded flag
    * is the OR of table and batch. A real nullability contract is
    * the constraint system's job, never a side effect of one
    * batch's shape.
    */
  private def recordedSchema(spark: SparkSession, path: String,
      s: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType =
    schemaAt(spark, path, Long.MaxValue) match {
      case None => s
      case Some(cur) =>
        val curN = cur.fields.map(f => f.name -> f.nullable).toMap
        val adjusted = s.fields.map(f =>
          curN.get(f.name) match {
            case Some(n) => f.copy(nullable = n || f.nullable)
            case None => f
          })
        // the record's field ORDER follows the TABLE's declared
        // order, not the batch's own (the newest add becomes the
        // table schema via schemaAt, so a batch written column-
        // reordered — or any append after an explicit moveColumn —
        // must not silently flip the served order); evolve-added
        // columns append after the existing ones, batch-relative
        // order kept (stable sort)
        val orderOf = cur.fieldNames.zipWithIndex.toMap
        org.apache.spark.sql.types.StructType(adjusted.sortBy(f =>
          orderOf.getOrElse(f.name, Int.MaxValue)))
    }

  /** Write `df` as file-group `fid` and return its commit entry —
    * the count and the zone hulls (the `statsCol` hull among them)
    * ride the write job as observed metrics, so `df` is evaluated
    * exactly once.
    */
  private def writeGroup(df: DataFrame, path: String, fid: Long,
      statsCol: Option[String],
      zoneCols: Seq[String] = Nil,
      bloomCols: Seq[String] = Nil): GroupAdd = {
    val spark = df.sparkSession
    // column mapping: the commit record's schema stays LOGICAL (what
    // readers serve), but bytes on disk and all derived metadata
    // (zones, stats, blooms) carry PHYSICAL names — uniform with
    // every group written before any rename
    val m0 = mappingAt(spark, path, Long.MaxValue)
    val m = m0.filter { case (l, p) =>
      l != p && df.columns.contains(l) }
    val sj = Some(recordedSchema(spark, path, df.schema).json)
    val pdf =
      if (m.isEmpty) df
      else df.select(df.columns.map(c =>
        col(c).as(m.getOrElse(c, c))): _*)
    def phys(n: String) = m.getOrElse(n, n)
    // propagated zone/stat columns may name a since-DROPPED lineage
    // (storePropagation unions LIVE group records, which keep their
    // pre-drop names) — a batch no longer carries them, so they are
    // filtered, never aggregated against a missing column
    val pStatsCol = statsCol.map(phys).filter(pdf.columns.contains)
    val pZoneCols = (zoneCols.map(phys) ++ pStatsCol)
      .filter(pdf.columns.contains)
    val pBloomCols = bloomCols.map(phys)
    val zcs = PruneBounds.zoned(pdf, pZoneCols.distinct)
    // count/zone hulls ride the WRITE job itself as observed
    // metrics (CollectMetrics) instead of a second read-back job per
    // group: the metrics see exactly the rows the writer persists
    // (parquet round-trips every supported type losslessly, so the
    // values equal the old read-back's), and a group write costs ONE
    // job. Blooms — RDD-level sketch aggregation, not expressible as
    // an observed metric — keep their (single, multi-column) pass.
    // INVARIANT (cluster deployments): min/max/zone hulls are
    // retry-immune, but the `n` COUNT double-counts if a SPECULATIVE
    // duplicate task also completes — a deployment that enables
    // spark.speculation must pin it off for store write jobs (it is
    // off by default, and off in the driver's local[*] contract).
    val aggs = Seq(count(lit(1)).as("n")) ++
      zcs.flatMap { case (c, _) => PruneBounds.zoneAggs(pdf, c) }
    val obs = org.apache.spark.sql.Observation(
      s"vs-write-$fid-${java.util.UUID.randomUUID}")
    pdf.observe(obs, aggs.head, aggs.tail: _*)
      .write.mode("overwrite").parquet(dataDir(path, fid).toString)
    val r = obs.get
    val n = r("n").asInstanceOf[Long]
    val zones = PruneBounds.zonesOf(zcs, n, r)
    GroupAdd(fid, n, markerOf(pdf, pStatsCol, zones), sj, zones,
      blooms = buildBlooms(spark, path, fid, n, pBloomCols, pdf.schema))
  }

  /** The live logical→physical column mapping of the store at
    * `path` (empty when no column was ever renamed) — the streaming
    * write path stages parquet under PHYSICAL names so its files are
    * uniform with every batch-written group; physical names never
    * change, so the staged bytes stay correct even when a rename
    * lands mid-stream.
    */
  private[graft] def columnMapping(spark: SparkSession,
      path: String): Map[String, String] =
    mappingAt(spark, path, Long.MaxValue)

  /** Adopt executor-staged parquet files as ONE txn-tagged commit —
    * the DSv2 streaming-write path (`df.writeStream.toTable`): the
    * rows were written by per-task stagers and never visit the
    * driver; this claims a fresh group, MOVES the files into its
    * data dir (renames — no copy), then applies the full write
    * discipline over the read-back group (schema gate, constraints,
    * stats/zone/bloom propagation) and commits one add record under
    * `(app, txn)` — app = the streaming queryId, txn = the epoch id
    * — so a post-crash epoch replay is a no-op while a DIFFERENT
    * query's (or a re-checkpointed restart's) colliding epoch ids
    * still commit. Staged bytes carry PHYSICAL column names
    * ([[columnMapping]] resolved by the driver at query start), so
    * rename-mapped stores adopt without copying; the schema gate and
    * constraints run over the LOGICAL projection.
    */
  private[graft] def adoptStreamEpoch(spark: SparkSession,
      path: String, staged: Seq[String], txn: Long,
      app: String): Long = {
    val appOpt = Option(app)
    committedTxn(spark, path, txn, appOpt) match {
      case Some(v) => return v // replayed epoch: already committed
      case None => ()
    }
    if (staged.isEmpty) return latestVersion(spark, path)
    val f = fs(spark, path)
    val Seq(fid) = claimFids(spark, path, 1)
    val dst = dataDir(path, fid)
    if (f.exists(dst) && !f.delete(dst, true)) sys.error(
      s"VersionedStore.adoptStreamEpoch: cannot clear orphan $dst")
    if (!f.mkdirs(dst)) sys.error(
      s"VersionedStore.adoptStreamEpoch: cannot create $dst")
    staged.zipWithIndex.foreach { case (p0, i) =>
      if (!f.rename(new Path(p0),
        new Path(dst, f"part-$i%05d.parquet"))) sys.error(
        s"VersionedStore.adoptStreamEpoch: cannot adopt $p0")
    }
    val written = spark.read.parquet(dst.toString)
    // the staged files carry physical names; gates and the recorded
    // schema speak LOGICAL — one zero-cost projection, no data moves
    val inv = columnMapping(spark, path).map(_.swap)
    val logical =
      if (inv.isEmpty) written
      else written.select(written.columns.map(c =>
        col(c).as(inv.getOrElse(c, c))): _*)
    checkSchema(logical, path, "adoptStreamEpoch", canEvolve = false)
    validate(logical, path)
    val statsCol = storeStatsCol(spark, path)
      .filter(written.columns.contains)
    val propag = storePropagation(spark, path)
    val zoneCols = (propag._1 ++ statsCol ++ clusterByOf(spark, path)
      .map(c => columnMapping(spark, path).getOrElse(c, c)))
      .distinct.filter(written.columns.contains)
    val bloomCols = propag._2
    val sj = Some(recordedSchema(spark, path, logical.schema).json)
    val zcs = PruneBounds.zoned(written, zoneCols)
    val aggs = Seq(count(lit(1)).as("n")) ++
      zcs.flatMap { case (c, _) => PruneBounds.zoneAggs(written, c) }
    val r = written.agg(aggs.head, aggs.tail: _*).head
    val n = r.getLong(0)
    val zones = PruneBounds.zonesOf(zcs, n, r.getAs[Any](_))
    commitRetrying(spark, path, Seq(GroupAdd(fid, n,
      markerOf(written, statsCol, zones), sj, zones,
      blooms = buildBlooms(spark, path, fid, n, bloomCols,
        written.schema))),
      Nil, txn, txnApp = appOpt)
  }

  /** The table schema as of version `v`: the newest schema-bearing
    * record ≤ v — an add, a rename/drop (each carries the full
    * post-change LOGICAL schema), or a restore/clone's explicit
    * `schema` anchor. MUTATING batches never shrink it (enforced in
    * [[checkSchema]]); only the explicit [[dropColumn]] metadata
    * commit does. None for stores whose records predate schema
    * tracking. Within one commit the LAST schema-bearing record
    * wins, and "last" is defined by [[actionPriority]]'s explicit
    * within-version ordering (adds, then renames/drops, then the
    * `schema` anchor — which therefore always wins), not by the
    * physical write order or any alphabetical accident.
    */
  private def schemaAt(spark: SparkSession, path: String,
      v: Long): Option[org.apache.spark.sql.types.StructType] =
    logRecords(spark, path)
      .filter(r => (r.action == "add" || r.action == "rename" ||
        r.action == "drop" || r.action == "schema") &&
        r.v <= v && r.schemaJson.isDefined)
      .sortBy(_.v).lastOption
      .map(r => org.apache.spark.sql.types.DataType
        .fromJson(r.schemaJson.get)
        .asInstanceOf[org.apache.spark.sql.types.StructType])

  /** The CURRENT table schema (logical names), None for a store with
    * no schema-bearing commit yet — the empty-store case SQL INSERT
    * needs to distinguish (its first insert DEFINES the schema, the
    * same contract as the API's first append).
    */
  def tableSchema(spark: SparkSession,
      path: String): Option[org.apache.spark.sql.types.StructType] =
    schemaAt(spark, path, Long.MaxValue)

  /** Every column name this table has EVER carried — logical or
    * physical, current or retired (renamed-away, dropped). New
    * lineages may not reuse any of them: the parquet namespace is
    * shared across all file-groups ever written, so a reused name
    * would read an old lineage's bytes as the new column's values.
    */
  private def everUsedNames(spark: SparkSession,
      path: String): Set[String] =
    logRecords(spark, path).flatMap(r =>
      r.schemaJson.map(j => org.apache.spark.sql.types.DataType
        .fromJson(j)
        .asInstanceOf[org.apache.spark.sql.types.StructType]
        .fieldNames.toSeq).getOrElse(Nil) ++
        r.ren.toSeq.flatMap(p => Seq(p._1, p._2))).toSet

  /** The log-carried column mapping as of version `v`: LOGICAL name
    * → PHYSICAL name, present only for lineages some rename ≤ v
    * touched (identity for everything else — the empty map is the
    * no-renames fast path every pre-existing store takes). The
    * physical name of a column is the name it was FIRST written
    * under; renames re-point the logical name and never touch a
    * byte of data, so every file-group — before or after any number
    * of renames — carries the same physical column names (the
    * Delta/Iceberg column-mapping design).
    */
  private def mappingAt(spark: SparkSession, path: String,
      v: Long): Map[String, String] = {
    val rens = logRecords(spark, path)
      .filter(r => r.action == "rename" && r.v <= v && r.ren.isDefined)
      .sortBy(_.v)
    var m = Map.empty[String, String]
    rens.foreach { r =>
      val (from, to) = r.ren.get
      val phys = m.getOrElse(from, from)
      m = m - from + (to -> phys)
    }
    m
  }

  /** logical → physical under the mapping at `v` (identity for
    * unmapped names — including retired and physical names, which
    * is what lets mutators pass record-sourced physical names
    * straight back through the write path).
    */
  private def physOf(spark: SparkSession, path: String, v: Long,
      name: String): String =
    mappingAt(spark, path, v).getOrElse(name, name)

  /** Rename a column as ONE metadata commit — no file-group is read
    * or rewritten. Old groups stay readable (they carry the physical
    * name, which never changes), new writes keep producing the
    * physical name, and time travel at a pre-rename version serves
    * the OLD logical name (the schema and mapping both resolve at
    * the read version). Reuse of any name the table has EVER carried
    * (logical or physical) is rejected: allowing it would let a new
    * lineage collide with retired physical names inside the shared
    * parquet namespace. Drops and retypes stay rejected (see
    * [[checkSchema]]).
    */
  def renameColumn(spark: SparkSession, path: String, from: String,
      to: String): Long = {
    var attempt = 0
    while (true) {
      val cur = schemaAt(spark, path, Long.MaxValue).getOrElse(
        sys.error(s"VersionedStore.renameColumn: $path has no " +
          "schema yet (append first)"))
      require(cur.fieldNames.contains(from),
        s"VersionedStore.renameColumn: no column `$from` at $path " +
          s"(schema: ${cur.fieldNames.mkString(", ")})")
      require(!everUsedNames(spark, path).contains(to),
        s"VersionedStore.renameColumn: `$to` was already used by " +
          s"this table's history at $path — renaming to a " +
          "previously-used name would collide with its physical " +
          "namespace")
      val newSchema = org.apache.spark.sql.types.StructType(
        cur.fields.map(f =>
          if (f.name == from) f.copy(name = to) else f))
      val v = latestVersion(spark, path) + 1
      try return commitAt(spark, path, v, Seq.empty, Seq.empty,
        renames = Seq((from, to, newSchema.json)))
      catch {
        case _: CommitConflict =>
          attempt += 1
          if (attempt >= 5) sys.error(
            s"VersionedStore.renameColumn: lost 5 version races " +
              s"at $path — giving up")
        // loop: revalidate against the winner's schema and retry
      }
    }
    -1L // unreachable
  }

  /** Drop a column as ONE metadata commit — the dual of
    * [[renameColumn]] under the same log-carried column mapping: no
    * file-group is read or rewritten; the column's bytes stay in
    * place (old groups keep their physical schema), the table schema
    * shrinks, and every read at the current version simply never
    * scans the column (parquet column pruning — dropping a 100 TB
    * table's widest column costs one KB-scale commit). Time travel
    * at a pre-drop version still serves it, until [[vacuum]] retires
    * the pre-drop versions; [[restore]] across the drop resurrects
    * it (the schema anchor). The dropped name — like every name the
    * table ever carried — can never be reused ([[checkSchema]]):
    * re-adding it would read the retired lineage's surviving bytes
    * in old groups as the new column's values.
    *
    * Columns referenced by a table constraint must be released from
    * the constraint first — otherwise every later append would fail
    * its validation against a column that no longer exists.
    */
  def dropColumn(spark: SparkSession, path: String,
      name: String): Long = {
    var attempt = 0
    while (true) {
      val cur = schemaAt(spark, path, Long.MaxValue).getOrElse(
        sys.error(s"VersionedStore.dropColumn: $path has no " +
          "schema yet (append first)"))
      require(cur.fieldNames.contains(name),
        s"VersionedStore.dropColumn: no column `$name` at $path " +
          s"(schema: ${cur.fieldNames.mkString(", ")})")
      require(cur.fields.length > 1,
        s"VersionedStore.dropColumn: `$name` is the only column " +
          s"at $path — a table cannot have zero columns")
      val gated = constraintsOf(spark, path)
        .filter(_.referencedColumns.exists(_.equalsIgnoreCase(name)))
      require(gated.isEmpty,
        s"VersionedStore.dropColumn: column `$name` at $path is " +
          s"referenced by ${gated.size} table constraint(s) — " +
          "release them via setConstraints first")
      val phys = physOf(spark, path, Long.MaxValue, name)
      val newSchema = org.apache.spark.sql.types.StructType(
        cur.fields.filterNot(_.name == name))
      val v = latestVersion(spark, path) + 1
      try return commitAt(spark, path, v, Seq.empty, Seq.empty,
        drops = Seq((name, phys, newSchema.json)))
      catch {
        case _: CommitConflict =>
          attempt += 1
          if (attempt >= 5) sys.error(
            s"VersionedStore.dropColumn: lost 5 version races " +
              s"at $path — giving up")
        // loop: revalidate against the winner's schema and retry
      }
    }
    -1L // unreachable
  }

  /** True when retyping `from` → `to` is lineage-safe: every value
    * representable under `from` is exactly representable under `to`,
    * and the parquet reader serves old-typed groups under the new
    * type natively (Spark 4's widening type promotions in the
    * vectorized reader — verified by RetypeEvolutionSpec). Integral
    * upcasts, float→double, and decimal growth that never shrinks
    * scale or integer digits qualify; everything else is refused.
    */
  private def isWideningRetype(
      from: org.apache.spark.sql.types.DataType,
      to: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    (from, to) match {
      case (ByteType, ShortType | IntegerType | LongType) => true
      case (ShortType, IntegerType | LongType) => true
      case (IntegerType, LongType) => true
      case (FloatType, DoubleType) => true
      case (f: DecimalType, t: DecimalType) =>
        t.scale >= f.scale &&
          (t.precision - t.scale) >= (f.precision - f.scale)
      case _ => false
    }
  }

  /** Widen a column's type as ONE metadata commit — the
    * `ALTER TABLE … ALTER COLUMN … TYPE` shape for the
    * lineage-safe widening family (int→long, float→double, decimal
    * precision/scale growth): no file-group is read or rewritten.
    * Old groups keep their physical bytes and read under the new
    * type through the parquet reader's widening promotion (the scan
    * schema is explicit); new writes produce the new type; time
    * travel below the retype serves the version's OWN (narrow) type,
    * because [[schemaAt]] resolves per version. Narrowing,
    * cross-family, and nested retypes are refused loudly — they
    * cannot be served without rewriting or silent loss.
    */
  def retypeColumn(spark: SparkSession, path: String, name: String,
      to: org.apache.spark.sql.types.DataType): Long = {
    val cur = schemaAt(spark, path, Long.MaxValue).getOrElse(
      sys.error(s"VersionedStore.retypeColumn: $path has no " +
        "schema yet (append first)"))
    require(cur.fieldNames.contains(name),
      s"VersionedStore.retypeColumn: no column `$name` at $path " +
        s"(schema: ${cur.fieldNames.mkString(", ")})")
    val from = cur(name).dataType
    if (from == to) return latestVersion(spark, path)
    require(isWideningRetype(from, to),
      s"VersionedStore.retypeColumn: ${from.simpleString} → " +
        s"${to.simpleString} on `$name` is not a lineage-safe " +
        "widening (supported: byte/short/int upcasts to wider " +
        "integers, float→double, decimal growth that shrinks " +
        "neither scale nor integer digits) — rewrite the table " +
        "through CTAS for anything else")
    val newSchema = org.apache.spark.sql.types.StructType(
      cur.fields.map(f =>
        if (f.name == name) f.copy(dataType = to) else f))
    commitRetrying(spark, path, Nil, Nil,
      schemaAnchor = Some(newSchema.json))
  }

  /** Reorder a column as ONE metadata commit — the
    * `ALTER TABLE … ALTER COLUMN … FIRST / AFTER other` shape:
    * nothing rewrites (groups read by explicit per-name scan
    * schemas, so physical field order inside any file never
    * mattered), the table schema simply serves the new order from
    * this version on, and time travel serves each version's own
    * order. `after` None = FIRST.
    */
  def moveColumn(spark: SparkSession, path: String, name: String,
      after: Option[String]): Long = {
    val cur = schemaAt(spark, path, Long.MaxValue).getOrElse(
      sys.error(s"VersionedStore.moveColumn: $path has no schema " +
        "yet (append first)"))
    require(cur.fieldNames.contains(name),
      s"VersionedStore.moveColumn: no column `$name` at $path " +
        s"(schema: ${cur.fieldNames.mkString(", ")})")
    after.foreach(a => require(
      cur.fieldNames.contains(a) && a != name,
      s"VersionedStore.moveColumn: AFTER column `$a` at $path is " +
        "not a different existing column"))
    val f = cur.fields.find(_.name == name).get
    val rest = cur.fields.filterNot(_.name == name)
    val newFields = after match {
      case None => f +: rest
      case Some(a) =>
        val i = rest.indexWhere(_.name == a)
        (rest.take(i + 1) :+ f) ++ rest.drop(i + 1)
    }
    if (newFields.map(_.name).toSeq == cur.fieldNames.toSeq)
      return latestVersion(spark, path)
    commitRetrying(spark, path, Nil, Nil,
      schemaAnchor = Some(org.apache.spark.sql.types
        .StructType(newFields).json))
  }

  /** Read file-groups under the table schema of version `v`: groups
    * written before an additive schema evolution simply yield NULL
    * for the columns they predate (the parquet reader fills missing
    * columns when the scan schema is explicit — no footer-merging
    * pass over every file, the Delta/Iceberg schema-in-log design).
    */
  private def readFids(spark: SparkSession, path: String,
      fids: Seq[Long], v: Long): DataFrame = {
    val paths = groupDirs(spark, path, fids)
    schemaAt(spark, path, v) match {
      case Some(s) =>
        val m = mappingAt(spark, path, v)
        if (m.isEmpty) zonePrunedScan(spark, path, fids, s)
        else {
          // column mapping: scan under PHYSICAL names (what every
          // group actually carries), serve LOGICAL names at `v` —
          // one zero-cost projection, no data touched
          val phys = org.apache.spark.sql.types.StructType(
            s.fields.map(f =>
              f.copy(name = m.getOrElse(f.name, f.name))))
          zonePrunedScan(spark, path, fids, phys)
            .select(s.fields.map(f =>
              col(m.getOrElse(f.name, f.name)).as(f.name)): _*)
        }
      case None => spark.read.parquet(paths: _*)
    }
  }

  /** The multi-group parquet scan behind every schema-tracked store
    * read. Groups carrying ZONE HULLS plan through a
    * [[graft.sources.GroupZoneFileIndex]] — the query's pushed data
    * filters prune whole file-groups at PLAN time (the lakehouse
    * file-skipping design; `WHERE day = 5` over a day-clustered
    * table scans only the surviving groups). Stores with no zones
    * anywhere keep the plain multi-path scan — identical plans, zero
    * new overhead on the unclustered majority.
    */
  private def zonePrunedScan(spark: SparkSession, path: String,
      fids: Seq[Long],
      scanSchema: org.apache.spark.sql.types.StructType): DataFrame = {
    val dirs = groupDirs(spark, path, fids)
    val zones = groupZones(spark, path)
    def hulls(fid: Long): Seq[ColZone] = zones.getOrElse(fid, Nil)
    if (fids.forall(fid => hulls(fid).isEmpty))
      return spark.read.schema(scanSchema).parquet(dirs: _*)
    val conf = spark.sparkContext.hadoopConfiguration
    val groups = fids.zip(dirs).map { case (fid, dir) =>
      val d = new Path(dir)
      val files =
        if (!d.getFileSystem(conf).exists(d)) Nil
        else parquetFiles(d, conf)
      graft.sources.GroupZoneFileIndex.GroupFiles(dir, files,
        hulls(fid))
    }
    graft.sources.GroupZoneFileIndex.scan(spark, groups, scanSchema)
  }

  /** The parquet data files of one existing group dir. */
  private[graft] def parquetFiles(dir: Path,
      conf: org.apache.hadoop.conf.Configuration)
      : Seq[org.apache.hadoop.fs.FileStatus] =
    dir.getFileSystem(conf).listStatus(dir).toSeq.filter(st =>
      st.isFile && st.getPath.getName.endsWith(".parquet"))

  /** The Spark schema a group was written with, from one part's
    * footer, read on the driver (a `spark.read.parquet` without a
    * schema runs a Spark job to infer it).
    */
  private def footerSchema(spark: SparkSession, dir: Path): StructType = {
    import org.apache.spark.sql.execution.datasources.parquet.{
      ParquetFileFormat, ParquetToSparkSchemaConverter}
    val state = spark
      .asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionState
    val conf = state.newHadoopConf()
    val file = parquetFiles(dir, conf).head.getPath
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(file, conf))
    val footer = try reader.getFooter finally reader.close()
    ParquetFileFormat.readSchemaFromFooter(
      new org.apache.parquet.hadoop.Footer(file, footer),
      new ParquetToSparkSchemaConverter(state.conf))
  }

  /** The schema gate every mutating batch passes before anything is
    * written: dropping or retyping a table column is always rejected
    * (older file-groups could not be read under the new schema
    * without silent loss — and because the newest add record's
    * schema BECOMES the table schema via [[schemaAt]], a retyping
    * batch would poison every later read of every older group);
    * added columns are rejected unless the operation supports
    * explicit evolution (`canEvolve`) and the caller asked for it —
    * never silently projected away.
    */
  private def checkSchema(df: DataFrame, path: String, op: String,
      canEvolve: Boolean): Unit =
    schemaAt(df.sparkSession, path, Long.MaxValue).foreach { cur =>
      val newFields = df.schema.fields.map(f => f.name -> f.dataType).toMap
      val missing = cur.fields.filterNot(f =>
        newFields.get(f.name).contains(f.dataType))
      if (missing.nonEmpty) {
        // a batch whose STRUCT column lacks fields the (possibly
        // nested-evolved) table schema carries is the common near
        // miss — name the real fix instead of "drops or retypes"
        val narrowed = missing.flatMap { f =>
          (f.dataType, newFields.get(f.name)) match {
            case (t: org.apache.spark.sql.types.StructType,
                Some(b: org.apache.spark.sql.types.StructType))
                if b.fieldNames.toSet.subsetOf(
                  t.fieldNames.toSet) &&
                  b.fields.forall(bf =>
                    t.find(_.name == bf.name)
                      .exists(_.dataType == bf.dataType)) =>
              Some(s"${f.name} (batch lacks nested field(s) " +
                s"${(t.fieldNames.toSet -- b.fieldNames.toSet)
                  .toSeq.sorted.mkString(", ")})")
            case _ => None
          }
        }
        if (narrowed.nonEmpty) sys.error(
          s"VersionedStore.$op: batch struct column(s) " +
            s"${narrowed.mkString("; ")} are narrower than the " +
            "table schema — supply the full struct (missing nested " +
            "fields are never silently NULL-padded; cast the batch " +
            "to the table's struct type with explicit NULLs)")
        sys.error(
          s"VersionedStore.$op: batch schema drops or retypes " +
            s"table columns ${missing.map(_.name).mkString(", ")} — " +
            "existing file-groups could not be read under it")
      }
      val added = df.schema.fieldNames.toSet -- cur.fieldNames.toSet
      if (added.nonEmpty && !canEvolve) sys.error(
        s"VersionedStore.$op: batch adds columns " +
          s"${added.mkString(", ")} — schema evolution is additive " +
          "and explicit: append with evolve=true (never silently " +
          "projected away)")
      // column mapping: an added column may not reuse ANY name this
      // table has ever carried (a renamed-away physical name, a
      // dropped column) — the new lineage would collide with the old
      // one's bytes inside the shared parquet namespace
      val retired = everUsedNames(df.sparkSession, path) --
        cur.fieldNames
      val reuse = added.filter(retired)
      if (reuse.nonEmpty) sys.error(
        s"VersionedStore.$op: added column(s) " +
          s"${reuse.mkString(", ")} reuse a renamed-away or " +
          "dropped column name — pick a name this table has never " +
          "carried")
    }

  private def nextFid(spark: SparkSession, path: String): Long = {
    val as = actions(spark, path, Long.MaxValue)
    (0L +: as.map(_._3)).max + 1
  }

  /** Atomically claim `count` fresh fids via create-no-overwrite
    * marker files under `data/.fidclaims` — the allocation half of
    * safe concurrency, BEFORE the commit protocol even runs: two
    * writers racing from the same snapshot would otherwise both
    * compute maxFid+1 and stage into the SAME data dir, the slower
    * writeGroup silently clobbering the faster writer's (possibly
    * already committed) bytes. With claims the slower create fails
    * and that writer slides to the next fid, so racing mutations
    * stage into DISJOINT dirs and [[commitRetrying]]'s rebase can
    * land racing appends BOTH — with nothing corrupted. A crashed
    * claim leaves a skipped fid (a harmless hole — fids are never
    * reused); claims for fids the log already names are redundant
    * and GC'd by [[vacuum]]. The same rename/create atomicity
    * assumption as the commit protocol itself (HDFS-like stores).
    */
  /** In-JVM serialization of claim attempts: cross-PROCESS atomicity
    * comes from HDFS's exclusive create (the same durability
    * contract the commit rename already assumes), but a raw local
    * filesystem's create-no-overwrite is check-then-act — two
    * threads of ONE driver could both pass the exists check. The
    * lock closes the in-process window everywhere; on HDFS it is
    * merely redundant.
    */
  private val claimLock = new Object

  /** Per-JVM high-water mark of claimed fids, per store path. The
    * claims-dir LISTING below is only a fast-start hint (correctness
    * is carried entirely by the exclusive create: starting too low
    * just fails forward over taken fids, starting too high just
    * leaves harmless holes) — so after the first claim, this JVM's
    * own mark replaces the listing and a multi-commit build pays ONE
    * metadata RPC per claim instead of an O(claims) listing per
    * commit (the q337/q338 dbt-incremental cost the r15 close-out
    * flagged). A concurrent claimer from another process costs this
    * JVM a few extra failed creates (slide-forward), exactly as a
    * stale listing would.
    */
  private val claimHighWater =
    new java.util.concurrent.ConcurrentHashMap[String, Long]

  private def claimFids(spark: SparkSession, path: String,
      count: Int): Seq[Long] = claimLock.synchronized {
    if (count == 0) return Seq.empty
    requireExclusive("claimFids")
    val f = fs(spark, path)
    val dir = new Path(s"$path/data/.fidclaims")
    val logMax =
      (0L +: actions(spark, path, Long.MaxValue).map(_._3)).max
    val hint = Option(claimHighWater.get(path)) match {
      case Some(h) => math.max(h, logMax)
      case None =>
        if (!f.exists(dir)) f.mkdirs(dir)
        val claimed = f.listStatus(dir).toSeq
          .map(_.getPath.getName)
          .filter(_.matches("f\\d+")).map(_.drop(1).toLong)
        ((0L +: claimed) :+ logMax).max
    }
    var cand = hint + 1
    val got = scala.collection.mutable.ArrayBuffer.empty[Long]
    while (got.size < count) {
      val ok = logStoreImpl
        .createExclusive(f, new Path(dir, s"f$cand"))
      if (ok) got += cand
      cand += 1
    }
    claimHighWater.put(path, got.max)
    got.toSeq
  }

  /** Append `df` as one new immutable file-group; returns the new
    * version. A crash before the final log rename leaves an orphan
    * data dir that no reader can see (vacuum reclaims it); the
    * overwrite mode reclaims a previous crash's orphan at this fid.
    * `statsCol` commits the group with an integral zone on that
    * column and marks it as the store's clustering key — feed every
    * append the same column to arm key-range pruning in
    * [[merge]]/[[deleteWhere]].
    *
    * Schema evolution is additive and explicit: an append whose
    * schema adds columns to the table schema requires
    * `evolve = true` (old file-groups then read as NULL in the new
    * columns — the scan schema is explicit, so no footer pass);
    * dropping a column or changing a column's type is rejected
    * outright, because existing groups could not be read under the
    * new schema without silent data loss.
    */
  def append(df: DataFrame, path: String,
      statsCol: Option[String] = None,
      evolve: Boolean = false,
      zoneCols: Seq[String] = Nil,
      bloomCols: Seq[String] = Nil): Long = {
    val spark = df.sparkSession
    // caller-supplied metadata columns must exist in the batch —
    // writeGroup's silent filter is for INTERNALLY propagated names
    // (which may legitimately name a since-dropped lineage), and
    // letting a caller typo through it would silently disarm
    // stats/zone/bloom pruning for this append
    requireCols(df, "append", statsCol.toSeq ++ zoneCols ++ bloomCols)
    checkSchema(df, path, "append", canEvolve = evolve)
    validate(df, path)
    val propag = storePropagation(spark, path)
    val Seq(fid) = claimFids(spark, path, 1)
    commit(spark, path,
      Seq(writeGroup(df, path, fid, statsCol,
        zoneCols ++ propag._1, bloomCols ++ propag._2)),
      Seq.empty)
  }

  /** Atomic full replace — the INSERT OVERWRITE semantic as ONE
    * commit: the incoming batch lands as a fresh group and every
    * live data group AND deletion vector retires in the same log
    * record, so a reader serves either the entire old content or
    * the entire new content, never a truncated middle (the
    * two-commit delete-then-append spelling has exactly that
    * window). Time travel below the returned version still serves
    * the old content until vacuum. The batch passes the same write
    * gates as [[append]]: schema compatibility (additive evolution
    * only, behind `evolve`), constraints, stats/zone/bloom arming +
    * propagation.
    */
  def overwrite(df: DataFrame, path: String,
      statsCol: Option[String] = None,
      evolve: Boolean = false,
      zoneCols: Seq[String] = Nil,
      bloomCols: Seq[String] = Nil,
      clusterBy: Seq[String] = Nil): Long = {
    val spark = df.sparkSession
    requireCols(df, "overwrite",
      statsCol.toSeq ++ zoneCols ++ bloomCols ++ clusterBy)
    checkSchema(df, path, "overwrite", canEvolve = evolve)
    validate(df, path)
    val v = latestVersion(spark, path)
    val retire = liveFids(spark, path, v) ++
      liveDvFids(spark, path, v)
    val propag = storePropagation(spark, path)
    // structural guard, same rule as compact: a concurrent APPEND
    // commutes (overwrite-then-append keeps its rows — a
    // serializable order), but a concurrent DV would outlive the
    // retirement list computed at this snapshot and could mask the
    // FRESH group's rows (DV precedence is by fid, and the claim
    // order is unknowable) — abort, redo against the new snapshot
    val adds =
      if (clusterBy.nonEmpty)
        clusteredAdds(df, path, clusterBy, 64, statsCol)
      else {
        val Seq(fid) = claimFids(spark, path, 1)
        Seq(writeGroup(df, path, fid, statsCol,
          zoneCols ++ propag._1, bloomCols ++ propag._2))
      }
    commit(spark, path, adds, retire, guard = Some((v, _ => true)))
  }

  /** Table property carrying the declared clustering columns — the
    * catalog's `CREATE TABLE … PARTITIONED BY (c1, c2)` records its
    * identity transforms here, and every write path consults it:
    * batch inserts land range-clustered on these columns
    * ([[appendClustered]]), `OPTIMIZE` defaults its layout to them,
    * and the streaming sink arms zone stats on them. This maps the
    * standard partitioning DDL onto the store's clustered layout +
    * zone pruning (the engine's answer to the reference's
    * date-partitioned year/month/day tree —
    * reference: partitioner.py:7-25) without the small-files
    * pathology of one physical directory per value.
    */
  private[graft] val ClusterByProp = "graft.cluster-by"

  /** The declared clustering columns (LOGICAL names), empty when the
    * table was created without PARTITIONED BY.
    */
  def clusterByOf(spark: SparkSession, path: String): Seq[String] =
    propertiesOf(spark, path).get(ClusterByProp).toSeq
      .flatMap(_.split(',').map(_.trim).filter(_.nonEmpty))

  /** [[append]] with the batch range-clustered on `clusterBy` into
    * up to `maxGroups` file-groups in ONE commit: each group covers
    * a disjoint key range with its own zone hull, so a predicate on
    * the clustering columns prunes whole groups of this batch — the
    * Hive-partitioned-insert semantic expressed as clustering, with
    * the group count bounded (a high-cardinality clustering column
    * can never explode into one directory per value; at 100 TB the
    * file-count cap is the difference between a listing and a
    * listing storm). Batches with few distinct keys get one group
    * per key (exact pruning); the same write gates as [[append]].
    */
  def appendClustered(df: DataFrame, path: String,
      clusterBy: Seq[String],
      maxGroups: Int = 64,
      statsCol: Option[String] = None): Long = {
    require(clusterBy.nonEmpty,
      "VersionedStore.appendClustered: clusterBy is empty")
    val spark = df.sparkSession
    requireCols(df, "appendClustered", clusterBy ++ statsCol.toSeq)
    checkSchema(df, path, "appendClustered", canEvolve = false)
    validate(df, path)
    val adds = clusteredAdds(df, path, clusterBy, maxGroups, statsCol)
    commit(spark, path, adds, Seq.empty)
  }

  /** Write `df` as up to `maxGroups` range-clustered groups and
    * return their adds — the shared body of [[appendClustered]] and
    * the clustered [[overwrite]]. Zone stats are armed on the
    * clustering columns plus everything the live groups already
    * propagate.
    */
  private def clusteredAdds(df: DataFrame, path: String,
      clusterBy: Seq[String], maxGroups: Int,
      statsCol: Option[String]): Seq[GroupAdd] = {
    val spark = df.sparkSession
    val propag = storePropagation(spark, path)
    val zoneCols = (clusterBy ++ propag._1).distinct
    // one cheap probe bounds the group count by the batch's actual
    // key cardinality: a batch of 3 dates lands as 3 groups (exact
    // per-value pruning), a batch of 10k keys as maxGroups ranges.
    // The probe COLLECTS the (≤ maxGroups+1) key values, not just
    // their count: when the full key set is in hand, groups are
    // assigned by VALUE below — no range-sampling job, no range
    // exchange (rewriteGroups' salt shuffle is the only one).
    val probed = df.select(clusterBy.map(col): _*)
      .distinct().limit(maxGroups + 1).collect()
    val distinct = probed.length
    val numGroups = math.max(1, math.min(distinct, maxGroups))
    if (numGroups == 1) {
      val Seq(fid) = claimFids(spark, path, 1)
      return Seq(writeGroup(
        df.sortWithinPartitions(clusterBy.map(col): _*), path, fid,
        statsCol, zoneCols, propag._2))
    }
    val newFids = claimFids(spark, path, numGroups)
    // no sortWithinPartitions here: rewriteGroups' salt repartition
    // redistributes each bucket over writer tasks anyway, so a
    // pre-sort is pure wasted work — group membership (and therefore
    // every zone hull) is fixed by the bucket assignment alone
    val bucketed =
      if (distinct <= maxGroups) {
        // exact per-value buckets from the probed key set. The when-
        // chain is total by construction (the probe enumerated every
        // distinct value); zone hulls are aggregated from each
        // group's ACTUAL written content, so pruning stays sound
        // regardless of which bucket a row lands in.
        val ordered = probed.sortBy(_.toString)
        val conds = ordered.zipWithIndex.map { case (r, i) =>
          (clusterBy.zipWithIndex.map { case (c, j) =>
            col(c) <=> lit(r.get(j)) }.reduce(_ && _), i)
        }
        val idx = conds.init.tail.foldLeft(
          when(conds.head._1, lit(0))) { case (acc, (cond, i)) =>
            acc.when(cond, lit(i)) }
          .otherwise(lit(conds.last._2))
        df.withColumn("_vs_fid", idx.cast("long"))
      } else df
        .repartitionByRange(numGroups, clusterBy.map(col): _*)
        .withColumn("_vs_fid", spark_partition_id().cast("long"))
    val fidOf = (0 until numGroups).map(b => b.toLong -> newFids(b))
    // empty range buckets (sampling, small batches) become no group
    rewriteGroups(spark, path, bucketed, fidOf, statsCol, zoneCols,
      propag._2).filter(_.n > 0)
  }

  /** Zone columns maintained by the store's LIVE groups (union of
    * commit-record zone column names) — mutators feed these back to
    * [[writeGroup]] so the discipline self-propagates: one zoned
    * append arms the column for every later rewrite/compaction.
    * Unzoned groups never make pruning unsound (they are always
    * candidates); propagation just keeps the pruning SHARP. A
    * group's zone on its own `statsCol` marker column is left out:
    * that hull propagates with the marker, through [[storeStatsCol]],
    * only while every live group carries it — so a later append
    * without `statsCol` stays unzoned on that column.
    *
    * (zone cols, bloom cols) of the LIVE groups resolved in ONE log
    * pass — the mutators' propagation lookup. Separate
    * `storeZoneCols` + `storeBloomCols` calls each re-list the log
    * dir; at object-store latency per-commit metadata RPCs add up,
    * so every internal caller goes through this fused form.
    */
  private def storePropagation(spark: SparkSession,
      path: String): (Seq[String], Seq[String]) = {
    val recs = logRecords(spark, path)
    val live = liveOf(
      recs.map(r => (r.v, r.action, r.fid, r.rows)), "add").toSet
    val liveAdds = recs.filter(r => r.action == "add" && live(r.fid))
    (liveAdds.flatMap(r => r.zones.map(_.c).filterNot(r.stats.contains))
      .distinct.sorted,
      liveAdds.flatMap(_.blooms).distinct.sorted)
  }

  def storeZoneCols(spark: SparkSession, path: String): Seq[String] =
    storePropagation(spark, path)._1

  /** Bloom-armed columns across LIVE groups — like
    * [[storeZoneCols]], mutators feed these back so one bloom-armed
    * append keeps every later rewrite/compaction armed. Groups
    * without a sidecar never make pruning unsound (always
    * candidates).
    */
  def storeBloomCols(spark: SparkSession,
      path: String): Seq[String] =
    storePropagation(spark, path)._2

  /** Content at version `v` (error if nothing is visible — an empty
    * store has no schema to return).
    *
    * The log is the source of truth for liveness, so a LATEST-version
    * read issues zero per-group existence RPCs — vacuum only ever
    * reclaims groups invisible at the latest version, so every fid
    * the log says is live IS on disk. Only a time-travel read
    * (`v < latestVersion`) can land below the vacuum horizon, and
    * only those pay the existence sweep that turns a vacuumed-past
    * read into a friendly error instead of a mid-scan failure. At
    * object-store latency an O(groups) exists sweep on every serve
    * read would dwarf log resolution itself.
    */
  def readAt(spark: SparkSession, path: String, v: Long): DataFrame = {
    val fids = liveFids(spark, path, v)
    if (fids.isEmpty)
      // a version with no live groups but a TRACKED schema (a
      // declared-schema CREATE TABLE before its first insert, an
      // overwritten-empty window) serves the empty relation in the
      // declared shape; schema-less emptiness stays a loud error
      return schemaAt(spark, path, v) match {
        case Some(sch) => spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], sch)
        case None => sys.error(
          s"VersionedStore.readAt: version $v of $path is empty " +
            "(or vacuumed past)")
      }
    // FOREIGN (cloned-in) groups are swept at every version: the
    // zero-RPC latest-read argument — "vacuum only reclaims groups
    // invisible at the latest version" — holds for this store's own
    // log, but a SOURCE store's vacuum never consults its clones, so
    // a clone's latest can dangle. Non-clone stores have no foreign
    // groups and still pay zero existence RPCs on latest reads.
    val foreign = logRecords(spark, path)
      .collect { case r if r.loc.isDefined => r.fid }.toSet
    val sweep =
      if (v < latestVersion(spark, path))
        fids ++ liveDvFids(spark, path, v)
      else (fids ++ liveDvFids(spark, path, v)).filter(foreign)
    if (sweep.nonEmpty) {
      sweep.foreach { fid =>
        if (!groupExists(spark, path, fid)) sys.error(
          s"VersionedStore.readAt: file-group f$fid of version $v " +
            s"was vacuumed — raise the vacuum retention horizon" +
            (if (foreign(fid)) " on the clone SOURCE" else ""))
      }
    }
    visibleAt(spark, path, v, fids)
  }

  /** Latest content. */
  def read(spark: SparkSession, path: String): DataFrame =
    readAt(spark, path, latestVersion(spark, path))

  /** Latest rows with `keyCol` in [lo, hi] — the serve-path
    * complement of the mutation-path pruning: when live groups carry
    * an integral zone on `keyCol`, only the file-groups whose
    * zone overlaps the range are scanned at all (plus the residual
    * filter, which parquet min/max pushdown sharpens further inside
    * each group); otherwise a plain filtered read. On a
    * range-clustered store a narrow range touches O(1) groups
    * regardless of table size.
    */
  def readRange(spark: SparkSession, path: String, keyCol: String,
      lo: Long, hi: Long): DataFrame = {
    val v = latestVersion(spark, path)
    val resid = col(keyCol).cast("long").between(lo, hi)
    if (zoneArmed(spark, path, v, keyCol)) {
      val fids = candidateFids(spark, path, v, keyCol, lo, hi)
      if (fids.isEmpty) readAt(spark, path, v).filter(lit(false))
      else visibleAt(spark, path, v, fids).filter(resid)
    } else readAt(spark, path, v).filter(resid)
  }

  /** [[readRange]] on a STRING key: latest rows with `keyCol` in
    * [lo, hi] under UTF8 binary order, scanning only the file-groups
    * whose string zone overlaps the range (the multi-column zones in
    * commit records are what make this possible — the store-native
    * analog of the zone-map rule's string hulls, resolved at
    * file-list time so freshness is automatic: the log IS the
    * manifest, and a commit can never leave it stale).
    */
  def readRangeStr(spark: SparkSession, path: String, keyCol: String,
      lo: String, hi: String): DataFrame = {
    val v = latestVersion(spark, path)
    val resid = col(keyCol) >= lo && col(keyCol) <= hi
    if (zoneArmed(spark, path, v, keyCol)) {
      val fids = candidateFidsStr(spark, path, v, keyCol, lo, hi)
      if (fids.isEmpty) readAt(spark, path, v).filter(lit(false))
      else visibleAt(spark, path, v, fids).filter(resid)
    } else readAt(spark, path, v).filter(resid)
  }

  /** File-groups a point lookup on `keyCol` = `value` must scan:
    * zone hulls prune first (driver-side, zero I/O), then each
    * surviving group's Bloom SIDECAR — loaded once per JVM — vetoes
    * groups that provably don't hold the key. Groups without a
    * sidecar are always candidates (sound). On a bloom-armed store a
    * point lookup opens O(1 + fpp·groups) file-groups instead of
    * every group whose zone spans the key — the file-skipping index
    * of the public designs, carried as sidecars with only the column
    * names in the log. Only integral (Byte, Short, Int, Long) and
    * String probes prune; any other probe type keeps every live group
    * a candidate. The answer feeds [[readPoint]], which decodes small
    * candidate sets on the driver and scans larger ones with Spark.
    */
  private[graft] def pointCandidates(spark: SparkSession,
      path: String, v: Long, keyCol: String,
      value: Any): Seq[Long] = {
    // zones and Bloom sidecars answer integral and String probes
    // only (BloomFilter.mightContain THROWS on anything else) — an
    // unsupported probe type (Double, Timestamp, …) must degrade to
    // "unpruned candidate", never crash the read path
    val b = PruneBounds.point(value)
    val probe = b.flatMap(_.lo)
    val zoneCand = b.fold(liveFids(spark, path, v))(
      zoneCandidates(spark, path, v, keyCol, _))
    val pk = physOf(spark, path, v, keyCol) // sidecars: PHYSICAL names
    val armed = logRecords(spark, path)
      .collect { case r if r.action == "add" &&
        r.blooms.contains(pk) => r.fid }.toSet
    zoneCand.filter { fid =>
      probe.isEmpty || !armed(fid) ||
        loadBloom(spark, path, fid, pk)
          .forall(_.mightContain(probe.get))
    }
  }

  /** Candidate parquet bytes up to which [[readPoint]] decodes on the
    * driver instead of running a Spark job: the measured crossover.
    * A job costs a fixed ~60-85 ms (planning, scheduling, a task) and
    * barely grows with the bytes of one point read. The driver's
    * worst case — no row group or page pruned, every row decoded —
    * grows with them: on a 4-vCPU VM, one 7-column group decoded in
    * 49 ms at 0.6 MB, 70 ms at 4.2 MB and 88 ms at 6.2 MB.
    */
  private[operators] val PointLocalMaxBytes: Long = 4L << 20

  /** Latest rows with `keyCol` = `value` — the point-lookup serve
    * path. [[pointCandidates]] prunes via zones + Bloom sidecars; the
    * residual equality settles exactness inside the few opened
    * groups. When the candidates hold at most [[PointLocalMaxBytes]]
    * of parquet, the store tracks a schema and no deletion vector is
    * live, the driver decodes them ([[readPointLocal]]) and the frame
    * is a local relation: collecting it runs no Spark job. Otherwise
    * (or when a candidate dir is missing) the candidates are scanned
    * by Spark, as every other read is. No candidates at all serves
    * the empty local relation in the table's schema.
    */
  def readPoint(spark: SparkSession, path: String, keyCol: String,
      value: Any): DataFrame = {
    val v = latestVersion(spark, path)
    val cand = pointCandidates(spark, path, v, keyCol, value)
    val resid = col(keyCol) === lit(value)
    if (cand.isEmpty) schemaAt(spark, path, v)
      .map(s => StoreSqlShims.ofRows(spark, localRelation(s, Nil)))
      .getOrElse(readAt(spark, path, v).filter(lit(false)))
    else readPointLocal(spark, path, v, cand, keyCol, value, resid)
      .getOrElse(visibleAt(spark, path, v, cand).filter(resid))
  }

  /** A local relation over `rows` decoded under `schema`'s field
    * order, every field nullable as a file scan's are.
    */
  private def localRelation(
      schema: org.apache.spark.sql.types.StructType,
      rows: Seq[org.apache.spark.sql.catalyst.InternalRow])
      : org.apache.spark.sql.catalyst.plans.logical.LocalRelation =
    org.apache.spark.sql.catalyst.plans.logical.LocalRelation(
      org.apache.spark.sql.catalyst.types.DataTypeUtils.toAttributes(
        StoreSqlShims.nullable(schema)),
      rows)

  /** [[readPoint]]'s driver path: the candidate groups' rows with
    * `resid` true, decoded here by Spark's own parquet reader under
    * the PHYSICAL schema at `v` and served under the logical one —
    * the same columns, in the same order, as [[readFids]]; columns a
    * group predates read NULL. `pk = value` is pushed to the reader
    * for row-group and page-index pruning (it refuses a value whose
    * type does not match the column). `resid` is analyzed once
    * against the relation's attributes — the coercion and NULL
    * semantics of a Spark filter — and evaluated while decoding, so
    * only matching rows are copied and the frame is a bare local
    * relation. None when the Spark path must serve: no tracked
    * schema, a live deletion vector, a missing candidate dir, or more
    * than [[PointLocalMaxBytes]] of candidate files.
    */
  private def readPointLocal(spark: SparkSession, path: String,
      v: Long, fids: Seq[Long], keyCol: String, value: Any,
      resid: Column): Option[DataFrame] = {
    import org.apache.spark.sql.catalyst.plans.logical.{Filter,
      LocalRelation}
    val schema = schemaAt(spark, path, v)
    if (schema.isEmpty || liveDvFids(spark, path, v).nonEmpty)
      return None
    val conf = spark.sparkContext.hadoopConfiguration
    val dirs = groupDirs(spark, path, fids).map(new Path(_))
    if (!dirs.forall(d => d.getFileSystem(conf).exists(d))) return None
    val files = dirs.flatMap(parquetFiles(_, conf))
    if (files.map(_.getLen).sum > PointLocalMaxBytes) return None
    val (cond, attrs) = StoreSqlShims.ofRows(spark, Filter(
        StoreSqlShims.expression(resid), localRelation(schema.get, Nil)))
        .queryExecution.analyzed match {
      case Filter(c, r: LocalRelation) => (c, r.output)
      case _ => return None
    }
    val keep = org.apache.spark.sql.catalyst.expressions
      .InterpretedPredicate(org.apache.spark.sql.catalyst.expressions
        .BindReferences.bindReference(cond, attrs))
    keep.initialize(0)
    val m = mappingAt(spark, path, v)
    val phys = org.apache.spark.sql.types.StructType(schema.get.fields
      .map(f => f.copy(name = m.getOrElse(f.name, f.name))))
    val pk = org.apache.spark.sql.catalyst.util.QuotingUtils
      .quoteIfNeeded(m.getOrElse(keyCol, keyCol))
    val read = parquetReader(spark, phys,
      Seq(org.apache.spark.sql.sources.EqualTo(pk, value)))
    val rows = files.flatMap { st =>
      val it = read(wholeFile(st))
      // the reader closes itself once drained; close it on a failure
      try it.filter(keep.eval).map(_.copy()).toVector
      finally it match {
        case c: java.io.Closeable => c.close()
        case _ => ()
      }
    }
    Some(StoreSqlShims.ofRows(spark, LocalRelation(attrs, rows)))
  }

  /** Spark's own parquet reader over `schema`, returning rows, with
    * the session's parquet settings; `filters` skip row groups. It is
    * built on the driver, and the function it returns is
    * serializable, so executors run it too. A file missing a column
    * of `schema` reads NULL there, and narrower stored types widen
    * as in a batch read.
    */
  private[graft] def parquetReader(spark: SparkSession,
      schema: StructType,
      filters: Seq[org.apache.spark.sql.sources.Filter] = Nil)
      : org.apache.spark.sql.execution.datasources.PartitionedFile =>
        Iterator[org.apache.spark.sql.catalyst.InternalRow] = {
    val nullable = StoreSqlShims.nullable(schema)
    new org.apache.spark.sql.execution.datasources.parquet
      .ParquetFileFormat().buildReaderWithPartitionValues(spark,
        nullable, StructType(Nil), nullable, filters,
        Map(org.apache.spark.sql.execution.datasources.FileFormat
          .OPTION_RETURNING_BATCH -> "false"),
        spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
          .sessionState.newHadoopConf())
  }

  /** One whole parquet file as a [[parquetReader]] split. */
  private[graft] def wholeFile(st: org.apache.hadoop.fs.FileStatus)
      : org.apache.spark.sql.execution.datasources.PartitionedFile =
    org.apache.spark.sql.execution.datasources.PartitionedFile(
      org.apache.spark.sql.catalyst.InternalRow.empty,
      org.apache.spark.paths.SparkPath.fromPath(st.getPath), 0L,
      st.getLen, Array.empty[String], st.getModificationTime, st.getLen)

  /** Fold the live file-groups — remove-all + add-new in a single
    * commit record, so readers see the old file set or the new one,
    * never a mixture and never an empty gap (contrast the
    * rename-swap compaction of [[WinnowIndex.compact]], whose readers
    * must restore a moved-aside index after a cut swap).
    * Pre-compaction versions stay readable until vacuum.
    *
    * `numGroups > 1` with a `clusterBy` key is the OPTIMIZE-with-
    * clustering of the SQL lakehouses: instead of one folded group,
    * the rewrite range-partitions the content into `numGroups` new
    * file-groups with DISJOINT cluster-key ranges — after which the
    * per-group zone hulls in the commit records stop overlapping and
    * [[readRange]]/[[merge]]/[[deleteKeysDeferred]] prune a narrow
    * key range to O(1) groups instead of every group the appends
    * interleaved the key across. One distributed write + one commit
    * at any table size (the rewrite machinery is [[rewriteGroups]]'s
    * partitioned single pass); at 100 TB this is the difference
    * between a point mutation touching one group and touching all
    * of them.
    */
  def compact(spark: SparkSession, path: String,
      clusterBy: Seq[String] = Nil, numGroups: Int = 1,
      zorder: Boolean = false): Long = {
    require(numGroups >= 1,
      s"VersionedStore.compact: numGroups $numGroups < 1")
    require(numGroups == 1 || clusterBy.nonEmpty,
      "VersionedStore.compact: multi-group compaction needs a " +
        "clusterBy key (disjoint ranges are the point)")
    require(!zorder || clusterBy.nonEmpty,
      "VersionedStore.compact: zorder needs clusterBy columns")
    val v = latestVersion(spark, path)
    // deletion vectors FOLD here: the rewrite reads DV-applied
    // content and the commit removes the DV key groups along with
    // the data groups — after compaction the store carries no
    // deferred deletes
    val old = liveFids(spark, path, v) ++ liveDvFids(spark, path, v)
    val cur = readAt(spark, path, v)
    val statsCol = storeStatsCol(spark, path)
    val propag = storePropagation(spark, path)
    val zoneCols = (propag._1 ++ clusterBy).distinct
    val bloomCols = propag._2
    if (numGroups == 1) {
      // range-cluster the rewrite when asked: each part file of the
      // folded group gets a disjoint key range, so parquet min/max
      // pushdown (and the store's own zone stats) prune sharply after
      // compaction — the Z-order/OPTIMIZE idea at its simplest
      val out =
        if (clusterBy.isEmpty) cur
        else cur.repartitionByRange(clusterBy.map(col): _*)
          .sortWithinPartitions(clusterBy.map(col): _*)
      val Seq(fid) = claimFids(spark, path, 1)
      // structural guard only: concurrent APPENDS commute with a
      // compaction (their groups are untouched), but a concurrent
      // DV could mask rows of the groups being folded — the
      // compacted group's fresh (higher) fid would escape the mask
      // and resurrect deleted rows
      commit(spark, path,
        Seq(writeGroup(out, path, fid, statsCol, zoneCols,
          bloomCols)), old, guard = Some((v, _ => true)),
        neutral = true)
    } else {
      val newFids = claimFids(spark, path, numGroups)
      // plain multi-group clustering range-partitions on the key
      // tuple — perfect pruning on the LEADING column, none on the
      // rest. `zorder` interleaves the keys' bits (Morton curve, the
      // ZORDER BY of the public designs) so each group covers a
      // small HYPER-RECTANGLE: per-group zone hulls tighten on EVERY
      // clustered column and selective predicates on any of them
      // prune groups. Each key is min-max scaled into the shared bit
      // width FIRST — raw interleaving would let the
      // larger-magnitude dimension own all the high bits and degrade
      // to single-column clustering (measured: a 0..500 key zoomed
      // against a 0..5000 key lost its pruning entirely). One cheap
      // agg for the per-column ranges; all-NULL columns scale to the
      // origin.
      val bucketSrc =
        if (zorder) {
          val bits = math.min(16, 63 / clusterBy.size)
          val aggs = clusterBy.flatMap(c => Seq(
            min(col(c)).cast("long").as(s"_lo_$c"),
            max(col(c)).cast("long").as(s"_hi_$c")))
          val mm = cur.agg(aggs.head, aggs.tail: _*).head
          val cap = (1L << bits) - 1
          val scaled = clusterBy.zipWithIndex.map { case (c, i) =>
            if (mm.isNullAt(2 * i)) lit(0L)
            else {
              val lo = mm.getLong(2 * i)
              val span = math.max(1L, mm.getLong(2 * i + 1) - lo)
              // integer scaling by DRIVER-computed constants (DIV,
              // not Column./ which is double division). Multiply-
              // first ((x−lo)·cap DIV span) both shrinks wide spans
              // AND stretches narrow ones to fill the shared bit
              // width — divide-only shipped once and degenerated to
              // single-column clustering whenever spans were
              // unbalanced (a 0..5000 key owned every high bit over
              // a 0..500 key; pruning on the narrow key vanished).
              // The product is ≤ span·cap, so multiply-first is safe
              // exactly when span ≤ Long.MaxValue/cap; past that
              // (~5.6e14 — epoch-micros keys) fall back to the
              // divide form, which already fills the width when
              // span ≫ cap.
              if (span <= Long.MaxValue / cap) {
                expr(s"CAST(((CAST(`$c` AS BIGINT) - $lo) * $cap) " +
                  s"DIV $span AS BIGINT)")
              } else {
                val step = span / cap + 1
                expr(s"CAST((CAST(`$c` AS BIGINT) - $lo) " +
                  s"DIV $step AS BIGINT)")
              }
            }
          }
          cur.withColumn("_vs_z", ZOrder.zValue(scaled, bits))
            .repartitionByRange(numGroups, col("_vs_z"))
            .drop("_vs_z")
        } else cur.repartitionByRange(numGroups, clusterBy.map(col): _*)
      val bucketed = bucketSrc
        .withColumn("_vs_fid", spark_partition_id().cast("long"))
      val fidOf = (0 until numGroups)
        .map(b => b.toLong -> newFids(b))
      val adds = rewriteGroups(spark, path, bucketed, fidOf,
        statsCol, zoneCols, bloomCols)
      // range partitions can come up empty (sampling, small data):
      // an empty bucket becomes no group at all, not a 0-row group
      // (its already-written empty dir is an orphan vacuum reclaims)
      commit(spark, path, adds.filter(_.n > 0), old,
        guard = Some((v, _ => true)), // same DV-resurrection guard
        neutral = true)
    }
  }

  /** The live content with each row's file-group id attached, read
    * under the current table schema.
    */
  private def withFidOf(spark: SparkSession, path: String,
      fids: Seq[Long]): DataFrame =
    readFids(spark, path, fids, Long.MaxValue)
      .withColumn("_vs_fid",
        regexp_extract(input_file_name(), "/data/f(\\d+)/[^/]*$", 1)
          .cast("long"))

  /** Rewrite every affected file-group in ONE distributed pass: the
    * kept rows (carrying `_vs_fid`) are written partitioned by their
    * group, per-group counts/zone-stats come from one aggregation,
    * and each partition directory is renamed into place as the new
    * group. A mutation touching N groups costs two Spark jobs, not N
    * sequential ones — the difference between minutes and hours when
    * a removal request spans hundreds of groups of a 100 TB table.
    * A deterministic content-hash salt spreads each group over up to
    * 8 writer tasks (within-group parallelism) while bounding the
    * file count per group.
    */
  private def rewriteGroups(spark: SparkSession, path: String,
      kept: DataFrame, fidOf: Seq[(Long, Long)],
      statsCol: Option[String],
      zoneCols: Seq[String] = Nil,
      bloomCols: Seq[String] = Nil): Seq[GroupAdd] = {
    val f = fs(spark, path)
    val tmp = new Path(s"$path/data/.rewrite-tmp")
    if (f.exists(tmp) && !f.delete(tmp, true))
      sys.error(s"VersionedStore.rewriteGroups: cannot clear $tmp")
    // column mapping, same discipline as writeGroup: the rewritten
    // bytes and their derived metadata carry PHYSICAL names; the
    // commit record's schema stays LOGICAL
    val m0 = mappingAt(spark, path, Long.MaxValue)
    val mm = m0.filter { case (l, p) =>
      l != p && kept.columns.contains(l) }
    def phys(n: String) = mm.getOrElse(n, n)
    val logicalSchema =
      recordedSchema(spark, path, kept.drop("_vs_fid").schema)
    val kept2 =
      if (mm.isEmpty) kept
      else kept.select(kept.columns.map(c =>
        col(c).as(phys(c))): _*)
    val dataSchema =
      StructType(kept2.schema.filterNot(_.name == "_vs_fid"))
    val dataCols = dataSchema.fieldNames
    // same dropped-lineage guard as writeGroup: propagated metadata
    // columns absent from the rewritten frame are skipped
    val statsColP = statsCol.map(phys).filter(dataCols.contains)
    val bloomColsP = bloomCols.map(phys)
    val salt = pmod(xxhash64(struct(dataCols.map(col): _*)), lit(8))
    val spread = kept2.repartition(col("_vs_fid"), salt)
    val zcs = PruneBounds.zoned(kept2,
      (zoneCols.map(phys) ++ statsColP).distinct.filter(dataCols.contains))
    try {
      spread.write.partitionBy("_vs_fid").parquet(tmp.toString)
      // per-group counts/zones come from a COLUMN-PRUNED read of the
      // parquet just written (guide §1.4/§6): the write job is the
      // only full computation of the kept rows — no
      // persist-everything pass, and the stats job reads only the
      // zoned columns of compact columnar files. Values equal the
      // old cached-frame aggregation's: parquet round-trips every
      // supported type losslessly. An all-empty rewrite writes no
      // files at all (partitionBy emits nothing), so the stats read
      // is skipped and every group records n = 0.
      val wrote = f.exists(tmp) && f.listStatus(tmp)
        .exists(s => s.isDirectory &&
          s.getPath.getName.startsWith("_vs_fid="))
      val aggs = Seq(count(lit(1)).as("n")) ++
        zcs.flatMap { case (c, _) => PruneBounds.zoneAggs(kept2, c) }
      // read back under the schema just written: no job to infer it
      val writtenSchema = dataSchema.add("_vs_fid", LongType)
      val statRows = (if (!wrote) Array.empty[org.apache.spark.sql.Row]
        else spark.read.schema(writtenSchema).parquet(tmp.toString)
          .groupBy(col("_vs_fid"))
          .agg(aggs.head, aggs.tail: _*)
          .collect()).map { r =>
          val n = r.getLong(1)
          val zones = PruneBounds.zonesOf(zcs, n, r.getAs[Any](_))
          r.getLong(0) -> (n, markerOf(kept2, statsColP, zones), zones)
        }.toMap
      val schemaJson = Some(logicalSchema.json)
      fidOf.map { case (oldFid, newFid) =>
        val src = new Path(s"$tmp/_vs_fid=$oldFid")
        val dst = dataDir(path, newFid)
        if (f.exists(dst) && !f.delete(dst, true)) sys.error(
          s"VersionedStore.rewriteGroups: cannot clear orphan $dst")
        if (f.exists(src)) {
          if (!f.rename(src, dst)) sys.error(
            s"VersionedStore.rewriteGroups: cannot place $dst")
        } else {
          // every kept row of this group was removed: a REAL empty
          // parquet dir keeps multi-path reads working. An empty
          // file is only a footer — written driver-side (zero Spark
          // jobs on this path), typed identically to a Spark write
          // of the same empty frame (MetaParquet.writeEmpty carries
          // the Spark row-metadata footer key)
          if (!f.mkdirs(dst)) sys.error(
            s"VersionedStore.rewriteGroups: cannot create $dst")
          MetaParquet.writeEmpty(spark, dst, dataSchema)
        }
        val (n, st, zs) =
          statRows.getOrElse(oldFid, (0L, None, Nil))
        GroupAdd(newFid, n, st, schemaJson, zs,
          blooms = buildBlooms(spark, path, newFid, n, bloomColsP,
            dataSchema))
      }
    } finally {
      f.delete(tmp, true)
      ()
    }
  }

  /** TRUNCATE TABLE — ONE metadata commit retiring every live
    * file-group and deletion vector. No data file is read or
    * written (O(metadata), unlike `deleteWhere(lit(true))`'s
    * per-group rewrite); the schema, properties, constraints,
    * clustering declaration, and column-mapping lineage all stay;
    * time travel below the returned version serves the old content
    * until vacuum. Concurrency: a concurrent APPEND commutes (the
    * serializable order is truncate-then-append — its rows
    * survive); a concurrent rewrite/DV/restore aborts via the
    * standard structural guard.
    */
  def truncate(spark: SparkSession, path: String): Long = {
    val v = latestVersion(spark, path)
    val retire = liveFids(spark, path, v) ++ liveDvFids(spark, path, v)
    if (retire.isEmpty) return v // already empty: no-op, no commit
    commit(spark, path, Nil, retire, guard = Some((v, _ => true)))
  }

  /** The copy-on-write mutation core behind [[deleteWhere]],
    * [[updateWhere]], [[replaceWhere]], [[deleteKeys]], [[merge]] and
    * [[mergeInto]] — each passes its scan fids, its hit test and its
    * rewrite, and the protocol runs here once:
    *  1. detection: `hit` over the DV-applied content of `scanFids`
    *     (each row carrying its `_vs_fid`) names the affected
    *     groups. Rows a DV already masks neither trigger a rewrite
    *     nor survive into one;
    *  2. `rewrite` turns the affected groups' DV-applied rows into
    *     the kept rows, which pass the constraint gate when
    *     `checkRewrite` and land as fresh groups in ONE
    *     [[rewriteGroups]] pass under the store's stats column,
    *     zones and Blooms. A group rewritten to zero rows still
    *     commits (an empty parquet dir reads fine inside a
    *     multi-path union);
    *  3. `insert` writes its groups after the rewrites, so they carry
    *     the commit's highest fids;
    *  4. ONE commit retires the affected groups, carrying `txn` and
    *     the detection guard ([[commitRetrying]]'s `guard`): a
    *     concurrent append holding a row `guardHit` (default `hit`)
    *     matches aborts the commit.
    * With no affected group and nothing inserted there is no commit,
    * and `v` is returned. Untouched groups are carried by reference.
    */
  private def rewriteMatching(spark: SparkSession, path: String,
      v: Long, scanFids: Seq[Long], hit: DataFrame => DataFrame,
      rewrite: DataFrame => DataFrame,
      guardHit: Option[DataFrame => DataFrame] = None,
      checkRewrite: Boolean = false,
      insert: () => Seq[GroupAdd] = () => Nil,
      txn: Long = -1L): Long = {
    def content(fids: Seq[Long]) =
      applyDvs(spark, path, v, withFidOf(spark, path, fids))
    val affected =
      if (scanFids.isEmpty) Seq.empty[Long]
      else hit(content(scanFids)).select("_vs_fid").distinct()
        .collect().map(_.getLong(0)).sorted.toSeq
    val rewrites =
      if (affected.isEmpty) Seq.empty[GroupAdd]
      else {
        val kept = rewrite(content(affected))
        if (checkRewrite) validate(kept.drop("_vs_fid"), path)
        val (zoneCols, bloomCols) = storePropagation(spark, path)
        rewriteGroups(spark, path, kept,
          affected.zip(claimFids(spark, path, affected.length)),
          storeStatsCol(spark, path), zoneCols, bloomCols)
      }
    val inserts = insert()
    if (rewrites.isEmpty && inserts.isEmpty) return v
    val test = guardHit.getOrElse(hit)
    commitRetrying(spark, path, rewrites ++ inserts, affected, txn,
      guard = Some((v, winFids =>
        test(withFidOf(spark, path, winFids)).isEmpty)))
  }

  /** Write `df` as one fresh file-group under the store's stats
    * column, zones and Blooms — the insert group of the mutators.
    */
  private def writeFresh(df: DataFrame, path: String): GroupAdd = {
    val spark = df.sparkSession
    val (zoneCols, bloomCols) = storePropagation(spark, path)
    val Seq(fid) = claimFids(spark, path, 1)
    writeGroup(df, path, fid, storeStatsCol(spark, path), zoneCols,
      bloomCols)
  }

  /** The live groups a predicate mutation's detection reads: with a
    * caller-asserted `keyRange` on a store that maintains a stats
    * column, the groups whose zone overlaps it; otherwise all.
    */
  private def rangeFids(spark: SparkSession, path: String, v: Long,
      keyRange: Option[(Long, Long)]): Seq[Long] =
    (keyRange, storeStatsCol(spark, path)) match {
      case (Some((lo, hi)), Some(c)) =>
        candidateFids(spark, path, v, c, lo, hi)
      case _ => liveFids(spark, path, v)
    }

  /** Remove the rows matching `pred`, rewriting ONLY the file-groups
    * that contain matches (one scan finds them via the file path of
    * each matching row); untouched groups are carried over by
    * reference. One commit record publishes the whole delete.
    * `keyRange` is a caller-asserted pruning hint — "`pred` can only
    * match rows whose store stats column lies in [lo,hi]" — that
    * bounds even the FIND scan to the overlapping file-groups when
    * the store maintains zone stats.
    */
  def deleteWhere(spark: SparkSession, path: String, pred: Column,
      keyRange: Option[(Long, Long)] = None,
      snapshotV: Long = -1L): Long = {
    val v = if (snapshotV >= 0) snapshotV
      else latestVersion(spark, path)
    rewriteMatching(spark, path, v, rangeFids(spark, path, v, keyRange),
      _.filter(pred), _.filter(!coalesce(pred, lit(false))))
  }

  /** Atomic REPLACE WHERE — the partition-overwrite semantic (the
    * public Delta `replaceWhere`; the reference's idempotent
    * re-ingest of a dated partition, reference: partitioner.py:7-25,
    * where re-running a day must replace that day, not duplicate
    * it): in ONE commit every live row matching `pred` is deleted
    * and `df`'s rows land. `df` is REQUIRED to satisfy `pred`
    * row-for-row — a batch straying outside the replaced region is
    * a bug surfaced loudly, never an implicit widening. Affected
    * groups rewrite keeping only non-matching rows (DV-applied);
    * untouched groups are carried by reference; the new batch lands
    * range-clustered when the table declares clustering (so a
    * day-partitioned table's replaced day stays one prunable
    * group). Readers serve the old region or the new one, never a
    * mixture; time travel below the returned version serves the
    * old. Concurrency: the same detection guard as [[deleteWhere]]
    * — non-matching concurrent appends rebase (both land), matching
    * appends and structural winners abort.
    */
  def replaceWhere(df: DataFrame, path: String, pred: Column,
      clusterBy: Seq[String] = Nil): Long = {
    val spark = df.sparkSession
    requireCols(df, "replaceWhere", clusterBy)
    checkSchema(df, path, "replaceWhere", canEvolve = false)
    validate(df, path)
    val stray = df.filter(!coalesce(pred, lit(false))).limit(1)
    if (stray.count() > 0) sys.error(
      s"VersionedStore.replaceWhere at $path: the batch carries " +
        "row(s) NOT matching the replace predicate — rows may only " +
        "land inside the region they replace (row sample: " +
        s"${stray.head.toString.take(200)})")
    val v = latestVersion(spark, path)
    rewriteMatching(spark, path, v, liveFids(spark, path, v),
      _.filter(pred), _.filter(!coalesce(pred, lit(false))),
      insert = () =>
        if (clusterBy.isEmpty) Seq(writeFresh(df, path))
        else clusteredAdds(df, path, clusterBy, 64,
          storeStatsCol(spark, path)))
  }

  /** Copy-on-write UPDATE — the predicate form of DML the keyed
    * [[merge]] cannot express (`merge` upserts BY KEY from a batch;
    * this transforms rows IN PLACE by predicate): rewrite only the
    * file-groups containing matching rows, applying `sets` to the
    * matches and carrying every other row through byte-identical,
    * as ONE commit. All SET expressions and the predicate evaluate
    * against the PRE-update row (one projection over the original
    * attributes — `SET a = b, b = a` swaps), and each SET result is
    * cast to the column's existing type, so the table schema can
    * never drift through an update. Groups without matches are not
    * read past the detection scan; `keyRange` prunes the detection
    * scan itself through zones/stats like [[deleteWhere]]'s. Time
    * travel below the returned version serves the pre-update rows
    * (the rewritten groups are NEW fids; the old ones retire).
    *
    * Concurrency: the commit carries a detection guard — a
    * concurrent append whose rows do NOT match `pred` rebases and
    * both land; a matching append or any concurrent rewrite/DV
    * aborts loudly (redo against the new snapshot). `snapshotV`
    * pins the detection snapshot for the race specs (mirrors
    * `firstV`); production callers never pass it.
    */
  def updateWhere(spark: SparkSession, path: String, pred: Column,
      sets: Seq[(String, Column)],
      keyRange: Option[(Long, Long)] = None,
      snapshotV: Long = -1L): Long = {
    val v = if (snapshotV >= 0) snapshotV
      else latestVersion(spark, path)
    val cur = schemaAt(spark, path, v)
    sets.foreach { case (c, _) =>
      require(cur.forall(_.fieldNames.contains(c)),
        s"VersionedStore.updateWhere: no column `$c` at $path " +
          s"(schema: ${cur.map(_.fieldNames.mkString(", "))
            .getOrElse("untracked")})")
    }
    val hit = coalesce(pred, lit(false))
    val setOf = sets.toMap
    // ONE projection against the original attributes: every SET and
    // the predicate see the pre-update row. The post-update rows pass
    // the table constraints like every other write (`UPDATE t SET
    // g = -5` must not commit rows an append of the same values
    // rejects); untouched groups already passed at their own write.
    rewriteMatching(spark, path, v, rangeFids(spark, path, v, keyRange),
      _.filter(pred),
      touched => touched.select(touched.columns.map { c =>
        setOf.get(c) match {
          case Some(e) =>
            val dt = touched.schema(c).dataType
            when(hit, e.cast(dt)).otherwise(col(c)).as(c)
          case None => col(c)
        }
      }: _*),
      checkRewrite = true)
  }

  /** Remove every row whose key tuple appears in `keys` — the form a
    * real removal request takes at scale: a TABLE of millions of ids,
    * not a predicate you could spell inline ([[deleteWhere]]'s
    * `isin` would need the whole list collected to the driver).
    * Detection and rewrite both join against the key frame (AQE
    * broadcasts it when small, shuffles when not); the detection
    * reads only the groups the keys' span overlaps
    * ([[keySpanFids]]), and only file-groups containing matches
    * rewrite, in one partitioned pass.
    */
  def deleteKeys(spark: SparkSession, path: String, keys: DataFrame,
      keyCols: Seq[String]): Long = {
    val v = latestVersion(spark, path)
    val k = keys.select(keyCols.map(col): _*).distinct()
    rewriteMatching(spark, path, v,
      keySpanFids(spark, path, v, keyCols, k),
      _.join(k, keyCols, "left_semi"), _.join(k, keyCols, "left_anti"))
  }

  /** Deletion-vector (merge-on-read) point delete: commit a small
    * key-list group (action "dv") whose matching rows become
    * invisible at read time — NOTHING is rewritten. This is the
    * cheap path for frequent small point deletes (the GDPR drip),
    * where [[deleteWhere]]/[[deleteKeys]]'s copy-on-write would
    * rewrite a whole multi-GB file-group to drop three rows; the
    * read-side cost is one broadcast anti-join per live DV, and the
    * next [[compact]] FOLDS every DV away (the rewrite reads
    * DV-applied content and removes the DV groups in the same
    * commit). A DV masks only file-groups with fid < its own
    * (precedence), so later appends/merges of the same key are
    * visible with no extra bookkeeping.
    *
    * The committed key list is the DISTINCT keys that match visible
    * rows (found by one zone-prunable detection scan — also how the
    * commit records the exact masked row count); re-deleting an
    * already-masked or absent key is a no-op. NOT an erasure path:
    * the masked rows and the key values stay on disk until a
    * compaction + vacuum — a removal REQUEST needs [[erase]].
    */
  def deleteKeysDeferred(spark: SparkSession, path: String,
      keys: DataFrame, keyCols: Seq[String]): Long = {
    val v = latestVersion(spark, path)
    val k = keys.select(keyCols.map(col): _*).distinct()
    // zone-prune the detection scan exactly like merge: a single
    // zone-armed key column bounds the scan to overlapping groups
    val scanFids = keySpanFids(spark, path, v, keyCols, k)
    if (scanFids.isEmpty) return v
    val matched = applyDvs(spark, path, v,
      withFidOf(spark, path, scanFids))
      .join(broadcast(k), keyCols, "left_semi")
      .select(keyCols.map(col): _*)
      .localCheckpoint()
    val nMasked = matched.count()
    if (nMasked == 0) return v
    val keyRows = matched.distinct()
    val Seq(fid) = claimFids(spark, path, 1)
    val dv = writeGroup(keyRows, path, fid, None)
      .copy(n = nMasked, schemaJson = None)
    commit(spark, path, Seq.empty, Seq.empty, dvs = Seq(dv))
  }

  /** Keyed upsert (the MERGE of SQL lakehouses): every store row
    * whose `keyCols` tuple matches a row of `updates` is REPLACED by
    * that update row; update rows matching nothing are INSERTED.
    * `updates` must carry the store schema and at most one row per
    * key (enforced — a duplicate-key source would make the result
    * order-dependent).
    *
    * Scale shape: one store scan finds the affected file-groups via
    * a broadcast semi-join against the update keys (updates are the
    * small side of a merge by construction — removal lists, metadata
    * corrections, re-scored batches); only those groups are
    * rewritten (matched rows anti-joined away), untouched groups are
    * carried by reference, and ALL update rows land as one new
    * file-group. One commit record publishes the whole merge.
    */
  def merge(spark: SparkSession, path: String, updates: DataFrame,
      keyCols: Seq[String], txn: Long = -1L): Long = {
    if (txn >= 0) committedTxn(spark, path, txn) match {
      case Some(v) => return v // replayed merge: already committed
      case None => ()
    }
    // one pre-pass: the duplicate gate, carrying the key span the
    // zone-pruned detection scan needs
    val (dup, keySpan) = keyGate(updates, keyCols)
    if (dup) sys.error(
      "VersionedStore.merge: updates carry duplicate keys — " +
        "the merge result would be order-dependent")
    // same write-boundary schema gate as append: a retyping update
    // batch would otherwise become the table schema (its insert
    // group carries the commit's highest fid) and corrupt every
    // later read of older groups; extra columns fail loudly instead
    // of being silently dropped by the insert projection below
    checkSchema(updates, path, "merge", canEvolve = false)
    validate(updates, path)
    val v = latestVersion(spark, path)
    val keys = broadcast(updates.select(keyCols.map(col): _*))
    // note on deletion vectors: a matched row that an older DV
    // already masks is invisible to the detection scan, so its group
    // is not rewritten — harmless, because the masked physical row
    // stays masked (DV precedence is by fid, and the group keeps its
    // fid) while the update lands in the fresh insert group, whose
    // higher fid no existing DV can mask. Re-inserting a
    // DV-deleted key therefore just works.
    rewriteMatching(spark, path, v,
      keySpanFids(spark, path, v, keyCols, updates, keySpan),
      _.join(keys, keyCols, "left_semi"),
      _.join(keys, keyCols, "left_anti"),
      insert = () => {
        val cols =
          if (liveFids(spark, path, v).isEmpty) updates.columns
          else readAt(spark, path, v).columns
        Seq(writeFresh(updates.select(cols.map(col): _*), path))
      },
      txn = txn)
  }

  /** One action of [[mergeInto]]'s WHEN MATCHED list. `cond` (over
    * the joined namespace: target columns by name, source columns as
    * `_src_<name>`) gates the action; empty `sets` = `UPDATE SET *`
    * (every non-key target column takes the source's same-named
    * column).
    */
  sealed trait MergeMatchedAction {
    def cond: Option[Column]
  }
  final case class MergeUpdate(cond: Option[Column],
    sets: Seq[(String, Column)]) extends MergeMatchedAction
  final case class MergeDelete(cond: Option[Column])
    extends MergeMatchedAction

  /** One action of [[mergeInto]]'s WHEN NOT MATCHED list. `cond`
    * and `values` evaluate against the SOURCE row (plain column
    * names — an unmatched row has no target side); empty `values` =
    * `INSERT *`; columns a `values` list leaves out land as typed
    * NULLs.
    */
  final case class MergeInsert(cond: Option[Column],
    values: Seq[(String, Column)])

  /** ANSI store assignment for merge-produced values — the same
    * discipline SQL INSERT INTO and the keyed MERGE apply
    * (`storeAssignmentPolicy=ANSI`): resolve the value's type
    * against its binding frame, reject statically-unreasonable
    * assignments (string→numeric, double→boolean) at plan time, and
    * run legal-but-lossy coercions (long→int) through an ANSI-mode
    * cast so an out-of-range value fails loudly at run time — never
    * a permissive cast's silent NULL.
    */
  private def ansiAssign(frame: DataFrame, e: Column,
      f: org.apache.spark.sql.types.StructField,
      what: String): Column = {
    val dt = frame.select(e).schema.head.dataType
    if (dt == f.dataType) e
    else {
      require(org.apache.spark.sql.catalyst.expressions.Cast
        .canANSIStoreAssign(dt, f.dataType),
        s"VersionedStore.mergeInto: $what cannot assign a " +
          s"${dt.simpleString} value to column `${f.name}` " +
          s"(${f.dataType.simpleString}) under ANSI store " +
          "assignment — cast the value explicitly if the " +
          "coercion is intended")
      StoreSqlShims.ansiCast(e, f.dataType)
    }
  }


  /** General MERGE — the conditional / per-column forms the keyed
    * [[merge]] (wholesale upsert) and [[deleteKeys]] cannot express:
    *
    * {{{
    * WHEN MATCHED [AND c1] THEN UPDATE SET a = expr, …  (or SET *)
    * WHEN MATCHED [AND c2] THEN DELETE
    * WHEN NOT MATCHED [AND c3] THEN INSERT (cols) VALUES (…) (or *)
    * }}}
    *
    * as ONE atomic commit. Matched actions apply FIRST-MATCH-WINS
    * per target row (the SQL MERGE contract); a matched row whose
    * every condition is false carries through byte-identical, and
    * only file-groups containing a fired row rewrite (copy-on-write,
    * [[updateWhere]]'s shape generalized to a source join). All SET
    * expressions and conditions evaluate against the PRE-merge row
    * joined with its source match — target columns under their own
    * names, source columns as `_src_<name>` — and every produced
    * value lands under ANSI store assignment ([[ansiAssign]]:
    * unreasonable coercions rejected at plan time, lossy ones cast
    * in ANSI eval mode), so the schema cannot drift and a bad value
    * can never become a silent NULL. Unmatched source rows route through the first
    * not-matched action whose condition holds and land in one fresh
    * insert group. The rewritten and inserted rows run the same
    * constraint gate as every other mutator.
    *
    * Scale shape: the detection scan and the inserts' anti-join (a
    * column-pruned key scan) prune through zone/stat metadata on a
    * single join key exactly like [[merge]]'s (the source key span
    * bounds where matches can live); rewrites touch only affected
    * groups, and the insert group is written once. Duplicate source
    * keys are rejected when any matched action exists — the result
    * would be order-dependent.
    *
    * Concurrency: the commit carries a detection guard
    * ([[commitRetrying]]'s `guard`) — key-disjoint concurrent
    * appends rebase and BOTH land; an append carrying any source
    * key, or any concurrent rewrite/DV, aborts loudly (redo against
    * the new snapshot). `snapshotV` pins the detection snapshot for
    * the race specs (mirrors `firstV`); production callers never
    * pass it.
    */
  def mergeInto(spark: SparkSession, path: String, source: DataFrame,
      keyCols: Seq[String], matched: Seq[MergeMatchedAction],
      notMatched: Seq[MergeInsert],
      snapshotV: Long = -1L): Long = {
    require(matched.nonEmpty || notMatched.nonEmpty,
      "VersionedStore.mergeInto: no actions")
    val v = if (snapshotV >= 0) snapshotV
      else latestVersion(spark, path)
    val tgtSchema = schemaAt(spark, path, v).getOrElse(sys.error(
      s"VersionedStore.mergeInto: no table schema at $path"))
    keyCols.foreach { k =>
      require(tgtSchema.fieldNames.contains(k),
        s"VersionedStore.mergeInto: key `$k` not in table schema")
      require(source.columns.contains(k),
        s"VersionedStore.mergeInto: key `$k` not in source")
    }
    val srcCols = source.columns.toSeq
    // star forms bind by name: they need the source to carry every
    // (non-key) target column — checked loudly up front
    val starUpd = matched.exists {
      case MergeUpdate(_, s) => s.isEmpty; case _ => false }
    val starIns = notMatched.exists(_.values.isEmpty)
    if (starUpd || starIns) {
      val need = tgtSchema.fieldNames.filterNot(srcCols.contains)
        .filterNot(c => starUpd && !starIns && keyCols.contains(c))
      require(need.isEmpty,
        "VersionedStore.mergeInto: a SET */INSERT * action binds " +
          s"by name and the source lacks ${need.mkString(", ")}")
      // and the dual: a source column the star projection would
      // silently DROP is rejected (same contract as the canonical
      // upsert) — explicit value lists may carry extra columns, the
      // star vocabulary may not
      val extra = srcCols.filterNot(tgtSchema.fieldNames.contains)
      require(extra.isEmpty,
        "VersionedStore.mergeInto: SET */INSERT * would silently " +
          s"drop source column(s) ${extra.mkString(", ")} — name " +
          "the columns explicitly or evolve the table first")
    }
    matched.foreach {
      case MergeUpdate(_, sets) => sets.foreach { case (c, _) =>
        require(tgtSchema.fieldNames.contains(c),
          s"VersionedStore.mergeInto: UPDATE SET names unknown " +
            s"column `$c`") }
      case _ => ()
    }
    notMatched.foreach(a => a.values.foreach { case (c, _) =>
      require(tgtSchema.fieldNames.contains(c),
        s"VersionedStore.mergeInto: INSERT names unknown column " +
          s"`$c`") })
    val (dup, keySpan) =
      if (matched.isEmpty) (false, None) else keyGate(source, keyCols)
    if (dup) sys.error(
      "VersionedStore.mergeInto: source carries duplicate keys — " +
        "matched-action results would be order-dependent")
    // merge's pruning rule: with a zone armed on a single join key,
    // the source key span bounds where matches live — and where the
    // inserts' anti-join must look, as a group outside the span
    // cannot hold a source key
    val spanFids = keySpanFids(spark, path, v, keyCols, source, keySpan)
    val srcPref = source.select(
      (keyCols.map(col) ++ srcCols.filterNot(keyCols.contains)
        .map(c => col(c).as(s"_src_$c"))
        // keys ALSO ride under their `_src_` names: a SET or
        // condition may reference the source key (`SET id = s.id`
        // from an analyzer-expanded SET *, `AND s.id > 5`) — equal
        // to the target key by the join, but it must RESOLVE
        ++ keyCols.map(c => col(c).as(s"_src_$c"))): _*)
      .withColumn("_src_matched", lit(true))
    // first-match-wins action index per joined row (-1 = carry)
    val fired = matched.zipWithIndex.foldRight(lit(-1)) {
      case ((a, i), acc) =>
        when(coalesce(col("_src_matched"), lit(false)) &&
          coalesce(a.cond.getOrElse(lit(true)), lit(false)),
          lit(i)).otherwise(acc)
    }
    // no broadcast hint: AQE broadcasts a small source and shuffles a
    // large one — a forced broadcast would OOM on a table-sized source
    def joined(w: DataFrame) =
      w.join(srcPref, keyCols, "left").withColumn("_fired", fired)
    val deleteIdxs = matched.zipWithIndex.collect {
      case (MergeDelete(_), i) => i }
    val updateActs = matched.zipWithIndex.collect {
      case (u: MergeUpdate, i) => (u, i) }
    def rewrite(w: DataFrame): DataFrame = {
      val touched = joined(w)
      val surviving =
        if (deleteIdxs.isEmpty) touched
        else touched.filter(
          !col("_fired").isin(deleteIdxs.map(Int.box): _*))
      // ONE projection over the pre-merge attributes: every SET
      // and condition sees the original row (+ its source match)
      surviving.select((tgtSchema.fields.map { f =>
        updateActs.foldRight(col(f.name)) { case ((u, i), acc) =>
          val value =
            if (u.sets.isEmpty)
              if (keyCols.contains(f.name)) None // key equal anyway
              else Some(col(s"_src_${f.name}"))
            else u.sets.toMap.get(f.name)
          value match {
            case Some(e) => when(col("_fired") === i,
              ansiAssign(surviving, e, f,
                "a WHEN MATCHED UPDATE SET value")).otherwise(acc)
            case None => acc
          }
        }.as(f.name)
      } :+ col("_vs_fid")).toIndexedSeq: _*)
    }
    // unmatched source rows → first applicable insert action, written
    // once; an insert group that comes out empty is left out
    val insFired = notMatched.zipWithIndex.foldRight(lit(-1)) {
      case ((a, i), acc) =>
        when(coalesce(a.cond.getOrElse(lit(true)), lit(false)),
          lit(i)).otherwise(acc)
    }
    def inserted(): Seq[GroupAdd] = {
      val unmatched =
        if (spanFids.isEmpty) source
        else source.join(
          applyDvs(spark, path, v, withFidOf(spark, path, spanFids))
            .select(keyCols.map(col): _*),
          keyCols, "left_anti")
      val picked = unmatched.withColumn("_fired", insFired)
        .filter(col("_fired") >= 0)
      val projected = picked.select(tgtSchema.fields.map { f =>
        notMatched.zipWithIndex.foldRight(
          lit(null).cast(f.dataType)) { case ((a, i), acc) =>
          val value =
            if (a.values.isEmpty)
              if (srcCols.contains(f.name)) Some(col(f.name))
              else None
            else a.values.toMap.get(f.name)
          value match {
            case Some(e) => when(col("_fired") === i,
              ansiAssign(picked, e, f,
                "a WHEN NOT MATCHED INSERT value")).otherwise(acc)
            case None => acc
          }
        }.as(f.name)
      }.toIndexedSeq: _*)
      validate(projected, path)
      Seq(writeFresh(projected, path)).filter(_.n > 0)
    }
    // OCC guard: a concurrent append whose rows carry any SOURCE
    // key would change this merge's matched/unmatched classification
    // (a missed update, or a duplicate key from an insert action) —
    // conflict; key-disjoint appends rebase freely
    val srcKeys = broadcast(source.select(keyCols.map(col): _*).distinct())
    rewriteMatching(spark, path, v, if (matched.isEmpty) Nil else spanFids,
      w => joined(w).filter(col("_fired") >= 0), rewrite,
      guardHit = Some(_.join(srcKeys, keyCols, "left_semi")),
      checkRewrite = true,
      insert = () => if (notMatched.isEmpty) Nil else inserted())
  }

  /** The LIVE content of version `v` as bare in-place group files —
    * the row stream's vacuum-safe INITIAL SNAPSHOT plan
    * (`readStream.table` starts from the CURRENT state, never from
    * the original append history whose pre-compaction files the
    * next vacuum deletes). None when the snapshot is not expressible
    * as raw files: live deletion vectors (masked rows would
    * resurrect) or a live column mapping (files carry physical
    * names the stream's logical schema cannot bind positionally).
    */
  private[graft] def snapshotFiles(spark: SparkSession,
      path: String, v: Long): Option[Seq[String]] =
    if (mappingAt(spark, path, v).nonEmpty ||
      liveDvFids(spark, path, v).nonEmpty) None
    else Some(groupDirs(spark, path, liveFids(spark, path, v)))

  /** Zero-copy plan for a PURE-APPEND change window — the common
    * streaming case: when every log record in `(from, to]` is a
    * plain add under the current schema with no live column
    * mapping, the window's feed is exactly the added groups' files
    * tagged `insert`, and a streaming source can read them in place
    * (no derivation job, no staging copy). The CREATE TABLE anchor
    * ([[declareSchema]]: the store's first commit, a lone schema
    * record equal to the schema at `to`) adds no rows and counts as
    * a no-op. Any rewrite, delete, DV, restore, or other
    * schema/mapping change in the window → None, and the caller
    * derives the netted feed via [[changes]].
    */
  private[graft] def appendOnlyWindow(spark: SparkSession,
      path: String, from: Long, to: Long): Option[Seq[String]] = {
    val all = logRecords(spark, path)
    val cur = schemaAt(spark, path, to).map(_.json)
    val anchor = all.headOption.filter(r => r.action == "schema" &&
      r.schemaJson == cur && all.lift(1).forall(_.v != r.v)).map(_.v)
    val recs = all.filter(r =>
      r.v > from && r.v <= to && !anchor.contains(r.v))
    if (recs.isEmpty) Some(Nil)
    else if (mappingAt(spark, path, to).isEmpty &&
      recs.forall(r => r.action == "add" && r.schemaJson == cur))
      Some(recs.map(r =>
        r.loc.getOrElse(dataDir(path, r.fid).toString)))
    else None
  }

  /** Row-level change feed between two committed versions: what a
    * downstream consumer must apply to move a copy from `fromV` to
    * `toV`. Returns the store schema plus a `_change` column
    * ("insert" | "delete"); a row replaced by [[merge]] appears as a
    * delete of the old row and an insert of the new one.
    *
    * Scale shape: the group-level log diff bounds the work — only
    * file-groups added or removed in the window are read (a
    * compaction's add cancels against its removes row-for-row, so
    * pure rewrites net out), then one `exceptAll` each way turns the
    * group diff into a row diff. Cost is O(changed groups), never
    * O(table); both versions must still be within the vacuum horizon.
    *
    * A window that spans an [[erase]] fails loudly: erasure
    * deliberately destroys exactly the data a row-level delete feed
    * would need to carry, so downstream consumers (replicas,
    * rollups) must replay the removal REQUEST itself and re-anchor —
    * never receive the erased rows through the feed.
    */
  def changes(spark: SparkSession, path: String, fromV: Long,
      toV: Long): DataFrame = {
    require(fromV <= toV,
      s"VersionedStore.changes: fromV $fromV > toV $toV")
    // a window whose EVERY commit is data-neutral (compaction /
    // OPTIMIZE — content-preserving by construction, and the commit
    // says so) is the empty feed with zero data read. Without the
    // marker the exceptAll below still nets such a window to zero
    // rows — at the price of shuffling the ENTIRE table's content
    // twice, which at 100 TB makes every OPTIMIZE a full-table tax
    // on all CDC consumers (the Delta CDF rule: data-neutral
    // commits are excluded from the feed). Mixed windows (neutral +
    // real commits interleaved) keep the exceptAll netting.
    val winVs = logRecords(spark, path)
      .filter(r => r.v > fromV && r.v <= toV)
    if (winVs.nonEmpty && winVs.forall(_.neutral)) {
      val schema = read(spark, path).schema
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
        .withColumn("_change", lit("insert")).limit(0)
    }
    val before = liveFids(spark, path, fromV).toSet
    val after = liveFids(spark, path, toV).toSet
    val dvBefore = liveDvFids(spark, path, fromV)
    val dvAfter = liveDvFids(spark, path, toV)
    val gained = (after -- before).toSeq.sorted
    val lost = (before -- after).toSeq.sorted
    val newDvs = dvAfter.filterNot(dvBefore.contains)
    (gained ++ lost ++ dvBefore ++ dvAfter).distinct.foreach { fid =>
      if (!groupExists(spark, path, fid)) sys.error(
        s"VersionedStore.changes: file-group f$fid was vacuumed — " +
          "raise the vacuum retention horizon")
    }
    // every side reads under toV's table schema, so a feed spanning
    // an additive evolution compares like with like (pre-evolution
    // rows carry NULL in the new columns on both sides); each side
    // is the VISIBLE content of its version — group rows under that
    // version's deletion vectors
    def withFid(fids: Seq[Long]): DataFrame =
      readFids(spark, path, fids, toV)
        .withColumn("_vs_fid",
          regexp_extract(input_file_name(), "/data/f(\\d+)/[^/]*$", 1)
            .cast("long"))
    def visible(fids: Seq[Long], v: Long): Option[DataFrame] =
      if (fids.isEmpty) None
      else Some(applyDvs(spark, path, v, withFid(fids))
        .drop("_vs_fid"))
    // deferred deletes on CARRIED groups: rows visible at fromV but
    // masked at toV by a DV committed in the window. Only groups
    // with fid below some new DV can be affected — the exceptAll of
    // the two visibility states over that bounded set is exactly the
    // newly-masked rows (row-identical content cancels, so the cost
    // is O(prunable carried groups), and zero when no DV landed)
    val dvDel: Option[DataFrame] =
      if (newDvs.isEmpty) None
      else {
        val carried = (before intersect after).toSeq
          .filter(_ < newDvs.max).sorted
        if (carried.isEmpty) None
        else {
          val rows = withFid(carried)
          Some(applyDvs(spark, path, fromV, rows)
            .exceptAll(applyDvs(spark, path, toV, rows))
            .drop("_vs_fid"))
        }
      }
    // the symmetric case: a DV REMOVED in the window without its
    // data groups (only [[restore]] to a pre-DV version does this)
    // makes previously-masked rows visible again — they must travel
    // as INSERTS, or a replica tailing through the rollback would
    // silently diverge
    val goneDvs = dvBefore.filterNot(dvAfter.contains)
    val dvIns: Option[DataFrame] =
      if (goneDvs.isEmpty) None
      else {
        val carried = (before intersect after).toSeq
          .filter(_ < goneDvs.max).sorted
        if (carried.isEmpty) None
        else {
          val rows = withFid(carried)
          Some(applyDvs(spark, path, toV, rows)
            .exceptAll(applyDvs(spark, path, fromV, rows))
            .drop("_vs_fid"))
        }
      }
    (visible(gained, toV), visible(lost, fromV)) match {
      case (None, None) =>
        val schema = read(spark, path).schema
        val empty = spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
        val base0 = empty
          .withColumn("_change", lit("insert")).limit(0)
        val base = dvIns.map(d =>
          base0.unionAll(d.withColumn("_change", lit("insert"))))
          .getOrElse(base0)
        dvDel.map(d =>
          base.unionAll(d.withColumn("_change", lit("delete"))))
          .getOrElse(base)
      case (g, l) =>
        val empty = (g orElse l).get.limit(0)
        // pure-append / pure-drop windows (the common case) skip the
        // exceptAll entirely — no shuffle, the group read IS the feed
        val ins0 = (g, l) match {
          case (Some(gd), Some(ld)) => gd.exceptAll(ld)
          case (Some(gd), None) => gd
          case _ => empty
        }
        val ins = dvIns.map(ins0.unionAll).getOrElse(ins0)
        val del0 = (l, g) match {
          case (Some(ld), Some(gd)) => ld.exceptAll(gd)
          case (Some(ld), None) => ld
          case _ => empty
        }
        val del = dvDel.map(del0.unionAll).getOrElse(del0)
        ins.withColumn("_change", lit("insert"))
          .unionAll(del.withColumn("_change", lit("delete")))
    }
  }

  /** [[changes]] with UPDATE pre/post-images: rows whose key appears
    * on both sides of the window are a keyed rewrite — the same row
    * identity before and after — and consumers (audit feeds,
    * incremental rollups that subtract-then-add, replicas that want
    * update semantics) need to see them as one update, not an
    * unrelated delete+insert pair. The tags follow the public Delta
    * CDF vocabulary: `_change` ∈ insert | delete |
    * `update_preimage` (the old row) | `update_postimage` (the new
    * row); keys on only one side keep their plain tag.
    *
    * Scale shape: the pairing is two key-projections + one join over
    * the ALREADY-BOUNDED feed (O(changed rows), never O(table));
    * unchanged rows cancelled inside [[changes]] before any of this
    * runs. [[applyChanges]] and the change-feed consumer accept both
    * vocabularies, so either feed flavor replicates identically.
    */
  def changesKeyed(spark: SparkSession, path: String, fromV: Long,
      toV: Long, keyCols: Seq[String]): DataFrame = {
    // the window diff is reused three times (two key projections +
    // the tagging join) — materialize it once, as replicate() does
    val feed = changes(spark, path, fromV, toV).localCheckpoint()
    val delKeys = feed.filter(col("_change") === "delete")
      .select(keyCols.map(col): _*).distinct()
    val insKeys = feed.filter(col("_change") === "insert")
      .select(keyCols.map(col): _*).distinct()
    val updKeys = delKeys.join(insKeys, keyCols, "inner")
      .withColumn("_vs_upd", lit(true))
    feed.join(updKeys, keyCols, "left")
      .withColumn("_change",
        when(col("_vs_upd") && col("_change") === "delete",
          lit("update_preimage"))
          .when(col("_vs_upd") && col("_change") === "insert",
            lit("update_postimage"))
          .otherwise(col("_change")))
      .select(feed.columns.map(col): _*)
  }

  /** Apply a change feed (the output of [[changes]] or
    * [[changesKeyed]], or any frame with the store schema plus a
    * `_change` column) to ANOTHER keyed store — CDC replication:
    * after applying source windows in order, the replica's content
    * equals the source's at the window's end version. Removals
    * (deletes and update pre-images) land first as one keyed-delete
    * commit, then the additions (inserts and update post-images)
    * append — so a replace never collides on its key. Two commits
    * per window; readers of the replica see it atomically per
    * commit as always.
    */
  def applyChanges(spark: SparkSession, feed: DataFrame,
      targetPath: String, keyCols: Seq[String]): Long = {
    // Pin the feed once: it may embed exceptAll netting over carried
    // groups, and it is consumed by up to SIX downstream actions (two
    // emptiness gates, the delete's detection scan + rewrite + OCC
    // guard, the append's constraint validation + write) — without
    // the checkpoint each action re-runs the whole netting (q343
    // profiled 20 s of task time for 2 s of useful work). O(changed
    // rows) blocks, freed with the plan; content unchanged. Caveat
    // at cluster scale: localCheckpoint blocks are executor-local and
    // unreplicated — an executor loss fails the job instead of
    // recomputing from lineage; a cluster deployment of this WRITE
    // path should prefer reliable checkpoint or replicated persist.
    val f = feed.localCheckpoint()
    val dels = f.filter(
      col("_change").isin("delete", "update_preimage"))
      .select(keyCols.map(col): _*)
    val ins = f.filter(
      col("_change").isin("insert", "update_postimage"))
      .drop("_change")
    if (!dels.isEmpty) deleteKeys(spark, targetPath, dels, keyCols)
    if (!ins.isEmpty) append(ins, targetPath)
    latestVersion(spark, targetPath)
  }

  /** [[append]] with an exactly-once transaction tag for streaming
    * sinks: a `foreachBatch` that crashed between writing and
    * checkpointing replays its batch; tagging each commit with the
    * batch id makes the replay a no-op instead of a duplicate
    * file-group. Returns the (existing or new) version that carries
    * `txn`.
    */
  def appendIdempotent(df: DataFrame, path: String, txn: Long,
      statsCol: Option[String] = None): Long = {
    val spark = df.sparkSession
    require(txn >= 0, "VersionedStore.appendIdempotent: txn must be >= 0")
    committedTxn(spark, path, txn) match {
      case Some(v) => v
      case None =>
        // the same write gates as append: schema compatibility and
        // constraints, plus zone AND bloom self-propagation — a
        // streaming replica must not silently disarm the store's
        // pruning discipline batch by batch
        requireCols(df, "appendIdempotent", statsCol.toSeq)
        checkSchema(df, path, "appendIdempotent", canEvolve = false)
        validate(df, path)
        val propag = storePropagation(spark, path)
        val Seq(fid) = claimFids(spark, path, 1)
        val add = writeGroup(df, path, fid, statsCol,
          propag._1, propag._2)
        commitRetrying(spark, path, Seq(add), Seq.empty, txn)
    }
  }

  /** The version that committed transaction `txn` under scope
    * `app`, if any. Old commit records (pre-txn schema) read as txn
    * NULL → -1, never colliding with the `txn >= 0` contract; a
    * missing txn_app column reads as None, matching only unscoped
    * probes. Scoping matters for STREAMING writers: two queries into
    * one table — or one pipeline restarted under a fresh checkpoint,
    * whose epoch ids restart at 0 — must never mistake each other's
    * epoch tags for their own replays (the public delta design's
    * (txnAppId, txnVersion) pair).
    */
  private def committedTxn(spark: SparkSession, path: String,
      txn: Long, app: Option[String] = None): Option[Long] =
    logRecords(spark, path)
      .find(r => r.txn == txn && r.txnApp == app).map(_.v)

  /** True when a commit tagged `txn` (scoped by `app` when given)
    * exists — the public probe exactly-once consumers
    * ([[graft.streaming.StoreChangeFeed]]) use to recognize a
    * replayed window whose write half already landed.
    */
  def hasTxn(spark: SparkSession, path: String, txn: Long,
      app: Option[String] = None): Boolean =
    committedTxn(spark, path, txn, app).isDefined

  /** True when a store exists at `path` (its log dir is present). */
  def exists(spark: SparkSession, path: String): Boolean =
    fs(spark, path).exists(logDir(path))

  /** Persist table constraints (the Delta CHECK-constraint idea,
    * expressed in the Check algebra): every subsequent [[append]] /
    * [[appendIdempotent]] / [[merge]] validates the INCOMING batch in
    * one fused aggregation pass and fails loudly before writing
    * anything — a rejected batch leaves no trace in the log or under
    * data/. Enforcement at the write boundary is what keeps a 100 TB
    * table clean: validating after the fact means a full-table scan
    * and a mess to unwind. A write is published crash-safely through
    * [[MetaParquet.publish]] ([[InPlace.replace]]), and readers run
    * its recovery first.
    */
  private val constraintCols = Seq(
    MetaParquet.Col("kind", "string"),
    MetaParquet.Col("column", "string"),
    MetaParquet.Col("args", "strings"))
  private val constraintSchema =
    MetaParquet.schemaOf("graft_constraints", constraintCols)

  def setConstraints(spark: SparkSession, path: String,
      checks: Seq[graft.check.Check]): Unit = {
    MetaParquet.publish(fs(spark, path),
      spark.sparkContext.hadoopConfiguration,
      new Path(s"$path/constraints"), constraintSchema, constraintCols,
      checks.map(graft.check.CheckCodec.encode).map {
        case (kind, column, args) => Map[String, Any](
          "kind" -> kind, "column" -> column, "args" -> args)
      })
  }

  /** The table's persisted constraints (empty if none were set). */
  def constraintsOf(spark: SparkSession,
      path: String): Seq[graft.check.Check] = {
    val dest = new Path(s"$path/constraints")
    val f = fs(spark, path)
    MetaParquet.recover(f, dest)
    if (!f.exists(dest)) Seq.empty
    else MetaParquet.read(f,
        spark.sparkContext.hadoopConfiguration, dest)
      .map(m => graft.check.CheckCodec.decode(
        m("kind").asInstanceOf[String],
        m("column").asInstanceOf[String],
        m.get("args") match {
          case Some(s: Seq[_]) => s.map(_.asInstanceOf[String])
          case _ => Nil
        }))
  }

  /** Persist free-form table PROPERTIES (the TBLPROPERTIES of the
    * public designs) beside the log — retention policies, owners,
    * maintenance hints live WITH the table instead of in whichever
    * job happens to run maintenance. Published like constraints
    * ([[MetaParquet.publish]], [[InPlace.replace]]); a full map
    * replace, read-modify-write for updates.
    */
  private val propCols = Seq(
    MetaParquet.Col("key", "string"),
    MetaParquet.Col("value", "string"))
  private val propSchema =
    MetaParquet.schemaOf("graft_properties", propCols)

  def setProperties(spark: SparkSession, path: String,
      props: Map[String, String]): Unit = {
    MetaParquet.publish(fs(spark, path),
      spark.sparkContext.hadoopConfiguration,
      new Path(s"$path/properties"), propSchema, propCols,
      props.toSeq.map { case (k, v) =>
        Map[String, Any]("key" -> k, "value" -> v) })
  }

  /** The table's persisted properties (empty if none were set). */
  def propertiesOf(spark: SparkSession,
      path: String): Map[String, String] = {
    val dest = new Path(s"$path/properties")
    val f = fs(spark, path)
    MetaParquet.recover(f, dest)
    if (!f.exists(dest)) Map.empty
    else MetaParquet.read(f,
        spark.sparkContext.hadoopConfiguration, dest)
      .map(m => m("key").asInstanceOf[String] ->
        m("value").asInstanceOf[String]).toMap
  }

  /** Apply the table's OWN retention policy: [[vacuumOlderThan]] at
    * `now − retention.ms` when the property is set, no-op otherwise.
    * The maintenance job needs zero per-table configuration — the
    * policy travels with the table ("keep 7 days" is
    * `retention.ms = 604800000`). `nowMs` is injectable for tests.
    */
  def vacuumByPolicy(spark: SparkSession, path: String,
      nowMs: Long = System.currentTimeMillis()): Seq[Long] =
    propertiesOf(spark, path).get("retention.ms") match {
      case Some(ms) => vacuumOlderThan(spark, path, nowMs - ms.toLong)
      case None => Seq.empty
    }

  /** Validate an incoming batch against the table constraints; one
    * aggregation pass over the batch, loud failure listing every
    * violated check.
    */
  private def validate(df: DataFrame, path: String): Unit = {
    val checks = constraintsOf(df.sparkSession, path)
    if (checks.isEmpty) return
    val failed = graft.check.CheckRunner.run(df, checks)
      .filterNot(_.passed)
    if (failed.nonEmpty) sys.error(
      "VersionedStore: batch rejected by table constraints — " +
        failed.map(r => s"${r.check}: ${r.violations} violations")
          .mkString("; "))
  }

  /** True when no file-group is visible at the latest version (a
    * just-created store, or one whose every group was removed).
    */
  def isEmpty(spark: SparkSession, path: String): Boolean =
    liveFids(spark, path, latestVersion(spark, path)).isEmpty

  /** Right-to-erasure: remove matching rows AND reclaim every
    * file-group that still carries them. [[deleteWhere]] alone keeps
    * pre-delete versions readable — for time travel that is the
    * feature, for a removal request it is the bug: the forgotten
    * rows would still be served by `readAt`. One delete commit
    * followed by a vacuum at that commit's horizon makes the rows
    * unrecoverable from this store; time travel is intentionally
    * truncated to the erasure point, and a read below it fails
    * loudly rather than serving forgotten data. Returns the erasure
    * version and the reclaimed file-group ids.
    */
  def erase(spark: SparkSession, path: String, pred: Column,
      keyRange: Option[(Long, Long)] = None): (Long, Seq[Long]) = {
    // deletion vectors FOLD first: a DV-masked row is invisible to
    // deleteWhere's detection scan, so without this a previously
    // deferred-deleted row matching `pred` would keep its bytes (and
    // the DV frame its key values) on disk — logically gone,
    // physically recoverable, which is exactly what erase exists to
    // prevent. The compaction rewrites DV-applied content and the
    // erase-horizon vacuum below then reclaims the pre-fold groups.
    if (liveDvFids(spark, path,
        latestVersion(spark, path)).nonEmpty)
      compact(spark, path)
    val v = deleteWhere(spark, path, pred, keyRange)
    (v, vacuum(spark, path, retainFrom = v))
  }

  /** One-row operational summary (the DESCRIBE DETAIL of SQL
    * lakehouses), computed ENTIRELY from the cached commit log — no
    * data scan at any table size: committed version count, live
    * file-group count, live row count (the per-group counts every
    * commit records), schema width, stats discipline, constraint
    * count.
    */
  def describe(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    val recs = logRecords(spark, path)
    val latest = latestVersion(spark, path)
    val live = liveFids(spark, path, latest).toSet
    val dvLive = liveDvFids(spark, path, latest).toSet
    // visible rows = committed group counts minus rows masked by
    // live deletion vectors (each DV records its masked-row count at
    // commit time; exact unless a later partial rewrite purged some
    // of a DV's rows before a compaction folded it — the lifecycle
    // [[compact]] normalizes)
    // per-FID counts, not per-record: a [[restore]] re-publishes a
    // live fid's add record, which must not double-count its rows
    val nRows = recs.filter(r => r.action == "add" && live(r.fid))
      .groupBy(_.fid).map(_._2.head.rows).sum -
      recs.filter(r => r.action == "dv" && dvLive(r.fid))
        .groupBy(_.fid).map(_._2.head.rows).sum
    val nCols = schemaAt(spark, path, latest)
      .map(_.fields.length.toLong).getOrElse(0L)
    Seq((latest, recs.map(_.v).distinct.size.toLong,
      live.size.toLong, nRows, nCols,
      storeStatsCol(spark, path).getOrElse(""),
      constraintsOf(spark, path).size.toLong,
      dvLive.size.toLong))
      .toDF("latest_version", "n_versions", "n_live_groups",
        "n_rows", "n_columns", "stats_col", "n_constraints",
        "n_dv_groups")
  }

  /** COUNT(*) of the latest version answered from the commit log
    * alone — zero data scan at any table size. Exact by
    * construction (every commit records its group's row count) as
    * long as no deletion vector is live: a DV's masked-row count is
    * exact at commit time but a later partial rewrite can purge some
    * of its rows, so rather than serve a maybe-stale number this
    * returns None and the caller falls back to a scan (a [[compact]]
    * folds the DVs and restores the fast path).
    */
  def fastCount(spark: SparkSession, path: String): Option[Long] = {
    val latest = latestVersion(spark, path)
    if (liveDvFids(spark, path, latest).nonEmpty) return None
    val live = liveFids(spark, path, latest).toSet
    Some(logRecords(spark, path)
      .filter(r => r.action == "add" && live(r.fid))
      .groupBy(_.fid).map(_._2.head.rows).sum)
  }

  /** MIN/MAX of an integral `keyCol` at the latest version from the
    * log's zone hulls alone — zero data scan. Sound only when EVERY
    * live group carries the zone (a blind-spot group could hold the
    * true extreme) and no deletion vector is live (a DV could mask
    * the extreme row); returns None otherwise and the caller scans.
    * Per-group hulls are exact min/max computed at write time, so
    * the fold over them is the exact table min/max — the
    * metadata-serving trick every warehouse plays, here O(live
    * groups) driver work off the cached log.
    */
  def fastMinMax(spark: SparkSession, path: String,
      keyCol: String): Option[(Long, Long)] = {
    val latest = latestVersion(spark, path)
    if (liveDvFids(spark, path, latest).nonEmpty) return None
    val live = liveFids(spark, path, latest)
    if (live.isEmpty) return None
    val pk = physOf(spark, path, latest, keyCol)
    val zones = groupZones(spark, path)
    val hulls = live.map { fid =>
      zones.getOrElse(fid, Nil)
        .find(z => z.c == pk && z.t == "l")
        .map(z => (z.lo.toLong, z.hi.toLong))
    }
    if (hulls.exists(_.isEmpty)) None
    else Some((hulls.map(_.get._1).min, hulls.map(_.get._2).max))
  }

  /** Threshold-triggered compaction — the OPTIMIZE policy a
    * maintenance job runs after ingest: fold when fragmentation
    * passes `maxLiveGroups` (reads degrade with file-group count;
    * stats prune best over few well-clustered groups). Returns true
    * when a compaction ran.
    */
  def maintain(spark: SparkSession, path: String, maxLiveGroups: Int,
      clusterBy: Seq[String] = Nil, numGroups: Int = 1): Boolean = {
    val latest = latestVersion(spark, path)
    // live deletion vectors count toward fragmentation: each adds an
    // anti-join to every read until a compaction folds it
    val frag = liveFids(spark, path, latest).size +
      liveDvFids(spark, path, latest).size
    if (frag > maxLiveGroups) {
      compact(spark, path, clusterBy, numGroups); true
    } else false
  }

  /** Register `name` as a SQL-addressable store table: the bare
    * name serves the LATEST version (resolved fresh at every query,
    * never the stale snapshot a temp view would pin), and the
    * parser's native `VERSION AS OF n` / `TIMESTAMP AS OF ts`
    * suffix serves any retained version — both resolved by
    * [[graft.plans.StoreTimeTravelRule]] on sessions built with
    * `spark.sql.extensions = graft.functions.GraftExtensions`.
    * Deliberately NOT a temp view: the builtin analyzer rejects time
    * travel over temp views before any extension rule runs, and a
    * view would freeze "latest" at registration time.
    */
  def registerTable(spark: SparkSession, path: String,
      name: String): Unit = {
    // the name only resolves through the injected analyzer rule;
    // extensions cannot be retrofitted onto a built session, so a
    // session without them must learn it HERE, not as a cryptic
    // TABLE_OR_VIEW_NOT_FOUND at first query
    val ext = spark.conf.get("spark.sql.extensions", "")
    if (!ext.contains("GraftExtensions")) sys.error(
      "VersionedStore.registerTable: this session was not built " +
        "with spark.sql.extensions=graft.functions.GraftExtensions " +
        "— SQL over store tables (and VERSION AS OF) cannot " +
        "resolve. Use read(...).createOrReplaceTempView for a plain " +
        "temp view instead")
    // one- or two-part (`db.table`) names; deeper nesting is not a
    // store concept (no catalog hierarchy behind the registry)
    require(name.count(_ == '.') <= 1,
      s"VersionedStore.registerTable: `$name` has more than two " +
        "name parts — register `table` or `db.table`")
    sqlTables.put(name.toLowerCase(java.util.Locale.ROOT), path)
  }

  /** view name (lowercased) → store path, for the time-travel rule. */
  private val sqlTables =
    new java.util.concurrent.ConcurrentHashMap[String, String]

  private[graft] def registeredPath(name: String): Option[String] =
    Option(sqlTables.get(name.toLowerCase(java.util.Locale.ROOT)))

  /** Data locations OUTSIDE this store that its LIVE groups (and
    * live deletion vectors) reference — a zero-copy clone's
    * borrowed data dirs. The dependency a catalog DROP must honor
    * in reverse: removing a path that appears here for any sibling
    * table would dangle that sibling's reads.
    */
  def foreignRefs(spark: SparkSession, path: String): Seq[String] = {
    val v = latestVersion(spark, path)
    val live =
      (liveFids(spark, path, v) ++ liveDvFids(spark, path, v)).toSet
    logRecords(spark, path)
      .filter(r => live(r.fid) && r.loc.isDefined)
      .map(_.loc.get).distinct
  }

  /** version → commit wall-clock millis, from the log records. */
  def commitTimestamps(spark: SparkSession,
      path: String): Map[Long, Long] =
    logRecords(spark, path).groupBy(_.v)
      .map { case (v, rs) => v -> rs.map(_.ts).max }

  /** The newest version committed at or before wall-clock `ms` —
    * `TIMESTAMP AS OF` resolution from the log's persisted commit
    * timestamps (one cached log read, no data scan).
    */
  def versionAtTimestamp(spark: SparkSession, path: String,
      ms: Long): Long = {
    val vs = logRecords(spark, path).filter(_.ts <= ms).map(_.v)
    if (vs.isEmpty) sys.error(
      s"VersionedStore.versionAtTimestamp: no commit at or before " +
        s"$ms at $path")
    vs.max
  }

  /** Commit history as a DataFrame: (version, action, fid, n_rows)
    * — `n_rows`, not `rows`, because ROWS is a reserved word in the
    * oracle engine's SQL.
    */
  def history(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    actions(spark, path, Long.MaxValue)
      .toDF("version", "action", "fid", "n_rows")
      .orderBy("version", "action", "fid")
  }

  /** Roll the table back to the exact content of version `v` as a
    * NEW commit — the RESTORE of the public lakehouse designs, and
    * the answer to "a bad batch landed an hour ago": nothing is
    * copied, rewritten, or deleted. The restore commit RE-PUBLISHES
    * version v's add/dv records (so [[liveOf]]'s last-action-wins
    * resolution re-surfaces groups a later commit had removed) and
    * removes every group that became live after v — the incident
    * stays fully in history (time travel still reproduces the bad
    * versions until vacuum), while the table serves the good
    * snapshot again. Re-published records carry version v's
    * schema/stats/zones verbatim, so the table schema and pruning
    * state roll back with the content (a post-v evolved-then-removed
    * group's schema cannot leak into [[schemaAt]]). Cost is one
    * O(live groups) metadata commit at any table size. Fails loudly
    * when v's groups were vacuumed away — restore can never serve
    * partial data.
    */
  def restore(spark: SparkSession, path: String, v: Long): Long = {
    val latest = latestVersion(spark, path)
    require(v <= latest,
      s"VersionedStore.restore: version $v of $path not committed " +
        s"(latest is $latest)")
    if (v == latest) return latest
    val wantData = liveFids(spark, path, v)
    val wantDv = liveDvFids(spark, path, v)
    if (wantData.isEmpty) sys.error(
      s"VersionedStore.restore: version $v of $path is empty " +
        "(or vacuumed past)")
    val have = (liveFids(spark, path, latest) ++
      liveDvFids(spark, path, latest)).toSet
    (wantData ++ wantDv).filterNot(have).foreach { fid =>
      if (!groupExists(spark, path, fid)) sys.error(
        s"VersionedStore.restore: file-group f$fid of version $v " +
          "was vacuumed — cannot restore (raise the retention " +
          "horizon before the next incident)")
    }
    val removes = (have -- wantData -- wantDv).toSeq.sorted
    val recOf = logRecords(spark, path)
      .filter(r => r.v <= v && r.action != "remove")
      .map(r => r.fid -> r).toMap
    def republish(fid: Long): GroupAdd = {
      val r = recOf(fid)
      GroupAdd(fid, r.rows, r.stats, r.schemaJson, r.zones, r.loc,
        r.blooms)
    }
    // the COLUMN MAPPING of the restored version rides along as
    // re-published rename records (schema-less: the add records
    // carry the schema) — one pair per renamed lineage, physical →
    // logical-at-v, so a restore across a LATER rename re-points
    // every logical name back to its physical lineage. Pairs map
    // distinct lineages, so replay order within the commit is
    // irrelevant. Without this, a restore to a post-rename version
    // served that version's logical schema against the LATEST
    // mapping and read the renamed column as all-NULL.
    val mapRens = mappingAt(spark, path, v).toSeq.sortBy(_._1)
      .map { case (l, phys) => (phys, l, null: String) }
    // the restored version's EXACT table schema rides as the
    // commit's schema anchor: the republished add records carry
    // each group's ORIGINAL schema, which is stale whenever the
    // newest schema-bearing commit at v was a pure-metadata
    // rename/drop (no add after it to refresh the group schemas) —
    // without the anchor such a restore resurrected the pre-rename
    // name / pre-drop column
    commitRetrying(spark, path, wantData.map(republish), removes,
      dvs = wantDv.map(republish), renames = mapRens,
      schemaAnchor = schemaAt(spark, path, v).map(_.json))
  }

  /** Shallow (zero-copy) clone: start a NEW store at `dstPath` whose
    * first commit re-publishes the source's live records at `version`
    * (latest by default) with each group's data location pointing
    * into the SOURCE store — no data moves at any table size, the
    * clone costs one O(live groups) metadata commit. The public
    * lakehouse CLONE semantics:
    *  - reads on the clone scan the source's immutable file-groups
    *    directly (loc-aware [[groupDir]] resolution);
    *  - writes on the clone are COPY-ON-WRITE — appends, merges, and
    *    deletes mint local groups under the clone's own `data/`, the
    *    source is never modified (a rewrite of a cloned-in group
    *    replaces the reference, not the source bytes);
    *  - [[vacuum]] on the clone only ever reclaims its own local
    *    groups (foreign dirs are not in its listing);
    *  - table constraints are copied at clone time (they gate the
    *    clone's own writes independently from the source's).
    * The one documented hazard mirrors the public designs: a vacuum
    * on the SOURCE can reclaim groups a clone still references —
    * reads then fail loudly via the existence sweep, never partial.
    * The dev/test pattern this enables at 100 TB: experiment on a
    * full-size table in seconds, throw the clone away, the source
    * untouched.
    */
  def cloneTo(spark: SparkSession, srcPath: String, dstPath: String,
      version: Option[Long] = None): Long = {
    val v = version.getOrElse(latestVersion(spark, srcPath))
    val data = liveFids(spark, srcPath, v)
    val dvs = liveDvFids(spark, srcPath, v)
    if (data.isEmpty) sys.error(
      s"VersionedStore.cloneTo: version $v of $srcPath is empty " +
        "(or vacuumed past)")
    (data ++ dvs).foreach { fid =>
      if (!groupExists(spark, srcPath, fid)) sys.error(
        s"VersionedStore.cloneTo: file-group f$fid of version $v " +
          "was vacuumed — cannot clone")
    }
    val recOf = logRecords(spark, srcPath)
      .filter(r => r.v <= v && r.action != "remove")
      .map(r => r.fid -> r).toMap
    // a clone of a clone flattens to the ORIGINAL owner's location —
    // chains never build up path indirection
    def asForeign(fid: Long): GroupAdd = {
      val r = recOf(fid)
      GroupAdd(fid, r.rows, r.stats, r.schemaJson, r.zones,
        Some(r.loc.getOrElse(dataDir(srcPath, fid).toString)),
        r.blooms)
    }
    create(spark, dstPath)
    // the source's column mapping at `v` travels with the clone
    // (same pairs as restore's republication): the cloned-in groups
    // carry the source's PHYSICAL column names, and without the
    // mapping the clone would read every renamed column as NULL
    val mapRens = mappingAt(spark, srcPath, v).toSeq.sortBy(_._1)
      .map { case (l, phys) => (phys, l, null: String) }
    // same schema anchor as restore: the source's exact table schema
    // at `v` (the cloned-in records carry their groups' original,
    // possibly pre-rename/pre-drop schemas)
    val cloned = commitRetrying(spark, dstPath,
      data.map(asForeign), Seq.empty, dvs = dvs.map(asForeign),
      renames = mapRens,
      schemaAnchor = schemaAt(spark, srcPath, v).map(_.json))
    // borrow markers IN THE OWNER'S TREE, one per borrowed group
    // (`<owner>/data/.borrows/f<fid>-<hash(dst)>`, content = the
    // borrower's path): the owner's vacuum consults them so a
    // compact-then-vacuum on the source can never reclaim bytes a
    // live clone still reads. Written AFTER the clone commit — a
    // crash in between leaves a stale marker, which vacuum GCs on
    // contact (the safe order; the reverse could free a committed
    // clone's data). Markers go to the ORIGINAL owner (loc is
    // flattened), so clone chains all pin the same tree.
    (data.map(asForeign) ++ dvs.map(asForeign)).foreach { ga =>
      val locDir = new Path(ga.loc.get)
      val markerDir = new Path(locDir.getParent, ".borrows")
      val f = fs(spark, markerDir)
      f.mkdirs(markerDir)
      val h = java.security.MessageDigest.getInstance("SHA-256")
        .digest(dstPath.getBytes("UTF-8"))
        .take(6).map("%02x".format(_)).mkString
      val out = f.create(
        new Path(markerDir, s"${locDir.getName}-$h"), true)
      try out.write(dstPath.getBytes("UTF-8")) finally out.close()
    }
    val checks = constraintsOf(spark, srcPath)
    if (checks.nonEmpty) setConstraints(spark, dstPath, checks)
    val props = propertiesOf(spark, srcPath)
    if (props.nonEmpty) setProperties(spark, dstPath, props)
    cloned
  }

  /** Reclaim file-groups not visible at any version ≥ `retainFrom`
    * — both groups removed before the horizon and orphans from
    * crashed appends. After vacuum, `readAt` below the horizon fails
    * loudly (the existence check above), never returns partial data.
    */
  def vacuum(spark: SparkSession, path: String,
      retainFrom: Long): Seq[Long] = {
    val f = fs(spark, path)
    val vs = versions(spark, path)
    // deletion-vector key groups are part of a version's visibility
    // state — reclaiming one would RESURRECT its masked rows
    val keep = vs.filter(_ >= retainFrom)
      .flatMap(v => liveFids(spark, path, v) ++
        liveDvFids(spark, path, v)).toSet
    val dd = new Path(s"$path/data")
    val onDisk =
      if (!f.exists(dd)) Seq.empty[Long]
      else f.listStatus(dd).toSeq.map(_.getPath.getName)
        .filter(_.matches("f\\d+")).map(_.drop(1).toLong)
    // borrow guard: a zero-copy clone references this store's group
    // dirs by absolute path — reclaiming one would break the
    // borrower's reads FOREVER (its data lives here). Markers under
    // data/.borrows (written by cloneTo) name each borrower; a
    // group is spared while any marker's borrower still EXISTS and
    // still LIVE-references it, and stale markers (borrower
    // dropped, or compacted away from the borrowed group) are GC'd
    // on contact. ONE extra listing per vacuum, nothing per group.
    val borrowDir = new Path(dd, ".borrows")
    val markerPat = "f(\\d+)-\\w+".r
    val borrowMarkers: Map[Long, Seq[Path]] =
      if (!f.exists(borrowDir)) Map.empty
      else f.listStatus(borrowDir).toSeq.map(_.getPath)
        .flatMap(p => p.getName match {
          case markerPat(fid) => Some(fid.toLong -> p)
          case _ => None
        }).groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    def stillBorrowed(fid: Long): Boolean =
      borrowMarkers.getOrElse(fid, Nil).exists { m =>
        val borrower = {
          val in = f.open(m)
          try {
            val buf = new Array[Byte](4096)
            val n = in.read(buf)
            new String(buf, 0, math.max(n, 0), "UTF-8")
          } finally in.close()
        }
        val live = borrower.nonEmpty &&
          exists(spark, borrower) &&
          foreignRefs(spark, borrower)
            .contains(dataDir(path, fid).toString)
        if (!live) { f.delete(m, false); () } // stale: GC the marker
        live
      }
    val victims = onDisk.filterNot(keep).sorted
      .filterNot(fid => borrowMarkers.contains(fid) &&
        stillBorrowed(fid))
    victims.foreach { fid =>
      if (!f.delete(dataDir(path, fid), true))
        sys.error(s"VersionedStore.vacuum: cannot delete f$fid")
    }
    // GC fid-claim markers the log already names — a committed fid
    // can never be a claim candidate again (nextFid is past it), so
    // its marker is dead weight; crashed writers' claims for fids
    // the log never names stay forever (that hole is the guarantee)
    val cd = new Path(s"$path/data/.fidclaims")
    if (f.exists(cd)) {
      val committed = logRecords(spark, path).map(_.fid).toSet
      f.listStatus(cd).foreach { st =>
        st.getPath.getName match {
          case n if n.matches("f\\d+") &&
            committed(n.drop(1).toLong) =>
            f.delete(st.getPath, false); ()
          case _ => ()
        }
      }
    }
    // reclaim the victims' Bloom sidecars (and crashed tmp files)
    // with them — a sidecar without its group is dead weight
    val bd = new Path(s"$path/bloom")
    if (victims.nonEmpty && f.exists(bd)) {
      val vset = victims.toSet
      // matches published sidecars AND crashed ".tmp-f<fid>-…" files
      val fidPat = "(?:\\.tmp-)?f(\\d+)-.*".r
      f.listStatus(bd).foreach { st =>
        st.getPath.getName match {
          case fidPat(fidStr) if vset(fidStr.toLong) =>
            f.delete(st.getPath, true); ()
          case _ => ()
        }
      }
    }
    victims
  }

  /** Age-based retention — the form production policies take ("keep
    * 7 days", not "keep 5 versions"): reclaim file-groups visible
    * ONLY at versions whose commit timestamp (persisted in the
    * record, never inferred from dir mtimes) is older than
    * `cutoffTs` millis. The latest version is always retained
    * regardless of age, and pre-timestamp records (ts −1) are
    * treated as infinitely old. Returns the reclaimed fids.
    */
  def vacuumOlderThan(spark: SparkSession, path: String,
      cutoffTs: Long): Seq[Long] = {
    val latest = latestVersion(spark, path)
    val tsOf = logRecords(spark, path).groupBy(_.v)
      .map { case (v, rs) => v -> rs.map(_.ts).max }
    val youngEnough = versions(spark, path)
      .filter(v => tsOf.getOrElse(v, -1L) >= cutoffTs)
    val horizon = (youngEnough.headOption.toSeq :+ latest).min
    vacuum(spark, path, horizon)
  }
}

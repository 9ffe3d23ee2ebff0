package graft.streaming

import graft.operators.{InPlace, VersionedStore}
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Exactly-once incremental consumption of a [[VersionedStore]]'s
  * row-level change feed — the read-side counterpart of
  * [[VersionedStoreSink]] and the restart-safe form of the manual
  * `changes(from, to)` windows the q343 replication gate applies by
  * hand. A durable CURSOR file records the last source version a
  * consumer has fully applied; each [[replicate]] call tails
  * `changes(cursor, latest)`, applies the window to the replica, and
  * advances the cursor ONLY after the window landed. Restart-safety
  * is by replay + idempotence, the same contract Structured
  * Streaming's foreachBatch gives the sink side:
  *
  *  - a crash BEFORE the window lands replays the whole window:
  *    keyed deletes of already-deleted keys are no-ops, and the
  *    insert half is a txn-tagged commit
  *    ([[VersionedStore.appendIdempotent]] keyed by the window's end
  *    version) that lands at most once;
  *  - a crash AFTER the insert half but BEFORE the cursor advance is
  *    the subtle case: naively re-running the deletes would destroy
  *    the replacement rows the already-landed insert carried (a
  *    keyed delete cannot tell the old row from its replacement).
  *    [[VersionedStore.hasTxn]] closes it — a replayed window whose
  *    insert txn already committed skips straight to the cursor
  *    advance (the delete half ran before that commit by
  *    construction, since deletes always land first);
  *  - windows with NO inserts have no txn marker and need none:
  *    their only effect is keyed deletes, idempotent under replay.
  *
  * Scale shape: each window costs O(changed groups) (the
  * [[VersionedStore.changes]] bound) plus one cursor read/write; an
  * idle poll is two driver-side metadata reads and no Spark job. The
  * single-writer-per-store contract applies to the REPLICA (one
  * consumer owns it); many independent consumers can tail one source
  * with their own cursors.
  */
object StoreChangeFeed {

  private def fs(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Last source version fully applied (0 = nothing yet). The
    * cursor is a DIRECTORY of version-named marker files and the
    * value is the max name: advancing is ONE atomic create of a new
    * marker — nothing is deleted or renamed on the critical path, so
    * no crash point can lose the value. (A replace-in-place cursor
    * file has a delete-then-rename window that resets the cursor to
    * 0; the ensuing full-history replay duplicates the replica
    * whenever the last window carried no insert txn to catch it.)
    * Older markers are GC'd best-effort AFTER the new one exists.
    */
  def cursorOf(spark: SparkSession, cursorPath: String): Long = {
    val d = new Path(cursorPath)
    val f = fs(spark, d)
    if (!f.exists(d)) 0L
    else f.listStatus(d).toSeq.map(_.getPath.getName)
      .filter(_.matches("v\\d+")).map(_.drop(1).toLong)
      .maxOption.getOrElse(0L)
  }

  private def setCursor(spark: SparkSession, cursorPath: String,
      v: Long): Unit = {
    val d = new Path(cursorPath)
    val f = fs(spark, d)
    if (!f.exists(d)) f.mkdirs(d)
    val out = f.create(new Path(d, s"v$v"), true)
    out.close()
    f.listStatus(d).foreach { st =>
      st.getPath.getName match {
        case n if n.matches("v\\d+") && n.drop(1).toLong < v =>
          f.delete(st.getPath, false); ()
        case _ => ()
      }
    }
  }

  /** The WRITE-AHEAD INTENT that makes a replayed window
    * bit-identical to its first attempt: the window's end version is
    * chosen once, durably, BEFORE anything is applied. Without it, a
    * crash after the insert half landed followed by new SOURCE
    * commits would widen the replayed window — its insert set would
    * re-carry rows the crashed attempt already landed (under a new
    * txn, so idempotence can't catch them) and duplicate them. A
    * stale intent is replaced through [[InPlace.replace]], backed up
    * at `<cursor>.intent.bak` until the new one is in place.
    */
  private def intendedTo(spark: SparkSession, cursorPath: String,
      from: Long, latest: Long): Long = {
    val p = new Path(cursorPath + ".intent")
    val f = fs(spark, p)
    val bak = new Path(cursorPath + ".intent.bak")
    InPlace.recover(f, p, bak)
    val resumed =
      if (!f.exists(p)) None
      else {
        val in = f.open(p)
        val s = try scala.io.Source.fromInputStream(in).mkString.trim
        finally in.close()
        val Array(iFrom, iTo) = s.split(":").map(_.toLong)
        // an intent from an OLDER, completed window is stale noise
        if (iFrom == from) Some(iTo) else None
      }
    resumed.getOrElse {
      val tmp = new Path(cursorPath + ".intent.tmp")
      InPlace.replace(f, p, tmp, bak) { t =>
        val out = f.create(t, true)
        try out.write(s"$from:$latest".getBytes("UTF-8"))
        finally out.close()
      }
      latest
    }
  }

  /** Apply every source window not yet applied to the keyed replica
    * at `dstPath`; returns (fromVersion, toVersion) of the applied
    * window ((v, v) = nothing new). Safe to call on any schedule —
    * an orchestrator loop, a cron tick, or back-to-back after a
    * crash at ANY point; the end state is the same.
    */
  def replicate(spark: SparkSession, srcPath: String, dstPath: String,
      cursorPath: String, keyCols: Seq[String]): (Long, Long) = {
    val from = cursorOf(spark, cursorPath)
    val latest = VersionedStore.latestVersion(spark, srcPath)
    if (latest <= from) return (from, latest)
    val to = intendedTo(spark, cursorPath, from, latest)
    // replayed window whose insert txn already landed: deletes ran
    // before that commit (deletes-first order), so ONLY the cursor
    // advance is outstanding
    if (VersionedStore.exists(spark, dstPath) &&
      VersionedStore.hasTxn(spark, dstPath, to)) {
      setCursor(spark, cursorPath, to)
      return (from, to)
    }
    if (!VersionedStore.exists(spark, dstPath))
      VersionedStore.create(spark, dstPath)
    // both feed vocabularies replicate identically: update
    // pre-images remove like deletes, post-images land like inserts
    // (changesKeyed's tags compose through the same two commits)
    val feed = VersionedStore.changes(spark, srcPath, from, to)
      .localCheckpoint()
    val dels = feed.filter(
      col("_change").isin("delete", "update_preimage"))
      .select(keyCols.map(col): _*)
    if (!dels.isEmpty)
      VersionedStore.deleteKeys(spark, dstPath, dels, keyCols)
    val ins = feed.filter(
      col("_change").isin("insert", "update_postimage"))
      .drop("_change")
    if (!ins.isEmpty)
      VersionedStore.appendIdempotent(ins, dstPath, txn = to)
    setCursor(spark, cursorPath, to)
    (from, to)
  }

  /** [[replicate]] until the replica is caught up (a source that
    * commits while we drain gets its new windows too); returns the
    * final cursor.
    */
  def replicateAll(spark: SparkSession, srcPath: String,
      dstPath: String, cursorPath: String,
      keyCols: Seq[String]): Long = {
    var cur = -1L
    var next = cursorOf(spark, cursorPath)
    while (next != cur) {
      cur = next
      next = replicate(spark, srcPath, dstPath, cursorPath, keyCols)._2
    }
    next
  }
}

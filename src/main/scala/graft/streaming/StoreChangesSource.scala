package graft.streaming

import graft.operators.VersionedStore
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.JoinedRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table,
  TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition,
  PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream,
  Offset}
import org.apache.spark.sql.execution.datasources.PartitionedFile
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** The [[VersionedStore]] change feed as a REAL Data Source V2
  * streaming source — `spark.readStream.format("graft-store-changes")
  * .option("path", storePath).load()` — with offsets = store commit
  * versions, so `StreamingQueryProgress.sources` reports exactly
  * which version range each micro-batch covered and the streaming
  * checkpoint's offset log carries resumable store positions.
  *
  * Feed rows are the store schema plus a `_change` string column
  * ([[VersionedStore.changes]]'s vocabulary). Two execution paths,
  * picked per window:
  *
  *  - PURE-APPEND windows (the common streaming shape) are ZERO-COPY:
  *    the planner ([[VersionedStore.appendOnlyWindow]]) proves every
  *    record in the window is a plain add under the current schema,
  *    plans one input partition per group parquet file, and
  *    executors read the store's own files in place, tagging
  *    `insert` — no derivation job, no staging write;
  *  - windows containing a rewrite/delete/DV/restore/schema change
  *    derive the NETTED row feed ([[VersionedStore.changes]] — a
  *    compaction nets to nothing, an update to delete + insert) with
  *    one distributed job at planning time, staged as parquet under
  *    the stream's checkpoint dir; partitions then read the staged
  *    files. The staging copy is O(window's changed rows) — the same
  *    one-extra-copy cost the public CDF design pays at write time,
  *    paid here at read time only for the windows that need it, and
  *    reclaimed at commit.
  *
  * Exactly-once: standard DSv2 micro-batch semantics — the offset
  * log pins each batch's (start, end] version window, a post-crash
  * replay re-plans the identical window (deterministic: the log is
  * immutable history), and the sink's own idempotence completes the
  * contract, exactly as with any Spark source. The
  * fresh-checkpoint-restart story (resume from a STORE-side cursor
  * with no checkpoint at all) is [[StoreChangeFeed.replicate]].
  *
  * Executors read the files with Spark's own parquet reader
  * ([[VersionedStore.parquetReader]], built on the driver per
  * micro-batch), so every column type a batch read serves streams
  * the same way.
  */
final class StoreChangesSource extends TableProvider
    with DataSourceRegister {
  override def shortName(): String = "graft-store-changes"

  private def pathOf(options: CaseInsensitiveStringMap): String = {
    val name = Option(options.get("table"))
      .map(t => graft.sources.GraftStoreCatalog.storePath(
          t.split('.').toSeq, SparkSession.active)
        .getOrElse(sys.error(
          s"graft-store-changes: `$t` is neither a registered " +
            "table nor a catalog table")))
    name.orElse(Option(options.get("path"))).getOrElse(
      sys.error("graft-store-changes: set option `path` (store " +
        "path) or `table` (registered or catalog name)"))
  }

  override def inferSchema(
      options: CaseInsensitiveStringMap): StructType =
    VersionedStore.read(SparkSession.active, pathOf(options)).schema
      .add(StructField("_change", StringType, nullable = false))

  override def getTable(schema: StructType,
      partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table = {
    val options = new CaseInsensitiveStringMap(properties)
    new StoreChangesTable(pathOf(options), schema,
      Option(options.get("startingVersion")).map(_.toLong))
  }
}

private[streaming] final class StoreChangesTable(path: String,
    tableSchema: StructType,
    startingVersion: Option[Long]) extends Table with SupportsRead {
  override def name(): String = s"graft-store-changes($path)"
  override def schema(): StructType = tableSchema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(
      options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new Scan {
        override def readSchema(): StructType = tableSchema
        override def toMicroBatchStream(
            checkpointLocation: String): MicroBatchStream =
          new StoreChangesMicroBatchStream(path, tableSchema,
            startingVersion, checkpointLocation)
      }
    }
}

/** Offset = store commit version (monotone long). */
private[graft] final case class StoreVersionOffset(v: Long)
    extends Offset {
  override def json(): String = v.toString
}

private[streaming] final class StoreChangesMicroBatchStream(
    path: String, schema: StructType,
    startingVersion: Option[Long], checkpointLocation: String)
    extends MicroBatchStream {

  private def spark = SparkSession.active

  override def initialOffset(): Offset =
    StoreVersionOffset(startingVersion.getOrElse(0L))
  override def latestOffset(): Offset =
    StoreVersionOffset(VersionedStore.latestVersion(spark, path))
  override def deserializeOffset(json: String): Offset =
    StoreVersionOffset(json.trim.toLong)

  private def stagingDir(from: Long, to: Long): String =
    s"$checkpointLocation/graft-feed/w$from-$to"

  override def planInputPartitions(start: Offset,
      end: Offset): Array[InputPartition] = {
    val from = start.asInstanceOf[StoreVersionOffset].v
    val to = end.asInstanceOf[StoreVersionOffset].v
    if (to <= from) return Array.empty
    VersionedStore.appendOnlyWindow(spark, path, from, to) match {
      case Some(groupDirs) =>
        // zero-copy: executors read the store's own files in place
        ChangeFilePartition.of(spark, groupDirs, insertTag = true)
          .toArray
      case None =>
        // derivation window: stage the netted feed (one distributed
        // job), serve the staged files. Staging is STAGE-ONCE
        // (tmp + rename, reuse if present): Spark may plan the same
        // window more than once per batch, and an overwrite-in-place
        // would delete the files an earlier plan's readers hold —
        // deterministic content makes reuse correct, and a replayed
        // batch after commit's GC simply re-stages.
        val dir = stagingDir(from, to)
        val f = FileSystem.get(new Path(dir).toUri,
          spark.sparkContext.hadoopConfiguration)
        val d = new Path(dir)
        if (!f.exists(d)) {
          val tmp = new Path(
            dir + s".tmp-${java.util.UUID.randomUUID}")
          VersionedStore.changes(spark, path, from, to)
            .select(schema.fieldNames.map(
              org.apache.spark.sql.functions.col).toIndexedSeq: _*)
            .write.mode("overwrite").parquet(tmp.toString)
          if (!f.rename(tmp, d)) {
            f.delete(tmp, true) // a concurrent plan won — reuse its dir
            if (!f.exists(d)) sys.error(
              s"graft-store-changes: cannot stage window $dir")
          }
        }
        ChangeFilePartition.of(spark, Seq(dir), insertTag = false)
          .toArray
    }
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new ChangeFileReaderFactory(
      VersionedStore.parquetReader(spark, schema),
      Some(VersionedStore.parquetReader(spark,
        StructType(schema.filter(_.name != "_change")))))

  /** Reclaim staged windows at or below the committed offset. */
  override def commit(end: Offset): Unit = {
    val to = end.asInstanceOf[StoreVersionOffset].v
    val root = new Path(s"$checkpointLocation/graft-feed")
    val f = FileSystem.get(root.toUri,
      spark.sparkContext.hadoopConfiguration)
    if (f.exists(root)) f.listStatus(root).foreach { st =>
      st.getPath.getName match {
        case s if s.matches("w\\d+-\\d+") &&
            s.split("-")(1).toLong <= to =>
          f.delete(st.getPath, true); ()
        case _ => ()
      }
    }
  }

  override def stop(): Unit = ()
}

/** One parquet file of a window: a store group file (pure-append
  * window; the change feed appends `_change = insert`) or a staged
  * feed file (carries its own `_change`).
  */
private[graft] final case class ChangeFilePartition(
  file: PartitionedFile, insertTag: Boolean) extends InputPartition

private[graft] object ChangeFilePartition {
  /** One partition per parquet file under `dirs`, listed on the
    * driver. A dir that is gone contributes nothing.
    */
  def of(spark: SparkSession, dirs: Seq[String],
      insertTag: Boolean): Seq[ChangeFilePartition] = {
    val conf = spark.sparkContext.hadoopConfiguration
    dirs.map(new Path(_)).filter(d => d.getFileSystem(conf).exists(d))
      .flatMap(VersionedStore.parquetFiles(_, conf))
      .map(st => ChangeFilePartition(VersionedStore.wholeFile(st),
        insertTag))
  }
}

/** Serves each [[ChangeFilePartition]] through a parquet reader the
  * driver built: `read` returns rows as stored, and `readStore`
  * (the change feed's; over the store columns alone) reads the group
  * files of an `insertTag` partition, whose rows get `insert`
  * joined on. The readers reuse their row objects, so rows are
  * handed on and never kept.
  */
private[graft] final class ChangeFileReaderFactory(
    read: PartitionedFile => Iterator[InternalRow],
    readStore: Option[PartitionedFile => Iterator[InternalRow]])
    extends PartitionReaderFactory {
  override def createReader(
      partition: InputPartition): PartitionReader[InternalRow] = {
    val ChangeFilePartition(file, insertTag) = partition
    val tag = readStore.filter(_ => insertTag)
    val rows = tag.getOrElse(read)(file)
    val insert = InternalRow(UTF8String.fromString("insert"))
    val joined = new JoinedRow
    new PartitionReader[InternalRow] {
      private var cur: InternalRow = _
      override def next(): Boolean =
        rows.hasNext && { cur = rows.next(); true }
      override def get(): InternalRow =
        if (tag.isEmpty) cur else joined(cur, insert)
      override def close(): Unit = rows match {
        case c: java.io.Closeable => c.close()
        case _ => ()
      }
    }
  }
}

/** The ROW feed of a store/catalog table as a streaming source —
  * `spark.readStream.table("lake.t")` (the Delta-style shape): the
  * FIRST micro-batch serves the table's CURRENT snapshot (the live
  * group files at the version where the stream starts — vacuum-safe,
  * where replaying the original append history would read
  * pre-compaction files the next vacuum deletes), then each
  * micro-batch serves the rows of the APPEND commits in its version
  * window, ZERO-COPY over the store's own group files, with offsets
  * = store versions. A rewrite/delete/DV/schema commit is not
  * expressible as bare rows: the stream FAILS loudly on it unless
  * `skipChangeCommits=true` (skip those commits entirely — the
  * public CDF vocabulary's escape hatch), and the full
  * delete+insert feed remains `format("graft-store-changes")`.
  * `startingVersion` opts out of the snapshot into explicit history
  * replay (0 = from the beginning). No staging, no derivation jobs:
  * every planned window is either in-place group files or skipped.
  */
private[graft] final class StoreTableRowStream(path: String,
    schema: StructType, skipChangeCommits: Boolean,
    startingVersion: Option[Long]) extends MicroBatchStream {

  private def spark = SparkSession.active

  /** -1 = "initial snapshot pending": the first planned window
    * (-1, v] serves the live files AT v instead of a version range.
    * Persisted through the checkpoint like any offset, so a crash
    * before the first commit replans the same snapshot.
    */
  override def initialOffset(): Offset =
    StoreVersionOffset(startingVersion.getOrElse(-1L))
  override def latestOffset(): Offset =
    StoreVersionOffset(VersionedStore.latestVersion(spark, path))
  override def deserializeOffset(json: String): Offset =
    StoreVersionOffset(json.trim.toLong)

  override def planInputPartitions(start: Offset,
      end: Offset): Array[InputPartition] = {
    val from = start.asInstanceOf[StoreVersionOffset].v
    val to = end.asInstanceOf[StoreVersionOffset].v
    if (to <= from) return Array.empty
    if (from < 0)
      return VersionedStore.snapshotFiles(spark, path, to) match {
        case Some(dirs) =>
          ChangeFilePartition.of(spark, dirs, insertTag = false).toArray
        case None => sys.error(
          s"readStream.table over store at $path: the initial " +
            "snapshot carries live deletion vectors or renamed " +
            "columns, which a bare row feed cannot serve zero-copy " +
            "— OPTIMIZE the table first (folds DVs), or stream " +
            "format(\"graft-store-changes\") for the full change " +
            "feed, or set startingVersion for explicit history " +
            "replay")
      }
    // A rename-mapped table's group files carry PHYSICAL column
    // names: replayed pre-rename appends would bind the renamed
    // column to nothing and the missing-field guard would serve
    // silent NULLs — refuse loudly instead (the same contract as the
    // snapshot path's snapshotFiles refusal; the mapping-aware
    // change feed remains the escape hatch)
    if (VersionedStore.columnMapping(spark, path).nonEmpty)
      sys.error(
        s"readStream.table over store at $path: the table has " +
          "renamed columns, which history replay over a bare row " +
          "feed cannot bind — stream " +
          "format(\"graft-store-changes\") for the mapping-aware " +
          "change feed, or drop startingVersion for the current-" +
          "snapshot default")
    // per-VERSION decomposition (not per-window): a window mixing
    // an append and a rewrite must still serve the append and skip
    // only the rewrite
    (from + 1 to to).flatMap { v =>
      VersionedStore.appendOnlyWindow(spark, path, v - 1, v) match {
        // the CREATE TABLE anchor plans as an empty window
        case Some(groupDirs) =>
          ChangeFilePartition.of(spark, groupDirs, insertTag = false)
        case None if skipChangeCommits => Seq.empty
        case None => sys.error(
          s"readStream.table over store at $path: commit v$v is a " +
            "rewrite/delete/DV/restore/schema change, which a bare " +
            "row feed cannot express — set " +
            "option(\"skipChangeCommits\", \"true\") to skip such " +
            "commits, or stream format(\"graft-store-changes\") " +
            "for the full delete+insert change feed")
      }
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new ChangeFileReaderFactory(
      VersionedStore.parquetReader(spark, schema), None)

  override def commit(end: Offset): Unit = () // nothing staged
  override def stop(): Unit = ()
}

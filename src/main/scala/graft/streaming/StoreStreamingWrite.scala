package graft.streaming

import graft.operators.VersionedStore
import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{Job, TaskAttemptID}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write.{DataWriter,
  PhysicalWriteInfo, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.{
  StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.execution.datasources.{OutputWriter,
  OutputWriterFactory}
import org.apache.spark.sql.execution.datasources.parquet
  .ParquetFileFormat
import org.apache.spark.sql.types._
import org.apache.spark.util.SerializableConfiguration

/** `df.writeStream.toTable("lake.t")` — Structured Streaming into a
  * [[VersionedStore]] through the STANDARD DSv2 sink API, with the
  * store's exactly-once contract:
  *
  *  - executors stage each task's rows as parquet under
  *    `<store>/data/.stream-stage/<queryId>/<epoch>/` (the commit
  *    log never names staged files, so readers cannot see them and
  *    a crashed task leaves invisible litter). Staged columns carry
  *    the store's PHYSICAL names (the driver resolves the column
  *    mapping at query start), uniform with batch-written groups —
  *    so rename-mapped tables stream without copying, and physical
  *    names never change, so even a rename landing MID-STREAM
  *    leaves the staged bytes correct;
  *  - the driver's per-epoch `commit` ADOPTS the staged files as
  *    ONE txn-tagged store commit (txn = epochId SCOPED BY the
  *    streaming queryId — [[VersionedStore.adoptStreamEpoch]]:
  *    claim fid, move files into the group dir, schema gate +
  *    constraints + stats/zone/bloom discipline, one log record).
  *    A post-crash replay of the same epoch finds the committed
  *    (queryId, epochId) txn and is a NO-OP, while a SECOND query
  *    into the same table — or this pipeline restarted under a
  *    fresh checkpoint, whose epoch ids restart at 0 — commits its
  *    own epochs instead of mistaking the old tags for replays
  *    (the public delta (txnAppId, txnVersion) idempotence scope).
  *
  * Scale shape: rows never visit the driver — each task writes its
  * own staged file, and the driver move is O(files) renames plus
  * one stats pass over the new group only. Single-writer per store
  * path, as everywhere.
  *
  * Tasks write with Spark's own parquet writer, prepared once per
  * query on the driver, so staged files carry the same encodings as a
  * batch append and every column type a batch append takes streams.
  */
final class StoreStreamingWrite(path: String, schema: StructType,
    queryId: String) extends StreamingWrite {

  private def spark = SparkSession.active
  private def stagingRoot = s"$path/data/.stream-stage/$queryId"

  /** The staged (physical-name) schema: logical stream columns
    * re-pointed through the store's live column mapping, resolved
    * ONCE on the driver. Physical names are write-once, so this
    * stays correct for the life of the query.
    */
  private val physSchema: StructType = {
    val m = VersionedStore.columnMapping(spark, path)
    if (m.isEmpty) schema
    else StructType(schema.fields.map(f =>
      f.copy(name = m.getOrElse(f.name, f.name))))
  }

  /** The parquet writer factory and the job conf it was prepared
    * into (codec, timestamp and decimal encodings from the session).
    */
  private val (writers, conf) = {
    val job = Job.getInstance(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
        .sessionState.newHadoopConf())
    val w = new ParquetFileFormat().prepareWrite(spark, job, Map.empty,
      physSchema)
    (w, new SerializableConfiguration(job.getConfiguration))
  }

  override def createStreamingWriterFactory(
      info: PhysicalWriteInfo): StreamingDataWriterFactory =
    new StoreStreamWriterFactory(stagingRoot, physSchema, writers, conf)

  override def commit(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit = {
    val staged = messages.collect {
      case m: StagedFilesMessage => m.files
    }.flatten.toSeq
    VersionedStore.adoptStreamEpoch(spark, path, staged,
      txn = epochId, app = queryId)
    // the epoch's staging dir is spent either way (adopted, or a
    // replayed no-op whose re-staged files must not accumulate)
    dropStaged(epochId)
  }

  override def abort(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit =
    dropStaged(epochId)

  private def dropStaged(epochId: Long): Unit = {
    val dir = new Path(s"$stagingRoot/$epochId")
    dir.getFileSystem(conf.value).delete(dir, true)
    ()
  }
}

/** Staged file list of one task — the only thing that travels back
  * to the driver.
  */
private[streaming] final case class StagedFilesMessage(
  files: Seq[String]) extends WriterCommitMessage

/** Each task writes one staged file, created at its first row, so an
  * empty partition stages nothing; an aborted task deletes its file.
  */
private[streaming] final class StoreStreamWriterFactory(
    stagingRoot: String, schema: StructType,
    writers: OutputWriterFactory, conf: SerializableConfiguration)
    extends StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long,
      epochId: Long): DataWriter[InternalRow] = {
    val file = s"$stagingRoot/$epochId/part-$partitionId-$taskId-" +
      s"${java.util.UUID.randomUUID}.parquet"
    new DataWriter[InternalRow] {
      private var out: OutputWriter = _

      override def write(record: InternalRow): Unit = {
        if (out == null) out = writers.newInstance(file, schema,
          new TaskAttemptContextImpl(conf.value, new TaskAttemptID))
        out.write(record)
      }

      override def commit(): WriterCommitMessage = {
        if (out != null) out.close()
        StagedFilesMessage(Option(out).map(_ => file).toSeq)
      }

      override def abort(): Unit =
        try if (out != null) out.close()
        finally {
          val p = new Path(file)
          p.getFileSystem(conf.value).delete(p, false)
          ()
        }

      override def close(): Unit = ()
    }
  }
}

package graft.streaming

import graft.operators.VersionedStore
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Exactly-once streaming ingestion into a [[VersionedStore]] — the
  * production form of the reference's file-sensor → copy-into-dated-
  * partition ingest (`dags/ingest_bundesliga_match_scores.py`), with
  * the at-least-once caveat removed: Structured Streaming replays a
  * micro-batch under the SAME batch id after a crash between the sink
  * write and the checkpoint commit, and
  * [[VersionedStore.appendIdempotent]] turns that replay into a
  * no-op (the txn-tagged commit already exists), so the store holds
  * each batch exactly once — no consumer-side dedup convention needed.
  *
  * Each micro-batch is one atomic commit: downstream readers see
  * whole batches or nothing, time travel reproduces the store as of
  * any batch, and [[VersionedStore.changes]] is the incremental feed
  * a downstream pipeline tails.
  *
  * Single-writer per store path, as everywhere in VersionedStore: one
  * stream owns a store (batch ids from two checkpoints would collide
  * on txn). `statsCol` stats every arriving group on the given
  * column, keeping key-range pruning armed as the store grows.
  */
object VersionedStoreSink {

  /** Drain everything currently in the source as micro-batches and
    * commit each exactly once. Re-running over the same checkpoint
    * processes only NEW files — the incremental ingest loop.
    */
  def runAvailableNow(streamed: DataFrame, storePath: String,
      checkpoint: String,
      statsCol: Option[String] = None): StreamingQuery =
    streamed.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        VersionedStore.appendIdempotent(batch, storePath, batchId,
          statsCol)
        ()
      }
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()

  /** Ingest AND maintain a dependent rollup in the same micro-batch,
    * both exactly-once: the batch lands as a txn-tagged store commit,
    * then [[graft.operators.IncrementalAgg.advance]] folds that one
    * commit's change feed into the snapshot under the same txn — a
    * crash-replay skips whichever half already committed and
    * re-runs only the idempotent remainder. Because each micro-batch
    * is exactly one store commit (single-writer contract), the
    * advance window is simply (v-1, v].
    */
  def runAvailableNowWithRollup(streamed: DataFrame, storePath: String,
      snapPath: String, checkpoint: String, groupCols: Seq[String],
      measures: Seq[String],
      statsCol: Option[String] = None): StreamingQuery =
    streamed.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val v = VersionedStore.appendIdempotent(batch, storePath,
          batchId, statsCol)
        graft.operators.IncrementalAgg.advance(batch.sparkSession,
          storePath, snapPath, v - 1, v, groupCols, measures,
          txn = batchId)
        ()
      }
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
}

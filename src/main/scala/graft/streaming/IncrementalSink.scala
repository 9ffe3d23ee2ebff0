package graft.streaming

import graft.operators.InPlace
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Incremental keyed upsert sink: the streaming MERGE (q100's batch
  * operator, continuous form). Each micro-batch upserts into a keyed
  * parquet snapshot via `foreachBatch` — last writer wins per key by
  * the version column — and `Trigger.AvailableNow` gives
  * catch-up-then-stop semantics (incremental batch refresh).
  *
  * Scale stance: the in-place directory replace here is the local-FS
  * stand-in for a transactional table format's commit — on a real
  * deployment the `foreachBatch` body becomes `MERGE INTO` against a
  * format with atomic commits and the per-batch cost is one
  * shuffle-free anti-join per partition touched (the upsert itself is
  * keyed, so only matching partitions rewrite). The dedup-then-swap
  * shape below is the same plan at snapshot granularity: one window
  * per key over (existing ∪ batch), newest row survives.
  *
  * Idempotence: re-running a batch produces the same snapshot (max
  * version per key is stable), which is what makes AvailableNow
  * restarts safe.
  */
object IncrementalSink {

  /** Upsert `batch` into the parquet snapshot at `targetDir`: rows
    * replace existing rows with the same `key` when their
    * `versionCol` is newer; ties break toward the incoming batch.
    *
    * Parquet cannot overwrite a directory it is reading, so the next
    * snapshot is written to `<target>__next` and swapped in through
    * [[graft.operators.InPlace.replace]] with `<target>__old` as the
    * backup: at every crash point the target or its backup holds a
    * complete snapshot, and the next upsert restores a backup a cut
    * swap left alone before it reads (the checkpointed stream
    * re-delivers the batch that died; upserts are idempotent).
    */
  def upsertParquet(spark: SparkSession, batch: DataFrame,
      targetDir: String, key: String, versionCol: String): Unit = {
    val target = new Path(targetDir)
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    InPlace.replace(fs, target, new Path(targetDir + "__next"),
        new Path(targetDir + "__old")) { tmp =>
      // __is_new breaks version ties toward the incoming batch (a
      // re-delivered row must not lose to the copy already in the
      // snapshot, or retries would not be idempotent under equal
      // versions).
      val incoming = batch.withColumn("__is_new", lit(1))
      val merged =
        if (fs.exists(target)) {
          val existing = spark.read.parquet(targetDir)
            .withColumn("__is_new", lit(0))
          existing.unionByName(incoming)
        } else incoming
      val w = Window.partitionBy(key)
        .orderBy(col(versionCol).desc, col("__is_new").desc)
      merged
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1)
        .drop("__rn", "__is_new")
        .write.mode("overwrite").parquet(tmp.toString)
    }
  }

  /** Wire a streaming source into the upsert sink and process all
    * currently-available input (AvailableNow), then stop. Returns the
    * started query; callers `awaitTermination()`.
    */
  def runAvailableNow(spark: SparkSession, source: DataFrame,
      targetDir: String, checkpointDir: String, key: String,
      versionCol: String): StreamingQuery =
    source.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        upsertParquet(spark, batch, targetDir, key, versionCol)
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
}

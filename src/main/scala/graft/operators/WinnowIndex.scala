package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Materialized winnowing fingerprint index — the shape a 100 TB
  * pipeline actually runs: fingerprint the corpus ONCE
  * ([[Winnowing.fingerprints]] — the expensive tokenize + md5 +
  * window pass), persist the (doc_id, pos, fph) index as parquet,
  * and serve every downstream rung (candidate pairs, alignment
  * voting, incremental lookups of a new batch) from the stored
  * index instead of re-fingerprinting per query. In-suite the
  * q207/q208/q213/q215 ladder recomputes the selection per query —
  * correct for oracle-gating, but ~4× the fingerprint cost; this is
  * the index-once/query-many form.
  *
  * Layout: hive-partitioned by `fbucket = pmod(fph, buckets)` — a
  * value-derived directory key, so a probe for specific fingerprint
  * values (does this NEW document share a fingerprint with the
  * corpus?) prunes to |probe-buckets| directories instead of
  * scanning the corpus index, while full-index consumers (the
  * candidate self-join) still read everything sequentially. The
  * bucket count bounds per-directory file counts at corpus scale;
  * the data inside stays sorted by (fbucket, fph) per partition so
  * parquet min/max row-group stats prune value probes WITHIN a
  * bucket too.
  */
object WinnowIndex {

  /** Fingerprint `docs` and persist the index at `path`. Returns the
    * written row count (the index size — one row per selected
    * (doc, pos, fingerprint)).
    */
  def build(docs: DataFrame, path: String, w: Int = 4,
      buckets: Int = 64): Unit =
    write(Winnowing.fingerprints(docs, w = w), path, buckets)

  /** Persist an already-computed fingerprint frame (doc_id, pos,
    * fph) at `path`, hive-partitioned by fingerprint bucket.
    */
  def write(fps: DataFrame, path: String, buckets: Int = 64): Unit =
    writeAs(fps, path, buckets, "overwrite")

  /** Incremental maintenance: fingerprint ONLY the new batch and
    * append its rows to the existing index's bucket directories —
    * the delta path of this index family (BM25 has the posting
    * merge, IVF the q305 add-batch; this is the winnow store's).
    * The fingerprint pass costs O(|batch|), not O(corpus); the
    * append adds one file per touched bucket (row-group-sorted by
    * fph like the base files, so value probes still prune), and
    * every reader — [[read]], [[probe]] — sees base ∪ delta with no
    * code change because hive partition listing unions files per
    * directory. Repeated small deltas grow file counts; fold them
    * back with a q248-style compaction pass when a bucket's file
    * count crosses the planning threshold.
    */
  def addDelta(newDocs: DataFrame, path: String, w: Int = 4,
      buckets: Int = 64): Unit =
    writeAs(Winnowing.fingerprints(newDocs, w = w), path, buckets,
      "append")

  /** Compaction EXECUTION for a delta'd index (q248 plans file
    * folds; this performs one): rewrite every bucket directory's
    * accumulated base+delta files into one file each, restoring the
    * one-file-per-bucket invariant and the full (fbucket, fph) sort
    * (delta appends are sorted per FILE; after many appends a value
    * probe opens every file in a bucket — compaction makes row-group
    * pruning whole again). The rewrite is written to
    * `<path>.compact-tmp` and swapped in through [[InPlace.replace]]
    * with `<path>.compact-old` as the backup, so the index is always
    * the old content or the compacted content, never a union or
    * missing; [[read]] and [[probe]] restore a backup a cut
    * compaction left alone. Readers in THIS JVM's sequential
    * execution model never observe the swap (the StoreCache contract
    * documents the no-concurrent-reader assumption).
    */
  def compact(spark: SparkSession, path: String,
      buckets: Int = 64): Unit = {
    val p = new Path(path)
    InPlace.replace(fsOf(spark, p), p, new Path(path + ".compact-tmp"),
      backupOf(path))(t =>
      writeAs(read(spark, path), t.toString, buckets, "overwrite"))
  }

  private def fsOf(spark: SparkSession, p: Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def backupOf(path: String) = new Path(path + ".compact-old")

  /** The index at `path` after [[InPlace.recover]]: a compaction cut
    * between its renames leaves the old index only in its backup.
    */
  private def recovered(spark: SparkSession, path: String): DataFrame = {
    val p = new Path(path)
    InPlace.recover(fsOf(spark, p), p, backupOf(path))
    graft.StoreCache.readParquet(spark, path)
  }

  private def writeAs(fps: DataFrame, path: String, buckets: Int,
      mode: String): Unit = {
    require(buckets > 0, s"buckets must be positive: $buckets")
    fps
      .withColumn("fbucket",
        pmod(col("fph"), lit(buckets.toLong)).cast("int"))
      // one file per bucket directory, row groups ordered by fph so
      // min/max stats prune value probes inside a bucket
      .repartition(col("fbucket"))
      .sortWithinPartitions("fbucket", "fph")
      .write.partitionBy("fbucket").mode(mode).parquet(path)
  }

  /** Read a stored index back as the (doc_id, pos, fph) frame the
    * ladder rungs consume — schema-identical to
    * [[Winnowing.fingerprints]] output (the parity the spec pins).
    */
  def read(spark: SparkSession, path: String): DataFrame =
    recovered(spark, path)
      .select(col("doc_id").cast("long"), col("pos").cast("long"),
        col("fph").cast("long"))

  /** Fingerprint-value probe: the rows of the stored index whose
    * `fph` appears in `probeFps` — the incremental-ingest lookup
    * ("which corpus documents share a fingerprint with this new
    * batch?"). The probe set's buckets are computed on the Spark
    * side and pushed as an `fbucket IN (...)` partition filter, so
    * only |distinct probe buckets| directories are read; the `fph`
    * equi-join prunes further via row-group stats. `probeFps` must
    * be small enough to collect its DISTINCT BUCKET set to the
    * driver (the fingerprint set of an ingest batch, not a corpus) —
    * the values themselves never leave the cluster.
    */
  def probe(spark: SparkSession, path: String, probeFps: DataFrame,
      buckets: Int = 64): DataFrame = {
    val probeBuckets = probeFps
      .select(pmod(col("fph"), lit(buckets.toLong)).cast("int")
        .as("fbucket"))
      .distinct().collect().map(_.getInt(0))
    val pruned = recovered(spark, path)
      .filter(col("fbucket").isin(probeBuckets.toSeq: _*))
      .select(col("doc_id").cast("long"), col("pos").cast("long"),
        col("fph").cast("long"))
    pruned.join(broadcast(probeFps.select("fph").distinct()), "fph")
      .select("doc_id", "pos", "fph")
  }
}

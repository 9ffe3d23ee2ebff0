package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.hadoop.fs.Path

/** Multi-store snapshot pinning — the reproducibility artifact for a
  * training run. A run reads several versioned stores (documents,
  * embeddings, rollups); "which data trained this model" is only
  * answerable if the EXACT version of every input is recorded at
  * launch, atomically, in one place. A manifest is a KB-scale parquet
  * of (store_path, version) rows published through
  * [[MetaParquet.publish]] ([[InPlace.replace]]): readers see the
  * whole previous pin set or the whole new one, never a partial or
  * missing manifest.
  *
  * Reading THROUGH the manifest ([[readAll]]) serves each store at
  * its pinned version regardless of any appends, merges, deletes, or
  * compactions since — snapshot isolation across stores — and fails
  * loudly (the [[VersionedStore.readAt]] existence check) if a
  * vacuum has passed a pinned version, rather than silently serving
  * a different corpus. Keep vacuum horizons behind your oldest live
  * manifest.
  */
object StoreManifest {

  private val cols = Seq(
    MetaParquet.Col("store_path", "string"),
    MetaParquet.Col("version", "long"))
  private val schema = MetaParquet.schemaOf("graft_manifest", cols)

  /** Pin each store's CURRENT latest version into a manifest at
    * `manifestPath`. Returns the pinned (store → version) map. The
    * manifest is published through [[MetaParquet.publish]]
    * ([[InPlace.replace]]): a crash mid-publish leaves the previous
    * pin set recoverable, never none.
    */
  def pin(spark: SparkSession, stores: Seq[String],
      manifestPath: String): Map[String, Long] = {
    val pinned = stores.map(p =>
      p -> VersionedStore.latestVersion(spark, p))
    val conf = spark.sparkContext.hadoopConfiguration
    val dir = new Path(manifestPath)
    // KB-scale metadata: driver-side parquet write (same layout the
    // previous coalesce(1) Spark write produced), no Spark job
    MetaParquet.publish(dir.getFileSystem(conf), conf, dir, schema, cols,
      pinned.map { case (p, v) =>
        Map[String, Any]("store_path" -> p, "version" -> v) })
    pinned.toMap
  }

  /** The pinned versions recorded in a manifest (after finishing or
    * rolling back a publish a crash interrupted).
    */
  def versions(spark: SparkSession,
      manifestPath: String): Map[String, Long] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val dir = new Path(manifestPath)
    val f = dir.getFileSystem(conf)
    MetaParquet.recover(f, dir)
    MetaParquet.read(f, conf, dir)
      .map(m => m("store_path").asInstanceOf[String] ->
        m("version").asInstanceOf[Long]).toMap
  }

  /** Each pinned store's content AT its pinned version — unaffected
    * by anything committed since the pin.
    */
  def readAll(spark: SparkSession,
      manifestPath: String): Map[String, DataFrame] =
    versions(spark, manifestPath).map { case (p, v) =>
      p -> VersionedStore.readAt(spark, p, v)
    }
}

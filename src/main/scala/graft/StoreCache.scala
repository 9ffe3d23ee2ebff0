package graft

/** JVM-memoized materialized-index stores keyed by (kind, dataset).
  *
  * The index-once/query-many queries (q216 winnowing store, q238 BM25
  * store) serve from a materialized on-disk index. Building it inside
  * the query body charged a full index build + parquet write to what
  * is nominally a SERVING workload — and a fresh temp directory per
  * invocation leaked disk across runs. This cache fixes both:
  *
  *  - the store path is FIXED per (kind, dataset) under the JVM temp
  *    dir, so repeated runs overwrite (all store writers use
  *    mode("overwrite")) instead of accumulating;
  *  - the build runs at most once per JVM: in the bench the untimed
  *    warm-up pass pays it, so the timed q216/q238 rows measure
  *    SERVING latency, while the build cost itself is timed and
  *    labeled by the explicit build workloads (q239/q240), which
  *    force a rebuild every invocation via [[rebuild]].
  *
  * Correctness is unaffected: the dataset dir identifies the content,
  * and a store is a pure function of it.
  *
  * CONCURRENCY / STALENESS CONTRACT: the `built` memo is per-JVM but
  * the path is host-global, so two JVMs building the same (kind,
  * dataset) concurrently race (overwrite deletes files mid-scan of a
  * reader), and regenerating a dataset IN PLACE at the same dir
  * serves stale stores with no error. The driver's execution model —
  * one sequential JVM per verify/bench run, immutable dataset dirs —
  * satisfies both assumptions; any other deployment must either
  * isolate `java.io.tmpdir` per JVM or clear `graft-stores/` when a
  * dataset changes under its path.
  */
object StoreCache {
  private val built = scala.collection.mutable.Set.empty[String]

  /** Deterministic per-(kind, dataset) path — stable across JVMs, so
    * a rerun overwrites the previous run's store.
    */
  def pathFor(kind: String, dataset: String): String = {
    val safe = dataset.replaceAll("[^A-Za-z0-9._-]", "_")
    s"${System.getProperty("java.io.tmpdir")}/graft-stores/$kind-$safe"
  }

  /** Build the store at its fixed path unless this JVM already has. */
  def getOrBuild(kind: String, dataset: String)(
      build: String => Unit): String = built.synchronized {
    val p = pathFor(kind, dataset)
    if (!built.contains(s"$kind|$dataset")) {
      build(p)
      dropSchemas(p)
      built += s"$kind|$dataset"
    }
    p
  }

  /** Always rebuild (the explicit build workloads), then mark built
    * so subsequent [[getOrBuild]] serve paths reuse the fresh store.
    */
  def rebuild(kind: String, dataset: String)(
      build: String => Unit): String = built.synchronized {
    val p = pathFor(kind, dataset)
    build(p)
    dropSchemas(p)
    built += s"$kind|$dataset"
    p
  }

  /** Per-JVM parquet SCHEMA memo for engine-managed store dirs and
    * the testdata tables ([[Tables.table]]). A bare
    * `spark.read.parquet(dir)` runs a one-task schema-inference job
    * (a footer read) every time a query body is constructed; a
    * serve path reading the same materialized store hundreds of
    * times per session pays that job — plus its driver-gap — each
    * time, for an answer that never changes (guide §1.4/§5: don't
    * pay a job for a metadata answer; a cataloged table's schema
    * comes from the catalog). First read of a dir infers (one job);
    * every later read supplies the SAME schema explicitly (zero
    * jobs, identical relation — pruning, pushdown and partition
    * discovery are unchanged by a user-supplied schema).
    *
    * Soundness: a store dir's schema is a pure function of its
    * (kind, dataset) — rebuilds rewrite CONTENT with the same
    * builder, never the shape. [[rebuild]] and [[getOrBuild]] still
    * drop memo entries under their dir after building (belt and
    * suspenders), so even a builder change mid-JVM cannot serve a
    * stale schema. A testdata table is immutable for the life of a
    * JVM and never lies under `graft-stores/`, so no drop touches it.
    * The memo never caches data or results — every read scans the
    * parquet bytes on disk as before.
    */
  private val schemas = new java.util.concurrent.ConcurrentHashMap[
    String, org.apache.spark.sql.types.StructType]()

  def readParquet(spark: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    schemas.get(dir) match {
      case null =>
        val df = spark.read.parquet(dir)
        schemas.put(dir, df.schema)
        df
      case s => spark.read.schema(s).parquet(dir)
    }

  private def dropSchemas(p: String): Unit = {
    schemas.keySet.removeIf(k => k == p || k.startsWith(p + "/"))
    ()
  }
}

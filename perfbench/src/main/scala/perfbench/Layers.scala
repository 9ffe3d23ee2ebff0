package perfbench

/** Per-layer figures shared by every workload. A job belongs to the
  * layer of the engine file that submitted it (its call site); a job
  * submitted by the harness itself belongs to the layer of the span
  * it ran under (the span name's prefix).
  */
object Layers {
  def ofFile(file: String): Option[String] = file match {
    case "MetadataStore.scala" | "GraftConfig.scala" => Some("meta")
    case "SchemaInference.scala" | "IngestPipeline.scala" |
        "ExternalTable.scala" | "FileSensor.scala" |
        "Partitioner.scala" => Some("ingest")
    case "Checks.scala" | "CheckCodec.scala" => Some("check")
    case "ModelRegistry.scala" => Some("transform")
    case "VersionedStore.scala" | "StoreManifest.scala" |
        "MetaParquet.scala" | "LogStore.scala" | "Compaction.scala" |
        "GraftStoreCatalog.scala" | "GroupZoneFileIndex.scala" =>
      Some("store")
    case "Bm25.scala" | "MinHashDedup.scala" | "DedupClusters.scala" |
        "EmbeddingSearch.scala" | "SemDedup.scala" => Some("llm")
    case f if f.endsWith("Queries.scala") || f == "TpchShapes.scala" =>
      Some("queries")
    case _ => None
  }

  def layerOf(t: Tracer, j: JobRec): String =
    ofFile(j.file).getOrElse(
      if (j.span >= 0 && j.span < t.spans.size)
        t.spans(j.span).name.takeWhile(_ != '.')
      else "other")

  def jobsIn(t: Tracer, roots: Seq[Span], layer: String): Seq[JobRec] =
    t.jobsUnder(roots).filter(layerOf(t, _) == layer)

  /** Seconds spent in `layer` under `roots`: the wall time of its own
    * spans, plus the jobs its files submitted under other spans.
    */
  def seconds(t: Tracer, roots: Seq[Span], layer: String): Double = {
    val ids = t.subtree(roots)
    val mine = t.spans.filter(s => ids(s.id) &&
      s.name.startsWith(layer + "."))
    val inside = t.subtree(mine.toSeq)
    val top = mine.filter(s => s.parent < 0 || !inside(s.parent) ||
      !t.spans(s.parent).name.startsWith(layer + "."))
    top.map(_.dur).sum + jobsIn(t, roots, layer)
      .filterNot(j => inside(j.span)).map(_.dur).sum
  }

  /** Figures every workload reports; `ops` are the measured operation
    * spans, `probe` the process counters over the window.
    */
  def common(ctx: Ctx, ops: Seq[Span], probe: Probe): Seq[Metric] = {
    val t = ctx.tracer
    val js = t.jobsUnder(ops)
    val ps = t.plansUnder(ops)
    val opWall = ops.map(_.dur).sum
    val scanned = ps.filter(_.filesTotal > 0)
    def jobs(l: String) = jobsIn(t, ops, l).size.toDouble
    Seq(
      Metric("spark.jobs", js.size, "count"),
      Metric("spark.tasks", js.map(_.tasks).sum.toDouble, "count"),
      Metric("spark.core_busy_frac",
        js.map(_.runMs).sum / 1e3 / math.max(1e-9, opWall * ctx.cores),
        "frac"),
      Metric("spark.shuffle_bytes", js.map(_.shuffleBytes).sum.toDouble,
        "bytes"),
      Metric("spark.spill_bytes", js.map(_.spillBytes).sum.toDouble,
        "bytes"),
      Metric("spark.driver_gap_s", t.driverGap(ops), "s"),
      Metric("jvm.gc_s", probe.gcMs / 1e3, "s"),
      Metric("jvm.jit_s", probe.jitMs / 1e3, "s"),
      Metric("fs.bytes_read", probe.fsRead.toDouble, "bytes"),
      Metric("fs.bytes_written", probe.fsWritten.toDouble, "bytes"),
      Metric("plans.planning_s",
        ps.map(_.planningS).sum / math.max(1, ops.size), "s"),
      Metric("plans.files_pruned_frac",
        if (scanned.isEmpty) 0.0
        else 1.0 - scanned.map(_.filesRead).sum.toDouble /
          scanned.map(_.filesTotal).sum, "frac"),
      Metric("store.s", seconds(t, ops, "store"), "s"),
      Metric("store.jobs", jobs("store"), "count"),
      Metric("meta.jobs", jobs("meta"), "count"),
      Metric("check.jobs", jobs("check"), "count"),
      Metric("transform.jobs", jobs("transform"), "count"),
      Metric("llm.jobs", jobs("llm"), "count"),
      Metric("queries.jobs", jobs("queries"), "count"),
      Metric("llm.shuffle_bytes",
        jobsIn(t, ops, "llm").map(_.shuffleBytes).sum.toDouble, "bytes"))
  }
}

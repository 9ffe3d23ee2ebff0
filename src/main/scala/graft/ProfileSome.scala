package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

/** Dev tool (guide §1): per-query JOB-LEVEL profile of declared
  * queries — `runMain graft.ProfileSome q338_dbt_incremental_merge`.
  * For each named query it reports, from a warm (round-1) execution:
  *
  *  - n_jobs: Spark jobs launched (each job costs scheduling latency;
  *    store metadata paths that launch a job per KB-scale log record
  *    show up here),
  *  - job_wall: summed wall-clock of the jobs themselves,
  *  - gap: query wall minus job wall — pure driver-side time
  *    (planning, log parsing, FS metadata calls, commit renames),
  *  - task_time: summed executor task time across stages (parallel
  *    work, can exceed wall).
  *
  * The split names the bottleneck class: many tiny jobs + high gap =
  * driver/metadata-bound (optimize commit protocol, batch metadata);
  * few jobs + job_wall ≈ wall = genuinely compute-bound (optimize the
  * plan).
  */
object ProfileSome {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark =
      LocalSession(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    spark.sparkContext.setLogLevel("ERROR")

    @volatile var jobs = 0
    @volatile var jobWallMs = 0L
    @volatile var taskTimeMs = 0L
    val starts = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        starts.put(js.jobId, js.time); jobs += 1
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        val s = starts.remove(je.jobId)
        if (s != 0L) jobWallMs += (je.time - s)
      }
      override def onStageCompleted(
          sc: SparkListenerStageCompleted): Unit =
        // taskMetrics of an evicted stage throws — dev-tool tolerance
        try taskTimeMs += sc.stageInfo.taskMetrics.executorRunTime
        catch { case scala.util.control.NonFatal(_) => () }
    })

    val qs = SparkEntry.allQueries.filter(q => args.contains(q.name))
    for (round <- 0 to 1; q <- qs) {
      // settle the async listener queue so counters attribute to the
      // right query (no public waitUntilEmpty; events drain in ms)
      Thread.sleep(300)
      jobs = 0; jobWallMs = 0L; taskTimeMs = 0L
      val t0 = System.nanoTime()
      q.run(spark, sfDir).write.format("noop").mode("overwrite").save()
      val wall = (System.nanoTime() - t0) / 1e9
      Thread.sleep(300)
      if (round == 1)
        println(f"PROFILE ${q.name} wall=$wall%.2f n_jobs=$jobs " +
          f"job_wall=${jobWallMs / 1e3}%.2f gap=${wall - jobWallMs / 1e3}%.2f " +
          f"task_time=${taskTimeMs / 1e3}%.2f")
    }
    spark.stop()
  }
}

package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/** Dev tool (guide §1): per-JOB trace of declared queries —
  * `runMain graft.JobTrace q342_join_view_ivm`. Round 0 warms
  * codegen/StoreCache; round 1 prints one line per Spark job with
  * its wall-clock, task count and call site, so job-count-bound rows
  * (high `gap` in ProfileSome) can be attributed job by job instead
  * of guessed at. Measurement-side only — not on the driver contract
  * path.
  */
object JobTrace {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark =
      LocalSession(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    spark.sparkContext.setLogLevel("ERROR")

    final case class J(id: Int, start: Long, site: String, tasks: Int)
    val live = new java.util.concurrent.ConcurrentHashMap[Int, J]()
    val done =
      new java.util.concurrent.ConcurrentLinkedQueue[(J, Long)]()
    @volatile var tracing = false
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (tracing) {
          val site = Option(js.properties)
            .flatMap(p => Option(p.getProperty("callSite.short")))
            .getOrElse(
              js.stageInfos.headOption.map(_.name).getOrElse("?"))
          live.put(js.jobId, J(js.jobId, js.time, site,
            js.stageInfos.map(_.numTasks).sum))
        }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        val j = live.remove(je.jobId)
        if (j != null) { done.add((j, je.time)); () }
      }
    })

    val qs = SparkEntry.allQueries.filter(q => args.contains(q.name))
    for (round <- 0 to 1; q <- qs) {
      Thread.sleep(300)
      done.clear(); live.clear()
      tracing = round == 1
      val t0 = System.nanoTime()
      q.run(spark, sfDir).write.format("noop").mode("overwrite").save()
      val wall = (System.nanoTime() - t0) / 1e9
      tracing = false
      Thread.sleep(300)
      if (round == 1) {
        println(f"JOBS ${q.name} wall=$wall%.2f n=${done.size}")
        done.forEach { case (j, end) =>
          println(f"  job ${j.id}%4d ${(end - j.start) / 1e3}%6.3fs " +
            f"tasks=${j.tasks}%4d  ${j.site}")
        }
      }
    }
    spark.stop()
  }
}

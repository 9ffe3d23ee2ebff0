package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.FileSystem
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
  QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced call into the engine: name, interval (ns), the span that
  * caused it (-1 at the root) and the request it belongs to.
  */
final case class Span(id: Int, name: String, parent: Int, req: Long,
    start: Long, var end: Long = 0L) {
  def dur: Double = (end - start) / 1e9
}

/** A Spark job as the listener saw it, with its task totals. */
final class JobRec(val id: Int, val span: Int, val site: String,
    val execId: Long, val start: Long) {
  @volatile var end: Long = -1L
  var tasks = 0L
  var runMs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var inBytes = 0L
  var outBytes = 0L
  def dur: Double = if (end < 0) 0.0 else (end - start) / 1e3
  /** Source file of the engine frame that submitted the job. */
  def file: String = {
    val at = site.lastIndexOf(" at ")
    val f = if (at < 0) site else site.substring(at + 4)
    f.takeWhile(_ != ':')
  }
}

/** What one executed query plan did: planning time and file scans.
  * `atMs` (epoch ms) is when its planning ended, inside the span that
  * ran it.
  */
final case class PlanRec(atMs: Long, planningS: Double,
    filesRead: Long, filesTotal: Long, rowsScanned: Long)

/** Spans are recorded only from the harness, around each call into a
  * public engine function. Everything below a span comes from outside
  * the engine: a SparkListener (jobs and tasks, tagged with the open
  * span through a local property), a QueryExecutionListener (planning
  * phases and scan metrics), Hadoop FileSystem statistics and JVM
  * MXBeans. Disabled, every method is a pass-through.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val sc = spark.sparkContext
  private val SpanProp = "perfbench.span"
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, JobRec]()
  val plans = new ConcurrentLinkedQueue[PlanRec]()
  // SQL execution id -> its call site (jobs that adaptive execution
  // submits from a pool thread carry only a generic one)
  private val execSite = new ConcurrentHashMap[Long, String]()

  if (enabled) {
    sc.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val p = Option(e.properties)
        def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
        val exec = prop("spark.sql.execution.id").map(_.toLong)
          .getOrElse(-1L)
        // the SQL execution's call site, else the result stage's
        val site = Option(execSite.get(exec)).orElse(e.stageInfos
          .sortBy(_.stageId).lastOption.map(_.name)).getOrElse("?")
        val j = new JobRec(e.jobId,
          prop(SpanProp).map(_.toInt).getOrElse(-1), site, exec, e.time)
        jobs.put(e.jobId, j)
        e.stageIds.foreach(s => stageJob.put(s, j))
      }
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case x: SparkListenerSQLExecutionStart =>
          execSite.put(x.executionId, x.description)
        case _ => ()
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        Option(jobs.get(e.jobId)).foreach(_.end = e.time)
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        val j = stageJob.get(e.stageId)
        val m = e.taskMetrics
        if (j != null && m != null) j.synchronized {
          j.tasks += 1
          j.runMs += m.executorRunTime
          j.shuffleBytes += m.shuffleReadMetrics.totalBytesRead +
            m.shuffleWriteMetrics.bytesWritten
          j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          j.inBytes += m.inputMetrics.bytesRead
          j.outBytes += m.outputMetrics.bytesWritten
        }
      }
    })
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution,
          ns: Long): Unit = record(qe)
      override def onFailure(f: String, qe: QueryExecution,
          e: Exception): Unit = record(qe)
    })
  }

  private def record(qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases
    val planning = Seq("analysis", "optimization", "planning")
      .flatMap(ph.get).map(_.durationMs).sum / 1e3
    if (ph.isEmpty) return
    val scans = mutable.ArrayBuffer.empty[FileSourceScanExec]
    def walk(p: SparkPlan): Unit = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case r: ReusedExchangeExec => walk(r.child)
      case s: FileSourceScanExec => scans += s
      case other =>
        other.children.foreach(walk)
        other.subqueries.foreach(walk)
    }
    walk(qe.executedPlan)
    def metric(s: FileSourceScanExec, k: String) =
      s.metrics.get(k).map(_.value).getOrElse(0L)
    plans.add(PlanRec(ph.values.map(_.endTimeMs).max, planning,
      scans.map(metric(_, "numFiles")).sum,
      scans.map(_.relation.location.inputFiles.length.toLong).sum,
      scans.map(metric(_, "numOutputRows")).sum))
  }

  def span[T](name: String, req: Long = -1L)(body: => T): T =
    if (!enabled) body
    else {
      val parent = stack.headOption
      val s = Span(spans.size, name, parent.map(_.id).getOrElse(-1),
        if (req >= 0) req else parent.map(_.req).getOrElse(-1L),
        System.nanoTime())
      spans += s
      stack = s :: stack
      sc.setLocalProperty(SpanProp, s.id.toString)
      try body
      finally {
        s.end = System.nanoTime()
        stack = stack.tail
        sc.setLocalProperty(SpanProp,
          stack.headOption.map(_.id.toString).orNull)
      }
    }

  /** Waits until the asynchronous listener events have caught up. */
  def settle(): Unit = if (enabled) {
    var last = -1
    var n = 0
    while (n < 40 && (last != plans.size + jobs.size ||
        jobs.values.asScala.exists(_.end < 0))) {
      last = plans.size + jobs.size
      Thread.sleep(100); n += 1
    }
  }

  // ---- queries over the recorded trace (after settle) --------------

  /** Spans named `name` (optionally restricted to ids >= `from`). */
  def named(name: String, from: Int = 0): Seq[Span] =
    spans.iterator.drop(from).filter(_.name == name).toSeq

  private def children: Map[Int, Seq[Span]] =
    spans.toSeq.filter(_.parent >= 0).groupBy(_.parent)

  /** Span ids of `roots` and everything below them. */
  def subtree(roots: Seq[Span]): Set[Int] = {
    val ch = children
    val out = mutable.Set.empty[Int]
    def go(s: Span): Unit = if (out.add(s.id))
      ch.getOrElse(s.id, Nil).foreach(go)
    roots.foreach(go)
    out.toSet
  }

  def jobsUnder(roots: Seq[Span]): Seq[JobRec] = {
    val ids = subtree(roots)
    jobs.values.asScala.filter(j => ids(j.span)).toSeq.sortBy(_.id)
  }

  // epoch ms of a span's nanoTime stamps
  private val epochOffsetNs = System.currentTimeMillis() * 1000000L -
    System.nanoTime()
  private def ms(ns: Long): Long = (ns + epochOffsetNs) / 1000000L

  /** Plans whose planning ended inside one of `roots` (the client is
    * single-threaded, so that span ran the plan).
    */
  def plansUnder(roots: Seq[Span]): Seq[PlanRec] = {
    val iv = roots.map(r => (ms(r.start), ms(r.end))).sortBy(_._1)
    plans.asScala.filter(p =>
      iv.exists { case (a, b) => p.atMs >= a && p.atMs <= b }).toSeq
  }

  /** Wall time of `roots` not covered by any of their jobs: driver
    * work (planning, listing, commits) the cluster waits on.
    */
  def driverGap(roots: Seq[Span]): Double = roots.map { r =>
    val js = jobsUnder(Seq(r)).map(j => (j.start, j.end))
      .filter(_._2 >= 0).sortBy(_._1)
    var covered = 0L
    var curS = -1L
    var curE = -1L
    js.foreach { case (s, e) =>
      if (s > curE) { covered += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    covered += curE - curS
    math.max(0.0, r.dur - covered / 1e3)
  }.sum

  /** Self time per span name: duration minus the children's share. */
  def selfTimes: Map[String, (Int, Double, Double)] = {
    val ch = children
    spans.toSeq.groupBy(_.name).map { case (n, ss) =>
      val total = ss.map(_.dur).sum
      val self = ss.map(s => s.dur - ch.getOrElse(s.id, Nil)
        .map(_.dur).sum).sum
      n -> ((ss.size, total, self))
    }
  }

  def toJson: String = {
    val ss = spans.map(s =>
      s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},""" +
        s""""req":${s.req},"start_ns":${s.start},"end_ns":${s.end}}""")
    val self = selfTimes.toSeq.sortBy(_._1).map { case (n, (c, t, sf)) =>
      s""""$n":{"count":$c,"total_s":$t,"self_s":$sf}"""
    }
    val js = jobs.values.asScala.toSeq.sortBy(_.id).map(j =>
      s"""{"id":${j.id},"span":${j.span},"site":"${j.site.replace("\"", "'")}",""" +
        s""""dur_s":${j.dur},"tasks":${j.tasks}}""")
    s"""{"spans":[${ss.mkString(",")}],"self_times":{${self.mkString(",")}},""" +
      s""""jobs":[${js.mkString(",")}]}"""
  }
}

/** Process-wide counters read at window start and end. */
final case class Probe(wallNs: Long, gcMs: Long, jitMs: Long,
    fsRead: Long, fsWritten: Long) {
  def -(o: Probe): Probe = Probe(wallNs - o.wallNs, gcMs - o.gcMs,
    jitMs - o.jitMs, fsRead - o.fsRead, fsWritten - o.fsWritten)
}

object Probe {
  def now(): Probe = {
    val gc = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).sum
    val jit = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
    val fs = FileSystem.getAllStatistics.asScala
    Probe(System.nanoTime(), gc, jit, fs.map(_.getBytesRead).sum,
      fs.map(_.getBytesWritten).sum)
  }
}

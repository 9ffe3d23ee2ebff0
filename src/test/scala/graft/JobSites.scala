package graft

import java.util.UUID
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue,
  CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent,
  SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** The call sites of the Spark jobs a block submits, e.g. `count at
  * IngestPipeline.scala:89`: the SQL execution's call site when the job
  * runs one, else its stage names. Jobs are attributed through a local
  * property set on the calling thread (threads the block creates
  * inherit it); a marker job submitted afterwards flushes the
  * asynchronous listener bus, so the list is complete on return.
  */
object JobSites {
  private val Tag = "graft.test.jobsites"

  def during(spark: SparkSession)(body: => Unit): Seq[String] = {
    val sc = spark.sparkContext
    val tag = UUID.randomUUID.toString
    val sites = new ConcurrentLinkedQueue[String]()
    val execSite = new ConcurrentHashMap[Long, String]()
    val flushed = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case x: SparkListenerSQLExecutionStart =>
          execSite.put(x.executionId, x.description)
        case _ => ()
      }
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        def prop(k: String) =
          Option(e.properties).flatMap(p => Option(p.getProperty(k)))
        prop(Tag) match {
          case Some(t) if t == tag =>
            sites.add(prop("spark.sql.execution.id")
              .flatMap(id => Option(execSite.get(id.toLong)))
              .getOrElse(e.stageInfos.map(_.name).mkString("; ")))
          case Some(t) if t == s"$tag-end" => flushed.countDown()
          case _ => ()
        }
      }
    }
    sc.addSparkListener(listener)
    val prior = sc.getLocalProperty(Tag)
    try {
      sc.setLocalProperty(Tag, tag)
      try body
      finally sc.setLocalProperty(Tag, s"$tag-end")
      sc.parallelize(Seq(1), 1).count()
      assert(flushed.await(30, TimeUnit.SECONDS), "listener bus not flushed")
    } finally {
      sc.setLocalProperty(Tag, prior)
      sc.removeSparkListener(listener)
    }
    sites.asScala.toSeq
  }
}

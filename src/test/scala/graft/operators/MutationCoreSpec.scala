package graft.operators

import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicLong

import graft.{JobSites, SparkFixture}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** The copy-on-write mutation core as its callers meet it: every
  * keyed detection prunes by the key span (DATE keys included), the
  * zoned scan the detection runs on reads groups that predate a
  * non-nullable added column, and `mergeInto`'s insert path reads the
  * span's groups once.
  */
class MutationCoreSpec extends AnyFunSuite with SparkFixture
    with Matchers {

  private def freshPath(): String =
    java.nio.file.Files.createTempDirectory("graft-core").toString +
      "/store"

  /** Rows the scans of the jobs `body` submits read (task input
    * records). Jobs are told apart by a local property, as in
    * [[graft.JobSites]]; a marker job flushes the listener bus.
    */
  private def rowsRead(body: => Unit): Long = {
    val sc = spark.sparkContext
    val key = "graft.test.rowsread"
    val tag = java.util.UUID.randomUUID.toString
    val stages = ConcurrentHashMap.newKeySet[Int]()
    val n = new AtomicLong
    val flushed = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty(key)) match {
          case Some(t) if t == tag => e.stageIds.foreach(stages.add)
          case Some(t) if t == s"$tag-end" => flushed.countDown()
          case _ => ()
        }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (stages.contains(e.stageId) && e.taskMetrics != null)
          n.addAndGet(e.taskMetrics.inputMetrics.recordsRead)
    }
    sc.addSparkListener(listener)
    val prior = sc.getLocalProperty(key)
    try {
      sc.setLocalProperty(key, tag)
      try body
      finally sc.setLocalProperty(key, s"$tag-end")
      sc.parallelize(Seq(1), 1).count()
      assert(flushed.await(30, TimeUnit.SECONDS), "listener bus not flushed")
    } finally {
      sc.setLocalProperty(key, prior)
      sc.removeSparkListener(listener)
    }
    n.get
  }

  private def sorted(df: DataFrame): Seq[Row] =
    df.collect().toSeq.sortBy(_.toString)

  /** Four appends of `per` consecutive ids each, zoned on `id`. */
  private def idStore(per: Int): String = {
    val s = spark
    import s.implicits._
    val p = freshPath()
    VersionedStore.create(spark, p)
    (0 until 4).foreach { g =>
      VersionedStore.append(
        (g * per until (g + 1) * per).map(i => (i.toLong, s"v$i"))
          .toDF("id", "body"), p, zoneCols = Seq("id"))
    }
    p
  }

  test("groups written before a NON-nullable added column read NULL " +
      "through read, readRange, SQL, deleteWhere and merge") {
    val s = spark
    import s.implicits._
    val p = freshPath()
    VersionedStore.create(spark, p)
    VersionedStore.append((0L until 10L).toDF("id"), p,
      zoneCols = Seq("id"))
    val evolved = (10L until 20L).toDF("id").withColumn("x", lit(7L))
    evolved.schema("x").nullable shouldBe false
    VersionedStore.append(evolved, p, evolve = true,
      zoneCols = Seq("id"))
    def pairs(df: DataFrame): Map[Long, Option[Long]] =
      df.select("id", "x").collect().map(r =>
        r.getLong(0) -> Option(r.get(1)).map(_.asInstanceOf[Long])).toMap
    val expected = (0L until 20L).map(i =>
      i -> (if (i < 10) None else Some(7L))).toMap
    pairs(VersionedStore.read(spark, p)) shouldBe expected
    pairs(VersionedStore.readRange(spark, p, "id", 3L, 12L)) shouldBe
      expected.filter { case (i, _) => i >= 3 && i <= 12 }
    VersionedStore.registerTable(spark, p, "lake.nn_evolved")
    spark.sql("SELECT COUNT(*) FROM lake.nn_evolved " +
      "WHERE x IS NULL AND id < 5").head.getLong(0) shouldBe 5L
    VersionedStore.deleteWhere(spark, p, col("id") === 2L)
    VersionedStore.merge(spark, p,
      Seq((4L, 9L), (30L, 9L)).toDF("id", "x"), Seq("id"))
    pairs(VersionedStore.read(spark, p)) shouldBe
      (expected - 2L) ++ Map(4L -> Some(9L), 30L -> Some(9L))
  }

  test("keyed mutations on a zone-armed DATE key give the unzoned " +
      "store's rows and read only the overlapping group") {
    val s = spark
    import s.implicits._
    val per = 500
    // dates two days apart, so keys between them are fresh inserts
    def day(i: Int) = java.sql.Date.valueOf(
      java.time.LocalDate.of(2020, 1, 1).plusDays(2L * i))
    def between(i: Int) = java.sql.Date.valueOf(
      java.time.LocalDate.of(2020, 1, 1).plusDays(2L * i + 1))
    def mk(zoned: Boolean): String = {
      val p = freshPath()
      VersionedStore.create(spark, p)
      (0 until 4).foreach { g =>
        VersionedStore.append(
          (g * per until (g + 1) * per).map(i => (day(i), i.toLong))
            .toDF("d", "v"), p,
          zoneCols = if (zoned) Seq("d") else Nil)
      }
      p
    }
    val zoned = mk(zoned = true)
    val plain = mk(zoned = false)
    val ops: Seq[(String, String => Unit)] = Seq(
      "merge" -> (p => VersionedStore.merge(spark, p,
        ((2 * per + 10 until 2 * per + 20).map(i => (day(i), -1L)) ++
          (2 * per + 30 until 2 * per + 35).map(i => (between(i), -2L)))
          .toDF("d", "v"), Seq("d"))),
      "mergeInto" -> (p => VersionedStore.mergeInto(spark, p,
        ((per + 5 until per + 15).map(i => (day(i), -3L)) ++
          (per + 40 until per + 44).map(i => (between(i), -4L)))
          .toDF("d", "v"), Seq("d"),
        Seq(VersionedStore.MergeUpdate(None, Nil)),
        Seq(VersionedStore.MergeInsert(None, Nil)))),
      "deleteKeys" -> (p => VersionedStore.deleteKeys(spark, p,
        (3 * per + 100 until 3 * per + 150).map(day).toDF("d"),
        Seq("d"))),
      "deleteKeysDeferred" -> (p => VersionedStore.deleteKeysDeferred(
        spark, p, (50 until 60).map(day).toDF("d"), Seq("d"))))
    ops.foreach { case (name, op) =>
      val readZoned = rowsRead(op(zoned))
      val readPlain = rowsRead(op(plain))
      withClue(s"$name: ") {
        sorted(VersionedStore.read(spark, zoned)) shouldBe
          sorted(VersionedStore.read(spark, plain))
        readZoned should be < readPlain
      }
    }
    val out = VersionedStore.read(spark, zoned)
    out.count() shouldBe (4 * per + 5 + 4 - 50 - 10).toLong
    out.filter(col("v") === -1L).count() shouldBe 10L
    out.filter(col("v") === -3L).count() shouldBe 10L
  }

  test("an INSERT-only mergeInto reads the key span's groups once and " +
      "commits nothing when every source key exists") {
    val s = spark
    import s.implicits._
    val per = 5000
    val p = idStore(per)
    val v0 = VersionedStore.latestVersion(spark, p)
    // half the keys exist in the last group, half are fresh above it:
    // the span overlaps that group only
    val src = ((3 * per until 3 * per + 50) ++
      (4 * per until 4 * per + 50)).map(i => (i.toLong, s"new$i"))
      .toDF("id", "body")
    val read = rowsRead {
      VersionedStore.mergeInto(spark, p, src, Seq("id"), Nil,
        Seq(VersionedStore.MergeInsert(None, Nil)))
    }
    read should be <= per.toLong
    val out = VersionedStore.read(spark, p)
    out.count() shouldBe (4 * per + 50).toLong
    out.filter(col("body").startsWith("new")).select("id").as[Long]
      .collect().toSet shouldBe (4 * per until 4 * per + 50)
      .map(_.toLong).toSet
    VersionedStore.latestVersion(spark, p) shouldBe v0 + 1
    // nothing left to insert: no commit
    VersionedStore.mergeInto(spark, p, src, Seq("id"), Nil,
      Seq(VersionedStore.MergeInsert(None, Nil))) shouldBe v0 + 1
    VersionedStore.latestVersion(spark, p) shouldBe v0 + 1
  }

  test("deleteKeys reads only the groups its key span overlaps") {
    val s = spark
    import s.implicits._
    val per = 5000
    val p = idStore(per)
    val keys = (per + 100 until per + 150).map(_.toLong).toDF("id")
    val read = rowsRead {
      VersionedStore.deleteKeys(spark, p, keys, Seq("id"))
    }
    // detection and rewrite read one group each, the stats read-back
    // reads the rewritten group
    read should be <= 3L * per
    val out = VersionedStore.read(spark, p)
    out.count() shouldBe (4 * per - 50).toLong
    out.join(keys, Seq("id"), "left_semi").count() shouldBe 0L
  }

  test("deleteWhere and compact read back the groups they rewrite " +
      "with no schema-inference job") {
    val p = idStore(1000)
    JobSites.outsideSql(spark) {
      VersionedStore.deleteWhere(spark, p, col("id") === 1500L)
    } shouldBe empty
    JobSites.outsideSql(spark) {
      VersionedStore.compact(spark, p, clusterBy = Seq("id"),
        numGroups = 2)
    } shouldBe empty
    val out = VersionedStore.read(spark, p)
    out.count() shouldBe 3999L
    out.filter(col("id") === 1500L).count() shouldBe 0L
  }

  test("a read of a store with a live deletion vector runs no " +
      "schema-inference job for it") {
    val s = spark
    import s.implicits._
    val p = idStore(1000)
    VersionedStore.deleteKeysDeferred(spark, p,
      Seq(5L, 1500L).toDF("id"), Seq("id"))
    val sites = JobSites.outsideSql(spark) {
      VersionedStore.read(spark, p).count() shouldBe 3998L
    }
    sites.filter(_.startsWith("parquet at VersionedStore")) shouldBe empty
  }
}

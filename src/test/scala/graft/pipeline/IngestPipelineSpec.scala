package graft.pipeline

import java.nio.file.Files
import java.time.LocalDate

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._

import graft.{JobSites, SparkFixture}
import graft.check.{ColumnsMatchOrdered, InSet, NotNull, Unique}
import graft.ingest.FileSensor
import graft.meta.{MetaEntry, MetadataStore}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** End-to-end: the full 10-task reference DAG shape (SURVEY.md §3.1)
  * against a temp landing zone — sense → partition → metadata update →
  * read-back → staged copy → external table → validation checkpoint.
  */
class IngestPipelineSpec extends AnyFunSuite with SparkFixture with Matchers {

  private val entity = "bundesliga_match_scores"

  private def setup(): (String, String, MetadataStore) = {
    val root = Files.createTempDirectory("graft-e2e").toString
    val landing = s"$root/landing"
    new java.io.File(landing).mkdirs()
    Files.write(java.nio.file.Paths.get(landing, s"${entity}_1.csv"),
      (Seq(",round,day,date,home,score,away",
        "0,Regular Season,Sun,2022-05-12,A,2-1,B",
        "1,Playoffs,Sat,2022-05-12,C,0-0,D",
        "2,Regular Season,Mon,2022-05-12,E,3-2,F")
        .mkString("\n")).getBytes)
    val meta = new MetadataStore(spark, s"$root/meta")
    meta.init(Seq(MetaEntry(entity, "transactional", "")))
    (root, landing, meta)
  }

  test("full pipeline run: stages, validates, updates metadata") {
    val (root, landing, meta) = setup()
    val result = IngestPipeline.run(spark, meta, PipelineConfig(
      entity = entity,
      landingGlob = s"$landing/${entity}*",
      rawRoot = s"$root/raw",
      runDate = LocalDate.of(2022, 5, 12),
      sensor = FileSensor.SensorConfig(pokeIntervalMs = 10, timeoutMs = 1000),
      checks = Seq(
        ColumnsMatchOrdered(Seq("data_id", "round", "day", "date", "home",
          "score", "away")),
        InSet("round", Seq("Regular Season", "Playoffs")),
        InSet("day", Seq("Sun", "Mon", "Tue", "Wed", "Thu", "Fri", "Sat")),
        NotNull("date"), NotNull("home"), NotNull("away"),
        NotNull("score"))))

    result.sensedFiles should have size 1
    result.partitionSuffix shouldBe "2022/may/12/"
    result.stagedCount shouldBe 3
    result.validationPassed shouldBe true
    // metadata table is the source of truth for the staged path
    meta.get(entity) shouldBe
      Some(s"transactional/$entity/2022/may/12/")
    result.metadataPath shouldBe
      s"$root/raw/transactional/transactional/$entity/2022/may/12/"
    // the external view answers SQL over the staged partition
    spark.sql(s"SELECT count(*) FROM t_$entity").head().getLong(0) shouldBe 3
  }

  test("sensor soft-fail: empty landing zone → empty result, no error " +
      "(soft_fail=True, dags/…scores.py:62)") {
    val (root, _, meta) = setup()
    val result = IngestPipeline.run(spark, meta, PipelineConfig(
      entity = entity,
      landingGlob = s"$root/empty/*.csv",
      rawRoot = s"$root/raw",
      runDate = LocalDate.of(2022, 5, 12),
      sensor = FileSensor.SensorConfig(pokeIntervalMs = 10, timeoutMs = 50,
        retries = 0)))
    result.sensedFiles shouldBe empty
    result.stagedCount shouldBe 0
  }

  test("validation catches planted violations") {
    val (root, landing, meta) = setup()
    Files.write(java.nio.file.Paths.get(landing, s"${entity}_2.csv"),
      (Seq(",round,day,date,home,score,away",
        "3,NOT A ROUND,Sun,2022-05-12,G,1-1,H").mkString("\n")).getBytes)
    val result = IngestPipeline.run(spark, meta, PipelineConfig(
      entity = entity,
      landingGlob = s"$landing/${entity}*",
      rawRoot = s"$root/raw2",
      runDate = LocalDate.of(2022, 5, 12),
      sensor = FileSensor.SensorConfig(pokeIntervalMs = 10, timeoutMs = 1000),
      checks = Seq(InSet("round", Seq("Regular Season", "Playoffs")))))
    result.validationPassed shouldBe false
    result.checkResults.head.violations shouldBe 1L
  }

  private def conf(landing: String, root: String, raw: String,
      checks: Seq[graft.check.Check] = Nil) = PipelineConfig(
    entity = entity,
    landingGlob = s"$landing/${entity}*",
    rawRoot = s"$root/$raw",
    runDate = LocalDate.of(2022, 5, 12),
    sensor = FileSensor.SensorConfig(pokeIntervalMs = 10, timeoutMs = 1000),
    checks = checks)

  test("header-only landing file: staged count 0, the call returns") {
    val (root, landing, meta) = setup()
    Files.write(java.nio.file.Paths.get(landing, s"${entity}_1.csv"),
      ",round,day,date,home,score,away\n".getBytes)
    val run = Future(IngestPipeline.run(spark, meta,
      conf(landing, root, "raw", Seq(NotNull("home")))))
    val result = Await.result(run, 2.minutes)
    result.stagedCount shouldBe 0
    result.validationPassed shouldBe true
    spark.table(s"t_$entity").count() shouldBe 0
  }

  test("multi-file landing zone: the observed staged count equals " +
      "the staged table's") {
    val (root, landing, meta) = setup()
    (2 to 4).foreach { f =>
      Files.write(java.nio.file.Paths.get(landing, s"${entity}_$f.csv"),
        ((",round,day,date,home,score,away" +: (0 until f * 5).map(i =>
          s"${f * 100 + i},Playoffs,Sat,2022-05-12,X$i,1-0,Y$i")))
          .mkString("\n").getBytes)
    }
    val result = IngestPipeline.run(spark, meta, conf(landing, root, "raw"))
    result.sensedFiles should have size 4
    result.stagedCount shouldBe 3 + 10 + 15 + 20
    result.stagedCount shouldBe spark.table(s"t_$entity").count()
  }

  test("a batch submits no metadata job, no staged recount and no " +
      "parquet footer inference") {
    val (root, landing, meta) = setup()
    var result: PipelineResult = null
    val sites = JobSites.during(spark) {
      result = IngestPipeline.run(spark, meta, conf(landing, root, "raw",
        Seq(NotNull("home"), Unique(Seq("data_id")))))
    }
    result.stagedCount shouldBe 3
    result.validationPassed shouldBe true
    sites should not be empty
    sites.filter(_.contains("MetadataStore.scala")) shouldBe empty
    sites.filter(_.contains("count at IngestPipeline")) shouldBe empty
    sites.filter(_.contains("parquet at ExternalTable")) shouldBe empty
  }
}

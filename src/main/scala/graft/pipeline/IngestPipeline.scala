package graft.pipeline

import java.time.LocalDate

import graft.check.{Check, CheckResult, CheckRunner}
import graft.ingest.{ExternalTable, FileSensor, Partitioner}
import graft.meta.MetadataStore
import org.apache.spark.sql.{Observation, SparkSession}
import org.apache.spark.sql.functions._

/** The reference DAG (`ingest_bundesliga_match_scores`, 10 linear
  * tasks — dags/ingest_bundesliga_match_scores.py:208-210) collapsed
  * into one driver program (SURVEY.md §3.1). Airflow XCom handoffs
  * become an immutable context threaded through stages; every
  * cross-process/network hop in the reference becomes either driver
  * logic or a distributed Spark action.
  *
  * Stages (reference task in parens):
  *  1. key-type lookup from metadata (get_key_type_from_snowflake)
  *  2. sense landing files (look_for_…_file_in_s3)
  *  3. partition suffix from run date (generate_s3_partition)
  *  4. metadata path update (generate_…_sql + update_…_metadata) —
  *     driver-side parquet I/O through [[MetadataStore]], no Spark job
  *  5. read-back of the updated path (get_s3_partition_metadata) —
  *     also driver-side
  *  6. list + copy into dated partition (list_of_S3_files_to_copy +
  *     copy_files_within_s3) — here a partitioned parquet write; the
  *     staged row count rides that write as an observed metric
  *  7. header-sniff schema + external table (generate_external_table_
  *     ddl + create_…_external_table) — the staged view is registered
  *     with the schema the write used, so no footer-inference job runs
  *  8. validation checkpoint (DataValidator.validate_staging_table_
  *     data — data_validator.py:14-39), Check algebra in one exact pass
  *
  * A batch thus submits only the jobs that touch data: the header
  * sniff, the staging write and the check pass.
  *
  * The observed `stagedCount` counts the rows the write persisted. It
  * inherits the invariant `VersionedStore`'s group writes document: a
  * SPECULATIVE duplicate task that also completes would count its rows
  * twice, so a deployment that enables `spark.speculation` must keep it
  * off for this job (it is off by default and in local mode).
  */
final case class PipelineConfig(
    entity: String,
    landingGlob: String,
    rawRoot: String,
    runDate: LocalDate,
    delimiter: String = ",",
    sensor: FileSensor.SensorConfig = FileSensor.SensorConfig(),
    checks: Seq[Check] = Seq.empty)

final case class PipelineResult(
    entity: String,
    sensedFiles: Seq[String],
    partitionSuffix: String,
    metadataPath: String,
    stagedView: String,
    stagedCount: Long,
    checkResults: Seq[CheckResult]) {
  def validationPassed: Boolean = CheckRunner.success(checkResults)
}

object IngestPipeline {

  def run(spark: SparkSession, meta: MetadataStore,
      conf: PipelineConfig): PipelineResult = {
    // 1. metadata key-type lookup (reference :35-45)
    val keyType = meta.getKeyType(conf.entity).getOrElse(
      throw new NoSuchElementException(s"no metadata for ${conf.entity}"))

    // 2. sense files on the landing zone (reference :54-67)
    val sensed = FileSensor.await(spark, conf.landingGlob, conf.sensor)
    if (sensed.isEmpty)
      return PipelineResult(conf.entity, Nil, "", "", "", 0L, Nil)

    // 3. partition suffix from the run date (reference :69-78)
    val suffix = Partitioner.suffix(conf.runDate)

    // 4. metadata update then 5. read-back — the metadata table, not
    // the in-memory value, is the source of truth (reference :80-120)
    meta.updatePathValue(conf.entity, suffix)
    val metaPath = meta.get(conf.entity).get
    val stagedPath = s"${conf.rawRoot}/$keyType/$metaPath"

    // 6. copy into the dated partition (reference :122-143): read the
    // sensed CSVs schema-on-read and land them as parquet under the
    // partition path (columnar staging, SURVEY.md §1.2)
    val raw = ExternalTable.register(spark, s"${conf.entity}_landing",
      conf.landingGlob, conf.delimiter)
    val written = Observation()
    raw.observe(written, count(lit(1)).as("n"))
      .write.mode("overwrite").parquet(stagedPath)
    val stagedCount = written.get("n").asInstanceOf[Long]

    // 7. external table over the staged partition (reference :145-206)
    val staged = ExternalTable.registerParquet(spark, conf.entity,
      stagedPath, raw.schema)

    // 8. validation checkpoint (data_validator.py:14-39) — one pass
    val results =
      if (conf.checks.nonEmpty) CheckRunner.run(staged, conf.checks)
      else Seq.empty

    PipelineResult(conf.entity, sensed, suffix, stagedPath,
      s"t_${conf.entity}", stagedCount, results)
  }
}

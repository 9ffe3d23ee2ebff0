package graft.ingest

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{StringType, StructType}

/** External-table registration — the Spark-native form of the
  * reference's `CREATE OR REPLACE EXTERNAL TABLE data_stage.
  * t_<entity>_external (<col> varchar(1000) AS (value:cN::varchar) …)
  * LOCATION @stage FILE_FORMAT …` (dags/ingest_bundesliga_match_scores
  * .py:174-206; stage/format names settings.txt:12-16).
  *
  * In Spark an external table IS a lazy schema-on-read scan: a
  * DataFrame over the file location with an all-string schema,
  * registered as a temp view. Nothing is copied or materialized until
  * an action runs — the same zero-copy semantics as the Snowflake
  * external stage, with predicate pushdown into the scan for free.
  */
object ExternalTable {

  /** Register `t_<entity>` over CSV files at `location` with the
    * header-inferred all-string schema. Returns the DataFrame.
    *
    * `delimiter` is the reference's configurable `file_delimiter`
    * (include/scripts/settings.txt:3); `quote`/`escape` default to
    * standard CSV quote-doubling (`"…""…"`) — the dialect pandas,
    * DuckDB, and Snowflake stages all emit — rather than Spark's
    * historical backslash-escape default.
    */
  def register(spark: SparkSession, entity: String, location: String,
      delimiter: String = ",", quote: String = "\"",
      escape: String = "\""): DataFrame =
    csvView(spark, entity, location, delimiter, quote, escape, None)

  /** [[register]] with PERMISSIVE corrupt-row capture: a malformed
    * line (excess tokens, broken quoting) is neither dropped silently
    * (DROPMALFORMED) nor fatal (FAILFAST) — its raw text lands in
    * `_corrupt_record` with every data column null, so the staging
    * load always succeeds and the damage is COUNTABLE:
    * `graft.check.Malformed()` surfaces the count through the same
    * single-pass check report as every other constraint.
    */
  def registerPermissive(spark: SparkSession, entity: String,
      location: String, delimiter: String = ",", quote: String = "\"",
      escape: String = "\""): DataFrame =
    csvView(spark, entity, location, delimiter, quote, escape,
      Some("_corrupt_record"))

  /** The CSV scan both temp-view registrations share: header row,
    * dialect options and the header-sniffed all-string schema,
    * registered as `t_<entity>`. `corrupt` names the column a
    * PERMISSIVE scan parks malformed lines in (None: no capture).
    */
  private def csvView(spark: SparkSession, entity: String,
      location: String, delimiter: String, quote: String,
      escape: String, corrupt: Option[String]): DataFrame = {
    val header =
      SchemaInference.inferHeaderSchema(spark, location, delimiter)
    val reader = spark.read
      .option("header", "true")
      .option("delimiter", delimiter)
      .option("quote", quote)
      .option("escape", escape)
    val df = corrupt match {
      case None => reader.schema(header).csv(location)
      case Some(c) => reader
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", c)
        .schema(header.add(c, StringType, nullable = true))
        .csv(location)
    }
    df.createOrReplaceTempView(s"t_$entity")
    df
  }

  /** SQL-DDL spelling of [[register]] — `CREATE TABLE … USING csv
    * OPTIONS (…) LOCATION …` against the session catalog, the direct
    * analog of the reference's `CREATE OR REPLACE EXTERNAL TABLE …
    * LOCATION @stage` DDL (dags/ingest_bundesliga_match_scores
    * .py:174-188). Same lazy schema-on-read semantics as the
    * temp-view form; the table lives in the catalog instead.
    */
  def registerDdl(spark: SparkSession, entity: String, location: String,
      delimiter: String = ","): DataFrame = {
    val schema = SchemaInference.inferHeaderSchema(spark, location, delimiter)
    val cols = schema.fields
      .map(f => s"`${f.name}` ${f.dataType.sql}").mkString(", ")
    spark.sql(s"DROP TABLE IF EXISTS t_$entity")
    spark.sql(
      s"""CREATE TABLE t_$entity ($cols)
         |USING csv
         |OPTIONS (header 'true', delimiter '$delimiter')
         |LOCATION '$location'""".stripMargin)
    spark.table(s"t_$entity")
  }

  /** Typed registration for parquet staging data (the engine's native
    * columnar staging format, SURVEY.md §1.2). The caller passes the
    * `schema` it wrote the files with, so the read skips footer
    * inference, which is a Spark job of its own.
    */
  def registerParquet(spark: SparkSession, entity: String,
      location: String, schema: StructType): DataFrame = {
    val df = spark.read.schema(schema).parquet(location)
    df.createOrReplaceTempView(s"t_$entity")
    df
  }

  /** JSON-lines landing files (schema inferred from the data unless
    * provided — the reference has no JSON sources, but the engine's
    * staging surface covers the common landing formats).
    */
  def registerJson(spark: SparkSession, entity: String,
      location: String): DataFrame = {
    val df = spark.read.json(location)
    df.createOrReplaceTempView(s"t_$entity")
    df
  }

  /** ORC staging (the other columnar format Spark reads natively). */
  def registerOrc(spark: SparkSession, entity: String,
      location: String): DataFrame = {
    val df = spark.read.orc(location)
    df.createOrReplaceTempView(s"t_$entity")
    df
  }
}

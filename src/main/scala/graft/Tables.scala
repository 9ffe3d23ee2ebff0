package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{expr, timestamp_micros}

/** Readers for the driver-generated testdata tables (TESTDATA.md).
  *
  * Every declared query receives `(spark, sfDir)` and reads only the
  * tables it needs — column pruning and predicate pushdown then reach
  * the parquet scan (verify with `.explain("formatted")`:
  * `PushedFilters` / `ReadSchema`).
  */
object Tables {
  /** `<dir>/<name>.parquet` through the per-JVM schema memo
    * ([[StoreCache.readParquet]]): the first read infers the schema
    * (one footer-read job), every later one supplies it (no job).
    * Sound because the testdata files are immutable for the life of a
    * JVM and never lie under the store cache's rebuilt dirs.
    */
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    StoreCache.readParquet(spark, s"$dir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame   = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame   = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame     = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame   = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = table(s, d, "lineitem")
  /** events.parquet has shipped ts as TIMESTAMP(NANOS) in some
    * generator versions (which Spark's vectorized reader rejects) and
    * plain TIMESTAMP(MICROS) in others — handle both. Nanos are read
    * as long and converted with integer division (`DIV` — a double
    * division would lose precision above 2^53 ns; the generator emits
    * µs-precision instants, so the truncation is lossless). Micros
    * arrive as TIMESTAMP_NTZ and are cast to the session-TZ (UTC)
    * timestamp the rest of the engine — and the prior nanos path —
    * always produced.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = table(s, d, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      case org.apache.spark.sql.types.TimestampType => raw
      case org.apache.spark.sql.types.TimestampNTZType =>
        // micros, not UTC-adjusted — cast to session-TZ timestamp
        raw.withColumn("ts", expr("CAST(ts AS TIMESTAMP)"))
      case other =>
        // gate early: the generator has drifted schemas before; an
        // unrecognized ts type must fail loudly, not coerce silently
        throw new IllegalStateException(
          s"events.parquet ts has unexpected type $other — " +
            "expected LONG (nanos), TIMESTAMP, or TIMESTAMP_NTZ")
    }
  }
  /** embeddings arrives as a SINGLE parquet split at every test SF
    * (one small file), so without a spread every per-row-heavy scan —
    * the n² exact-decimal folds under a broadcast join, the PQ
    * encode's 128-way argmin — runs in ONE task no matter how many
    * cores the session has (measured at sf0.1: q252 4.2 → 1.1 s,
    * q218 4.0 → 2.2, q236 2.8 → 1.5 once spread). At 100 TB the same
    * table arrives in thousands of splits and this round-robin is a
    * no-op in spirit; it exists to make the local plan shaped like
    * the cluster plan. Round-robin repartition sorts locally first
    * (Spark's deterministic-retry rule), and every downstream query
    * is order-insensitive by the determinism contract, so results
    * are unchanged under the spread. documents deliberately stays
    * unspread: its heavy consumers explode into an immediate
    * hash-agg (already parallel past the scan) and several reuse the
    * scan subtree across branches — the extra exchange measurably
    * HURT them (q31 2.7 → 6.0 s).
    */
  private def spread(s: SparkSession, df: DataFrame): DataFrame =
    df.repartition(s.sessionState.conf.numShufflePartitions)

  def documents(s: SparkSession, d: String): DataFrame =
    table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame =
    spread(s, table(s, d, "embeddings"))

  /** embeddings WITHOUT the parallelism spread — for consumers whose
    * per-row work is light (one argmax over K literal centroids, a
    * metadata projection): there the spread's extra exchange+stage is
    * pure overhead with nothing to amortize it (q212 measured 1.3 s
    * unspread vs 2.8 s spread at sf0.1, same result either way —
    * the round-12 riser adjudication in BASELINE.md). Heavy per-row
    * consumers (PQ encode towers, exact n² folds) keep [[embeddings]].
    */
  def embeddingsUnspread(s: SparkSession, d: String): DataFrame =
    table(s, d, "embeddings")
}

package perfbench

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Seeded input generators. Every value is a pure function of
  * (seed, row id, salt), written once as a Spark column and once as
  * driver arithmetic, so the harness can predict any generated value
  * without reading it back. Long arithmetic stays far below 2^63 (ids
  * < 1e7), so ANSI overflow checks never fire.
  */
object Gen {
  private val P = 2147483647L

  /** Driver-side mixer. */
  def mix(seed: Long, id: Long, salt: Long): Long =
    Math.floorMod(Math.floorMod(id * 1103515245L + salt * 12345L +
      seed * 2654435L, P) * 48271L + salt, P)

  /** Spark-side mixer, identical to [[mix]]. */
  def mixCol(seed: Long, id: Column, salt: Long): Column =
    pmod(pmod(id * 1103515245L + lit(salt * 12345L + seed * 2654435L),
      lit(P)) * 48271L + lit(salt), lit(P))

  // ---------------------------------------------------------------
  // lineitem-derived landing rows for the ingest DAG (all CSV text)

  val flags = Seq("A", "N", "R")
  val landingCols = Seq("l_rowid", "l_orderkey", "l_partkey",
    "l_suppkey", "l_linenumber", "l_quantity", "l_extendedprice",
    "l_discount", "l_tax", "l_returnflag", "l_linestatus", "l_shipdate")

  /** Planted defects of one landing batch: rows [0, nulls) lose their
    * ship date, the next `badFlags` rows carry an out-of-set return
    * flag, and `dups` extra rows repeat the ids of valid rows.
    */
  final case class Batch(index: Int, firstId: Long, rows: Long,
      nulls: Long, badFlags: Long, dups: Long) {
    def staged: Long = rows + dups
    def valid: Long = rows - nulls - badFlags + dups
  }

  def batchPlan(seed: Long, index: Int, rows: Long): Batch =
    Batch(index, index.toLong * rows, rows,
      nulls = 40 + mix(seed, index, 11) % 60,
      badFlags = 30 + mix(seed, index, 12) % 50,
      dups = 20 + mix(seed, index, 13) % 40)

  def landing(spark: SparkSession, seed: Long, b: Batch): DataFrame = {
    val base = spark.range(b.firstId, b.firstId + b.rows, 1, 4).toDF()
    val dup = spark.range(0, b.dups, 1, 1)
      .select((col("id") + b.firstId + b.nulls + b.badFlags).as("id"))
    val id = col("id")
    val local = id - b.firstId
    val m = (s: Long) => mixCol(seed, id, s)
    val day = date_add(lit("1995-01-01").cast("date"),
      (m(7) % 1500).cast("int"))
    base.union(dup).select(
      id.as("l_rowid"),
      (id / 4).cast("long").as("l_orderkey"),
      (m(1) % 20000 + 1).as("l_partkey"),
      (m(2) % 1000 + 1).as("l_suppkey"),
      (pmod(id, lit(7L)) + 1).cast("int").as("l_linenumber"),
      (m(3) % 50 + 1).cast("double").as("l_quantity"),
      ((m(4) % 9000000 + 90000) / 100.0).as("l_extendedprice"),
      ((m(5) % 11) / 100.0).as("l_discount"),
      ((m(6) % 9) / 100.0).as("l_tax"),
      when(local >= b.nulls && local < b.nulls + b.badFlags, lit("X"))
        .otherwise(element_at(array(flags.map(lit): _*),
          (m(8) % 3 + 1).cast("int"))).as("l_returnflag"),
      when(m(9) % 2 === 0, "O").otherwise("F").as("l_linestatus"),
      when(local < b.nulls, lit(null).cast("date"))
        .otherwise(day).as("l_shipdate"))
  }

  // ---------------------------------------------------------------
  // keyed store rows (store_upsert / serve_mix)

  val storeSchema: StructType = StructType(Seq(
    StructField("id", LongType), StructField("cust", LongType),
    StructField("sku", StringType), StructField("qty", DoubleType),
    StructField("price", DoubleType), StructField("flag", StringType),
    StructField("ver", LongType)))

  /** The value a store row holds at version `ver` (0 = as built). */
  def storeRow(seed: Long, id: Long, ver: Long): Row = {
    val s = ver * 100
    Row(id, mix(seed, id, s + 1) % 50000, f"sku${mix(seed, id, 2) % 20000}%05d",
      (mix(seed, id, s + 3) % 50 + 1).toDouble,
      (mix(seed, id, s + 4) % 9000000 + 90000) / 100.0,
      flags((mix(seed, id, s + 5) % 3).toInt), ver)
  }

  /** Rows [lo, hi) at version 0, as a distributed frame. */
  def storeBase(spark: SparkSession, seed: Long, lo: Long, hi: Long,
      parts: Int): DataFrame = {
    val id = col("id")
    val m = (s: Long) => mixCol(seed, id, s)
    spark.range(lo, hi, 1, parts).select(id,
      (m(1) % 50000).as("cust"),
      format_string("sku%05d", m(2) % 20000).as("sku"),
      (m(3) % 50 + 1).cast("double").as("qty"),
      ((m(4) % 9000000 + 90000) / 100.0).as("price"),
      element_at(array(flags.map(lit): _*),
        (m(5) % 3 + 1).cast("int")).as("flag"),
      lit(0L).as("ver"))
  }

  // ---------------------------------------------------------------
  // TPC-H-shaped tables + a documents corpus for the declared queries

  private val priorities =
    Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val segments =
    Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val vocab = ("a the key agg row scan slow fast table value " +
    "part hash merge batch spark line sort window data column join " +
    "small big query customer order stream group filter vector " +
    "lake store index token corpus shard delta commit").split(' ')

  private def pick(xs: Seq[String], m: Column): Column =
    element_at(array(xs.map(lit): _*),
      (m % xs.size.toLong + 1).cast("int"))

  /** Writes region, nation, customer, orders, lineitem and documents
    * parquet files under `dir` with the testdata schemas.
    */
  def tables(spark: SparkSession, seed: Long, dir: String,
      orders: Long, docs: Long): Unit = {
    def save(df: DataFrame, name: String): Unit =
      df.write.mode("overwrite").parquet(s"$dir/$name.parquet")
    val id = col("id")
    val m = (s: Long) => mixCol(seed, id, s)
    val customers = math.max(100L, orders / 10)
    save(spark.range(0, 5, 1, 1).select(id.cast("int").as("r_regionkey"),
      concat(lit("REGION"), id).as("r_name")), "region")
    save(spark.range(0, 25, 1, 1).select(id.cast("int").as("n_nationkey"),
      concat(lit("NATION"), format_string("%02d", id)).as("n_name"),
      (id % 5).cast("int").as("n_regionkey")), "nation")
    save(spark.range(1, customers + 1, 1, 1).select(id.as("c_custkey"),
      concat(lit("Customer#"), id).as("c_name"),
      (m(1) % 25).cast("int").as("c_nationkey"),
      ((m(2) % 1099999 - 99999) / 100.0).as("c_acctbal"),
      pick(segments, m(3)).as("c_mktsegment")), "customer")
    save(spark.range(1, orders + 1, 1, 2).select(id.as("o_orderkey"),
      (m(1) % customers + 1).as("o_custkey"),
      when(m(2) % 2 === 0, "F").otherwise("O").as("o_orderstatus"),
      ((m(3) % 45000000 + 90000) / 100.0).as("o_totalprice"),
      timestamp_seconds(lit(757382400L) + (m(4) % 2400) * 86400L)
        .as("o_orderdate"),
      pick(priorities, m(5)).as("o_orderpriority")), "orders")
    save(spark.range(0, orders * 4, 1, 4).select(
      (id / 4 + 1).cast("long").as("l_orderkey"),
      (m(1) % 2000 + 1).as("l_partkey"),
      (m(2) % 100 + 1).as("l_suppkey"),
      (id % 4 + 1).cast("int").as("l_linenumber"),
      (m(3) % 50 + 1).cast("double").as("l_quantity"),
      ((m(4) % 9000000 + 90000) / 100.0).as("l_extendedprice"),
      ((m(5) % 11) / 100.0).as("l_discount"),
      ((m(6) % 9) / 100.0).as("l_tax"),
      pick(flags, m(7)).as("l_returnflag"),
      when(m(8) % 2 === 0, "O").otherwise("F").as("l_linestatus"),
      timestamp_seconds(lit(757382400L) + (m(9) % 2500) * 86400L)
        .as("l_shipdate")), "lineitem")
    // documents: bag-of-words text over a small vocabulary; every
    // 20th document is a near-copy of its predecessor (one word
    // changed), so the near-duplicate queries have pairs to find
    val words = 40
    val src = when(id % 20 === 19, id - 1).otherwise(id)
    val ms = (s: Long) => mixCol(seed, src, s)
    val tokens = (0 until words).map { i =>
      val w = pick(vocab.toSeq, ms(100 + i))
      if (i == words - 1) when(id % 20 === 19, lit("delta")).otherwise(w)
      else w
    }
    val text = concat_ws(" ", tokens: _*)
    save(spark.range(0, docs, 1, 1).select(id.as("doc_id"), text.as("text"),
      pick(Seq("en", "en", "de", "fr", "es", "zh"), ms(1)).as("lang"),
      concat(lit("src"), (ms(2) % 20).cast("string")).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long")),
      "documents")
  }
}

package graft.operators

import graft.{SparkFixture, Tables}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

class OperatorsSpec extends AnyFunSuite with SparkFixture with Matchers {

  test("AsOfJoin matches the declared q28 window rewrite on real events") {
    val e = Tables.events(spark, "/root/testdata/sf0.001")
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"), col("ts"))
    val clicks = e.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("ts"))

    val got = AsOfJoin.asOfInner(purchases, clicks, "user_id", "ts", "ts",
      Map("event_id" -> "click_id"))
      .select("purchase_id", "user_id", "click_id")

    // independent oracle: per-purchase max click ts <= purchase ts
    val expected = purchases.as("p")
      .join(clicks.as("c"),
        col("p.user_id") === col("c.user_id") && col("p.ts") >= col("c.ts"))
      .groupBy(col("purchase_id"), col("p.user_id").as("user_id"))
      .agg(max(struct(col("c.ts"), col("c.event_id"))).as("m"))
      .select(col("purchase_id"), col("user_id"),
        col("m.event_id").as("click_id"))

    got.count() should be > 0L
    got.except(expected).count() shouldBe 0
    expected.except(got).count() shouldBe 0
  }

  test("AsOfJoin left variant keeps unmatched rows with null") {
    val s = spark
    import s.implicits._
    val left = Seq((1L, 10L), (1L, 1L)).toDF("k", "t")
    val right = Seq((1L, 5L, "x")).toDF("k", "t", "v")
    val out = AsOfJoin.asOf(left, right, "k", "t", "t", Map("v" -> "v"))
      .orderBy("t").collect()
    out.map(r => (r.getLong(1), if (r.isNullAt(2)) null else r.getString(2)))
      .toList shouldBe List((1L, null), (10L, "x"))
  }

  test("AsOfJoin carries a legitimately-NULL right value (no skip-back)") {
    val s = spark
    import s.implicits._
    // right rows: t=2 has v='old', t=5 has v=NULL. A left row at t=10
    // must match the t=5 row and carry NULL — not skip back to 'old'.
    val left = Seq((1L, 10L)).toDF("k", "t")
    val right = Seq((1L, 2L, Some("old")), (1L, 5L, None))
      .toDF("k", "t", "v")
    val out = AsOfJoin.asOf(left, right, "k", "t", "t", Map("v" -> "v"))
      .collect()
    out.length shouldBe 1
    out.head.isNullAt(2) shouldBe true
    // inner variant keeps the matched-but-NULL row too
    AsOfJoin.asOfInner(left, right, "k", "t", "t", Map("v" -> "v"))
      .count() shouldBe 1L
  }

  test("AsOfJoin tolerance: stale matches degrade to null") {
    val s = spark
    import s.implicits._
    val left = Seq((1L, "2024-01-01 10:00:00"), (1L, "2024-01-01 12:00:00"))
      .toDF("k", "ts_s")
      .select(col("k"), col("ts_s").cast("timestamp").as("t"))
    val right = Seq((1L, "2024-01-01 09:59:00", "x"))
      .toDF("k", "ts_s", "v")
      .select(col("k"), col("ts_s").cast("timestamp").as("t"), col("v"))
    val out = AsOfJoin.asOfWithin(left, right, "k", "t", "t",
        Map("v" -> "v"), "5 minutes")
      .orderBy("t").collect()
    // 10:00 matches the 09:59 quote (1 min old); 12:00's only prior
    // quote is 2h stale -> degraded to null, row kept
    out.map(r => if (r.isNullAt(2)) null else r.getString(2))
      .toList shouldBe List("x", null)
  }

  test("TopK bounded-heap aggregator equals the window rank-filter form") {
    val orders = Tables.orders(spark, "/root/testdata/sf0.001")
    val got = TopK.topKPerGroup(spark, orders,
        "o_orderpriority", "o_totalprice", "o_orderkey", 3)
      .collect()
      .map(r => (r.getString(0), r.getInt(1), r.getDouble(2), r.getLong(3)))
      .toSet
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("o_orderpriority")
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    val expected = orders
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .collect()
      .map(r => (r.getAs[String]("o_orderpriority"), r.getAs[Int]("rn"),
        r.getAs[Double]("o_totalprice"), r.getAs[Long]("o_orderkey")))
      .toSet
    got shouldBe expected
  }

  test("SkewJoin equals a plain join (same rows, spread over salts)") {
    val li = Tables.lineitem(spark, "/root/testdata/sf0.001")
      .select("l_orderkey", "l_partkey", "l_quantity")
    val part = Tables.part(spark, "/root/testdata/sf0.001")
      .select(col("p_partkey").as("l_partkey"), col("p_brand"))
    val plain = li.join(part, Seq("l_partkey")).count()
    val salted = SkewJoin.saltedJoin(li, part, "l_partkey", 8).count()
    salted shouldBe plain
  }
}

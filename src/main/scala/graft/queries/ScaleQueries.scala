package graft.queries

import graft.Tables._
import graft.operators.BloomJoin
import org.apache.spark.sql.functions._

/** Scale-primitive gates: operators whose REASON to exist is the
  * 100 TB shape, oracle-checked through small-SF aggregates. The
  * Bloom-pruned joins produce exactly the plain semi/anti join result
  * for any fpp (the sketch only routes rows; the exact join settles
  * them), so a standard EXISTS / NOT EXISTS oracle hash-gates the
  * whole pruning machinery — filter build, serialization, codegen
  * probe, branch union.
  */
object ScaleQueries {

  /** DuckDB spelling of [[graft.operators.ZOrder.zValue]] — the same
    * unrolled clamp/shift/mask/or terms, generated from one loop so
    * the two engines cannot drift.
    */
  private def sqlZ(exprs: Seq[String], bits: Int): String = {
    val n = exprs.length
    val cap = (1L << bits) - 1
    val terms = for {
      (e, i) <- exprs.zipWithIndex
      b <- 0 until bits
    } yield
      s"(((least(greatest(CAST(($e) AS BIGINT), 0), $cap) >> $b) & 1) " +
        s"<< ${b * n + i})"
    terms.mkString("(", " | ", ")")
  }

  val all: Seq[QueryDef] = Seq(

    // Decontamination shape: fact rows whose key is NOT in a dim key
    // set. At 100 TB the Bloom filter settles almost every row
    // map-side ("definitely clean" bypasses the join); only candidates
    // shuffle into the exact anti join that removes false positives.
    QueryDef(
      "q146_bloom_anti_join",
      (s, d) => {
        val dim = customer(s, d).filter(col("c_acctbal") < 0)
          .select(col("c_custkey"))
        BloomJoin
          .antiJoinPruned(orders(s, d), dim, "o_custkey", "c_custkey")
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("cnt"),
            countDistinct(col("o_custkey")).as("custs"))
          .orderBy("o_orderpriority")
      },
      Some("""SELECT o_orderpriority, COUNT(*) AS cnt,
             |  COUNT(DISTINCT o_custkey) AS custs
             |FROM orders o
             |WHERE NOT EXISTS (
             |  SELECT 1 FROM customer c
             |  WHERE c.c_custkey = o.o_custkey AND c.c_acctbal < 0)
             |GROUP BY o_orderpriority
             |ORDER BY o_orderpriority""".stripMargin)),

    // Targeted-extract shape: fact rows whose key IS in a small dim
    // set (pull one cohort's rows out of a full corpus). The filter
    // drops the non-matching bulk before any shuffle — one pass over
    // the fact side.
    QueryDef(
      "q147_bloom_semi_join",
      (s, d) => {
        val dim = part(s, d).filter(col("p_size") > 45)
          .select(col("p_partkey"))
        BloomJoin
          .semiJoinPruned(lineitem(s, d), dim, "l_partkey", "p_partkey")
          .groupBy("l_returnflag")
          .agg(count(lit(1)).as("cnt"),
            countDistinct(col("l_partkey")).as("parts"))
          .orderBy("l_returnflag")
      },
      Some("""SELECT l_returnflag, COUNT(*) AS cnt,
             |  COUNT(DISTINCT l_partkey) AS parts
             |FROM lineitem l
             |WHERE EXISTS (
             |  SELECT 1 FROM part p
             |  WHERE p.p_partkey = l.l_partkey AND p.p_size > 45)
             |GROUP BY l_returnflag
             |ORDER BY l_returnflag""".stripMargin)),

    // Z-order curve values: the multi-column clustering key behind
    // min/max file skipping (ZOrder.clusterByZ lays data out by it;
    // this gates the curve arithmetic itself cross-engine). Pure
    // codegen'd bit ops — shift/mask/or over the clamped low bits of
    // each key — so the clustering sort key costs scan speed, not a
    // UDF. Both sides are generated from the same term loop.
    QueryDef(
      "q148_zorder_curve",
      (s, d) => {
        val o = orders(s, d)
        o.select(col("o_orderkey"),
            graft.operators.ZOrder
              .zValue(Seq(col("o_custkey") % 256, col("o_orderkey") % 256),
                bits = 8)
              .as("zval"))
          .orderBy(col("zval"), col("o_orderkey"))
          .limit(100)
      },
      Some(s"""SELECT o_orderkey,
              |  ${sqlZ(Seq("o_custkey % 256", "o_orderkey % 256"), 8)}
              |    AS zval
              |FROM orders
              |ORDER BY zval, o_orderkey LIMIT 100""".stripMargin)),

    // Interval overlap join (two-sided ranges — sessions × promos,
    // validity-window reconciliation): urgent-1995 order windows
    // (order date + 14 days) overlapping return-flagged ship windows
    // (ship date + 6 days). A bare overlap predicate plans as a
    // nested loop; IntervalJoin tiles the timeline into blocks and
    // equi-joins on block id — one linear shuffle, candidates bounded
    // by interval density, each pair emitted exactly once at its
    // overlap-start block. The oracle runs the raw predicate.
    QueryDef(
      "q150_interval_overlap_join",
      (s, d) => {
        val day0 = to_date(lit("1992-01-01"))
        val o = orders(s, d)
          .filter(col("o_orderpriority") === "1-URGENT" &&
            year(col("o_orderdate")) === 1995)
          .select(col("o_orderkey"),
            datediff(col("o_orderdate"), day0).cast("long").as("o_start"),
            (datediff(col("o_orderdate"), day0) + 14).cast("long")
              .as("o_end"))
        val li = lineitem(s, d)
          .filter(col("l_returnflag") === "R")
          .select(col("l_orderkey"),
            datediff(col("l_shipdate"), day0).cast("long").as("s_start"),
            (datediff(col("l_shipdate"), day0) + 6).cast("long")
              .as("s_end"))
        // two countDistincts in ONE aggregate trigger Spark's
        // multi-distinct Expand (×3 rows through the exchange — the
        // q249 trap). Pin the pair-key projection of the join output
        // once, then run three single-aggregate subtrees crossJoined
        // (a single countDistinct plans as a plain two-phase
        // aggregate, no Expand); the crossJoins are single-row
        // broadcast loops. Same one-row result, same column order.
        val pairsDf = graft.operators.IntervalJoin
          .overlaps(o, li, "o_start", "o_end", "s_start", "s_end",
            blockSize = 16L)
          .select(col("o_orderkey"), col("l_orderkey"))
          .localCheckpoint()
        pairsDf.agg(count(lit(1)).as("pairs"))
          .crossJoin(pairsDf
            .agg(countDistinct(col("o_orderkey")).as("n_orders")))
          .crossJoin(pairsDf
            .agg(countDistinct(col("l_orderkey")).as("n_items")))
      },
      Some("""SELECT COUNT(*) AS pairs,
             |  COUNT(DISTINCT o.o_orderkey) AS n_orders,
             |  COUNT(DISTINCT l.l_orderkey) AS n_items
             |FROM (
             |  SELECT o_orderkey,
             |    date_diff('day', DATE '1992-01-01', o_orderdate)
             |      AS o_start,
             |    date_diff('day', DATE '1992-01-01', o_orderdate) + 14
             |      AS o_end
             |  FROM orders
             |  WHERE o_orderpriority = '1-URGENT'
             |    AND year(o_orderdate) = 1995) o
             |JOIN (
             |  SELECT l_orderkey,
             |    date_diff('day', DATE '1992-01-01', l_shipdate)
             |      AS s_start,
             |    date_diff('day', DATE '1992-01-01', l_shipdate) + 6
             |      AS s_end
             |  FROM lineitem
             |  WHERE l_returnflag = 'R') l
             |ON o.o_start <= l.s_end AND l.s_start <= o.o_end""".stripMargin)),

    // 2-D skyline (Pareto frontier): parts not dominated on
    // (p_retailprice, p_size), both maximizing. The oracle is the
    // quadratic NOT EXISTS dominance test; the operator computes the
    // identical set with a linear hash-agg + a window over the
    // per-price maxima + a broadcast semi-join back — the only
    // unpartitioned step runs over |distinct p_retailprice| aggregated
    // rows, never the data (Skyline.scala scaladoc for the
    // high-cardinality bucketing extension).
    QueryDef(
      "q157_skyline",
      (s, d) =>
        graft.operators.Skyline
          .pareto2dMax(part(s, d), "p_retailprice", "p_size")
          .select(col("p_partkey"), col("p_retailprice"), col("p_size"))
          .orderBy("p_partkey"),
      Some("""SELECT p.p_partkey, p.p_retailprice, p.p_size
             |FROM part p
             |WHERE NOT EXISTS (
             |  SELECT 1 FROM part q
             |  WHERE q.p_retailprice >= p.p_retailprice
             |    AND q.p_size >= p.p_size
             |    AND (q.p_retailprice > p.p_retailprice
             |         OR q.p_size > p.p_size))
             |ORDER BY p.p_partkey""".stripMargin)),

    // Per-group top-k via the custom physical operator
    // (GroupedTopK.scala: LogicalPlan + Strategy + partial/final
    // SparkPlan pair, extension ladder rung (c)). Same answer as the
    // q60 window spelling, but the plan is bounded-heap partial →
    // ONE k·|groups|-sized exchange → bounded-heap final: no
    // fact-table shuffle, no per-group sort. Spark 4's own
    // InferWindowGroupLimit already rank-limits the window form
    // (q60 plans WindowGroupLimit partial/final) but still SORTS on
    // both sides of its exchange; the heap operator skips both
    // sorts — measured 0.69 s vs 0.96 s at sf0.1 on the same input.
    // The (price desc, key asc) ordering is total, so the kept set
    // is partition-invariant and the row_number oracle selects the
    // identical rows.
    QueryDef(
      "q165_grouped_topk_exec",
      (s, d) => {
        val o = orders(s, d)
          .select("o_orderpriority", "o_orderkey", "o_totalprice")
        graft.plans.GroupedTopK
          .of(o, Seq("o_orderpriority"),
            Seq(col("o_totalprice").desc, col("o_orderkey").asc), 3)
          .orderBy(col("o_orderpriority"), col("o_totalprice").desc,
            col("o_orderkey"))
      },
      Some("""SELECT o_orderpriority, o_orderkey, o_totalprice FROM (
             |  SELECT o_orderpriority, o_orderkey, o_totalprice,
             |    row_number() OVER (PARTITION BY o_orderpriority
             |      ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
             |  FROM orders)
             |WHERE rn <= 3
             |ORDER BY o_orderpriority, o_totalprice DESC, o_orderkey""".stripMargin)),

    // Snapshot reconciliation checksum — how two 100 TB copies of a
    // table (pre/post migration, primary/replica, batch/stream) are
    // compared WITHOUT moving either: each side folds every row into
    // a per-bucket (count, XOR-of-row-digest) pair in one linear
    // map-side-combined pass, and only the O(buckets) summaries meet.
    // XOR is commutative/associative, so the checksum is partition-
    // and order-invariant; a 52-bit md5 prefix keeps the fold in one
    // codegen'd long. The "drifted" snapshot here is derived in-query
    // (deterministic deletes at key%101, mutations at key%97) so the
    // oracle can replay both sides; output is the drifted buckets a
    // repair job would re-copy. Doubles enter the digest only as
    // exact scaled integers (floor(qty·100)) — double→string is
    // engine-divergent, integer strings are not.
    QueryDef(
      "q177_snapshot_checksum_diff",
      (s, d) => {
        def side(df: org.apache.spark.sql.DataFrame,
            qty: org.apache.spark.sql.Column) = df
          .select((col("l_orderkey") % 64).as("bucket"),
            conv(substring(md5(concat_ws("|",
              col("l_orderkey").cast("string"),
              col("l_linenumber").cast("string"),
              floor(qty * 100).cast("string"))), 1, 13), 16, 10)
              .cast("long").as("v"))
          .groupBy("bucket")
          .agg(count(lit(1)).as("n"), expr("bit_xor(v)").as("x"))
        val li = lineitem(s, d)
        val a = side(li, col("l_quantity"))
          .select(col("bucket"), col("n").as("n_a"), col("x").as("x_a"))
        val b = side(li.filter(col("l_orderkey") % 101 =!= 0),
          when(col("l_orderkey") % 97 === 0, col("l_quantity") + 1)
            .otherwise(col("l_quantity")))
          .select(col("bucket"), col("n").as("n_b"), col("x").as("x_b"))
        a.join(b, Seq("bucket"), "full_outer")
          .filter(col("n_a").isNull || col("n_b").isNull ||
            col("n_a") =!= col("n_b") || col("x_a") =!= col("x_b"))
          .select(col("bucket"), col("n_a"), col("n_b"))
          .orderBy("bucket")
      },
      Some("""WITH a AS (
             |  SELECT l_orderkey % 64 AS bucket,
             |    md5(CAST(l_orderkey AS VARCHAR) || '|' ||
             |        CAST(l_linenumber AS VARCHAR) || '|' ||
             |        CAST(CAST(floor(l_quantity * 100) AS BIGINT)
             |          AS VARCHAR)) AS h
             |  FROM lineitem
             |), b AS (
             |  SELECT l_orderkey % 64 AS bucket,
             |    md5(CAST(l_orderkey AS VARCHAR) || '|' ||
             |        CAST(l_linenumber AS VARCHAR) || '|' ||
             |        CAST(CAST(floor((CASE WHEN l_orderkey % 97 = 0
             |          THEN l_quantity + 1 ELSE l_quantity END) * 100)
             |          AS BIGINT) AS VARCHAR)) AS h
             |  FROM lineitem WHERE l_orderkey % 101 <> 0
             |), ca AS (
             |  SELECT bucket, COUNT(*) AS n_a,
             |    bit_xor(CAST(('0x' || substring(h, 1, 13)) AS BIGINT))
             |      AS x_a
             |  FROM a GROUP BY bucket
             |), cb AS (
             |  SELECT bucket, COUNT(*) AS n_b,
             |    bit_xor(CAST(('0x' || substring(h, 1, 13)) AS BIGINT))
             |      AS x_b
             |  FROM b GROUP BY bucket
             |)
             |SELECT COALESCE(ca.bucket, cb.bucket) AS bucket, n_a, n_b
             |FROM ca FULL OUTER JOIN cb ON ca.bucket = cb.bucket
             |WHERE n_a IS NULL OR n_b IS NULL
             |   OR n_a <> n_b OR x_a <> x_b
             |ORDER BY bucket""".stripMargin)),

    // Row-level snapshot delta — the classification step a
    // reconciliation runs AFTER q177's checksum diff has cheaply
    // located the differing buckets: full outer join of two corpus
    // snapshots on the key, each row classified
    // added / removed / changed / unchanged (content compared by
    // md5, so wide text never ships twice through the join — only
    // key + digest). The "next" snapshot is derived in-query with
    // deterministic mutations (deletes at id%101, edits at id%97,
    // inserts cloned at id%89 with offset ids) so the oracle can
    // replay both sides. At 100 TB: two keyed shuffles of
    // (key, digest) pairs — run it on the q177-flagged partition
    // subset, not the whole table; the counts-per-class output is
    // O(1).
    QueryDef(
      "q197_snapshot_delta",
      (s, d) => {
        val old = documents(s, d)
          .select(col("doc_id"), md5(col("text")).as("h"))
        val base = documents(s, d)
        val newSnap = base
          .filter(col("doc_id") % 101 =!= 0)
          .select(col("doc_id"),
            md5(when(col("doc_id") % 97 === 0,
              concat(col("text"), lit(" v2")))
              .otherwise(col("text"))).as("h"))
          // synthetic inserts live in the negative id space: disjoint
          // from real (non-negative) doc_ids at ANY corpus size, where
          // a fixed +offset would collide once ids pass the offset
          .unionByName(base.filter(col("doc_id") % 89 === 0)
            .select((-col("doc_id") - 1L).as("doc_id"),
              md5(col("text")).as("h")))
        old.as("o")
          .join(newSnap.as("n"),
            col("o.doc_id") === col("n.doc_id"), "full_outer")
          .select(
            when(col("o.doc_id").isNull, "added")
              .when(col("n.doc_id").isNull, "removed")
              .when(col("o.h") =!= col("n.h"), "changed")
              .otherwise("unchanged").as("status"))
          .groupBy("status")
          .agg(count(lit(1)).as("n_docs"))
          .orderBy("status")
      },
      Some("""WITH old AS (
             |  SELECT doc_id, md5(text) AS h FROM documents
             |), new_snap AS (
             |  SELECT doc_id,
             |    md5(CASE WHEN doc_id % 97 = 0 THEN text || ' v2'
             |        ELSE text END) AS h
             |  FROM documents WHERE doc_id % 101 <> 0
             |  UNION ALL
             |  SELECT -doc_id - 1 AS doc_id, md5(text) AS h
             |  FROM documents WHERE doc_id % 89 = 0
             |)
             |SELECT CASE WHEN o.doc_id IS NULL THEN 'added'
             |    WHEN n.doc_id IS NULL THEN 'removed'
             |    WHEN o.h <> n.h THEN 'changed'
             |    ELSE 'unchanged' END AS status,
             |  CAST(COUNT(*) AS BIGINT) AS n_docs
             |FROM old o FULL OUTER JOIN new_snap n
             |  ON o.doc_id = n.doc_id
             |GROUP BY 1 ORDER BY status""".stripMargin)),

    // Small-files COMPACTION planning — the storage-ops chore every
    // table format (Iceberg/Delta/Hudi rewriteDataFiles) runs: pack
    // id-ordered items into target-size merge groups. The rule is the
    // deterministic running-sum form (group = exclusive-prefix-sum
    // DIV target): declarative, engine-portable, and — unlike true
    // first-fit bin packing — expressible as ONE window pass. Items
    // here are documents with size = char length; per SOURCE (the
    // partition a compactor works within), so the window is keyed —
    // parallel across sources, no global sort. Output: each planned
    // merge group with its file count, byte total, and id range (the
    // manifest a rewrite job would execute).
    QueryDef(
      "q248_compaction_plan",
      (s, d) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("source").orderBy("doc_id")
          .rowsBetween(org.apache.spark.sql.expressions.Window
            .unboundedPreceding, -1)
        documents(s, d)
          .select(col("source"), col("doc_id"),
            length(col("text")).cast("long").as("sz"))
          .withColumn("cum_excl",
            coalesce(sum(col("sz")).over(w), lit(0L)))
          .withColumn("bin", expr("cum_excl DIV 20000"))
          .groupBy("source", "bin")
          .agg(count(lit(1)).cast("long").as("n_files"),
            sum(col("sz")).cast("long").as("total_chars"),
            min(col("doc_id")).as("first_doc"),
            max(col("doc_id")).as("last_doc"))
          .orderBy("source", "bin")
      },
      Some("""WITH f AS (
             |  SELECT source, doc_id,
             |    CAST(length(text) AS BIGINT) AS sz
             |  FROM documents
             |), planned AS (
             |  SELECT source, doc_id, sz,
             |    CAST(COALESCE(SUM(sz) OVER (PARTITION BY source
             |      ORDER BY doc_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
             |      0) AS BIGINT) // 20000 AS bin
             |  FROM f
             |)
             |SELECT source, CAST(bin AS BIGINT) AS bin,
             |  CAST(COUNT(*) AS BIGINT) AS n_files,
             |  CAST(SUM(sz) AS BIGINT) AS total_chars,
             |  MIN(doc_id) AS first_doc,
             |  MAX(doc_id) AS last_doc
             |FROM planned
             |GROUP BY source, bin
             |ORDER BY source, bin""".stripMargin)),

    // Partition-PRUNE planning from collected stats — the dry-run
    // every lakehouse query planner performs: per day-partition
    // min/max/count stats (the manifest a table format keeps), then
    // for a given time predicate, WHICH partitions a pruned scan
    // touches and which skip. The report makes pruning auditable
    // ("this query reads 4 of 30 partitions, 12% of rows") before
    // any data is read — at 100 TB the stats table is O(partitions)
    // rows and this entire plan runs on it, not the fact. The
    // overlap rule is interval intersection on the partition's
    // [min_ts, max_ts] against the predicate window — exactly what
    // parquet row-group / Iceberg manifest pruning evaluates.
    QueryDef(
      "q254_partition_prune_plan",
      (s, d) => {
        val stats = events(s, d)
          .groupBy(to_date(col("ts")).as("day"))
          .agg(count(lit(1)).cast("long").as("n_rows"),
            min(col("ts")).as("min_ts"), max(col("ts")).as("max_ts"))
        val lo = lit("2024-01-10 00:00:00").cast("timestamp")
        val hi = lit("2024-01-13 12:00:00").cast("timestamp")
        stats
          .select(col("day"), col("n_rows"),
            (col("min_ts") <= hi && col("max_ts") >= lo).as("read"))
          .groupBy("read")
          .agg(count(lit(1)).cast("long").as("n_partitions"),
            sum(col("n_rows")).cast("long").as("n_rows"),
            min(col("day")).as("first_day"),
            max(col("day")).as("last_day"))
          .orderBy(col("read"))
      },
      Some("""WITH stats AS (
             |  SELECT CAST(ts AS DATE) AS day,
             |    CAST(COUNT(*) AS BIGINT) AS n_rows,
             |    MIN(ts) AS min_ts, MAX(ts) AS max_ts
             |  FROM events GROUP BY 1
             |), flagged AS (
             |  SELECT day, n_rows,
             |    (min_ts <= TIMESTAMP '2024-01-13 12:00:00' AND
             |     max_ts >= TIMESTAMP '2024-01-10 00:00:00') AS read
             |  FROM stats
             |)
             |SELECT read,
             |  CAST(COUNT(*) AS BIGINT) AS n_partitions,
             |  CAST(SUM(n_rows) AS BIGINT) AS n_rows,
             |  MIN(day) AS first_day,
             |  MAX(day) AS last_day
             |FROM flagged
             |GROUP BY read
             |ORDER BY read""".stripMargin)),

    // Zone-map pruning audit: q148 gates the Z-curve ARITHMETIC; this
    // measures the LAYOUT'S PAYOFF. The same lineitem rows are laid
    // out two ways — ingestion order (orderkey, linenumber) vs
    // Z-order on (shipdate-day ÷ 16, partkey ÷ 79) — cut into
    // 4096-row "files", and a two-column range predicate (a 61-day
    // ship window × a partkey band) is planned against each file's
    // min/max stats exactly the way a parquet reader prunes row
    // groups. Output: files read, rows read and their fractions per
    // layout — the number a table owner looks at before paying for a
    // re-cluster. The audit itself is one global sort per layout
    // (that IS the relayout being priced) + a per-file min/max agg;
    // at 100 TB you run it on a sample or on existing footer stats.
    QueryDef(
      "q268_pruning_audit",
      (s, d) => {
        val base = lineitem(s, d).select(
          datediff(col("l_shipdate"), to_date(lit("1992-01-01")))
            .cast("long").as("day"),
          col("l_partkey").as("pk"),
          col("l_orderkey").as("ok"), col("l_linenumber").as("ln"))
        val zv = graft.operators.ZOrder.zValue(
          Seq(expr("day DIV 16"), expr("pk DIV 79")), bits = 8)
        // Audited r20: the global row_number window runs each
        // layout's sort as ONE task (profiled task_time ≈ wall). A
        // parallel rewrite (distributed orderBy + zipWithIndex, same
        // total order via the (ok, ln) tiebreak, identical file
        // assignment) measured SLOWER at sf0.1 (2.54 vs 2.20 s —
        // the RDD Row boxing outweighs a 600k-row serial sort), so
        // the window form stays. At 100 TB neither form runs on the
        // full table: the audit is priced to run on a sample or on
        // existing footer stats (scaladoc above).
        def audit(name: String, ordered: Seq[org.apache.spark.sql.Column]) = {
          import org.apache.spark.sql.expressions.Window
          base
            .withColumn("rn", row_number().over(Window.orderBy(ordered: _*)))
            .select(col("day"), col("pk"),
              expr("(rn - 1) DIV 4096").as("f"))
            .groupBy("f")
            .agg(count(lit(1)).cast("long").as("n_rows"),
              min(col("day")).as("d_lo"), max(col("day")).as("d_hi"),
              min(col("pk")).as("p_lo"), max(col("pk")).as("p_hi"))
            .select(col("n_rows"),
              (col("d_lo") <= 1560 && col("d_hi") >= 1500 &&
                col("p_lo") <= 900 && col("p_hi") >= 500).as("read"))
            .agg(count(lit(1)).cast("long").as("n_files"),
              sum(when(col("read"), 1L).otherwise(0L)).cast("long")
                .as("n_files_read"),
              sum(when(col("read"), col("n_rows")).otherwise(0L))
                .cast("long").as("n_rows_read"),
              sum(col("n_rows")).cast("long").as("n_rows_total"))
            .select(lit(name).as("layout"), col("n_files"),
              col("n_files_read"), col("n_rows_read"),
              (col("n_files_read").cast("double") /
                col("n_files").cast("double")).as("file_read_frac"),
              (col("n_rows_read").cast("double") /
                col("n_rows_total").cast("double")).as("row_read_frac"))
        }
        audit("natural", Seq(col("ok"), col("ln")))
          .unionByName(audit("zorder",
            Seq(zv, col("ok"), col("ln"))))
          .orderBy("layout")
      },
      Some {
        val zsql = sqlZ(Seq("day // 16", "pk // 79"), 8)
        s"""WITH base AS (
           |  SELECT date_diff('day', DATE '1992-01-01', l_shipdate)
           |      AS day,
           |    l_partkey AS pk, l_orderkey AS ok, l_linenumber AS ln
           |  FROM lineitem
           |), lay AS (
           |  SELECT 'natural' AS layout, day, pk,
           |    (row_number() OVER (ORDER BY ok, ln) - 1) // 4096 AS f
           |  FROM base
           |  UNION ALL
           |  SELECT 'zorder' AS layout, day, pk,
           |    (row_number() OVER (ORDER BY $zsql, ok, ln) - 1) // 4096
           |      AS f
           |  FROM base
           |), files AS (
           |  SELECT layout, f, CAST(COUNT(*) AS BIGINT) AS n_rows,
           |    MIN(day) AS d_lo, MAX(day) AS d_hi,
           |    MIN(pk) AS p_lo, MAX(pk) AS p_hi
           |  FROM lay GROUP BY layout, f
           |), flagged AS (
           |  SELECT layout, n_rows,
           |    (d_lo <= 1560 AND d_hi >= 1500 AND
           |     p_lo <= 900 AND p_hi >= 500) AS read
           |  FROM files
           |)
           |SELECT layout,
           |  CAST(COUNT(*) AS BIGINT) AS n_files,
           |  CAST(SUM(CASE WHEN read THEN 1 ELSE 0 END) AS BIGINT)
           |    AS n_files_read,
           |  CAST(SUM(CASE WHEN read THEN n_rows ELSE 0 END) AS BIGINT)
           |    AS n_rows_read,
           |  CAST(SUM(CASE WHEN read THEN 1 ELSE 0 END) AS DOUBLE) /
           |    CAST(COUNT(*) AS DOUBLE) AS file_read_frac,
           |  CAST(SUM(CASE WHEN read THEN n_rows ELSE 0 END) AS DOUBLE) /
           |    CAST(SUM(n_rows) AS DOUBLE) AS row_read_frac
           |FROM flagged
           |GROUP BY layout
           |ORDER BY layout""".stripMargin
      }),

    // Zone-map pruning as an AUTOMATIC planner rule — the r11
    // verdict's item 2: q268 measured the Z-order layout's payoff
    // with hand-written pruning; this gate drives
    // plans.ZoneMapPruneRule instead. The store materializes
    // lineitem Z-ordered on (day÷16, pk÷79) into 4096-row files
    // hive-partitioned by zfile; registering it collects the
    // per-file min/max zones (the manifest), and the rule rewrites
    // any Filter bounding the clustered columns into a
    // zfile-IN-survivors partition filter — so the timed query here
    // is a PLAIN filter+agg with no pruning code in it. The oracle
    // recomputes the aggregate over the FULL corpus under the same
    // predicate (over-pruning would drop rows and hash-mismatch) and
    // the zone/survivor counts from scratch; n_files_read comes from
    // ZoneMapPruneRule.survivors — the rule's own decision function,
    // so the declared receipt IS the pruning the plan performs (the
    // physical PartitionFilters contract is pinned in
    // ZoneMapPruneRuleSpec).
    QueryDef(
      "q311_zonemap_rule_gate",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val path = graft.StoreCache.getOrBuild("zmap", d) { p =>
          val zv = graft.operators.ZOrder.zValue(
            Seq(expr("day DIV 16"), expr("pk DIV 79")), bits = 8)
          lineitem(s, d).select(
              datediff(col("l_shipdate"), to_date(lit("1992-01-01")))
                .cast("long").as("day"),
              col("l_partkey").as("pk"),
              col("l_orderkey").as("ok"),
              col("l_linenumber").as("ln"),
              col("l_quantity").as("qty"))
            .withColumn("rn", row_number().over(
              Window.orderBy(zv, col("ok"), col("ln"))))
            .select(col("day"), col("pk"), col("qty"),
              expr("(rn - 1) DIV 4096").as("zfile"))
            .write.partitionBy("zfile").mode("overwrite").parquet(p)
        }
        val tbl = graft.StoreCache.readParquet(s, path)
        graft.plans.ZoneMapPruneRule.clear()
        val entry = graft.plans.ZoneMapPruneRule
          .register(tbl, "zfile", Seq("day", "pk"))
        val bounds = Map(
          "day" -> (Option(1500L), Option(1560L)),
          "pk" -> (Option(500L), Option(900L)))
        val nTotal = entry.stats.length.toLong
        val nRead = graft.plans.ZoneMapPruneRule
          .survivors(entry, bounds).length.toLong
        tbl
          .filter(col("day").between(1500, 1560) &&
            col("pk").between(500, 900))
          .agg(count(lit(1)).cast("long").as("n_rows"),
            graft.queries.Exact.dsum(col("qty")).as("sum_qty"))
          .select(col("n_rows"), col("sum_qty"),
            lit(nTotal).as("n_files_total"),
            lit(nRead).as("n_files_read"))
      },
      Some {
        val zsql = sqlZ(Seq("day // 16", "pk // 79"), 8)
        s"""WITH base AS (
           |  SELECT date_diff('day', DATE '1992-01-01', l_shipdate)
           |      AS day,
           |    l_partkey AS pk, l_orderkey AS ok, l_linenumber AS ln,
           |    l_quantity AS qty
           |  FROM lineitem
           |), zoned AS (
           |  SELECT day, pk, qty,
           |    (row_number() OVER (ORDER BY $zsql, ok, ln) - 1) // 4096
           |      AS zfile
           |  FROM base
           |), files AS (
           |  SELECT zfile, MIN(day) AS d_lo, MAX(day) AS d_hi,
           |    MIN(pk) AS p_lo, MAX(pk) AS p_hi
           |  FROM zoned GROUP BY zfile
           |), surv AS (
           |  SELECT zfile FROM files
           |  WHERE d_lo <= 1560 AND d_hi >= 1500
           |    AND p_lo <= 900 AND p_hi >= 500
           |)
           |SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           |  ${graft.queries.Exact.sqlDsum("qty")} AS sum_qty,
           |  (SELECT CAST(COUNT(*) AS BIGINT) FROM files)
           |    AS n_files_total,
           |  (SELECT CAST(COUNT(*) AS BIGINT) FROM surv)
           |    AS n_files_read
           |FROM zoned
           |WHERE day BETWEEN 1500 AND 1560 AND pk BETWEEN 500 AND 900
           |""".stripMargin
      }),

    // Zone-map breadth gate (the r13 verdict's item 8 — the next two
    // predicates a user actually writes): a DATE column pruned
    // directly (zones stored as days-since-epoch via unix_date, the
    // folded DateType literal's own unit) and an OR-of-ranges
    // (per-disjunct survivor UNION intersected with the other
    // conjuncts' bounds — ZoneMapPruneRule.survivorsForCond). Same
    // receipt discipline as q311: n_files_read IS the rule's own
    // decision on the query's optimized condition, oracle-recomputed
    // from per-file min/max in DuckDB, so the declared pruning is the
    // pruning that ran.
    QueryDef(
      "q320_zonemap_date_or_gate",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val path = graft.StoreCache.getOrBuild("zmapd", d) { p =>
          val zv = graft.operators.ZOrder.zValue(
            Seq(expr("day DIV 16"), expr("pk DIV 79")), bits = 8)
          lineitem(s, d).select(
              // l_shipdate is TIMESTAMP_NTZ in the testdata — store
              // the DATE projection (the zone-map's date-column case)
              col("l_shipdate").cast("date").as("sd"),
              datediff(col("l_shipdate"), to_date(lit("1992-01-01")))
                .cast("long").as("day"),
              col("l_partkey").as("pk"),
              col("l_orderkey").as("ok"),
              col("l_linenumber").as("ln"),
              col("l_quantity").as("qty"))
            .withColumn("rn", row_number().over(
              Window.orderBy(zv, col("ok"), col("ln"))))
            .select(col("sd"), col("pk"), col("qty"),
              expr("(rn - 1) DIV 4096").as("zfile"))
            .write.partitionBy("zfile").mode("overwrite").parquet(p)
        }
        val tbl = graft.StoreCache.readParquet(s, path)
        graft.plans.ZoneMapPruneRule.clear()
        val entry = graft.plans.ZoneMapPruneRule
          .register(tbl, "zfile", Seq("sd", "pk"))
        val q = tbl.filter(
          (col("sd").between(lit(java.sql.Date.valueOf("1994-03-01")),
            lit(java.sql.Date.valueOf("1994-05-31"))) ||
            col("sd").between(lit(java.sql.Date.valueOf("1996-07-01")),
              lit(java.sql.Date.valueOf("1996-09-30")))) &&
            col("pk").between(500, 900))
        // the receipt is the rule's OWN decision on the query's
        // optimized condition (collectFirst is pre-order: the TOP
        // Filter is the original predicate, above the injected IN)
        // with the rule active in the MAIN optimizer (the
        // extensions path), an all-files-pruned IN () folds the
        // whole plan to an empty LocalRelation — no Filter survives.
        // That is the rule's strongest outcome: zero files read.
        val cond = q.queryExecution.optimizedPlan.collectFirst {
          case org.apache.spark.sql.catalyst.plans.logical
              .Filter(c, _) => c
        }
        val nTotal = entry.stats.length.toLong
        val nRead = cond match {
          case Some(c) => graft.plans.ZoneMapPruneRule
            .survivorsForCond(entry, c)
            .map(_.length).getOrElse(entry.stats.length).toLong
          case None => 0L
        }
        q.agg(count(lit(1)).cast("long").as("n_rows"),
            graft.queries.Exact.dsum(col("qty")).as("sum_qty"))
          .select(col("n_rows"), col("sum_qty"),
            lit(nTotal).as("n_files_total"),
            lit(nRead).as("n_files_read"))
      },
      Some {
        val zsql = sqlZ(Seq("day // 16", "pk // 79"), 8)
        s"""WITH base AS (
           |  SELECT CAST(l_shipdate AS DATE) AS sd,
           |    date_diff('day', DATE '1992-01-01', l_shipdate)
           |      AS day,
           |    l_partkey AS pk, l_orderkey AS ok, l_linenumber AS ln,
           |    l_quantity AS qty
           |  FROM lineitem
           |), zoned AS (
           |  SELECT sd, pk, qty,
           |    (row_number() OVER (ORDER BY $zsql, ok, ln) - 1) // 4096
           |      AS zfile
           |  FROM base
           |), files AS (
           |  SELECT zfile, MIN(sd) AS s_lo, MAX(sd) AS s_hi,
           |    MIN(pk) AS p_lo, MAX(pk) AS p_hi
           |  FROM zoned GROUP BY zfile
           |), surv AS (
           |  SELECT zfile FROM files
           |  WHERE ((s_lo <= DATE '1994-05-31'
           |            AND s_hi >= DATE '1994-03-01')
           |      OR (s_lo <= DATE '1996-09-30'
           |            AND s_hi >= DATE '1996-07-01'))
           |    AND p_lo <= 900 AND p_hi >= 500
           |)
           |SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           |  ${graft.queries.Exact.sqlDsum("qty")} AS sum_qty,
           |  (SELECT CAST(COUNT(*) AS BIGINT) FROM files)
           |    AS n_files_total,
           |  (SELECT CAST(COUNT(*) AS BIGINT) FROM surv)
           |    AS n_files_read
           |FROM zoned
           |WHERE (sd BETWEEN DATE '1994-03-01' AND DATE '1994-05-31'
           |    OR sd BETWEEN DATE '1996-07-01' AND DATE '1996-09-30')
           |  AND pk BETWEEN 500 AND 900
           |""".stripMargin
      }),

    // STRING zone-map gate (the third predicate class after
    // integral/date q311 and OR-of-dates q320): a documents layout
    // clustered by (lang, source) gets string min/max zones
    // (UTF8String binary order on both the aggregate and the
    // driver decision — the order DuckDB's default collation also
    // uses), and the query mixes string equality, ASCII-prefix
    // LIKE (StartsWith → [p, nextPrefix(p)]), and an OR — the
    // corpus-slicing predicate ("this language from these sources")
    // every training-data pipeline runs. Receipt discipline as
    // q311/q320: n_files_read is survivorsForCond on the optimized
    // condition, oracle-recomputed from per-file min/max strings.
    QueryDef(
      "q324_zonemap_string_gate",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val path = graft.StoreCache.getOrBuild("zmaps", d) { p =>
          documents(s, d)
            .select(col("doc_id"), col("lang"), col("source"),
              col("n_chars"))
            .withColumn("rn", row_number().over(
              Window.orderBy(col("lang"), col("source"),
                col("doc_id"))))
            .select(col("lang"), col("source"), col("n_chars"),
              expr("(rn - 1) DIV 64").as("zfile"))
            .write.partitionBy("zfile").mode("overwrite").parquet(p)
        }
        val tbl = graft.StoreCache.readParquet(s, path)
        graft.plans.ZoneMapPruneRule.clear()
        val entry = graft.plans.ZoneMapPruneRule
          .register(tbl, "zfile", Seq("lang", "source"))
        val q = tbl.filter(
          (col("lang") === "en" && col("source").like("src1%")) ||
            col("lang") === "de")
        // None = the rule pruned EVERY file and the plan folded
        // to an empty LocalRelation (see q320's receipt note)
        val cond = q.queryExecution.optimizedPlan.collectFirst {
          case org.apache.spark.sql.catalyst.plans.logical
              .Filter(c, _) => c
        }
        val nTotal = entry.stats.length.toLong
        val nRead = cond match {
          case Some(c) => graft.plans.ZoneMapPruneRule
            .survivorsForCond(entry, c)
            .map(_.length).getOrElse(entry.stats.length).toLong
          case None => 0L
        }
        q.agg(count(lit(1)).cast("long").as("n_rows"),
            sum(col("n_chars")).cast("long").as("sum_chars"))
          .select(col("n_rows"), col("sum_chars"),
            lit(nTotal).as("n_files_total"),
            lit(nRead).as("n_files_read"))
      },
      Some("""WITH zoned AS (
             |  SELECT lang, source, n_chars,
             |    (row_number() OVER (ORDER BY lang, source, doc_id)
             |      - 1) // 64 AS zfile
             |  FROM documents
             |), files AS (
             |  SELECT zfile,
             |    MIN(lang) AS l_lo, MAX(lang) AS l_hi,
             |    MIN(source) AS s_lo, MAX(source) AS s_hi
             |  FROM zoned GROUP BY zfile
             |), surv AS (
             |  SELECT zfile FROM files
             |  WHERE (l_lo <= 'en' AND l_hi >= 'en'
             |          AND s_lo <= 'src2' AND s_hi >= 'src1')
             |     OR (l_lo <= 'de' AND l_hi >= 'de')
             |)
             |SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
             |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
             |  (SELECT CAST(COUNT(*) AS BIGINT) FROM files)
             |    AS n_files_total,
             |  (SELECT CAST(COUNT(*) AS BIGINT) FROM surv)
             |    AS n_files_read
             |FROM zoned
             |WHERE (lang = 'en' AND source LIKE 'src1%')
             |   OR lang = 'de'""".stripMargin)),

    // Bloom file-skipping gate: the point-lookup complement to the
    // zone-map family (q311/q320/q324). The store is hash-bucketed by
    // doc_id — deliberately UNCLUSTERED, the layout where every
    // file's [min, max] zone spans the whole domain and zone maps
    // prune nothing — and BloomSkipRule's per-file md5-derived
    // filters (m=4096 bits, k=3 probes) prune a doc_id IN (...)
    // lookup to just the files whose filters hit. Receipt discipline
    // as the zone gates: n_files_read is survivorsForCond on the
    // query's optimized condition, and the oracle recomputes the
    // SAME filter bits and the SAME survivor decision in DuckDB
    // (identical md5 bit positions), so the declared receipt is the
    // rule's pruning, bit for bit. Bloom false positives only ADD
    // surviving files — both engines compute them identically, and
    // the aggregate itself is over the full predicate either way.
    QueryDef(
      "q325_bloomskip_point_lookup",
      (s, d) => {
        val path = graft.StoreCache.getOrBuild("bloomf", d) { p =>
          documents(s, d)
            .where(col("doc_id").isNotNull)
            .select(col("doc_id"), col("n_chars"),
              (expr("cast(conv(substring(md5(cast(doc_id as " +
                "string)),1,13),16,10) as bigint)") % 32)
                .as("zfile"))
            .write.partitionBy("zfile").mode("overwrite").parquet(p)
        }
        val tbl = graft.StoreCache.readParquet(s, path)
        graft.plans.BloomSkipRule.clear()
        val entry = graft.plans.BloomSkipRule
          .register(tbl, "zfile", Seq("doc_id"))
        val q = tbl.filter(col("doc_id").isin(42L, 123L, 321L))
        // None = the rule pruned EVERY file and the plan folded
        // to an empty LocalRelation (see q320's receipt note)
        val cond = q.queryExecution.optimizedPlan.collectFirst {
          case org.apache.spark.sql.catalyst.plans.logical
              .Filter(c, _) => c
        }
        val nTotal = entry.files.length.toLong
        val nRead = cond match {
          case Some(c) => graft.plans.BloomSkipRule
            .survivorsForCond(entry, c)
            .map(_.length).getOrElse(entry.files.length).toLong
          case None => 0L
        }
        q.agg(count(lit(1)).cast("long").as("n_rows"),
            sum(col("n_chars")).cast("long").as("sum_chars"))
          .select(col("n_rows"), col("sum_chars"),
            lit(nTotal).as("n_files_total"),
            lit(nRead).as("n_files_read"))
      },
      Some("""WITH zoned AS (
             |  SELECT doc_id, n_chars,
             |    CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)),
             |      1, 13) AS BIGINT) % 32 AS zfile
             |  FROM documents WHERE doc_id IS NOT NULL
             |), probes AS (SELECT range AS i FROM range(3)),
             |bits AS (
             |  SELECT DISTINCT zfile,
             |    CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)
             |      || ':' || CAST(i AS VARCHAR)), 1, 13) AS BIGINT)
             |      % 4096 AS bp
             |  FROM zoned, probes
             |), lits(v) AS (VALUES (42), (123), (321)),
             |litbits AS (
             |  SELECT DISTINCT v,
             |    CAST('0x' || substring(md5(CAST(v AS VARCHAR)
             |      || ':' || CAST(i AS VARCHAR)), 1, 13) AS BIGINT)
             |      % 4096 AS bp
             |  FROM lits, probes
             |), need AS (
             |  SELECT v, COUNT(*) AS k FROM litbits GROUP BY v
             |), hitcnt AS (
             |  SELECT b.zfile, lb.v, COUNT(DISTINCT lb.bp) AS hit
             |  FROM litbits lb JOIN bits b ON b.bp = lb.bp
             |  GROUP BY b.zfile, lb.v
             |), surv AS (
             |  SELECT DISTINCT h.zfile
             |  FROM hitcnt h JOIN need n ON n.v = h.v
             |  WHERE h.hit = n.k
             |)
             |SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
             |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
             |  (SELECT CAST(COUNT(DISTINCT zfile) AS BIGINT)
             |    FROM zoned) AS n_files_total,
             |  (SELECT CAST(COUNT(*) AS BIGINT) FROM surv)
             |    AS n_files_read
             |FROM zoned WHERE doc_id IN (42, 123, 321)""".stripMargin)),

    // Mergeable quantile sketch (QuantileSample): per-group p50/p90
    // by bottom-k-hash uniform sampling — the quantile member of the
    // deterministic sketch family (KMV q247, CMS q287, HLL q42). The
    // sample is the k=128 rows with smallest salted md5(doc_id) per
    // lang (one GroupedTopK pass, map-side bounded heaps; sketch
    // state ≤ k rows per group at any corpus size), and the estimate
    // is the nearest-rank value on the sorted sample with the rank
    // in INTEGER arithmetic — so DuckDB recomputes the identical
    // sample and the identical estimate (float ceil(p·n) would
    // diverge when p·n is decimal-integral). Merge ≡ fresh build is
    // pinned in QuantileSampleSpec.
    QueryDef(
      "q326_quantile_sample",
      (s, d) => {
        val sk = graft.operators.QuantileSample.build(
          documents(s, d), "lang", "doc_id", "n_chars", 128)
        graft.operators.QuantileSample.quantiles(sk, "lang",
            Seq((1, 2, "p50_est"), (9, 10, "p90_est")))
          .orderBy(col("lang"))
      },
      Some("""WITH hashed AS (
             |  SELECT lang, n_chars,
             |    CAST('0x' || substring(md5('qsk#'
             |      || CAST(doc_id AS VARCHAR)), 1, 13) AS BIGINT)
             |      AS hv
             |  FROM documents WHERE n_chars IS NOT NULL
             |), sample AS (
             |  SELECT lang, n_chars FROM (
             |    SELECT lang, n_chars,
             |      row_number() OVER (PARTITION BY lang
             |        ORDER BY hv, n_chars) AS rn
             |    FROM hashed) t
             |  WHERE rn <= 128
             |), agg AS (
             |  SELECT lang, list_sort(list(n_chars)) AS vs,
             |    COUNT(*) AS n
             |  FROM sample GROUP BY lang
             |)
             |SELECT lang,
             |  CAST(vs[CAST((1 * n + 1) // 2 AS INT)] AS BIGINT)
             |    AS p50_est,
             |  CAST(vs[CAST((9 * n + 9) // 10 AS INT)] AS BIGINT)
             |    AS p90_est
             |FROM agg ORDER BY lang""".stripMargin)),

    // Distribution-drift monitor: per-bin proportion shift between a
    // reference slice and a current slice (here: lang mix of source
    // src0 vs src1 — the "did the new crawl's language mix move?"
    // check a training-data pipeline runs per ingest). All
    // arithmetic is INTEGER — proportions as round-half-up ppm via
    // (2·10^6·n + N) DIV (2N) — because the classic PSI/chi-square
    // forms need ln / float division whose last-ULP behavior differs
    // across engines; ppm shifts carry the same monitoring signal
    // and are exact everywhere. The drifted flag trips at |shift| >
    // 50 000 ppm (5 points). One pass per slice, a broadcast-size
    // per-bin join; at 100 TB the slices aggregate before anything
    // joins, so the shuffled state is bins, not rows.
    QueryDef(
      "q327_drift_monitor",
      (s, d) => {
        val base = documents(s, d).where(col("lang").isNotNull)
        def slice(src: String, n: String) =
          base.where(col("source") === src)
            .groupBy(col("lang"))
            .agg(count(lit(1)).cast("long").as(n))
        val j = slice("src0", "n_ref")
          .join(slice("src1", "n_cur"), Seq("lang"), "full_outer")
          .select(col("lang"),
            coalesce(col("n_ref"), lit(0L)).as("n_ref"),
            coalesce(col("n_cur"), lit(0L)).as("n_cur"))
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy(lit(1))
        j.withColumn("t_ref", sum(col("n_ref")).over(w))
          .withColumn("t_cur", sum(col("n_cur")).over(w))
          .select(col("lang"), col("n_ref"), col("n_cur"),
            expr("(2000000 * n_ref + t_ref) DIV (2 * t_ref)")
              .as("ref_ppm"),
            expr("(2000000 * n_cur + t_cur) DIV (2 * t_cur)")
              .as("cur_ppm"))
          .withColumn("shift_ppm", col("cur_ppm") - col("ref_ppm"))
          .withColumn("drifted", abs(col("shift_ppm")) > 50000)
          .orderBy(col("lang"))
      },
      Some("""WITH base AS (
             |  SELECT lang, source FROM documents
             |  WHERE lang IS NOT NULL
             |), r AS (
             |  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_ref
             |  FROM base WHERE source = 'src0' GROUP BY lang
             |), c AS (
             |  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_cur
             |  FROM base WHERE source = 'src1' GROUP BY lang
             |), j AS (
             |  SELECT COALESCE(r.lang, c.lang) AS lang,
             |    COALESCE(n_ref, 0) AS n_ref,
             |    COALESCE(n_cur, 0) AS n_cur
             |  FROM r FULL OUTER JOIN c ON r.lang = c.lang
             |), t AS (
             |  SELECT lang, n_ref, n_cur,
             |    SUM(n_ref) OVER () AS t_ref,
             |    SUM(n_cur) OVER () AS t_cur
             |  FROM j
             |)
             |SELECT lang, n_ref, n_cur,
             |  CAST((2000000 * n_ref + t_ref) // (2 * t_ref)
             |    AS BIGINT) AS ref_ppm,
             |  CAST((2000000 * n_cur + t_cur) // (2 * t_cur)
             |    AS BIGINT) AS cur_ppm,
             |  CAST((2000000 * n_cur + t_cur) // (2 * t_cur)
             |    - (2000000 * n_ref + t_ref) // (2 * t_ref)
             |    AS BIGINT) AS shift_ppm,
             |  abs((2000000 * n_cur + t_cur) // (2 * t_cur)
             |    - (2000000 * n_ref + t_ref) // (2 * t_ref)) > 50000
             |    AS drifted
             |FROM t ORDER BY lang""".stripMargin)),

    // Versioned snapshot store, build + latest read: the commit-log
    // table format (VersionedStore — immutable parquet file-groups +
    // an append-only add/remove log; one log-dir rename is the
    // atomic commit). The build replays a realistic lifecycle —
    // three ingest batches, a removal-request delete between them,
    // a compaction — and the query reads the LATEST version. The
    // oracle recomputes the surviving row set arithmetically: a row
    // is gone iff it was in the store when the delete ran (batches
    // 0,1 = doc_id%3 IN (0,1)) and matched the predicate (doc_id%7
    // = 0). Any atomicity bug — compaction duplicating a group, a
    // delete dropping an untouched group, a crashed-append orphan
    // surfacing — shifts the counts/checksums and fails the hash.
    QueryDef(
      "q328_versioned_store",
      (s, d) => {
        val p = versionedDocStore(s, d, rebuild = true)
        graft.operators.VersionedStore.read(s, p)
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n"),
            sum(col("doc_id")).cast("long").as("id_sum"),
            sum(col("n_chars")).cast("long").as("chars_sum"))
          .orderBy(col("source"))
      },
      Some("""SELECT source, CAST(COUNT(*) AS BIGINT) AS n,
             |  CAST(SUM(doc_id) AS BIGINT) AS id_sum,
             |  CAST(SUM(n_chars) AS BIGINT) AS chars_sum
             |FROM documents
             |WHERE doc_id % 3 = 2 OR doc_id % 7 <> 0
             |GROUP BY source ORDER BY source""".stripMargin)),

    // Time travel on the same store: readAt(v2) reproduces the
    // corpus as of the second ingest — before the removal-request
    // delete, before batch 2, ACROSS the later compaction (pre-
    // compaction file-groups stay readable until vacuum). This is
    // the "which snapshot trained this model" audit read; it serves
    // from the store the q328 build left (per-JVM StoreCache, the
    // q216/q238 build-vs-serve convention).
    QueryDef(
      "q329_time_travel",
      (s, d) => {
        val p = versionedDocStore(s, d, rebuild = false)
        graft.operators.VersionedStore.readAt(s, p, 2L)
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n"),
            sum(col("doc_id")).cast("long").as("id_sum"),
            sum(col("n_chars")).cast("long").as("chars_sum"))
          .orderBy(col("source"))
      },
      Some("""SELECT source, CAST(COUNT(*) AS BIGINT) AS n,
             |  CAST(SUM(doc_id) AS BIGINT) AS id_sum,
             |  CAST(SUM(n_chars) AS BIGINT) AS chars_sum
             |FROM documents
             |WHERE doc_id % 3 IN (0, 1)
             |GROUP BY source ORDER BY source""".stripMargin)),

    // The commit log itself, cross-engine: the build's lifecycle is
    // deterministic, so every (version, action, fid, row-count) of
    // the history is derivable from documents by arithmetic — v1/v2
    // add the two batches, v3 rewrites BOTH affected groups (f1→f3,
    // f2→f4; new fids in affected-fid order) minus the deleted rows,
    // v4 adds batch 2, v5 compacts (one add, three removes). Pins
    // fid allocation, the rewrite-only-affected-groups contract, and
    // per-commit row accounting against an independent computation.
    QueryDef(
      "q330_store_history",
      (s, d) => {
        val p = versionedDocStore(s, d, rebuild = false)
        graft.operators.VersionedStore.history(s, p)
          .orderBy(col("version"), col("action"), col("fid"))
      },
      Some("""WITH c AS (
             |  SELECT
             |    CAST(SUM(CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0
             |      END) AS BIGINT) AS n0,
             |    CAST(SUM(CASE WHEN doc_id % 3 = 1 THEN 1 ELSE 0
             |      END) AS BIGINT) AS n1,
             |    CAST(SUM(CASE WHEN doc_id % 3 = 2 THEN 1 ELSE 0
             |      END) AS BIGINT) AS n2,
             |    CAST(SUM(CASE WHEN doc_id % 3 = 0 AND doc_id % 7
             |      <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0k,
             |    CAST(SUM(CASE WHEN doc_id % 3 = 1 AND doc_id % 7
             |      <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS n1k
             |  FROM documents
             |)
             |SELECT CAST(version AS BIGINT) AS version, action,
             |  CAST(fid AS BIGINT) AS fid,
             |  CAST(n_rows AS BIGINT) AS n_rows
             |FROM (
             |  SELECT 1 AS version, 'add' AS action, 1 AS fid,
             |    n0 AS n_rows FROM c
             |  UNION ALL SELECT 2, 'add', 2, n1 FROM c
             |  UNION ALL SELECT 3, 'add', 3, n0k FROM c
             |  UNION ALL SELECT 3, 'add', 4, n1k FROM c
             |  UNION ALL SELECT 3, 'remove', 1, 0 FROM c
             |  UNION ALL SELECT 3, 'remove', 2, 0 FROM c
             |  UNION ALL SELECT 4, 'add', 5, n2 FROM c
             |  UNION ALL SELECT 5, 'add', 6, n0k + n1k + n2 FROM c
             |  UNION ALL SELECT 5, 'remove', 3, 0 FROM c
             |  UNION ALL SELECT 5, 'remove', 4, 0 FROM c
             |  UNION ALL SELECT 5, 'remove', 5, 0 FROM c
             |) t ORDER BY version, action, fid""".stripMargin)),

    // MERGE (keyed upsert) on the versioned store: update rows
    // (doc_id%5=0 → source='merged', n_chars+1000) replace their
    // store rows IN PLACE of the file-groups that contain them;
    // insert rows (fresh ids offset by 10M) land as a new group;
    // untouched groups carry by reference. The oracle recomputes the
    // merged corpus arithmetically — a lost update, a surviving old
    // row, a dropped non-matching neighbor, or a double-applied
    // insert all shift the per-source counts/checksums.
    QueryDef(
      "q331_store_merge",
      (s, d) => {
        val p = graft.StoreCache.rebuild("mrgstore", d) { p =>
          import graft.operators.VersionedStore
          val docs = documents(s, d)
          VersionedStore.create(s, p)
          // statted appends arm the merge's key-range pruning path
          VersionedStore.append(
            docs.where(pmod(col("doc_id"), lit(3)) === 0), p,
            statsCol = Some("doc_id"))                         // f1
          VersionedStore.append(
            docs.where(pmod(col("doc_id"), lit(3)) =!= 0), p,
            statsCol = Some("doc_id"))                         // f2
          val upd = docs.where(pmod(col("doc_id"), lit(5)) === 0)
            .withColumn("source", lit("merged"))
            .withColumn("n_chars", col("n_chars") + 1000)
            .unionByName(
              docs.where(pmod(col("doc_id"), lit(11)) === 0)
                .select((col("doc_id") + 10000000L).as("doc_id"),
                  lit("").as("text"), lit("xx").as("lang"),
                  lit("inserted").as("source"),
                  pmod(col("doc_id"), lit(997)).as("n_chars")))
          VersionedStore.merge(s, p, upd, Seq("doc_id"))
        }
        graft.operators.VersionedStore.read(s, p)
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n"),
            sum(col("doc_id")).cast("long").as("id_sum"),
            sum(col("n_chars")).cast("long").as("chars_sum"))
          .orderBy(col("source"))
      },
      Some("""WITH merged AS (
             |  SELECT doc_id,
             |    CASE WHEN doc_id % 5 = 0 THEN 'merged'
             |      ELSE source END AS source,
             |    CASE WHEN doc_id % 5 = 0 THEN n_chars + 1000
             |      ELSE n_chars END AS n_chars
             |  FROM documents
             |  UNION ALL
             |  SELECT doc_id + 10000000, 'inserted', doc_id % 997
             |  FROM documents WHERE doc_id % 11 = 0
             |)
             |SELECT source, CAST(COUNT(*) AS BIGINT) AS n,
             |  CAST(SUM(doc_id) AS BIGINT) AS id_sum,
             |  CAST(SUM(n_chars) AS BIGINT) AS chars_sum
             |FROM merged GROUP BY source ORDER BY source""".stripMargin)),

    // Row-level change feed (CDC) between two retained versions of
    // the q328 store: v2 (both pre-delete batches resident) → v5
    // (post-delete, post-append, post-compaction). The group-level
    // log diff bounds the scan to changed file-groups, and the
    // compaction must net out row-for-row — so the feed is exactly
    // "inserts = batch %3=2, deletes = the removal-request rows",
    // which the oracle recomputes independently.
    QueryDef(
      "q332_store_changes",
      (s, d) => {
        val p = versionedDocStore(s, d, rebuild = false)
        import graft.operators.VersionedStore
        VersionedStore.changes(s, p, 2L,
          VersionedStore.latestVersion(s, p))
          .groupBy(col("_change"), col("source"))
          .agg(count(lit(1)).as("n"),
            sum(col("doc_id")).cast("long").as("id_sum"),
            sum(col("n_chars")).cast("long").as("chars_sum"))
          .orderBy(col("_change"), col("source"))
      },
      Some("""SELECT 'delete' AS "_change", source,
             |  CAST(COUNT(*) AS BIGINT) AS n,
             |  CAST(SUM(doc_id) AS BIGINT) AS id_sum,
             |  CAST(SUM(n_chars) AS BIGINT) AS chars_sum
             |FROM documents
             |WHERE doc_id % 3 IN (0, 1) AND doc_id % 7 = 0
             |GROUP BY source
             |UNION ALL
             |SELECT 'insert', source, CAST(COUNT(*) AS BIGINT),
             |  CAST(SUM(doc_id) AS BIGINT),
             |  CAST(SUM(n_chars) AS BIGINT)
             |FROM documents WHERE doc_id % 3 = 2
             |GROUP BY source
             |ORDER BY "_change", source""".stripMargin)),

    // Exactly-once ingestion: replay every batch TWICE with its
    // transaction tag (the crashed-foreachBatch pattern — a sink
    // write that lost its checkpoint commit re-delivers the batch).
    // The tagged commit makes each replay a no-op, so the store holds
    // the corpus exactly once and the plain-documents oracle gates
    // it: any duplicate file-group doubles a count and fails the hash.
    QueryDef(
      "q333_idempotent_replay",
      (s, d) => {
        val p = graft.StoreCache.rebuild("idemstore", d) { p =>
          import graft.operators.VersionedStore
          val docs = documents(s, d)
          VersionedStore.create(s, p)
          (0 until 3).foreach { i =>
            val b = docs.where(pmod(col("doc_id"), lit(3)) === i)
            VersionedStore.appendIdempotent(b, p, txn = i.toLong)
            VersionedStore.appendIdempotent(b, p, txn = i.toLong)
          }
        }
        graft.operators.VersionedStore.read(s, p)
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n"),
            sum(col("doc_id")).cast("long").as("id_sum"),
            sum(col("n_chars")).cast("long").as("chars_sum"))
          .orderBy(col("source"))
      },
      Some("""SELECT source, CAST(COUNT(*) AS BIGINT) AS n,
             |  CAST(SUM(doc_id) AS BIGINT) AS id_sum,
             |  CAST(SUM(n_chars) AS BIGINT) AS chars_sum
             |FROM documents
             |GROUP BY source ORDER BY source""".stripMargin)),

    // Incremental view maintenance: a per-source rollup materialized
    // at store version 2, then ADVANCED to latest by applying the
    // change feed (insert = +row, delete = -row; pure long
    // arithmetic) — never recomputed. The oracle is the from-scratch
    // aggregate of the latest corpus, so a sign error, a missed
    // delta group, a double-applied compaction, or a stale carried
    // group all fail the hash. At 100 TB this is the refresh path
    // for every dependent rollup: O(changed groups), not O(table).
    QueryDef(
      "q334_incremental_view",
      (s, d) => {
        import graft.operators.{IncrementalAgg, VersionedStore}
        val snap = graft.StoreCache.rebuild("ivmsnap", d) { sp =>
          val store = versionedDocStore(s, d, rebuild = false)
          IncrementalAgg.init(s, store, sp, 2L,
            Seq("source"), Seq("doc_id", "n_chars"))
          IncrementalAgg.advance(s, store, sp, 2L,
            VersionedStore.latestVersion(s, store),
            Seq("source"), Seq("doc_id", "n_chars"))
        }
        IncrementalAgg.read(s, snap)
          .select(col("source"), col("n"),
            col("doc_id").as("id_sum"),
            col("n_chars").as("chars_sum"))
          .orderBy(col("source"))
      },
      Some("""SELECT source, CAST(COUNT(*) AS BIGINT) AS n,
             |  CAST(SUM(doc_id) AS BIGINT) AS id_sum,
             |  CAST(SUM(n_chars) AS BIGINT) AS chars_sum
             |FROM documents
             |WHERE doc_id % 3 = 2 OR doc_id % 7 <> 0
             |GROUP BY source ORDER BY source""".stripMargin)),

    // Stats-pruned range serving: a store ingested as four disjoint
    // doc_id quartile batches (each commit carrying its zone), read
    // back over the upper half-range — only the overlapping groups
    // are scanned (candidateFids), the residual filter settles
    // exactness, and the oracle recomputes the range from the raw
    // table. The layout+read pair is the point: range-clustered
    // ingest makes a key-range read O(overlapping groups) at any
    // table size.
    QueryDef(
      "q335_store_range_read",
      (s, d) => {
        import graft.operators.VersionedStore
        val docs = documents(s, d)
        val maxId = docs.agg(max(col("doc_id"))).head.getLong(0)
        val p = graft.StoreCache.rebuild("rngstore", d) { p =>
          VersionedStore.create(s, p)
          (0 until 4).foreach { q =>
            VersionedStore.append(
              docs.where(
                expr(s"doc_id * 4 DIV ${maxId + 1} = $q")), p,
              statsCol = Some("doc_id"))
          }
        }
        VersionedStore.readRange(s, p, "doc_id", maxId / 2, maxId)
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n"),
            sum(col("doc_id")).cast("long").as("id_sum"),
            sum(col("n_chars")).cast("long").as("chars_sum"))
          .orderBy(col("source"))
      },
      Some("""SELECT source, CAST(COUNT(*) AS BIGINT) AS n,
             |  CAST(SUM(doc_id) AS BIGINT) AS id_sum,
             |  CAST(SUM(n_chars) AS BIGINT) AS chars_sum
             |FROM documents
             |WHERE doc_id >= (SELECT MAX(doc_id) // 2 FROM documents)
             |GROUP BY source ORDER BY source""".stripMargin)),

    // Right-to-erasure: erase(pred) = targeted delete + vacuum to
    // the erasure horizon, making the matching rows unrecoverable
    // from the store (deleteWhere alone would keep them readable via
    // time travel — the compliance bug). The build asserts the
    // reclamation internally (no surviving parquet file under data/
    // carries a forgotten row — a raw glob read, bypassing the log);
    // the declared result is the latest content, which the oracle
    // recomputes from the raw table.
    QueryDef(
      "q336_erase_rows",
      (s, d) => {
        import graft.operators.VersionedStore
        val p = graft.StoreCache.rebuild("erasestore", d) { p =>
          val docs = documents(s, d)
          VersionedStore.create(s, p)
          (0 until 3).foreach { i =>
            VersionedStore.append(
              docs.where(pmod(col("doc_id"), lit(3)) === i), p,
              statsCol = Some("doc_id"))
          }
          VersionedStore.erase(s, p,
            pmod(col("doc_id"), lit(7)) === 0)
          // leak audit by EXPLICIT listing, not a glob: a raw
          // `data/f*` glob read throws when it matches nothing,
          // and zero surviving files IS a clean verdict (one
          // warmup-transient FileNotFound in r19 came from exactly
          // that glob). Bypassing the log is the point — no
          // surviving parquet byte may carry a forgotten row.
          val fsys = new org.apache.hadoop.fs.Path(p).getFileSystem(
            s.sparkContext.hadoopConfiguration)
          val dataDir = new org.apache.hadoop.fs.Path(s"$p/data")
          val leftover =
            if (!fsys.exists(dataDir)) Seq.empty[String]
            else fsys.listStatus(dataDir).toSeq
              .filter(st => st.isDirectory &&
                st.getPath.getName.matches("f\\d+"))
              .flatMap(st => fsys.listStatus(st.getPath).toSeq)
              .filter(_.getPath.getName.endsWith(".parquet"))
              .map(_.getPath.toString)
          val leaked =
            if (leftover.isEmpty) 0L
            else s.read.parquet(leftover: _*)
              .filter(pmod(col("doc_id"), lit(7)) === 0).count()
          if (leaked != 0) sys.error(
            s"q336: $leaked forgotten rows survive on disk")
        }
        VersionedStore.read(s, p)
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n"),
            sum(col("doc_id")).cast("long").as("id_sum"),
            sum(col("n_chars")).cast("long").as("chars_sum"))
          .orderBy(col("source"))
      },
      Some("""SELECT source, CAST(COUNT(*) AS BIGINT) AS n,
             |  CAST(SUM(doc_id) AS BIGINT) AS id_sum,
             |  CAST(SUM(n_chars) AS BIGINT) AS chars_sum
             |FROM documents
             |WHERE doc_id % 7 <> 0
             |GROUP BY source ORDER BY source""".stripMargin)),

    // dbt's third materialization mode — INCREMENTAL, append-only
    // strategy: two "dbt run"s over a growing staging input. The
    // model body sees the previously materialized state (thisOpt =
    // dbt's {{ this }} / is_incremental()) and emits only rows above
    // the high watermark, so run 2 processes O(new rows), never the
    // full history. The oracle is the full derived table: an off-by-
    // one watermark (>= for >) duplicates the boundary row, a
    // re-processed run doubles the first wave — both fail the hash.
    QueryDef(
      "q337_dbt_incremental_append",
      (s, d) => {
        import graft.operators.VersionedStore
        import graft.transform.{IncrementalModel, ModelRegistry}
        val docs = documents(s, d)
        val mid = docs.agg(max(col("doc_id"))).head.getLong(0) / 2
        val p = graft.StoreCache.rebuild("incappend", d) { sp =>
          var staging = docs.where(col("doc_id") <= mid)
          val reg = new ModelRegistry(s)
          reg.register(IncrementalModel(
            "inc_docs", sp,
            build = (_, thisOpt) => {
              val derived = staging.select(col("doc_id"),
                col("source"), col("n_chars"))
              thisOpt match {
                case Some(t) =>
                  val hw = t.agg(max(col("doc_id"))).head.getLong(0)
                  derived.where(col("doc_id") > hw)
                case None => derived
              }
            },
            statsCol = Some("doc_id")))
          reg.run()        // run 1: ids <= mid
          staging = docs   // new data arrives
          reg.run()        // run 2: only ids above the watermark
        }
        VersionedStore.read(s, p)
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n"),
            sum(col("doc_id")).cast("long").as("id_sum"),
            sum(col("n_chars")).cast("long").as("chars_sum"))
          .orderBy(col("source"))
      },
      Some("""SELECT source, CAST(COUNT(*) AS BIGINT) AS n,
             |  CAST(SUM(doc_id) AS BIGINT) AS id_sum,
             |  CAST(SUM(n_chars) AS BIGINT) AS chars_sum
             |FROM documents
             |GROUP BY source ORDER BY source""".stripMargin)),

    // dbt incremental, MERGE strategy: run 1 materializes the first
    // two id-classes; run 2 delivers a restatement batch — the new
    // class plus corrections (+1000 chars for every doc_id%5=0) —
    // upserted by unique_key. Only the file-groups carrying touched
    // keys rewrite. The oracle recomputes the corrected corpus: a
    // lost correction, a duplicated insert, or a correction applied
    // to the wrong rows all shift the checksums.
    QueryDef(
      "q338_dbt_incremental_merge",
      (s, d) => {
        import graft.operators.VersionedStore
        import graft.transform.{IncrementalModel, ModelRegistry}
        val docs = documents(s, d)
        val p = graft.StoreCache.rebuild("incmerge", d) { sp =>
          var staging = docs.where(pmod(col("doc_id"), lit(3)) < 2)
          val reg = new ModelRegistry(s)
          reg.register(IncrementalModel(
            "inc_docs_merged", sp,
            build = (_, _) => staging,
            uniqueKey = Seq("doc_id"),
            statsCol = Some("doc_id")))
          reg.run()                 // run 1: %3 in (0,1) as-is
          staging = docs
            .where(pmod(col("doc_id"), lit(3)) === 2 ||
              pmod(col("doc_id"), lit(5)) === 0)
            .withColumn("n_chars",
              when(pmod(col("doc_id"), lit(5)) === 0,
                col("n_chars") + 1000).otherwise(col("n_chars")))
          reg.run()                 // run 2: restatement upsert
        }
        VersionedStore.read(s, p)
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n"),
            sum(col("doc_id")).cast("long").as("id_sum"),
            sum(col("n_chars")).cast("long").as("chars_sum"))
          .orderBy(col("source"))
      },
      Some("""SELECT source, CAST(COUNT(*) AS BIGINT) AS n,
             |  CAST(SUM(doc_id) AS BIGINT) AS id_sum,
             |  CAST(SUM(n_chars + CASE WHEN doc_id % 5 = 0
             |    THEN 1000 ELSE 0 END) AS BIGINT) AS chars_sum
             |FROM documents
             |GROUP BY source ORDER BY source""".stripMargin)),

    // Additive schema evolution: a later ingest batch carries a new
    // `quality` column (evolve=true); file-groups written before the
    // evolution read as NULL in it — via an explicit scan schema
    // from the commit log (the Delta/Iceberg design), never a
    // footer-merge pass over every file. The oracle recomputes the
    // evolved aggregate with the pre-evolution rows contributing
    // zero: a scan that drops the new column, NULLs the wrong rows,
    // or double-reads a group shifts q_sum and fails the hash.
    QueryDef(
      "q339_schema_evolution",
      (s, d) => {
        import graft.operators.VersionedStore
        val p = graft.StoreCache.rebuild("evostore", d) { p =>
          val docs = documents(s, d)
          VersionedStore.create(s, p)
          VersionedStore.append(
            docs.where(pmod(col("doc_id"), lit(3)) < 2), p)
          VersionedStore.append(
            docs.where(pmod(col("doc_id"), lit(3)) === 2)
              .withColumn("quality", pmod(col("n_chars"), lit(7))),
            p, evolve = true)
        }
        VersionedStore.read(s, p)
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n"),
            sum(col("doc_id")).cast("long").as("id_sum"),
            sum(coalesce(col("quality"), lit(0L))).cast("long")
              .as("q_sum"))
          .orderBy(col("source"))
      },
      Some("""SELECT source, CAST(COUNT(*) AS BIGINT) AS n,
             |  CAST(SUM(doc_id) AS BIGINT) AS id_sum,
             |  CAST(SUM(CASE WHEN doc_id % 3 = 2 THEN n_chars % 7
             |    ELSE 0 END) AS BIGINT) AS q_sum
             |FROM documents
             |GROUP BY source ORDER BY source""".stripMargin)),

    // Constraints enforced at the write boundary (the Delta CHECK-
    // constraint idea in the Check algebra): the store carries a
    // persisted suite, every ingest batch is validated in one fused
    // pass BEFORE anything lands, and a violating batch is rejected
    // leaving no trace — asserted inside the build (version count
    // unchanged after the rejected batch). The declared result is
    // the cleanly ingested corpus, recomputed by the oracle.
    QueryDef(
      "q340_constrained_ingest",
      (s, d) => {
        import graft.check.{NonNegative, NotNull}
        import graft.operators.VersionedStore
        val p = graft.StoreCache.rebuild("consstore", d) { p =>
          val docs = documents(s, d)
          VersionedStore.create(s, p)
          VersionedStore.setConstraints(s, p,
            Seq(NotNull("source"), NotNull("lang"),
              NonNegative("n_chars")))
          (0 until 3).foreach { i =>
            VersionedStore.append(
              docs.where(pmod(col("doc_id"), lit(3)) === i), p)
          }
          val rejected = scala.util.Try(VersionedStore.append(
            docs.limit(50).withColumn("n_chars",
              -col("n_chars") - 1), p))
          if (rejected.isSuccess) sys.error(
            "q340: violating batch was accepted")
          if (VersionedStore.latestVersion(s, p) != 3L) sys.error(
            "q340: rejected batch left a commit behind")
        }
        VersionedStore.read(s, p)
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n"),
            sum(col("doc_id")).cast("long").as("id_sum"),
            sum(col("n_chars")).cast("long").as("chars_sum"))
          .orderBy(col("source"))
      },
      Some("""SELECT source, CAST(COUNT(*) AS BIGINT) AS n,
             |  CAST(SUM(doc_id) AS BIGINT) AS id_sum,
             |  CAST(SUM(n_chars) AS BIGINT) AS chars_sum
             |FROM documents
             |GROUP BY source ORDER BY source""".stripMargin)),

    // Training-run manifest: two stores are pinned at a chosen
    // moment, then BOTH drift (an extra append on one). Reading
    // THROUGH the manifest reproduces the pinned snapshot of each —
    // union = every document exactly once. A manifest that read
    // latest instead of pinned would double-count the post-pin
    // append and fail the hash.
    QueryDef(
      "q341_training_manifest",
      (s, d) => {
        import graft.operators.{StoreManifest, VersionedStore}
        val m = graft.StoreCache.rebuild("manifest", d) { m =>
          val docs = documents(s, d)
          val a = graft.StoreCache.pathFor("mani-a", d)
          val b = graft.StoreCache.pathFor("mani-b", d)
          VersionedStore.create(s, a)
          VersionedStore.create(s, b)
          VersionedStore.append(
            docs.where(pmod(col("doc_id"), lit(2)) === 0), a) // a@1
          VersionedStore.append(
            docs.where(pmod(col("doc_id"), lit(2)) === 1), b) // b@1
          StoreManifest.pin(s, Seq(a, b), s"$m/manifest")
          // post-pin drift: a@2 re-ships b's rows — reading latest
          // would double-count them
          VersionedStore.append(
            docs.where(pmod(col("doc_id"), lit(2)) === 1), a) // a@2
        }
        StoreManifest.readAll(s, s"$m/manifest").values
          .reduce(_ unionByName _)
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n"),
            sum(col("doc_id")).cast("long").as("id_sum"),
            sum(col("n_chars")).cast("long").as("chars_sum"))
          .orderBy(col("source"))
      },
      Some("""SELECT source, CAST(COUNT(*) AS BIGINT) AS n,
             |  CAST(SUM(doc_id) AS BIGINT) AS id_sum,
             |  CAST(SUM(n_chars) AS BIGINT) AS chars_sum
             |FROM documents
             |GROUP BY source ORDER BY source""".stripMargin)),

    // Join-view IVM: a per-market-segment rollup of orders ⋈
    // customer maintained purely from the two stores' change feeds
    // via the signed delta rule ΔM = ΔA⋈B + A⋈ΔB + ΔA⋈ΔB — never
    // recomputed. The lifecycle exercises all three terms: a fact
    // append window, then a window where the DIM loses keys while
    // the FACT gains rows (so a sign error, a missed cross term, or
    // a double-subtracted both-side delete shifts the totals). The
    // oracle recomputes the final join from the raw tables.
    QueryDef(
      "q342_join_view_ivm",
      (s, d) => {
        import graft.operators.{IncrementalJoinAgg, VersionedStore}
        val snap = graft.StoreCache.rebuild("joinivm", d) { snap =>
          val fact = graft.StoreCache.pathFor("jivm-fact", d)
          val dim = graft.StoreCache.pathFor("jivm-dim", d)
          val o = orders(s, d).select(
            col("o_orderkey"), col("o_custkey").as("custkey"),
            round(col("o_totalprice") * 100).cast("long").as("cents"))
          val c = customer(s, d).select(
            col("c_custkey").as("custkey"), col("c_mktsegment"))
          VersionedStore.create(s, fact)
          VersionedStore.create(s, dim)
          VersionedStore.create(s, snap)
          VersionedStore.append(
            o.where(pmod(col("o_orderkey"), lit(2)) === 0), fact)
          VersionedStore.append(c, dim)
          IncrementalJoinAgg.advance(s, fact, dim, snap, 0L, 1L,
            0L, 1L, "custkey", Seq("c_mktsegment"), Seq("cents"))
          // window 2: fact grows while the dim shrinks
          VersionedStore.append(
            o.where(pmod(col("o_orderkey"), lit(2)) === 1), fact)
          VersionedStore.deleteWhere(s, dim,
            pmod(col("custkey"), lit(10)) === 3)
          IncrementalJoinAgg.advance(s, fact, dim, snap, 1L, 2L,
            1L, 2L, "custkey", Seq("c_mktsegment"), Seq("cents"))
        }
        graft.operators.IncrementalAgg.read(s, snap)
          .select(col("c_mktsegment"), col("n"),
            col("cents").as("cents_sum"))
          .orderBy(col("c_mktsegment"))
      },
      Some("""SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n,
             |  CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT))
             |    AS BIGINT) AS cents_sum
             |FROM orders JOIN customer ON o_custkey = c_custkey
             |WHERE c_custkey % 10 <> 3
             |GROUP BY c_mktsegment
             |ORDER BY c_mktsegment""".stripMargin)),

    // CDC replication: the q328 store's lifecycle is replayed onto a
    // REPLICA purely from its change feed, window by window —
    // (0,2] both ingest batches, (2,4] the removal-request deletes
    // plus batch 2, (4,5] the compaction (which must net to nothing).
    // Replica content must equal the source's latest, which the
    // oracle recomputes from the raw table: a feed that misses a
    // delete window, double-applies a replace, or leaks compaction
    // churn shifts the checksums.
    QueryDef(
      "q343_cdc_replication",
      (s, d) => {
        import graft.operators.VersionedStore
        val rep = graft.StoreCache.rebuild("cdcreplica", d) { rep =>
          val src = versionedDocStore(s, d, rebuild = false)
          VersionedStore.create(s, rep)
          var applied = 0L
          Seq(2L, 4L,
            VersionedStore.latestVersion(s, src)).foreach { to =>
            VersionedStore.applyChanges(s,
              VersionedStore.changes(s, src, applied, to), rep,
              Seq("doc_id"))
            applied = to
          }
        }
        VersionedStore.read(s, rep)
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n"),
            sum(col("doc_id")).cast("long").as("id_sum"),
            sum(col("n_chars")).cast("long").as("chars_sum"))
          .orderBy(col("source"))
      },
      Some("""SELECT source, CAST(COUNT(*) AS BIGINT) AS n,
             |  CAST(SUM(doc_id) AS BIGINT) AS id_sum,
             |  CAST(SUM(n_chars) AS BIGINT) AS chars_sum
             |FROM documents
             |WHERE doc_id % 3 = 2 OR doc_id % 7 <> 0
             |GROUP BY source ORDER BY source""".stripMargin)),

    // DESCRIBE DETAIL off the commit log alone — zero data scan at
    // any table size: every field of the summary (versions, live
    // groups, live ROW COUNT, schema width) is derivable from the
    // q328 lifecycle arithmetically, so the oracle pins the log's
    // own bookkeeping (per-commit row accounting, live-set
    // resolution, schema tracking) against an independent
    // computation of what it SHOULD say.
    QueryDef(
      "q344_store_describe",
      (s, d) => {
        val p = versionedDocStore(s, d, rebuild = false)
        graft.operators.VersionedStore.describe(s, p)
      },
      Some("""SELECT CAST(5 AS BIGINT) AS latest_version,
             |  CAST(5 AS BIGINT) AS n_versions,
             |  CAST(1 AS BIGINT) AS n_live_groups,
             |  (SELECT CAST(COUNT(*) AS BIGINT) FROM documents
             |   WHERE doc_id % 3 = 2 OR doc_id % 7 <> 0) AS n_rows,
             |  CAST(5 AS BIGINT) AS n_columns,
             |  '' AS stats_col,
             |  CAST(0 AS BIGINT) AS n_constraints,
             |  CAST(0 AS BIGINT) AS n_dv_groups""".stripMargin)),

    // Snapshot-consistent multi-store JOIN: a training run joins two
    // pinned stores THROUGH a manifest while ingest keeps landing on
    // both (the fact gains the odd orders, the dim loses a key
    // class AFTER the pin). The joined result must reflect exactly
    // the pinned moment — even orders against ALL customers — which
    // the oracle recomputes; a read-latest leak on either side
    // shifts the counts.
    QueryDef(
      "q345_snapshot_join",
      (s, d) => {
        import graft.operators.{StoreManifest, VersionedStore}
        val fact = graft.StoreCache.pathFor("snapj-fact", d)
        val dim = graft.StoreCache.pathFor("snapj-dim", d)
        val m = graft.StoreCache.rebuild("snapjoin", d) { m =>
          val o = orders(s, d).select(
            col("o_orderkey"), col("o_custkey").as("custkey"))
          val c = customer(s, d).select(
            col("c_custkey").as("custkey"), col("c_mktsegment"))
          VersionedStore.create(s, fact)
          VersionedStore.create(s, dim)
          VersionedStore.append(
            o.where(pmod(col("o_orderkey"), lit(2)) === 0), fact)
          VersionedStore.append(c, dim)
          StoreManifest.pin(s, Seq(fact, dim), s"$m/manifest")
          // post-pin drift on BOTH sides
          VersionedStore.append(
            o.where(pmod(col("o_orderkey"), lit(2)) === 1), fact)
          VersionedStore.deleteWhere(s, dim,
            pmod(col("custkey"), lit(10)) === 3)
        }
        val pinned = StoreManifest.readAll(s, s"$m/manifest")
        pinned(fact).join(pinned(dim), "custkey")
          .groupBy(col("c_mktsegment"))
          .agg(count(lit(1)).as("n"),
            sum(col("custkey")).cast("long").as("key_sum"))
          .orderBy(col("c_mktsegment"))
      },
      Some("""SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n,
             |  CAST(SUM(o_custkey) AS BIGINT) AS key_sum
             |FROM orders JOIN customer ON o_custkey = c_custkey
             |WHERE o_orderkey % 2 = 0
             |GROUP BY c_mktsegment
             |ORDER BY c_mktsegment""".stripMargin)),

    // The SQL executor over the lakehouse table: the q328 store
    // registered as a view — latest AND a pinned historical version
    // side by side — queried with plain spark.sql, including a
    // cross-version comparison only versioned storage can answer
    // ("how many rows did the removal request take from each
    // source?"). Both engines recompute the same arithmetic.
    QueryDef(
      "q346_sql_over_store",
      (s, d) => {
        import graft.operators.VersionedStore
        val p = versionedDocStore(s, d, rebuild = false)
        // one registration serves latest AND any pinned version: the
        // historical side is selected with the parser's native
        // VERSION AS OF syntax (StoreTimeTravelRule), not a second
        // hand-registered view
        VersionedStore.registerTable(s, p, "doc_store")
        s.sql("""
          SELECT cur.source,
                 CAST(COUNT(*) AS BIGINT) AS n_now,
                 CAST(old.n_before AS BIGINT) AS n_before
          FROM doc_store cur
          JOIN (SELECT source, COUNT(*) AS n_before
                FROM doc_store VERSION AS OF 2 GROUP BY source) old
            ON cur.source = old.source
          GROUP BY cur.source, old.n_before
          ORDER BY cur.source""")
      },
      Some("""WITH now AS (
             |  SELECT source, COUNT(*) AS n_now FROM documents
             |  WHERE doc_id % 3 = 2 OR doc_id % 7 <> 0
             |  GROUP BY source
             |), before AS (
             |  SELECT source, COUNT(*) AS n_before FROM documents
             |  WHERE doc_id % 3 IN (0, 1) GROUP BY source
             |)
             |SELECT now.source, CAST(n_now AS BIGINT) AS n_now,
             |  CAST(n_before AS BIGINT) AS n_before
             |FROM now JOIN before ON now.source = before.source
             |ORDER BY now.source""".stripMargin)),

    // The rollup's own refresh history: the q334 snapshot is itself
    // a versioned store, so "what did the per-source rollup say
    // BEFORE the removal request landed" is one time-travel read —
    // snapshot v1 is the init at store-version 2 (both pre-delete
    // batches), and the later advance never disturbed it. The oracle
    // recomputes the v2-corpus aggregate from the raw table; a
    // refresh that mutated history in place would fail the hash.
    QueryDef(
      "q347_rollup_history",
      (s, d) => {
        import graft.operators.{IncrementalAgg, VersionedStore}
        // ensure the q334 build ran in this JVM (order-independent)
        val snap = graft.StoreCache.getOrBuild("ivmsnap", d) { sp =>
          val store = versionedDocStore(s, d, rebuild = false)
          IncrementalAgg.init(s, store, sp, 2L,
            Seq("source"), Seq("doc_id", "n_chars"))
          IncrementalAgg.advance(s, store, sp, 2L,
            VersionedStore.latestVersion(s, store),
            Seq("source"), Seq("doc_id", "n_chars"))
        }
        VersionedStore.readAt(s, snap, 1L)
          .select(col("source"), col("n"),
            col("doc_id").as("id_sum"),
            col("n_chars").as("chars_sum"))
          .orderBy(col("source"))
      },
      Some("""SELECT source, CAST(COUNT(*) AS BIGINT) AS n,
             |  CAST(SUM(doc_id) AS BIGINT) AS id_sum,
             |  CAST(SUM(n_chars) AS BIGINT) AS chars_sum
             |FROM documents
             |WHERE doc_id % 3 IN (0, 1)
             |GROUP BY source ORDER BY source""".stripMargin)),

    // STRING-key zone pruning (multi-column zones in commit
    // records): the corpus lands as four source-alphabet batches,
    // each commit carrying a STRING (lo, hi) hull on `source`; a
    // range read over the second batch's hull scans ONLY that
    // file-group (candidateFidsStr — asserted in the build), the
    // residual filter settles exactness, and the oracle recomputes
    // the range from the raw table under the same binary collation.
    // The store-native analog of the zone-map rule's string hulls,
    // resolved at file-list time — the log IS the manifest, so a
    // commit can never leave the pruning stale.
    QueryDef(
      "q349_string_zone_read",
      (s, d) => {
        import graft.operators.VersionedStore
        val docs = documents(s, d)
        val p = graft.StoreCache.rebuild("strzone", d) { p =>
          VersionedStore.create(s, p)
          Seq(("src0", "src12"), ("src13", "src17"),
            ("src18", "src4"), ("src5", "src9")).foreach {
            case (lo, hi) =>
              VersionedStore.append(
                docs.where(col("source") >= lo &&
                  col("source") <= hi), p,
                zoneCols = Seq("source", "doc_id"))
          }
          val v = VersionedStore.latestVersion(s, p)
          val cand = VersionedStore.candidateFidsStr(s, p, v,
            "source", "src13", "src17")
          if (cand != Seq(2L)) sys.error(
            s"q349: string zones failed to prune — candidates $cand")
        }
        VersionedStore.readRangeStr(s, p, "source", "src13", "src17")
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n"),
            sum(col("doc_id")).cast("long").as("id_sum"),
            sum(col("n_chars")).cast("long").as("chars_sum"))
          .orderBy(col("source"))
      },
      Some("""SELECT source, CAST(COUNT(*) AS BIGINT) AS n,
             |  CAST(SUM(doc_id) AS BIGINT) AS id_sum,
             |  CAST(SUM(n_chars) AS BIGINT) AS chars_sum
             |FROM documents
             |WHERE source BETWEEN 'src13' AND 'src17'
             |GROUP BY source ORDER BY source""".stripMargin)),

    // Merge-on-read deletion vectors: a small keyed point delete
    // (the GDPR drip) commits ONE dv record and rewrites NOTHING —
    // asserted in the build: the dv commit carries no remove/add
    // actions, so the multi-thousand-row data groups are untouched —
    // yet every read masks the keys. The oracle recomputes the
    // visible content from the raw table; time travel to the
    // pre-delete version and the fold-away compaction are pinned in
    // DeletionVectorSpec.
    QueryDef(
      "q350_deletion_vector",
      (s, d) => {
        import graft.operators.VersionedStore
        val docs = documents(s, d)
        val p = graft.StoreCache.rebuild("dvstore", d) { p =>
          VersionedStore.cloneTo(s, halfDocsBase(s, d), p)   // v1
          VersionedStore.append(
            docs.where(pmod(col("doc_id"), lit(2)) === 1), p)
          val dvV = VersionedStore.deleteKeysDeferred(s, p,
            docs.where(pmod(col("doc_id"), lit(97)) === 0)
              .select("doc_id"), Seq("doc_id"))
          val acts = VersionedStore.history(s, p)
            .filter(col("version") === dvV)
            .select("action").collect().map(_.getString(0)).toSeq
          if (acts != Seq("dv")) sys.error(
            s"q350: dv delete rewrote groups — actions $acts")
        }
        VersionedStore.read(s, p)
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n"),
            sum(col("doc_id")).cast("long").as("id_sum"),
            sum(col("n_chars")).cast("long").as("chars_sum"))
          .orderBy(col("source"))
      },
      Some("""SELECT source, CAST(COUNT(*) AS BIGINT) AS n,
             |  CAST(SUM(doc_id) AS BIGINT) AS id_sum,
             |  CAST(SUM(n_chars) AS BIGINT) AS chars_sum
             |FROM documents
             |WHERE doc_id % 97 <> 0
             |GROUP BY source ORDER BY source""".stripMargin)),

    // Checkpointed COLD log resolution: five commits land at
    // checkpoint interval 4 (auto-checkpoint at v4), the in-JVM log
    // cache is dropped, and the read resolves checkpoint + one
    // suffix commit instead of replaying five per-version dirs — the
    // serve path a restarted driver takes at production commit
    // counts, where uncheckpointed cold planning is an O(commits)
    // small-file storm. The build asserts a checkpoint exists; the
    // oracle recomputes the content.
    QueryDef(
      "q351_checkpoint_cold_read",
      (s, d) => {
        import graft.operators.VersionedStore
        val docs = documents(s, d)
        val p = graft.StoreCache.rebuild("ckptstore", d) { p =>
          val prev = s.conf.getOption("graft.store.checkpointInterval")
          s.conf.set("graft.store.checkpointInterval", "4")
          try {
            VersionedStore.create(s, p)
            (0 until 5).foreach { i =>
              VersionedStore.append(
                docs.where(pmod(col("doc_id"), lit(5)) === i), p)
            }
            if (VersionedStore.checkpointVersions(s, p).isEmpty)
              sys.error("q351: no checkpoint after 5 commits at " +
                "interval 4")
          } finally prev match {
            case Some(v) =>
              s.conf.set("graft.store.checkpointInterval", v)
            case None =>
              s.conf.unset("graft.store.checkpointInterval")
          }
        }
        graft.operators.VersionedStore.dropLogCache(p)
        VersionedStore.read(s, p)
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n"),
            sum(col("doc_id")).cast("long").as("id_sum"),
            sum(col("n_chars")).cast("long").as("chars_sum"))
          .orderBy(col("source"))
      },
      Some("""SELECT source, CAST(COUNT(*) AS BIGINT) AS n,
             |  CAST(SUM(doc_id) AS BIGINT) AS id_sum,
             |  CAST(SUM(n_chars) AS BIGINT) AS chars_sum
             |FROM documents
             |GROUP BY source ORDER BY source""".stripMargin)),

    // Age-based retention: vacuumOlderThan with a future cutoff is
    // the "retention 0" policy — every version older than the cutoff
    // ages out, the LATEST survives regardless. After an
    // append/append/compact lifecycle the pre-compaction groups are
    // reclaimed (asserted: time travel below the horizon fails
    // loudly, and a far-past cutoff reclaims nothing), while the
    // latest content — the declared result — is untouched.
    QueryDef(
      "q352_vacuum_by_age",
      (s, d) => {
        import graft.operators.VersionedStore
        val docs = documents(s, d)
        val p = graft.StoreCache.rebuild("agestore", d) { p =>
          // no clone fixture here: the gate asserts vacuum TRUNCATES
          // time travel, and a cloned-in v1's bytes live under the
          // base (vacuum rightly cannot reclaim foreign files)
          VersionedStore.create(s, p)
          VersionedStore.append(
            docs.where(pmod(col("doc_id"), lit(2)) === 0), p)
          VersionedStore.append(
            docs.where(pmod(col("doc_id"), lit(2)) === 1), p)
          VersionedStore.compact(s, p)
          // far-past cutoff: every version is young enough — nothing
          // ages out
          if (VersionedStore.vacuumOlderThan(s, p, 0L).nonEmpty)
            sys.error("q352: far-past cutoff reclaimed groups")
          // future cutoff: all versions age out; only the latest's
          // groups survive
          val victims = VersionedStore.vacuumOlderThan(s, p,
            System.currentTimeMillis() + 3600 * 1000L)
          if (victims.isEmpty) sys.error(
            "q352: age vacuum reclaimed nothing")
          val gone = try {
            VersionedStore.readAt(s, p, 1L).count(); false
          } catch { case _: RuntimeException => true }
          if (!gone) sys.error(
            "q352: pre-horizon version still readable after age vacuum")
        }
        VersionedStore.read(s, p)
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n"),
            sum(col("doc_id")).cast("long").as("id_sum"),
            sum(col("n_chars")).cast("long").as("chars_sum"))
          .orderBy(col("source"))
      },
      Some("""SELECT source, CAST(COUNT(*) AS BIGINT) AS n,
             |  CAST(SUM(doc_id) AS BIGINT) AS id_sum,
             |  CAST(SUM(n_chars) AS BIGINT) AS chars_sum
             |FROM documents
             |GROUP BY source ORDER BY source""".stripMargin)),

    // RESTORE to version — the rollback of the public lakehouse
    // designs: a bad delete lands (v3), restore(v2) re-publishes
    // v2's records as a NEW commit (v4) and removes nothing from
    // history — the build asserts the restore commit moved zero data
    // bytes (only re-published add records + removes in the log) and
    // that time travel to the bad v3 still shows the post-delete
    // state (the incident remains auditable). The declared result is
    // the restored latest = the FULL corpus, which the oracle
    // recomputes from the raw table.
    QueryDef(
      "q353_store_restore",
      (s, d) => {
        import graft.operators.VersionedStore
        val docs = documents(s, d)
        val p = graft.StoreCache.rebuild("restorestore", d) { p =>
          VersionedStore.cloneTo(s, halfDocsBase(s, d), p)   // v1
          VersionedStore.append(
            docs.where(pmod(col("doc_id"), lit(2)) === 1), p)
          val badV = VersionedStore.deleteWhere(s, p,
            pmod(col("doc_id"), lit(10)) === 0)
          val restoredV = VersionedStore.restore(s, p, 2L)
          if (restoredV != badV + 1) sys.error(
            s"q353: restore committed $restoredV, expected ${badV + 1}")
          // the bad version stays auditable under time travel
          val badRows = VersionedStore.readAt(s, p, badV).count()
          val allRows = VersionedStore.read(s, p).count()
          if (badRows >= allRows) sys.error(
            s"q353: time travel to bad v$badV shows $badRows rows, " +
              s"restored latest $allRows — delete not visible at v$badV")
          // metadata-only: the restore minted no new file-group (it
          // re-published v2's records — zero data bytes moved)
          val hist = VersionedStore.history(s, p)
          val maxBefore = hist.filter(col("version") <= badV)
            .agg(max("fid")).head.getLong(0)
          val maxAfter = hist.agg(max("fid")).head.getLong(0)
          if (maxAfter != maxBefore) sys.error(
            s"q353: restore minted file-group f$maxAfter — " +
              "expected a metadata-only commit")
        }
        VersionedStore.read(s, p)
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n"),
            sum(col("doc_id")).cast("long").as("id_sum"),
            sum(col("n_chars")).cast("long").as("chars_sum"))
          .orderBy(col("source"))
      },
      Some("""SELECT source, CAST(COUNT(*) AS BIGINT) AS n,
             |  CAST(SUM(doc_id) AS BIGINT) AS id_sum,
             |  CAST(SUM(n_chars) AS BIGINT) AS chars_sum
             |FROM documents
             |GROUP BY source ORDER BY source""".stripMargin)),

    // Clustered multi-group compaction (OPTIMIZE with clustering):
    // four round-robin appends interleave doc_id across every group,
    // so each group's zone hull spans the whole id space and a
    // narrow range read must scan ALL of them (asserted: 4 of 4
    // candidates pre-compaction). compact(clusterBy, numGroups = 4)
    // rewrites the content into four groups with DISJOINT id ranges
    // in ONE distributed pass + one commit — after which the same
    // range prunes to O(1) groups (asserted). The declared result is
    // the post-compaction pruned range read; the oracle recomputes
    // it from the raw table. At 100 TB this is what keeps point
    // mutations and range serves O(touched groups), not O(table).
    QueryDef(
      "q354_clustered_compaction",
      (s, d) => {
        import graft.operators.VersionedStore
        val docs = documents(s, d)
        val p = graft.StoreCache.rebuild("clustcompact", d) { p =>
          VersionedStore.create(s, p)
          (0 until 4).foreach { i =>
            VersionedStore.append(
              docs.where(pmod(col("doc_id"), lit(4)) === i), p,
              zoneCols = Seq("doc_id"))
          }
          val v1 = VersionedStore.latestVersion(s, p)
          val pre = VersionedStore.candidateFids(s, p, v1,
            "doc_id", 40L, 60L)
          if (pre.size != 4) sys.error(
            s"q354: interleaved appends should leave all 4 groups " +
              s"candidates for [40,60] — got ${pre.size}")
          VersionedStore.compact(s, p,
            clusterBy = Seq("doc_id"), numGroups = 4)
          val v2 = VersionedStore.latestVersion(s, p)
          val post = VersionedStore.candidateFids(s, p, v2,
            "doc_id", 40L, 60L)
          if (post.size > 2) sys.error(
            s"q354: clustered compaction failed to tighten zones — " +
              s"[40,60] still scans ${post.size} of 4 groups")
        }
        VersionedStore.readRange(s, p, "doc_id", 40L, 60L)
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n"),
            sum(col("doc_id")).cast("long").as("id_sum"),
            sum(col("n_chars")).cast("long").as("chars_sum"))
          .orderBy(col("source"))
      },
      Some("""SELECT source, CAST(COUNT(*) AS BIGINT) AS n,
             |  CAST(SUM(doc_id) AS BIGINT) AS id_sum,
             |  CAST(SUM(n_chars) AS BIGINT) AS chars_sum
             |FROM documents
             |WHERE doc_id BETWEEN 40 AND 60
             |GROUP BY source ORDER BY source""".stripMargin)),

    // Shallow (zero-copy) CLONE: the dev/test pattern of the public
    // lakehouse designs — clone a full-size table in one metadata
    // commit (asserted: the clone owns NO data dirs after cloning),
    // experiment on the clone (a 20% delete), and the SOURCE is
    // untouched (asserted: full row count) because every clone write
    // is copy-on-write against referenced groups. The declared
    // result is the mutated clone; the oracle recomputes it from the
    // raw table. At 100 TB the clone costs KB of metadata where a
    // deep copy would cost the table.
    QueryDef(
      "q355_shallow_clone",
      (s, d) => {
        import graft.operators.VersionedStore
        val docs = documents(s, d)
        val p = graft.StoreCache.rebuild("clonestore", d) { p =>
          val src = p + "-src"
          VersionedStore.create(s, src)
          VersionedStore.append(
            docs.where(pmod(col("doc_id"), lit(2)) === 0), src)
          VersionedStore.append(
            docs.where(pmod(col("doc_id"), lit(2)) === 1), src)
          VersionedStore.cloneTo(s, src, p)
          val fsys = org.apache.hadoop.fs.FileSystem
            .get(s.sparkContext.hadoopConfiguration)
          if (fsys.exists(new org.apache.hadoop.fs.Path(s"$p/data")))
            sys.error("q355: shallow clone materialized data dirs")
          VersionedStore.deleteWhere(s, p,
            pmod(col("doc_id"), lit(5)) === 0)
          if (VersionedStore.read(s, src).count() != docs.count())
            sys.error("q355: clone mutation leaked into the source")
        }
        VersionedStore.read(s, p)
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n"),
            sum(col("doc_id")).cast("long").as("id_sum"),
            sum(col("n_chars")).cast("long").as("chars_sum"))
          .orderBy(col("source"))
      },
      Some("""SELECT source, CAST(COUNT(*) AS BIGINT) AS n,
             |  CAST(SUM(doc_id) AS BIGINT) AS id_sum,
             |  CAST(SUM(n_chars) AS BIGINT) AS chars_sum
             |FROM documents
             |WHERE doc_id % 5 <> 0
             |GROUP BY source ORDER BY source""".stripMargin)),

    // Per-group Bloom SIDECAR file skipping: four interleaved
    // appends (no zone column — zones can't tell the groups apart
    // for a point probe, which is exactly the non-clustered
    // high-cardinality-key case blooms exist for) each commit a KB
    // sidecar on doc_id; a point lookup consults the sidecars on the
    // driver and opens ~1 of 4 groups (asserted ≤ 2 — fpp admits
    // false positives, never false negatives) instead of scanning
    // all of them. The oracle recomputes the row from the raw table;
    // bloom-vetoed serving must lose nothing.
    QueryDef(
      "q356_bloom_point_read",
      (s, d) => {
        import graft.operators.VersionedStore
        val docs = documents(s, d)
        val p = graft.StoreCache.rebuild("bloomstore", d) { p =>
          VersionedStore.create(s, p)
          (0 until 4).foreach { i =>
            VersionedStore.append(
              docs.where(pmod(col("doc_id"), lit(4)) === i), p,
              bloomCols = Seq("doc_id"))
          }
          val v = VersionedStore.latestVersion(s, p)
          val cand = VersionedStore.pointCandidates(s, p, v,
            "doc_id", 123L)
          if (cand.size > 2) sys.error(
            s"q356: bloom sidecars failed to prune — point probe " +
              s"scans ${cand.size} of 4 groups")
          val miss = VersionedStore.pointCandidates(s, p, v,
            "doc_id", 10000000L)
          if (miss.size > 1) sys.error(
            s"q356: absent key still scans ${miss.size} groups")
        }
        VersionedStore.readPoint(s, p, "doc_id", 123L)
          .select(col("doc_id"), col("source"),
            col("n_chars").cast("long").as("n_chars"))
      },
      Some("""SELECT doc_id, source, CAST(n_chars AS BIGINT) AS n_chars
             |FROM documents WHERE doc_id = 123""".stripMargin)),

    // Z-ORDER clustered compaction: range clustering prunes only the
    // LEADING key; interleaving the key bits (Morton curve —
    // `ZOrder.zValue`, plain codegen'd bit arithmetic) makes each of
    // the 8 rewritten groups cover a small HYPER-RECTANGLE of
    // (doc_id, n_chars) space, so narrow predicates on EITHER column
    // prune groups (asserted on both dims; a range-clustered store
    // would scan all 8 for any n_chars window). The declared result
    // is a pruned doc_id range read off the z-store; the oracle
    // recomputes it from the raw table.
    QueryDef(
      "q357_zorder_compaction",
      (s, d) => {
        import graft.operators.VersionedStore
        val docs = documents(s, d)
        val p = graft.StoreCache.rebuild("zorderstore", d) { p =>
          VersionedStore.create(s, p)
          (0 until 4).foreach { i =>
            VersionedStore.append(
              docs.where(pmod(col("doc_id"), lit(4)) === i), p,
              zoneCols = Seq("doc_id", "n_chars"))
          }
          VersionedStore.compact(s, p,
            clusterBy = Seq("doc_id", "n_chars"), numGroups = 8,
            zorder = true)
          val v = VersionedStore.latestVersion(s, p)
          val nLive = VersionedStore.describe(s, p)
            .head.getAs[Long]("n_live_groups").toInt
          // the z-order contract: SOME pruning on EVERY clustered
          // dim (quantile partition bounds straddle bit boundaries,
          // so hulls are looser than range clustering's on the
          // leading dim — the comparative sharp assertion lives in
          // VersionedStoreScaleSpec against a range-clustered twin)
          val docCand = VersionedStore.candidateFids(s, p, v,
            "doc_id", 40L, 60L)
          if (docCand.size >= nLive) sys.error(
            s"q357: doc_id window scans ALL $nLive z-ordered " +
              "groups — no leading-dim pruning")
          val (mn, mx) = VersionedStore.fastMinMax(s, p, "n_chars")
            .getOrElse(sys.error(
              "q357: n_chars zones missing from a live group"))
          val charCand = VersionedStore.candidateFids(s, p, v,
            "n_chars", mn, mn + (mx - mn) / 8)
          if (charCand.size >= nLive) sys.error(
            s"q357: n_chars window scans ALL $nLive groups — " +
              "z-order gave no second-dimension pruning")
        }
        VersionedStore.readRange(s, p, "doc_id", 40L, 60L)
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n"),
            sum(col("doc_id")).cast("long").as("id_sum"),
            sum(col("n_chars")).cast("long").as("chars_sum"))
          .orderBy(col("source"))
      },
      Some("""SELECT source, CAST(COUNT(*) AS BIGINT) AS n,
             |  CAST(SUM(doc_id) AS BIGINT) AS id_sum,
             |  CAST(SUM(n_chars) AS BIGINT) AS chars_sum
             |FROM documents
             |WHERE doc_id BETWEEN 40 AND 60
             |GROUP BY source ORDER BY source""".stripMargin)),

    // Log-only aggregates: COUNT(*) and MIN/MAX of a zone-armed key
    // answered ENTIRELY from the cached commit log — zero data scan
    // at any table size (the warehouse metadata-serving trick; the
    // per-group counts and hulls every commit records are exact, and
    // the fast path REFUSES — returns None — when a live deletion
    // vector or a zone blind spot could make it wrong). The build
    // asserts the fast path engaged; the oracle recomputes all three
    // scalars by scanning the raw table.
    QueryDef(
      "q358_log_only_stats",
      (s, d) => {
        import graft.operators.VersionedStore
        val docs = documents(s, d)
        val p = graft.StoreCache.rebuild("logstatstore", d) { p =>
          // v1 = zero-copy clone of the shared zoned half-corpus;
          // zone propagation arms the second append automatically
          VersionedStore.cloneTo(s, halfDocsBase(s, d), p)
          VersionedStore.append(
            docs.where(pmod(col("doc_id"), lit(2)) === 1), p)
          ()
        }
        import s.implicits._
        val cnt = VersionedStore.fastCount(s, p).getOrElse(
          sys.error("q358: fastCount fell back to a scan"))
        val (mn, mx) = VersionedStore.fastMinMax(s, p, "doc_id")
          .getOrElse(
            sys.error("q358: fastMinMax fell back to a scan"))
        Seq((cnt, mn, mx)).toDF("n", "min_id", "max_id")
      },
      Some("""SELECT CAST(COUNT(*) AS BIGINT) AS n,
             |  CAST(MIN(doc_id) AS BIGINT) AS min_id,
             |  CAST(MAX(doc_id) AS BIGINT) AS max_id
             |FROM documents""".stripMargin)),

    // CDC with UPDATE pre/post-images (the Delta CDF vocabulary):
    // a window spanning a MERGE and a standalone keyed delete must
    // decompose into exactly four change kinds — keys rewritten by
    // the merge travel as update_preimage (the original row) +
    // update_postimage (the merged row), keys removed travel as
    // plain deletes with their ORIGINAL content (including keys that
    // were updated and then deleted — the net effect of the window),
    // and fresh keys as plain inserts. The oracle recomputes all
    // four sets arithmetically; a preimage carrying post-merge
    // content, an update split into unrelated delete+insert, or a
    // deleted post-image leaking through all shift a checksum.
    QueryDef(
      "q359_cdc_update_images",
      (s, d) => {
        import graft.operators.VersionedStore
        val docs = documents(s, d)
        // v1 is a zero-copy CLONE of the shared statted base corpus
        // (one metadata commit; the base builds once per JVM) — the
        // timed work is the merge + keyed delete + change-feed
        // decode, not a fourth parquet copy of the corpus
        val base = graft.StoreCache.getOrBuild("basedocs", d) { bp =>
          VersionedStore.create(s, bp)
          VersionedStore.append(docs, bp, statsCol = Some("doc_id"))
        }
        val p = graft.StoreCache.rebuild("cdcupd", d) { p =>
          VersionedStore.cloneTo(s, base, p)                 // v1
          val upd = docs.where(pmod(col("doc_id"), lit(5)) === 0)
            .withColumn("source", lit("merged"))
            .withColumn("n_chars", col("n_chars") + 1000)
            .unionByName(
              docs.where(pmod(col("doc_id"), lit(11)) === 0)
                .select((col("doc_id") + 10000000L).as("doc_id"),
                  lit("").as("text"), lit("xx").as("lang"),
                  lit("inserted").as("source"),
                  pmod(col("doc_id"), lit(997)).as("n_chars")))
          VersionedStore.merge(s, p, upd, Seq("doc_id"))      // v2
          VersionedStore.deleteKeys(s, p,
            docs.where(pmod(col("doc_id"), lit(7)) === 1)
              .select(col("doc_id")), Seq("doc_id"))          // v3
        }
        VersionedStore.changesKeyed(s, p, 1L,
          VersionedStore.latestVersion(s, p), Seq("doc_id"))
          .groupBy(col("_change"), col("source"))
          .agg(count(lit(1)).as("n"),
            sum(col("doc_id")).cast("long").as("id_sum"),
            sum(col("n_chars")).cast("long").as("chars_sum"))
          .orderBy(col("_change"), col("source"))
      },
      Some("""WITH dels AS (
             |  SELECT source, doc_id, n_chars FROM documents
             |  WHERE doc_id % 7 = 1
             |), upds AS (
             |  SELECT source, doc_id, n_chars FROM documents
             |  WHERE doc_id % 5 = 0 AND doc_id % 7 <> 1
             |), feed AS (
             |  SELECT 'delete' AS ck, source, doc_id, n_chars
             |  FROM dels
             |  UNION ALL
             |  SELECT 'update_preimage', source, doc_id, n_chars
             |  FROM upds
             |  UNION ALL
             |  SELECT 'update_postimage', 'merged', doc_id,
             |    n_chars + 1000
             |  FROM upds
             |  UNION ALL
             |  SELECT 'insert', 'inserted', doc_id + 10000000,
             |    doc_id % 997
             |  FROM documents WHERE doc_id % 11 = 0
             |)
             |SELECT ck AS "_change", source,
             |  CAST(COUNT(*) AS BIGINT) AS n,
             |  CAST(SUM(doc_id) AS BIGINT) AS id_sum,
             |  CAST(SUM(n_chars) AS BIGINT) AS chars_sum
             |FROM feed GROUP BY ck, source
             |ORDER BY ck, source""".stripMargin)),

    // Column rename as log-carried column mapping: half the corpus
    // lands under the ORIGINAL name, the column is renamed in one
    // metadata commit (no rewrite), the other half lands under the
    // NEW name — and a latest read must serve every row's value
    // under the new name. A broken mapping reads the pre-rename
    // groups' column as NULL (their physical name no longer matches)
    // and shifts len_sum; the oracle recomputes from the raw table.
    QueryDef(
      "q360_rename_evolution",
      (s, d) => {
        import graft.operators.VersionedStore
        val docs = documents(s, d)
        val p = graft.StoreCache.rebuild("renstore", d) { p =>
          VersionedStore.cloneTo(s, halfDocsBase(s, d), p)    // v1
          VersionedStore.renameColumn(s, p, "n_chars", "len") // v2
          VersionedStore.append(
            docs.where(pmod(col("doc_id"), lit(2)) === 1)
              .withColumnRenamed("n_chars", "len"), p,
            zoneCols = Seq("doc_id"))                         // v3
        }
        VersionedStore.read(s, p)
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n"),
            sum(col("doc_id")).cast("long").as("id_sum"),
            sum(col("len")).cast("long").as("len_sum"))
          .orderBy(col("source"))
      },
      Some("""SELECT source, CAST(COUNT(*) AS BIGINT) AS n,
             |  CAST(SUM(doc_id) AS BIGINT) AS id_sum,
             |  CAST(SUM(n_chars) AS BIGINT) AS len_sum
             |FROM documents
             |GROUP BY source ORDER BY source""".stripMargin)),

    // Column drop as log-carried column mapping, the dual of q360:
    // half the corpus lands WITH the `lang` column, the column is
    // dropped in one metadata commit (no rewrite — the bytes stay in
    // the old groups), the other half lands under the shrunk schema
    // — and a latest read must serve every row under the post-drop
    // schema. The `ncols` output pins the schema shrinkage in the
    // hash gate (a drop that silently kept or resurrected the
    // column shifts it); the row aggregates pin that the PRE-drop
    // groups' remaining columns still serve every value.
    QueryDef(
      "q361_drop_evolution",
      (s, d) => {
        import graft.operators.VersionedStore
        val docs = documents(s, d)
        val p = graft.StoreCache.rebuild("dropstore", d) { p =>
          VersionedStore.cloneTo(s, halfDocsBase(s, d), p)   // v1
          VersionedStore.dropColumn(s, p, "lang")            // v2
          VersionedStore.append(
            docs.where(pmod(col("doc_id"), lit(2)) === 1)
              .drop("lang"), p,
            zoneCols = Seq("doc_id"))                        // v3
        }
        val cur = VersionedStore.read(s, p)
        cur.groupBy(col("source"))
          .agg(count(lit(1)).as("n"),
            sum(col("doc_id")).cast("long").as("id_sum"),
            sum(col("n_chars")).cast("long").as("chars_sum"),
            lit(cur.columns.length).cast("int").as("ncols"))
          .orderBy(col("source"))
      },
      Some("""SELECT source, CAST(COUNT(*) AS BIGINT) AS n,
             |  CAST(SUM(doc_id) AS BIGINT) AS id_sum,
             |  CAST(SUM(n_chars) AS BIGINT) AS chars_sum,
             |  CAST(4 AS INTEGER) AS ncols
             |FROM documents
             |GROUP BY source ORDER BY source""".stripMargin)),

    // SQL DML over a registered store table: the corpus lands via
    // INSERT INTO ... SELECT (one append commit, by-position with
    // casts), a tenth of it is transformed via UPDATE ... SET (one
    // copy-on-write commit — only matching file-groups rewrite), a
    // seventh removed via DELETE FROM ... WHERE (one commit), an
    // eleventh rewritten + a thirteenth's shifted copies added via
    // MERGE INTO (one keyed-upsert commit), and the result is read
    // back through plain SQL over the same name. The `final_v`
    // output pins the commit count at exactly four — a DML path that
    // splits into extra commits (or silently skips one) shifts it;
    // the aggregates pin the row-level semantics of all four
    // statements end to end.
    QueryDef(
      "q362_sql_dml",
      (s, d) => {
        import graft.operators.VersionedStore
        documents(s, d).createOrReplaceTempView("q362_docs")
        val p = graft.StoreCache.rebuild("dmlstore", d) { p =>
          VersionedStore.create(s, p)
          VersionedStore.registerTable(s, p, "q362_store")
          s.sql("INSERT INTO q362_store SELECT doc_id, text, " +
            "lang, source, n_chars FROM q362_docs")          // v1
          s.sql("UPDATE q362_store SET n_chars = n_chars + 1000 " +
            "WHERE doc_id % 10 = 0")                         // v2
          s.sql("DELETE FROM q362_store WHERE doc_id % 7 = 3") // v3
          // keyed upsert via SQL MERGE: rewrite every %11=5 doc as a
          // 'merged'-source row and add a shifted fresh copy per
          // %13=6 doc — one atomic commit for the whole statement
          s.sql("""MERGE INTO q362_store AS t USING (
            SELECT doc_id, text, lang, 'merged' AS source,
              n_chars + 7 AS n_chars
            FROM q362_docs WHERE doc_id % 11 = 5
            UNION ALL
            SELECT doc_id + 10000000, text, lang,
              'inserted' AS source, n_chars
            FROM q362_docs WHERE doc_id % 13 = 6) AS s
            ON t.doc_id = s.doc_id
            WHEN MATCHED THEN UPDATE SET *
            WHEN NOT MATCHED THEN INSERT *""")               // v4
        }
        VersionedStore.registerTable(s, p, "q362_store")
        s.sql("""SELECT source, CAST(COUNT(*) AS BIGINT) AS n,
          CAST(SUM(doc_id) AS BIGINT) AS id_sum,
          CAST(SUM(n_chars) AS BIGINT) AS chars_sum
          FROM q362_store GROUP BY source""")
          .withColumn("final_v",
            lit(VersionedStore.latestVersion(s, p)))
          .orderBy(col("source"))
      },
      Some("""WITH kept AS (
             |  SELECT doc_id, source,
             |    n_chars + CASE WHEN doc_id % 10 = 0
             |      THEN 1000 ELSE 0 END AS nc
             |  FROM documents
             |  WHERE doc_id % 7 <> 3 AND doc_id % 11 <> 5
             |), merged AS (
             |  SELECT doc_id, 'merged' AS source, n_chars + 7 AS nc
             |  FROM documents WHERE doc_id % 11 = 5
             |), ins AS (
             |  SELECT doc_id + 10000000 AS doc_id,
             |    'inserted' AS source, n_chars AS nc
             |  FROM documents WHERE doc_id % 13 = 6
             |), base AS (
             |  SELECT * FROM kept UNION ALL SELECT * FROM merged
             |  UNION ALL SELECT * FROM ins
             |)
             |SELECT source, CAST(COUNT(*) AS BIGINT) AS n,
             |  CAST(SUM(doc_id) AS BIGINT) AS id_sum,
             |  CAST(SUM(nc) AS BIGINT) AS chars_sum,
             |  CAST(4 AS BIGINT) AS final_v
             |FROM base GROUP BY source ORDER BY source""".stripMargin)),

    // SQL observability surface, serve lane: the CDC window of
    // q332 consumed purely through SQL — the store_changes
    // table-valued function composes with GROUP BY like any
    // relation (the public `table_changes` shape). Same oracle as
    // q332: the feed is exactly "inserts = batch %3=2, deletes =
    // the removal-request rows", recomputed independently.
    QueryDef(
      "q363_sql_tvf_changes",
      (s, d) => {
        val p = versionedDocStore(s, d, rebuild = false)
        import graft.operators.VersionedStore
        VersionedStore.registerTable(s, p, "q363_store")
        val to = VersionedStore.latestVersion(s, p)
        s.sql(s"""SELECT _change, source,
          CAST(COUNT(*) AS BIGINT) AS n,
          CAST(SUM(doc_id) AS BIGINT) AS id_sum,
          CAST(SUM(n_chars) AS BIGINT) AS chars_sum
          FROM store_changes('q363_store', 2, $to)
          GROUP BY _change, source
          ORDER BY _change, source""")
      },
      Some("""SELECT 'delete' AS "_change", source,
             |  CAST(COUNT(*) AS BIGINT) AS n,
             |  CAST(SUM(doc_id) AS BIGINT) AS id_sum,
             |  CAST(SUM(n_chars) AS BIGINT) AS chars_sum
             |FROM documents
             |WHERE doc_id % 3 IN (0, 1) AND doc_id % 7 = 0
             |GROUP BY source
             |UNION ALL
             |SELECT 'insert', source, CAST(COUNT(*) AS BIGINT),
             |  CAST(SUM(doc_id) AS BIGINT),
             |  CAST(SUM(n_chars) AS BIGINT)
             |FROM documents WHERE doc_id % 3 = 2
             |GROUP BY source
             |ORDER BY "_change", source""".stripMargin)),

    // GENERAL SQL MERGE — the conditional / per-column WHEN-clause
    // forms (first-match-wins): matched docs either get a
    // per-column conditional UPDATE referencing BOTH sides
    // (`SET n_chars = s.nc + t.n_chars`) or fall through to DELETE;
    // unmatched source rows pass a conditional column-list INSERT
    // (unnamed columns land as typed NULLs). The whole statement is
    // ONE copy-on-write commit (final_v pins it at exactly 2: the
    // zero-copy clone + the merge); the oracle recomputes the
    // update/delete/insert partition arithmetically from the raw
    // table. v1 is a clone of the shared statted base corpus — the
    // timed work is the merge itself.
    QueryDef(
      "q364_sql_merge_general",
      (s, d) => {
        import graft.operators.VersionedStore
        val docs = documents(s, d)
        documents(s, d).createOrReplaceTempView("q364_docs")
        val base = graft.StoreCache.getOrBuild("basedocs", d) { bp =>
          VersionedStore.create(s, bp)
          VersionedStore.append(docs, bp, statsCol = Some("doc_id"))
        }
        val p = graft.StoreCache.rebuild("genmrg", d) { p =>
          VersionedStore.cloneTo(s, base, p)                 // v1
          VersionedStore.registerTable(s, p, "q364_store")
          s.sql("""MERGE INTO q364_store AS t USING (
            SELECT doc_id, n_chars + 5 AS nc
            FROM q364_docs WHERE doc_id % 9 = 2
            UNION ALL
            SELECT doc_id + 20000000, n_chars
            FROM q364_docs WHERE doc_id % 9 = 5) AS s
            ON t.doc_id = s.doc_id
            WHEN MATCHED AND s.nc % 3 = 0 THEN
              UPDATE SET n_chars = s.nc + t.n_chars,
                source = 'boosted'
            WHEN MATCHED THEN DELETE
            WHEN NOT MATCHED AND s.nc % 2 = 0 THEN
              INSERT (doc_id, source, n_chars)
              VALUES (s.doc_id, 'fresh', s.nc)""")           // v2
        }
        VersionedStore.registerTable(s, p, "q364_store")
        s.sql("""SELECT source, CAST(COUNT(*) AS BIGINT) AS n,
          CAST(SUM(doc_id) AS BIGINT) AS id_sum,
          CAST(SUM(n_chars) AS BIGINT) AS chars_sum
          FROM q364_store GROUP BY source""")
          .withColumn("final_v",
            lit(VersionedStore.latestVersion(s, p)))
          .orderBy(col("source"))
      },
      Some("""WITH kept AS (
             |  SELECT doc_id, source, n_chars AS nc
             |  FROM documents WHERE doc_id % 9 <> 2
             |), upd AS (
             |  SELECT doc_id, 'boosted' AS source,
             |    2 * n_chars + 5 AS nc
             |  FROM documents
             |  WHERE doc_id % 9 = 2 AND (n_chars + 5) % 3 = 0
             |), ins AS (
             |  SELECT doc_id + 20000000 AS doc_id,
             |    'fresh' AS source, n_chars AS nc
             |  FROM documents
             |  WHERE doc_id % 9 = 5 AND n_chars % 2 = 0
             |), base AS (
             |  SELECT * FROM kept UNION ALL SELECT * FROM upd
             |  UNION ALL SELECT * FROM ins
             |)
             |SELECT source, CAST(COUNT(*) AS BIGINT) AS n,
             |  CAST(SUM(doc_id) AS BIGINT) AS id_sum,
             |  CAST(SUM(nc) AS BIGINT) AS chars_sum,
             |  CAST(2 AS BIGINT) AS final_v
             |FROM base GROUP BY source ORDER BY source""".stripMargin)),

    // CREATE TABLE … PARTITIONED BY on a catalog table (the r18
    // verdict's top item): the standard partitioning DDL maps onto
    // the store's clustered layout — the INSERT lands range-clustered
    // on ship year (one commit, one group per year), and the
    // year-bounded read PRUNES file-groups at PLAN time through the
    // zone-aware file index. `pruned` is the live files-read receipt
    // (filtered scan planned strictly fewer files than the full
    // scan), pinned true in the oracle; the aggregates gate the
    // content under pruning. This is the reference's own
    // date-partitioned layout tactic (partitioner.py:7-25) behind
    // the DDL every Spark user types.
    QueryDef(
      "q365_partitioned_catalog",
      (s, d) => {
        val root = graft.StoreCache.rebuild("partwh", d) { p =>
          val f = new org.apache.hadoop.fs.Path(p).getFileSystem(
            s.sparkContext.hadoopConfiguration)
          f.delete(new org.apache.hadoop.fs.Path(p), true)
          f.mkdirs(new org.apache.hadoop.fs.Path(p))
          ()
        }
        s.conf.set("spark.sql.catalog.q365lake",
          "graft.sources.GraftStoreCatalog")
        s.conf.set("spark.sql.catalog.q365lake.root", root)
        lineitem(s, d).createOrReplaceTempView("q365_li")
        s.sql("CREATE TABLE q365lake.ev (yr BIGINT, qty BIGINT, " +
          "fl STRING) USING `graft-store` PARTITIONED BY (yr)")
        s.sql("""INSERT INTO q365lake.ev
          SELECT CAST(year(l_shipdate) AS BIGINT),
            CAST(l_quantity AS BIGINT), l_returnflag
          FROM q365_li""")
        def nFiles(df: org.apache.spark.sql.DataFrame): Long = {
          // materialize the Dataset's OWN scan RDD (a noop write
          // would build a separate QueryExecution and leave these
          // metrics at zero). numFiles is a DRIVER metric set at
          // file-listing time — forcing the RDD (execute()) plans
          // the scan and fills it; actually RUNNING the scan
          // (.count(), as before) re-read every row just to observe
          // a planning-time number (guide §1.4: don't pay an action
          // for a metadata answer). The receipt is unchanged: it
          // pins that the filtered scan PLANNED strictly fewer
          // files, which is decided at listing time either way.
          df.queryExecution.executedPlan.execute()
          df.queryExecution.executedPlan.collectLeaves()
            .collectFirst {
              case sc: org.apache.spark.sql.execution
                .FileSourceScanExec => sc.metrics("numFiles").value
            }.getOrElse(-1L)
        }
        val full = nFiles(s.table("q365lake.ev"))
        val filt = nFiles(
          s.sql("SELECT * FROM q365lake.ev WHERE yr = 1994"))
        s.sql("""SELECT fl, CAST(COUNT(*) AS BIGINT) AS n,
            CAST(SUM(qty) AS BIGINT) AS qty_sum
          FROM q365lake.ev WHERE yr BETWEEN 1994 AND 1995
          GROUP BY fl""")
          .withColumn("pruned", lit(filt >= 0 && filt < full))
          .orderBy("fl")
      },
      Some("""SELECT l_returnflag AS fl,
             |  CAST(COUNT(*) AS BIGINT) AS n,
             |  CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT)
             |    AS qty_sum,
             |  true AS pruned
             |FROM lineitem
             |WHERE year(l_shipdate) BETWEEN 1994 AND 1995
             |GROUP BY l_returnflag
             |ORDER BY fl""".stripMargin)),

    // Widening ALTER COLUMN retype (int→long) as ONE metadata
    // commit: the narrow batch's files are never rewritten (commit
    // count pins it), the post-retype batch carries values past
    // 2^31, and the read serves both groups under the wide type via
    // the parquet reader's widening promotion. `narrow_v1` receipts
    // that time travel still serves the pre-retype version under its
    // OWN (int) type.
    QueryDef(
      "q366_retype_widening",
      (s, d) => {
        import graft.operators.VersionedStore
        val p = graft.StoreCache.rebuild("retypedocs", d) { p =>
          VersionedStore.create(s, p)
          VersionedStore.append(
            documents(s, d).where(pmod(col("doc_id"), lit(2)) === 0)
              .select(col("doc_id"),
                col("n_chars").cast("int").as("nc")), p)
          VersionedStore.retypeColumn(s, p, "nc",
            org.apache.spark.sql.types.LongType)
          VersionedStore.append(
            documents(s, d).where(pmod(col("doc_id"), lit(2)) === 1)
              .select(col("doc_id"),
                (col("n_chars").cast("long") + 3000000000L)
                  .as("nc")), p)
          ()
        }
        val narrowV1 = VersionedStore.readAt(s, p, 1L)
          .schema("nc").dataType ==
          org.apache.spark.sql.types.IntegerType
        val finalV = VersionedStore.latestVersion(s, p)
        VersionedStore.read(s, p)
          .agg(count(lit(1)).cast("long").as("n"),
            sum(col("nc")).cast("long").as("nc_sum"),
            max(col("nc")).cast("long").as("nc_max"))
          .withColumn("narrow_v1", lit(narrowV1))
          .withColumn("final_v", lit(finalV))
      },
      Some("""SELECT CAST(COUNT(*) AS BIGINT) AS n,
             |  CAST(SUM(CASE WHEN doc_id % 2 = 0 THEN n_chars
             |    ELSE n_chars + 3000000000 END) AS BIGINT) AS nc_sum,
             |  CAST(MAX(CASE WHEN doc_id % 2 = 0 THEN n_chars
             |    ELSE n_chars + 3000000000 END) AS BIGINT) AS nc_max,
             |  true AS narrow_v1,
             |  CAST(3 AS BIGINT) AS final_v
             |FROM documents""".stripMargin)),

    // Atomic REPLACE WHERE — the idempotent dated-partition
    // re-ingest (the reference's own ingest loop: re-running a day
    // must replace that day, reference: partitioner.py:7-25 +
    // dags/ingest_bundesliga_match_scores.py's copy-into-dated-
    // partition): a year-partitioned catalog table takes its 1994
    // region twice via INSERT OVERWRITE ... PARTITION — the second
    // load replaces the first (no duplicates), other years'
    // groups are untouched, and the whole replace is ONE commit
    // (final_v pins create + full insert + 2 replaces = 4). The
    // oracle recomputes the final content: non-1994 rows original,
    // 1994 rows the re-ingested (boosted) batch.
    QueryDef(
      "q367_replace_partition",
      (s, d) => {
        val root = graft.StoreCache.rebuild("rpwh", d) { p =>
          val f = new org.apache.hadoop.fs.Path(p).getFileSystem(
            s.sparkContext.hadoopConfiguration)
          f.delete(new org.apache.hadoop.fs.Path(p), true)
          f.mkdirs(new org.apache.hadoop.fs.Path(p))
          ()
        }
        s.conf.set("spark.sql.catalog.q367lake",
          "graft.sources.GraftStoreCatalog")
        s.conf.set("spark.sql.catalog.q367lake.root", root)
        lineitem(s, d).createOrReplaceTempView("q367_li")
        s.sql("CREATE TABLE q367lake.ev (qty BIGINT, fl STRING, " +
          "yr BIGINT) USING `graft-store` PARTITIONED BY (yr)")
        s.sql("""INSERT INTO q367lake.ev
          SELECT CAST(l_quantity AS BIGINT),
            l_returnflag, CAST(year(l_shipdate) AS BIGINT)
          FROM q367_li""")
        def reload(boost: Int): Unit = {
          s.sql(s"""INSERT OVERWRITE q367lake.ev PARTITION (yr = 1994)
            SELECT CAST(l_quantity AS BIGINT) + $boost, l_returnflag
            FROM q367_li WHERE year(l_shipdate) = 1994""")
          ()
        }
        reload(50) // first dated re-ingest
        reload(100) // the IDEMPOTENT re-run: replaces, never dupes
        val finalV = graft.operators.VersionedStore.latestVersion(
          s, s"$root/ev")
        s.sql("""SELECT fl, CAST(COUNT(*) AS BIGINT) AS n,
            CAST(SUM(qty) AS BIGINT) AS qty_sum
          FROM q367lake.ev GROUP BY fl""")
          .withColumn("final_v", lit(finalV))
          .orderBy("fl")
      },
      Some("""WITH cur AS (
             |  SELECT l_returnflag AS fl,
             |    CASE WHEN year(l_shipdate) = 1994
             |      THEN CAST(l_quantity AS BIGINT) + 100
             |      ELSE CAST(l_quantity AS BIGINT) END AS qty
             |  FROM lineitem
             |)
             |SELECT fl, CAST(COUNT(*) AS BIGINT) AS n,
             |  CAST(SUM(qty) AS BIGINT) AS qty_sum,
             |  CAST(4 AS BIGINT) AS final_v
             |FROM cur GROUP BY fl ORDER BY fl""".stripMargin))
  )

  /** Build (or reuse — per-JVM StoreCache) the versioned documents
    * store whose lifecycle q328/q329/q330 gate: append batches
    * doc_id%3=0 and =1, delete doc_id%7=0 (a removal-request pass
    * over the two resident batches), append batch %3=2, compact.
    */
  /** Shared zero-copy fixture: the even half of the corpus
    * (doc_id % 2 = 0), zone-statted on doc_id, built once per JVM —
    * lifecycle gates whose v1 is exactly this batch CLONE it (one
    * metadata commit; bytes never move) instead of re-writing the
    * corpus half on every timed rebuild. The base is never mutated;
    * every consumer's mutations land under its own clone path.
    */
  private def halfDocsBase(s: org.apache.spark.sql.SparkSession,
      d: String): String =
    graft.StoreCache.getOrBuild("halfdocs0", d) { bp =>
      graft.operators.VersionedStore.create(s, bp)
      graft.operators.VersionedStore.append(
        documents(s, d).where(pmod(col("doc_id"), lit(2)) === 0),
        bp, zoneCols = Seq("doc_id"))
      ()
    }

  private def versionedDocStore(s: org.apache.spark.sql.SparkSession,
      d: String, rebuild: Boolean): String = {
    val build: String => Unit = { p =>
      import graft.operators.VersionedStore
      val docs = documents(s, d)
      def b(i: Int) = docs.where(pmod(col("doc_id"), lit(3)) === i)
      VersionedStore.create(s, p)                          // —
      VersionedStore.append(b(0), p)                       // v1, f1
      VersionedStore.append(b(1), p)                       // v2, f2
      VersionedStore.deleteWhere(s, p,
        pmod(col("doc_id"), lit(7)) === 0)                 // v3, f3+f4
      VersionedStore.append(b(2), p)                       // v4, f5
      VersionedStore.compact(s, p)                         // v5, f6
    }
    if (rebuild) graft.StoreCache.rebuild("verstore", d)(build)
    else graft.StoreCache.getOrBuild("verstore", d)(build)
  }
}

package graft.queries

import graft.Tables._
import graft.queries.Exact._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Relational-surface breadth beyond the TPC-H shapes: distribution
  * window functions, ordered string aggregation, bitwise aggregates,
  * inline VALUES dimensions, calendar date parts, HOF predicates,
  * TRY_CAST, grouping flags, RANGE frames, gap filling, fuzzy
  * matching, and recursive CTEs. Each is a thin declarative plan —
  * Catalyst keeps the single shuffle (group/window key) and broadcasts
  * literal dimensions.
  *
  * Reference context: this is the SQL surface the reference hands to
  * its warehouse wholesale (dbt models under
  * data_transformations/models/example/, e.g. my_first_dbt_model.sql:
  * 1-27 materializes plain SELECTs); the engine re-expresses that
  * surface natively so a warehouse user can bring the same queries.
  */
object BreadthQueries {

  val all: Seq[QueryDef] = Seq(
    // Distribution window functions: ntile / percent_rank / cume_dist
    // over a unique ordering (totalprice, orderkey) so rank ties — and
    // therefore both engines' outputs — are fully determined. One
    // window sort per partition key, same shuffle as q12.
    QueryDef(
      "q108_window_dist",
      (s, d) => {
        val w = Window.partitionBy("o_orderpriority")
          .orderBy(col("o_totalprice").asc, col("o_orderkey").asc)
        orders(s, d)
          .select(col("o_orderpriority"), col("o_orderkey"),
            ntile(4).over(w).as("quartile"),
            percent_rank().over(w).as("pct_rank"),
            cume_dist().over(w).as("cume"))
          .orderBy("o_orderpriority", "o_orderkey")
      },
      Some("""SELECT o_orderpriority, o_orderkey,
             |  CAST(ntile(4) OVER w AS INTEGER) AS quartile,
             |  percent_rank() OVER w AS pct_rank,
             |  cume_dist() OVER w AS cume
             |FROM orders
             |WINDOW w AS (PARTITION BY o_orderpriority
             |  ORDER BY o_totalprice ASC, o_orderkey ASC)
             |ORDER BY o_orderpriority, o_orderkey""".stripMargin)),

    // Ordered string aggregation (LISTAGG/string_agg): suppliers per
    // nation as one sorted comma-joined string. Spark spelling is
    // sort-then-join over collect_list — order-independent because the
    // sort happens after collection, so any shuffle order hashes the
    // same.
    QueryDef(
      "q109_string_agg",
      (s, d) =>
        supplier(s, d)
          .join(broadcast(nation(s, d)),
            col("s_nationkey") === col("n_nationkey"))
          .groupBy("n_name")
          .agg(count(lit(1)).as("n_suppliers"),
            concat_ws(",", array_sort(collect_list(col("s_name"))))
              .as("supplier_csv"))
          .orderBy("n_name"),
      Some("""SELECT n_name, COUNT(*) AS n_suppliers,
             |  string_agg(s_name, ',' ORDER BY s_name) AS supplier_csv
             |FROM supplier JOIN nation ON s_nationkey = n_nationkey
             |GROUP BY n_name ORDER BY n_name""".stripMargin)),

    // Bitwise aggregates (bit_and/bit_or/bit_xor): order-independent
    // by construction, so they distribute with map-side partials like
    // any hash agg. DuckDB's infix ^ is exponentiation — its xor is
    // the xor() function — while Spark's ^ is the scalar xor.
    QueryDef(
      "q110_bitwise_agg",
      (s, d) =>
        lineitem(s, d)
          .groupBy("l_returnflag")
          .agg(bit_and(col("l_orderkey")).as("key_and"),
            bit_or(col("l_orderkey")).as("key_or"),
            bit_xor(col("l_orderkey")).as("key_xor"),
            bit_or(shiftleft(col("l_linenumber"), 8).bitwiseOR(lit(1)))
              .as("packed_or"))
          .orderBy("l_returnflag"),
      Some("""SELECT l_returnflag,
             |  bit_and(l_orderkey) AS key_and,
             |  bit_or(l_orderkey) AS key_or,
             |  bit_xor(l_orderkey) AS key_xor,
             |  bit_or((l_linenumber << 8) | 1) AS packed_or
             |FROM lineitem GROUP BY l_returnflag
             |ORDER BY l_returnflag""".stripMargin)),

    // Inline VALUES dimension: a literal priority→weight mapping
    // joined to the fact. Spark broadcasts the 5-row local relation —
    // the pattern for config-table lookups that must never shuffle the
    // fact side.
    QueryDef(
      "q111_values_dim",
      (s, d) => {
        val weights = s.createDataFrame(Seq(
          ("1-URGENT", 5.0), ("2-HIGH", 4.0), ("3-MEDIUM", 3.0),
          ("4-NOT SPECIFIED", 2.0), ("5-LOW", 1.0)))
          .toDF("prio", "weight")
        orders(s, d)
          .join(broadcast(weights), col("o_orderpriority") === col("prio"))
          .groupBy("prio")
          .agg(dsum(col("o_totalprice") * col("weight"))
            .as("weighted_price"))
          .orderBy("prio")
      },
      Some(s"""SELECT prio, ${sqlDsum("o_totalprice * weight")}
              |    AS weighted_price
              |FROM orders
              |JOIN (VALUES ('1-URGENT', 5.0), ('2-HIGH', 4.0),
              |  ('3-MEDIUM', 3.0), ('4-NOT SPECIFIED', 2.0),
              |  ('5-LOW', 1.0)) AS w(prio, weight)
              |  ON o_orderpriority = prio
              |GROUP BY prio ORDER BY prio""".stripMargin)),

    // Calendar date parts beyond q82: quarter, ISO week, Monday-based
    // weekday. Spark's weekday() (0 = Monday) is DuckDB's isodow - 1;
    // Spark's weekofyear is the ISO week, DuckDB's week().
    QueryDef(
      "q112_calendar_parts",
      (s, d) =>
        orders(s, d)
          .groupBy(year(col("o_orderdate")).as("o_year"),
            quarter(col("o_orderdate")).as("o_quarter"))
          .agg(count(lit(1)).as("n_orders"),
            count_distinct(weekofyear(col("o_orderdate"))).as("n_weeks"),
            count_distinct(weekday(col("o_orderdate"))).as("n_weekdays"))
          .orderBy("o_year", "o_quarter"),
      Some("""SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
             |  CAST(quarter(o_orderdate) AS INTEGER) AS o_quarter,
             |  COUNT(*) AS n_orders,
             |  COUNT(DISTINCT week(o_orderdate)) AS n_weeks,
             |  COUNT(DISTINCT isodow(o_orderdate) - 1) AS n_weekdays
             |FROM orders GROUP BY o_year, o_quarter
             |ORDER BY o_year, o_quarter""".stripMargin)),

    // Higher-order array predicates (exists / forall / filter+count):
    // per-row lambda evaluation inside codegen — the no-UDF way to ask
    // set questions of an array column. DuckDB's spelling folds a
    // transformed boolean list through bool_or / bool_and.
    QueryDef(
      "q121_hof_predicates",
      (s, d) => {
        val ws = graft.functions.TextFunctions.words(col("text"))
        documents(s, d)
          .select(col("doc_id"),
            exists(ws, w => length(w) > 6).as("has_long_tok"),
            forall(ws, w => w.rlike("^[a-z]+$")).as("all_alpha"),
            size(filter(ws, w => length(w) > 6)).as("n_long_toks"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id,
             |  list_aggregate(list_transform(string_split(text, ' '),
             |    w -> len(w) > 6), 'bool_or') AS has_long_tok,
             |  list_aggregate(list_transform(string_split(text, ' '),
             |    w -> regexp_matches(w, '^[a-z]+$')), 'bool_and')
             |    AS all_alpha,
             |  CAST(len(list_filter(string_split(text, ' '),
             |    w -> len(w) > 6)) AS INTEGER) AS n_long_toks
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // Defensive parsing (TRY_CAST): dirty-input ingestion must yield
    // NULL, not a crashed job — the schema-on-read safety net for S6's
    // all-string external tables. One in three rows here is
    // deliberately unparseable.
    QueryDef(
      "q122_try_cast",
      (s, d) => {
        val raw = when(col("c_custkey") % 3 === 0, col("c_name"))
          .otherwise(col("c_custkey").cast("string"))
        customer(s, d)
          .select(col("c_custkey"), raw.as("raw"),
            expr("try_cast(" +
              "CASE WHEN c_custkey % 3 = 0 THEN c_name " +
              "ELSE CAST(c_custkey AS STRING) END AS BIGINT)").as("parsed"))
          .orderBy("c_custkey")
      },
      Some("""SELECT c_custkey,
             |  CASE WHEN c_custkey % 3 = 0 THEN c_name
             |    ELSE CAST(c_custkey AS VARCHAR) END AS raw,
             |  TRY_CAST(CASE WHEN c_custkey % 3 = 0 THEN c_name
             |    ELSE CAST(c_custkey AS VARCHAR) END AS BIGINT) AS parsed
             |FROM customer ORDER BY c_custkey""".stripMargin)),

    // GROUPING() flags over a rollup: the disambiguator between "key
    // is NULL in the data" and "key rolled up" — required before any
    // downstream consumer can trust subtotal rows. Keys are coalesced
    // out of the sort per the NULLS FIRST/LAST cross-engine rule.
    QueryDef(
      "q123_grouping_flags",
      (s, d) =>
        lineitem(s, d)
          .rollup("l_returnflag", "l_linestatus")
          .agg(count(lit(1)).as("n_rows"),
            grouping(col("l_returnflag")).cast("int").as("g_flag"),
            grouping(col("l_linestatus")).cast("int").as("g_status"))
          .select(
            coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
            coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
            col("g_flag"), col("g_status"), col("n_rows"))
          .orderBy("returnflag", "linestatus"),
      Some("""SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
             |  COALESCE(l_linestatus, 'ALL') AS linestatus,
             |  CAST(GROUPING(l_returnflag) AS INTEGER) AS g_flag,
             |  CAST(GROUPING(l_linestatus) AS INTEGER) AS g_status,
             |  COUNT(*) AS n_rows
             |FROM lineitem
             |GROUP BY ROLLUP(l_returnflag, l_linestatus)
             |ORDER BY returnflag, linestatus""".stripMargin)),

    // RANGE window frame: 30-day trailing spend per customer — the
    // time-windowed running aggregate (RANGE, not ROWS: peers by
    // VALUE distance, so irregular event spacing is handled). Ordering
    // key is days-since-epoch so both engines frame identically.
    QueryDef(
      "q124_range_frame",
      (s, d) => {
        val dayNum = datediff(col("o_orderdate").cast("date"),
          lit("1995-01-01").cast("date"))
        val w = Window.partitionBy("o_custkey").orderBy(dayNum)
          .rangeBetween(-30, Window.currentRow)
        orders(s, d)
          .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
            sum(col("o_totalprice").cast(Dec)).over(w).cast(Dec2)
              .cast("double").as("trailing_30d_spend"))
          .orderBy("o_custkey", "o_orderdate", "o_orderkey")
      },
      Some("""SELECT o_custkey, o_orderkey, o_orderdate,
             |  CAST(round(SUM(CAST(o_totalprice AS DECIMAL(38,12)))
             |    OVER (PARTITION BY o_custkey
             |      ORDER BY datediff('day', DATE '1995-01-01',
             |        CAST(o_orderdate AS DATE))
             |      RANGE BETWEEN 30 PRECEDING AND CURRENT ROW), 2)
             |    AS DOUBLE) AS trailing_30d_spend
             |FROM orders
             |ORDER BY o_custkey, o_orderdate, o_orderkey""".stripMargin)),

    // Calendar-spine gap filling: generate every month in the order
    // date range, left-join the monthly counts, zero-fill the holes —
    // the report-completeness op a BI layer needs when a month has no
    // rows. The spine is a generated literal array (no table scan).
    QueryDef(
      "q125_gap_fill",
      (s, d) => {
        val spine = s.range(1)
          .select(explode(sequence(
            lit("1995-01-01").cast("date"),
            lit("2001-08-01").cast("date"),
            expr("interval 1 month"))).as("month_start"))
        val monthly = orders(s, d)
          .filter(col("o_orderpriority") === "1-URGENT")
          .groupBy(date_trunc("month", col("o_orderdate")).cast("date")
            .as("m"))
          .agg(count(lit(1)).as("n"))
        spine
          .join(monthly, col("month_start") === col("m"), "left")
          .select(col("month_start"),
            coalesce(col("n"), lit(0L)).as("n_urgent_orders"))
          .orderBy("month_start")
      },
      Some("""WITH spine AS (
             |  SELECT CAST(unnest(generate_series(DATE '1995-01-01',
             |    DATE '2001-08-01', INTERVAL 1 MONTH)) AS DATE)
             |    AS month_start
             |), monthly AS (
             |  SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS m,
             |    COUNT(*) AS n
             |  FROM orders WHERE o_orderpriority = '1-URGENT' GROUP BY m
             |)
             |SELECT month_start,
             |  COALESCE(n, 0) AS n_urgent_orders
             |FROM spine LEFT JOIN monthly ON month_start = m
             |ORDER BY month_start""".stripMargin)),

    // Fuzzy matching (entity resolution): Levenshtein distance over
    // key-banded candidate pairs — the blocking keeps the pair space
    // linear (each supplier meets ≤ 20 neighbors), then the edit
    // distance refines. The fuzzy-dedup primitive for entity tables.
    QueryDef(
      "q126_fuzzy_match",
      (s, d) => {
        // Blocking via the reusable BandedRangeJoin operator: the gap
        // becomes an EQUI hash-join key (block + next-block probe) —
        // a bare range predicate would plan as a nested-loop join,
        // quadratic in the table. ≤ 20 candidates per entity
        // regardless of table size.
        val a = supplier(s, d)
          .select(col("s_suppkey").as("a_key"), col("s_name").as("a_name"))
        val b = supplier(s, d)
          .select(col("s_suppkey").as("b_key"), col("s_name").as("b_name"))
        graft.operators.BandedRangeJoin
          .joinWithinGap(a, b, "a_key", "b_key", 20L)
          .filter(col("a_key") < col("b_key"))
          .select(col("a_key"), col("b_key"),
            levenshtein(col("a_name"), col("b_name")).as("edit_dist"))
          .filter(col("edit_dist") <= 1)
          .orderBy("a_key", "b_key")
      },
      Some("""SELECT a.s_suppkey AS a_key, b.s_suppkey AS b_key,
             |  CAST(levenshtein(a.s_name, b.s_name) AS INTEGER)
             |    AS edit_dist
             |FROM supplier a JOIN supplier b
             |  ON a.s_suppkey < b.s_suppkey
             |  AND b.s_suppkey - a.s_suppkey <= 20
             |WHERE levenshtein(a.s_name, b.s_name) <= 1
             |ORDER BY a_key, b_key""".stripMargin)),

    // Padding / printf formatting: fixed-width key rendering (the
    // file-name and partition-label generator's string toolkit).
    QueryDef(
      "q127_pad_format",
      (s, d) =>
        orders(s, d)
          .select(col("o_orderkey"),
            lpad(col("o_orderkey").cast("string"), 10, "0").as("padded"),
            format_string("ord-%07d-%s", col("o_orderkey"),
              col("o_orderstatus")).as("label"),
            rpad(col("o_orderstatus"), 4, ".").as("status_cell"))
          .orderBy("o_orderkey"),
      Some("""SELECT o_orderkey,
             |  lpad(CAST(o_orderkey AS VARCHAR), 10, '0') AS padded,
             |  printf('ord-%07d-%s', o_orderkey, o_orderstatus) AS label,
             |  rpad(o_orderstatus, 4, '.') AS status_cell
             |FROM orders ORDER BY o_orderkey""".stripMargin)),

    // Array set algebra on token arrays: stopword intersection /
    // removal with sorted, deduplicated results (both engines' raw
    // set-op element order differs — sorting makes the op portable).
    // stop_hits is rendered comma-joined (oracle harness can't hash
    // array cells); DuckDB's array_to_string yields NULL for an empty
    // list where Spark's concat_ws yields '' — COALESCE aligns them
    // (the empty intersection is a live case here).
    QueryDef(
      "q128_array_setops",
      (s, d) => {
        val stop = array(lit("the"), lit("a"), lit("and"))
        val ws = graft.functions.TextFunctions.words(col("text"))
        documents(s, d)
          .select(col("doc_id"),
            concat_ws(",", array_sort(array_intersect(ws, stop)))
              .as("stop_hits"),
            size(array_sort(array_except(ws, stop))).as("n_content_toks"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id,
             |  COALESCE(array_to_string(
             |    list_sort(list_intersect(string_split(text, ' '),
             |      ['the', 'a', 'and'])), ','), '') AS stop_hits,
             |  CAST(len(list_filter(list_distinct(string_split(text, ' ')),
             |    w -> NOT list_contains(['the', 'a', 'and'], w)))
             |    AS INTEGER) AS n_content_toks
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // Recursive CTE (Spark 4's WITH RECURSIVE): walk the implicit
    // binary-heap hierarchy (parent = key DIV 2) from the root and
    // profile the tree by depth — the transitive-closure /
    // bill-of-materials shape. Each recursion level is one join
    // against the accumulated frontier; acyclic by construction.
    QueryDef(
      "q138_recursive_cte",
      (s, d) => {
        part(s, d).createOrReplaceTempView("part")
        s.sql("""WITH RECURSIVE tree AS (
                |  SELECT CAST(1 AS BIGINT) AS p_partkey, 0 AS depth
                |  UNION ALL
                |  SELECT p.p_partkey, t.depth + 1
                |  FROM part p JOIN tree t ON p.p_partkey DIV 2 = t.p_partkey
                |  WHERE p.p_partkey > 1)
                |SELECT depth, COUNT(*) AS n_parts,
                |  CAST(MIN(p_partkey) AS BIGINT) AS first_key,
                |  CAST(MAX(p_partkey) AS BIGINT) AS last_key
                |FROM tree GROUP BY depth ORDER BY depth""".stripMargin)
      },
      Some("""WITH RECURSIVE tree AS (
             |  SELECT CAST(1 AS BIGINT) AS p_partkey, 0 AS depth
             |  UNION ALL
             |  SELECT p.p_partkey, t.depth + 1
             |  FROM part p JOIN tree t ON p.p_partkey // 2 = t.p_partkey
             |  WHERE p.p_partkey > 1)
             |SELECT depth, COUNT(*) AS n_parts,
             |  CAST(MIN(p_partkey) AS BIGINT) AS first_key,
             |  CAST(MAX(p_partkey) AS BIGINT) AS last_key
             |FROM tree GROUP BY depth ORDER BY depth""".stripMargin)),

    // Null-preserving generator (explode_outer): documents with no
    // matching tokens keep one NULL row instead of vanishing — the
    // LEFT-JOIN-shaped flatten a report needs when absence is itself
    // the signal. DuckDB spells it by substituting [NULL] for the
    // empty list before unnest.
    QueryDef(
      "q139_explode_outer",
      (s, d) => {
        val ws = graft.functions.TextFunctions.words(col("text"))
        documents(s, d)
          .select(col("doc_id"),
            explode_outer(filter(ws, w => w.startsWith("du")))
              .as("du_token"))
          .orderBy(col("doc_id"), col("du_token").asc_nulls_first)
      },
      Some("""SELECT doc_id, unnest(
             |    CASE WHEN len(dl) = 0 THEN [NULL] ELSE dl END) AS du_token
             |FROM (
             |  SELECT doc_id, list_filter(string_split(text, ' '),
             |    w -> w LIKE 'du%') AS dl
             |  FROM documents)
             |ORDER BY doc_id, du_token NULLS FIRST""".stripMargin)),

    // Relational division ("for ALL" quantification): customers with
    // at least one order in EVERY year of the 1995-2000 window, via
    // division-by-counting — distinct-count equals the divisor
    // cardinality. No double negation, one distinct agg.
    QueryDef(
      "q144_relational_division",
      (s, d) =>
        orders(s, d)
          .filter(col("o_orderdate") >= "1995-01-01" &&
            col("o_orderdate") < "2001-01-01")
          .groupBy("o_custkey")
          .agg(count_distinct(year(col("o_orderdate"))).as("n_years"),
            count(lit(1)).as("n_orders"))
          .filter(col("n_years") === 6)
          .orderBy("o_custkey"),
      Some("""SELECT o_custkey,
             |  COUNT(DISTINCT year(o_orderdate)) AS n_years,
             |  COUNT(*) AS n_orders
             |FROM orders
             |WHERE o_orderdate >= '1995-01-01'
             |  AND o_orderdate < '2001-01-01'
             |GROUP BY o_custkey
             |HAVING COUNT(DISTINCT year(o_orderdate)) = 6
             |ORDER BY o_custkey""".stripMargin)),

    // Schema-aligned union (UNION BY NAME): branches project the same
    // columns in DIFFERENT order and still align by name — the
    // multi-source ingestion union where physical column order is
    // never trustworthy.
    QueryDef(
      "q145_union_by_name",
      (s, d) => {
        val a = customer(s, d)
          .filter(col("c_mktsegment") === "BUILDING")
          .select(col("c_custkey").as("id"), col("c_acctbal").as("bal"),
            lit("building").as("src"))
        val b = customer(s, d)
          .filter(col("c_acctbal") > 9000.0)
          .select(lit("highbal").as("src"), col("c_acctbal").as("bal"),
            col("c_custkey").as("id"))
        a.unionByName(b)
          .groupBy("id")
          .agg(count(lit(1)).as("n_branches"),
            concat_ws(",", array_sort(collect_list(col("src"))))
              .as("srcs"))
          .orderBy("id")
      },
      Some("""SELECT id, COUNT(*) AS n_branches,
             |  string_agg(src, ',' ORDER BY src) AS srcs
             |FROM (
             |  SELECT c_custkey AS id, c_acctbal AS bal,
             |    'building' AS src
             |  FROM customer WHERE c_mktsegment = 'BUILDING'
             |  UNION ALL BY NAME
             |  SELECT 'highbal' AS src, c_acctbal AS bal,
             |    c_custkey AS id
             |  FROM customer WHERE c_acctbal > 9000.0)
             |GROUP BY id ORDER BY id""".stripMargin)),

    // 2-D equi-width histogram (the heatmap/profile primitive): orders
    // binned by (price band × order month), count + exact revenue per
    // cell. Bins are explicit integer arithmetic — floor of a single
    // IEEE division, clamped — rather than width_bucket, so both
    // engines compute identical cells from identical doubles. One
    // hash-agg over ≤ 10×12 cells: fully map-side-combined, no sort,
    // no skew (cells are the agg keys, not the data).
    QueryDef(
      "q159_hist2d",
      (s, d) =>
        orders(s, d)
          .select(
            least(lit(9L), floor(col("o_totalprice") / lit(50000.0))
              .cast("long")).as("price_bin"),
            month(col("o_orderdate")).as("mon"),
            col("o_totalprice"))
          .groupBy("price_bin", "mon")
          .agg(count(lit(1)).as("n"),
            dsum(col("o_totalprice")).as("revenue"))
          .orderBy("price_bin", "mon"),
      Some(s"""SELECT least(9, CAST(floor(o_totalprice / 50000.0)
              |    AS BIGINT)) AS price_bin,
              |  CAST(month(o_orderdate) AS INTEGER) AS mon, COUNT(*) AS n,
              |  ${sqlDsum("o_totalprice")} AS revenue
              |FROM orders
              |GROUP BY 1, 2
              |ORDER BY price_bin, mon""".stripMargin))
  )
}

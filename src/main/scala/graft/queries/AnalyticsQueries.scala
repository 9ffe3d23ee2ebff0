package graft.queries

import graft.Tables._
import graft.functions.TextFunctions.words
import org.apache.spark.sql.functions._

/** Statistical-analytics operator coverage: exact-arithmetic
  * correlation/regression, Kneser-Ney-style continuation counts,
  * lexical-diversity scoring, and robust (median/MAD) outlier
  * detection.
  *
  * Determinism strategy (SURVEY.md §7.6): every aggregate feeding a
  * double formula is either an exact integer count or an
  * [[Exact.dsum]] (order-independent DECIMAL accumulation rounded at
  * scale 2), and the downstream double arithmetic is spelled with the
  * IDENTICAL expression tree in Spark and DuckDB — each IEEE op is
  * correctly rounded, so identical inputs + identical trees give
  * bit-identical outputs regardless of partitioning.
  */
object AnalyticsQueries {
  import Exact._

  val all: Seq[QueryDef] = Seq(

    // Exact Pearson correlation + OLS fit per group. Neither engine's
    // built-in corr()/regr_slope() is reproducible under reordering
    // (their one-pass co-moment updates are order-dependent in the
    // last ulps), so both sides are built from the five exact power
    // sums — one hash-agg pass over the fact table, O(groups) state,
    // embarrassingly scalable. Reference analog: the metric/score
    // aggregations of SURVEY §2.4 taken to model-fitting form.
    QueryDef(
      "q161_exact_corr",
      (s, d) => {
        val x = col("l_quantity")
        val y = col("l_extendedprice")
        val sums = lineitem(s, d)
          .groupBy("l_returnflag")
          .agg(count(lit(1)).as("n"),
            dsum(x).as("sx"), dsum(y).as("sy"),
            dsum(x * x).as("sxx"), dsum(y * y).as("syy"),
            dsum(x * y).as("sxy"))
        val n = col("n")
        val slope = (n * col("sxy") - col("sx") * col("sy")) /
          (n * col("sxx") - col("sx") * col("sx"))
        sums
          .select(col("l_returnflag"), n, col("sx"), col("sy"),
            col("sxx"), col("syy"), col("sxy"), slope.as("slope"))
          .select(col("l_returnflag"), n, col("slope"),
            ((col("sy") - col("slope") * col("sx")) / n).as("intercept"),
            ((n * col("sxy") - col("sx") * col("sy")) /
              (sqrt(n * col("sxx") - col("sx") * col("sx")) *
                sqrt(n * col("syy") - col("sy") * col("sy")))).as("r"))
          .orderBy("l_returnflag")
      },
      Some(s"""WITH sums AS (
              |  SELECT l_returnflag, COUNT(*) AS n,
              |    ${sqlDsum("l_quantity")} AS sx,
              |    ${sqlDsum("l_extendedprice")} AS sy,
              |    ${sqlDsum("l_quantity * l_quantity")} AS sxx,
              |    ${sqlDsum("l_extendedprice * l_extendedprice")} AS syy,
              |    ${sqlDsum("l_quantity * l_extendedprice")} AS sxy
              |  FROM lineitem GROUP BY l_returnflag
              |), fit AS (
              |  SELECT l_returnflag, n, sx, sy, sxx, syy, sxy,
              |    (n * sxy - sx * sy) / (n * sxx - sx * sx) AS slope
              |  FROM sums
              |)
              |SELECT l_returnflag, n, slope,
              |  (sy - slope * sx) / n AS intercept,
              |  (n * sxy - sx * sy) /
              |    (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)) AS r
              |FROM fit ORDER BY l_returnflag""".stripMargin)),

    // Kneser-Ney continuation statistics — the count tables a KenLM
    // style n-gram LM build needs: for each word, how many DISTINCT
    // left contexts precede it (N1+(·w), the KN unigram numerator),
    // how many distinct right contexts follow it, and the continuation
    // probability N1+(·w) / |distinct bigrams|. Bigrams are built
    // map-side with zip_with over offset slices (zero shuffle before
    // the agg, same shape as q97); the global bigram-type count is a
    // 1-row broadcast. At 100 TB: two hash aggs over the bigram
    // stream + a vocabulary-sized full-outer join — all linear.
    QueryDef(
      "q162_kn_continuation",
      (s, d) => {
        val ws = words(col("text"))
        val bigrams = zip_with(
          slice(ws, lit(1), size(ws) - 1),
          slice(ws, lit(2), size(ws) - 1),
          (a, b) => concat(a, lit(" "), b))
        val pr = documents(s, d)
          .filter(size(ws) >= 2)
          .select(explode(bigrams).as("bg"))
          .select(substring_index(col("bg"), " ", 1).as("lhs"),
            substring_index(col("bg"), " ", -1).as("rhs"))
        val left = pr.groupBy(col("rhs").as("word"))
          .agg(count_distinct(col("lhs")).as("n_left_types"),
            count(lit(1)).as("n_as_rhs"))
        val right = pr.groupBy(col("lhs").as("word"))
          .agg(count_distinct(col("rhs")).as("n_right_types"))
        val tot = pr.agg(
          count_distinct(col("lhs"), col("rhs")).as("n_bigram_types"))
        left.join(right, Seq("word"), "full_outer")
          .crossJoin(broadcast(tot))
          .select(col("word"),
            coalesce(col("n_left_types"), lit(0L)).as("n_left_types"),
            coalesce(col("n_as_rhs"), lit(0L)).as("n_as_rhs"),
            coalesce(col("n_right_types"), lit(0L)).as("n_right_types"),
            (coalesce(col("n_left_types"), lit(0L)).cast("double") /
              col("n_bigram_types")).as("p_continuation"))
          .orderBy("word")
      },
      Some("""WITH w AS (
             |  SELECT string_split(text, ' ') AS ws FROM documents
             |  WHERE len(string_split(text, ' ')) >= 2
             |), pr AS (
             |  SELECT split_part(bg, ' ', 1) AS lhs,
             |         split_part(bg, ' ', 2) AS rhs
             |  FROM (SELECT unnest(list_transform(range(1, len(ws)),
             |          i -> ws[i] || ' ' || ws[i+1])) AS bg FROM w)
             |), l AS (
             |  SELECT rhs AS word, COUNT(DISTINCT lhs) AS n_left_types,
             |    COUNT(*) AS n_as_rhs
             |  FROM pr GROUP BY rhs
             |), r AS (
             |  SELECT lhs AS word, COUNT(DISTINCT rhs) AS n_right_types
             |  FROM pr GROUP BY lhs
             |), tot AS (
             |  SELECT COUNT(DISTINCT lhs || ' ' || rhs) AS n_bigram_types
             |  FROM pr
             |)
             |SELECT word,
             |  coalesce(n_left_types, 0) AS n_left_types,
             |  coalesce(n_as_rhs, 0) AS n_as_rhs,
             |  coalesce(n_right_types, 0) AS n_right_types,
             |  CAST(coalesce(n_left_types, 0) AS DOUBLE) / n_bigram_types
             |    AS p_continuation
             |FROM l FULL JOIN r USING (word) CROSS JOIN tot
             |ORDER BY word""".stripMargin)),

    // Per-document lexical diversity — the quality-filter signals a
    // pretraining pipeline cuts on beside q35/q78: type-token ratio
    // and token-level Gini impurity (1 − Σc²/n²). Gini is the
    // RATIONAL diversity measure: unlike Shannon entropy it needs no
    // log(), so it is exactly reproducible from integer counts (no
    // libm divergence between engines). Two hash aggs, linear at any
    // scale.
    QueryDef(
      "q163_lexical_diversity",
      (s, d) => {
        val tf = documents(s, d)
          .select(col("doc_id"), explode(words(col("text"))).as("tok"))
          .groupBy("doc_id", "tok")
          .agg(count(lit(1)).as("c"))
        tf.groupBy("doc_id")
          .agg(sum(col("c")).as("n_tokens"),
            count(lit(1)).as("n_types"),
            sum(col("c") * col("c")).as("sum_c2"))
          .select(col("doc_id"), col("n_tokens"), col("n_types"),
            (col("n_types").cast("double") / col("n_tokens")).as("ttr"),
            (lit(1.0) - col("sum_c2").cast("double") /
              (col("n_tokens").cast("double") * col("n_tokens"))).as("gini"))
          .orderBy("doc_id")
      },
      Some("""WITH tf AS (
             |  SELECT doc_id, w AS tok, COUNT(*) AS c
             |  FROM documents,
             |    LATERAL unnest(string_split(text, ' ')) AS u(w)
             |  GROUP BY doc_id, w
             |), agg AS (
             |  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
             |    COUNT(*) AS n_types,
             |    SUM(c * c) AS sum_c2
             |  FROM tf GROUP BY doc_id
             |)
             |SELECT doc_id, n_tokens, n_types,
             |  CAST(n_types AS DOUBLE) / n_tokens AS ttr,
             |  1.0 - CAST(sum_c2 AS DOUBLE) /
             |    (CAST(n_tokens AS DOUBLE) * n_tokens) AS gini
             |FROM agg ORDER BY doc_id""".stripMargin)),

    // Robust outlier detection per event type: median / MAD (the
    // breakdown-point-0.5 alternative to mean ± k·σ, immune to the
    // outliers it hunts). Exact interpolated medians (q61 semantics,
    // bit-identical interpolation in both engines), medians broadcast
    // back (O(groups) rows), flag |v − med| > 3·MAD. Three linear
    // passes over the fact + two broadcast joins; the exact
    // percentile agg is sort-based per group — at 100 TB swap in
    // approx_percentile or a t-digest if groups are huge, noted here
    // as the documented trade.
    QueryDef(
      "q164_mad_outliers",
      (s, d) => {
        val ev = events(s, d)
        val med = ev.groupBy("event_type")
          .agg(percentile(col("value"), lit(0.5)).as("med"))
        val ad = ev.join(broadcast(med), "event_type")
          .withColumn("ad", abs(col("value") - col("med")))
        val mad = ad.groupBy("event_type", "med")
          .agg(percentile(col("ad"), lit(0.5)).as("mad"))
        ev.join(broadcast(mad), "event_type")
          .groupBy("event_type", "med", "mad")
          .agg(count(lit(1)).as("n"),
            sum(when(abs(col("value") - col("med")) > lit(3) * col("mad"),
              1L).otherwise(0L)).as("n_outliers"))
          .orderBy("event_type")
      },
      Some("""WITH med AS (
             |  SELECT event_type,
             |    percentile_cont(0.5) WITHIN GROUP (ORDER BY value) AS med
             |  FROM events GROUP BY event_type
             |), ad AS (
             |  SELECT e.event_type, med, abs(value - med) AS ad
             |  FROM events e JOIN med USING (event_type)
             |), mad AS (
             |  SELECT event_type, med,
             |    percentile_cont(0.5) WITHIN GROUP (ORDER BY ad) AS mad
             |  FROM ad GROUP BY event_type, med
             |)
             |SELECT e.event_type, med, mad, COUNT(*) AS n,
             |  CAST(SUM(CASE WHEN abs(value - med) > 3 * mad
             |      THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
             |FROM events e JOIN mad USING (event_type)
             |GROUP BY e.event_type, med, mad
             |ORDER BY event_type""".stripMargin)),

    // Rolling 7-day distinct users per day. COUNT(DISTINCT) over a
    // RANGE window is unsupported in Spark (and quadratic where it
    // exists), so the scale-correct rewrite is contribute-and-agg:
    // each event EXPLODES map-side into the 7 daily windows it
    // contributes to (sequence(), no join condition at all), an
    // EQUI broadcast join against the distinct-day dim keeps only
    // real days, then one hash-agg per window_day counts distinct
    // users — linear in events × 7, one keyed shuffle. The naive
    // range-condition join plans as a nested loop (events × days
    // comparisons) — plan-audited away; the oracle spells the same
    // contribution relationally.
    QueryDef(
      "q168_rolling_distinct",
      (s, d) => {
        val ev = events(s, d)
          .select(to_date(col("ts")).as("day"), col("user_id"))
        val days = ev.select(col("day").as("window_day")).distinct()
        ev.select(col("user_id"),
            explode(expr("sequence(day, date_add(day, 6), interval 1 day)"))
              .as("window_day"))
          .join(broadcast(days), "window_day")
          .groupBy("window_day")
          .agg(count_distinct(col("user_id")).as("active_users_7d"),
            count(lit(1)).as("contributing_events"))
          .orderBy("window_day")
      },
      Some("""WITH ev AS (
             |  SELECT CAST(ts AS DATE) AS day, user_id FROM events
             |), days AS (
             |  SELECT DISTINCT day AS window_day FROM ev
             |)
             |SELECT window_day,
             |  COUNT(DISTINCT user_id) AS active_users_7d,
             |  COUNT(*) AS contributing_events
             |FROM ev JOIN days
             |  ON window_day >= day AND window_day <= day + 6
             |GROUP BY window_day ORDER BY window_day""".stripMargin)),

    // Event-type co-occurrence lift (market-basket association on
    // user baskets): for each unordered type pair, lift =
    // n·n_ab / (n_a·n_b) over per-user distinct type sets. All
    // counts are exact integers and lift is ONE double division of
    // integer products (< 2^53, so both engines' conversions are
    // exact) — no log-based PMI, no libm. The pair join explodes
    // per-user sets (≤ |types|² per user, bounded), never the event
    // stream.
    QueryDef(
      "q169_cooccurrence_lift",
      (s, d) => {
        val ev = events(s, d)
        val userTypes = ev.select("user_id", "event_type").distinct()
        val nUsers = ev.select("user_id").distinct()
          .agg(count(lit(1)).as("n_users"))
        val typeCounts = userTypes.groupBy("event_type")
          .agg(count(lit(1)).as("n_t"))
        val a = userTypes.select(col("user_id"),
          col("event_type").as("type_a"))
        val b = userTypes.select(col("user_id"),
          col("event_type").as("type_b"))
        val pairs = a.join(b, "user_id")
          .filter(col("type_a") < col("type_b"))
          .groupBy("type_a", "type_b")
          .agg(count(lit(1)).as("n_ab"))
        pairs
          .join(typeCounts.select(col("event_type").as("type_a"),
            col("n_t").as("n_a")), "type_a")
          .join(typeCounts.select(col("event_type").as("type_b"),
            col("n_t").as("n_b")), "type_b")
          .crossJoin(broadcast(nUsers))
          .select(col("type_a"), col("type_b"), col("n_ab"),
            ((col("n_users") * col("n_ab")).cast("double") /
              (col("n_a") * col("n_b")).cast("double")).as("lift"))
          .orderBy("type_a", "type_b")
      },
      Some("""WITH ut AS (
             |  SELECT DISTINCT user_id, event_type FROM events
             |), tc AS (
             |  SELECT event_type, COUNT(*) AS n_t FROM ut GROUP BY 1
             |), nu AS (
             |  SELECT COUNT(DISTINCT user_id) AS n_users FROM events
             |), pairs AS (
             |  SELECT a.event_type AS type_a, b.event_type AS type_b,
             |    COUNT(*) AS n_ab
             |  FROM ut a JOIN ut b ON a.user_id = b.user_id
             |    AND a.event_type < b.event_type
             |  GROUP BY 1, 2
             |)
             |SELECT type_a, type_b, n_ab,
             |  CAST(n_users * n_ab AS DOUBLE) /
             |    CAST(ta.n_t * tb.n_t AS DOUBLE) AS lift
             |FROM pairs
             |JOIN tc ta ON ta.event_type = type_a
             |JOIN tc tb ON tb.event_type = type_b
             |CROSS JOIN nu
             |ORDER BY type_a, type_b""".stripMargin)),

    // One-pass data profiling (the null/cardinality report every
    // intake pipeline runs before accepting a drop): per column,
    // null count and exact distinct count, computed in a SINGLE
    // hash-agg pass over the table (no per-column rescan) and
    // unpivoted to long form. The column list is driven off the
    // DataFrame schema — the operator profiles ANY table; the oracle
    // pins the orders instance.
    QueryDef(
      "q170_profile",
      (s, d) => {
        val df = orders(s, d)
        val cols = df.columns.toSeq
        val aggs = cols.flatMap { c =>
          Seq(sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"__null_$c"),
            count_distinct(col(c)).as(s"__dist_$c"))
        }
        val wide = df.agg(aggs.head, aggs.tail: _*)
        val stacked = cols.map { c =>
          struct(lit(c).as("column_name"),
            col(s"__null_$c").as("n_null"),
            col(s"__dist_$c").as("n_distinct"))
        }
        wide.select(explode(array(stacked: _*)).as("p"))
          .select(col("p.column_name"), col("p.n_null"),
            col("p.n_distinct"))
          .orderBy("column_name")
      },
      Some("""SELECT column_name, n_null, n_distinct FROM (
             |  SELECT 'o_orderkey' AS column_name,
             |    COUNT(*) - COUNT(o_orderkey) AS n_null,
             |    COUNT(DISTINCT o_orderkey) AS n_distinct FROM orders
             |  UNION ALL SELECT 'o_custkey',
             |    COUNT(*) - COUNT(o_custkey),
             |    COUNT(DISTINCT o_custkey) FROM orders
             |  UNION ALL SELECT 'o_orderstatus',
             |    COUNT(*) - COUNT(o_orderstatus),
             |    COUNT(DISTINCT o_orderstatus) FROM orders
             |  UNION ALL SELECT 'o_totalprice',
             |    COUNT(*) - COUNT(o_totalprice),
             |    COUNT(DISTINCT o_totalprice) FROM orders
             |  UNION ALL SELECT 'o_orderdate',
             |    COUNT(*) - COUNT(o_orderdate),
             |    COUNT(DISTINCT o_orderdate) FROM orders
             |  UNION ALL SELECT 'o_orderpriority',
             |    COUNT(*) - COUNT(o_orderpriority),
             |    COUNT(DISTINCT o_orderpriority) FROM orders)
             |ORDER BY column_name""".stripMargin)),

    // Behavioral Markov transition matrix: per-user event sequences
    // (total-ordered by ts, event_id), adjacent pairs via ONE lead
    // window — a single keyed shuffle, no self-join on the event
    // stream — then transition probabilities as count ratios
    // (exact-integer division, cross-engine deterministic). The
    // sequence-model analog of q97's text bigrams.
    QueryDef(
      "q173_transition_matrix",
      (s, d) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("user_id").orderBy(col("ts").asc,
            col("event_id").asc)
        val pairs = events(s, d)
          .select(col("user_id"), col("event_type").as("from_type"),
            lead(col("event_type"), 1).over(w).as("to_type"))
          .filter(col("to_type").isNotNull)
        val fromTotals = pairs.groupBy("from_type")
          .agg(count(lit(1)).as("n_from"))
        pairs.groupBy("from_type", "to_type")
          .agg(count(lit(1)).as("n"))
          .join(broadcast(fromTotals), "from_type")
          .select(col("from_type"), col("to_type"), col("n"),
            (col("n").cast("double") / col("n_from")).as("p"))
          .orderBy("from_type", "to_type")
      },
      Some("""WITH pairs AS (
             |  SELECT user_id, event_type AS from_type,
             |    lead(event_type, 1) OVER (PARTITION BY user_id
             |      ORDER BY ts ASC, event_id ASC) AS to_type
             |  FROM events
             |), pr AS (SELECT * FROM pairs WHERE to_type IS NOT NULL),
             |ft AS (
             |  SELECT from_type, COUNT(*) AS n_from FROM pr GROUP BY 1
             |)
             |SELECT from_type, to_type, COUNT(*) AS n,
             |  CAST(COUNT(*) AS DOUBLE) / n_from AS p
             |FROM pr JOIN ft USING (from_type)
             |GROUP BY from_type, to_type, n_from
             |ORDER BY from_type, to_type""".stripMargin)),

    // Benford first-digit audit — the classic fabricated-data check:
    // leading-digit counts of o_totalprice vs the Benford expectation.
    // The digit comes from bounded INTEGER division (no log10, no
    // double→string formatting — both engine-divergent); the Benford
    // probabilities are shared literals, so the chi-square terms are
    // identical double arithmetic on identical inputs. One hash-agg
    // pass.
    QueryDef(
      "q174_benford",
      (s, d) => {
        val benford = Seq(0.30103, 0.17609, 0.12494, 0.09691, 0.07918,
          0.06695, 0.05799, 0.05115, 0.04576)
        val x = "CAST(floor(o_totalprice) AS BIGINT)"
        val digit = expr(s"""CASE
          WHEN $x >= 100000 THEN $x DIV 100000
          WHEN $x >= 10000 THEN $x DIV 10000
          WHEN $x >= 1000 THEN $x DIV 1000
          WHEN $x >= 100 THEN $x DIV 100
          WHEN $x >= 10 THEN $x DIV 10
          ELSE $x END""")
        val pExpr = benford.zipWithIndex.foldLeft(lit(0.0)) {
          case (acc, (p, i)) =>
            when(col("digit") === (i + 1), p).otherwise(acc)
        }
        val counted = orders(s, d)
          .select(digit.as("digit"))
          .groupBy("digit")
          .agg(count(lit(1)).as("n_obs"))
        counted
          .crossJoin(broadcast(
            orders(s, d).agg(count(lit(1)).as("n_total"))))
          .select(col("digit"), col("n_obs"),
            (col("n_obs").cast("double") / col("n_total")).as("freq"),
            pExpr.as("benford_p"),
            (((col("n_obs").cast("double") -
              col("n_total") * pExpr) *
              (col("n_obs").cast("double") - col("n_total") * pExpr)) /
              (col("n_total") * pExpr)).as("chi2_term"))
          .orderBy("digit")
      },
      Some {
        val x = "CAST(floor(o_totalprice) AS BIGINT)"
        val ps = Seq(0.30103, 0.17609, 0.12494, 0.09691, 0.07918,
          0.06695, 0.05799, 0.05115, 0.04576)
        val pCase = ps.zipWithIndex
          .map { case (p, i) =>
            s"WHEN digit = ${i + 1} THEN CAST($p AS DOUBLE)" }
          .mkString("CASE ", " ", " ELSE CAST(0.0 AS DOUBLE) END")
        s"""WITH dg AS (
           |  SELECT CASE
           |    WHEN $x >= 100000 THEN $x // 100000
           |    WHEN $x >= 10000 THEN $x // 10000
           |    WHEN $x >= 1000 THEN $x // 1000
           |    WHEN $x >= 100 THEN $x // 100
           |    WHEN $x >= 10 THEN $x // 10
           |    ELSE $x END AS digit
           |  FROM orders
           |), counted AS (
           |  SELECT digit, COUNT(*) AS n_obs FROM dg GROUP BY digit
           |), tot AS (SELECT COUNT(*) AS n_total FROM orders)
           |SELECT digit, n_obs,
           |  CAST(n_obs AS DOUBLE) / n_total AS freq,
           |  $pCase AS benford_p,
           |  ((CAST(n_obs AS DOUBLE) - n_total * ($pCase)) *
           |   (CAST(n_obs AS DOUBLE) - n_total * ($pCase))) /
           |    (n_total * ($pCase)) AS chi2_term
           |FROM counted CROSS JOIN tot
           |ORDER BY digit""".stripMargin
      }),

    // Algebraic incremental-aggregate maintenance: the nightly-refresh
    // pattern where yesterday's aggregate table absorbs today's delta
    // WITHOUT rescanning history. Partials stay UNROUNDED
    // DECIMAL(38,12) (exact, associative), the merge is a
    // vocabulary-sized full-outer join + decimal add, and rounding
    // happens once at the end — so merged(old, delta) is provably the
    // monolithic aggregate: the oracle computes the single-pass form
    // and the hashes must collide. At 100 TB the delta pass reads one
    // partition, not the table.
    QueryDef(
      "q175_incremental_agg",
      (s, d) => {
        val cutoff = "1997-01-01"
        def partial(df: org.apache.spark.sql.DataFrame) = df
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n"),
            sum(col("o_totalprice").cast(Dec)).as("s"))
        val old = partial(orders(s, d)
          .filter(col("o_orderdate") < cutoff))
          .select(col("o_orderpriority"), col("n").as("n_old"),
            col("s").as("s_old"))
        val delta = partial(orders(s, d)
          .filter(col("o_orderdate") >= cutoff))
          .select(col("o_orderpriority"), col("n").as("n_new"),
            col("s").as("s_new"))
        old.join(delta, Seq("o_orderpriority"), "full_outer")
          .select(col("o_orderpriority"),
            (coalesce(col("n_old"), lit(0L)) +
              coalesce(col("n_new"), lit(0L))).as("n_orders"),
            (coalesce(col("s_old"), lit(0).cast(Dec)) +
              coalesce(col("s_new"), lit(0).cast(Dec)))
              .cast(Dec2).cast("double").as("total_price"))
          .orderBy("o_orderpriority")
      },
      Some(s"""SELECT o_orderpriority, COUNT(*) AS n_orders,
              |  ${sqlDsum("o_totalprice")} AS total_price
              |FROM orders GROUP BY o_orderpriority
              |ORDER BY o_orderpriority""".stripMargin)),

    // Mergeable binned quantiles — the sketchable complement to the
    // exact-sort percentiles of q61: fixed-width bin counts are an
    // associative partial (bins merge by addition across partitions,
    // days, or clusters, exactly like the q175 incremental pattern),
    // and any quantile is then the first bin whose cumulative count
    // crosses q·n. One hash-agg over the fact table into O(bins)
    // state, an O(bins) window, never a corpus sort — at 100 TB the
    // full-sort percentile is a non-starter and THIS is the shape
    // that ships. All arithmetic is integral (cum·100 ≥ n·q avoids
    // double thresholds entirely), so the hash gate is exact.
    QueryDef(
      "q176_binned_quantiles",
      (s, d) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("l_returnflag")
        val binned = lineitem(s, d)
          .groupBy(col("l_returnflag"),
            floor(col("l_extendedprice") / 5000.0).as("bin"))
          .agg(count(lit(1)).as("cnt"))
        val cum = binned.select(col("l_returnflag"), col("bin"), col("cnt"),
          sum("cnt").over(w.orderBy("bin")).as("cum"),
          sum("cnt").over(w).as("n"))
        def pLo(pct: Int) =
          min(when(col("cum") * 100 >= col("n") * pct, col("bin"))) * 5000
        cum.groupBy("l_returnflag")
          .agg(max("n").as("n_rows"), pLo(50).as("p50_lo"),
            pLo(90).as("p90_lo"), pLo(99).as("p99_lo"))
          .orderBy("l_returnflag")
      },
      Some("""WITH b AS (
             |  SELECT l_returnflag,
             |    CAST(floor(l_extendedprice / 5000.0) AS BIGINT) AS bin,
             |    COUNT(*) AS cnt
             |  FROM lineitem GROUP BY 1, 2
             |), c AS (
             |  SELECT l_returnflag, bin, cnt,
             |    CAST(SUM(cnt) OVER (PARTITION BY l_returnflag
             |      ORDER BY bin) AS BIGINT) AS cum,
             |    CAST(SUM(cnt) OVER (PARTITION BY l_returnflag)
             |      AS BIGINT) AS n
             |  FROM b
             |)
             |SELECT l_returnflag, MAX(n) AS n_rows,
             |  MIN(CASE WHEN cum*100 >= n*50 THEN bin END)*5000 AS p50_lo,
             |  MIN(CASE WHEN cum*100 >= n*90 THEN bin END)*5000 AS p90_lo,
             |  MIN(CASE WHEN cum*100 >= n*99 THEN bin END)*5000 AS p99_lo
             |FROM c GROUP BY l_returnflag
             |ORDER BY l_returnflag""".stripMargin)),

    // Exact equi-depth histogram boundaries (ANALYZE-stats / CBO
    // histograms) via distributed rank selection — see
    // operators/RankSelect: a bin-count sketch locates each target
    // rank ⌈k·n/8⌉, then only boundary-bin rows are ranked. The
    // oracle is the definitionally-correct global sort (affordable at
    // oracle SF), so the hash gate proves the two-pass selection
    // picks the IDENTICAL rows a total order would.
    QueryDef(
      "q180_equidepth_histogram",
      (s, d) => graft.operators.RankSelect
        .quantileValues(
          lineitem(s, d)
            .select("l_extendedprice", "l_orderkey", "l_linenumber"),
          "l_extendedprice", Seq("l_orderkey", "l_linenumber"),
          buckets = 8, binWidth = 1000.0)
        .orderBy("bucket"),
      Some("""WITH ranked AS (
             |  SELECT l_extendedprice,
             |    row_number() OVER (ORDER BY l_extendedprice,
             |      l_orderkey, l_linenumber) AS rn,
             |    COUNT(*) OVER () AS n
             |  FROM lineitem
             |), ks AS (SELECT unnest(generate_series(1, 7)) AS k)
             |SELECT CAST(k AS INTEGER) AS bucket,
             |  CAST((k * n + 7) // 8 AS BIGINT) AS target_rank,
             |  l_extendedprice AS value
             |FROM ks JOIN ranked ON rn = (k * n + 7) // 8
             |ORDER BY bucket""".stripMargin)),

    // Gini concentration of customer revenue per market segment —
    // the inequality/skew diagnostic (the same statistic a corpus
    // pipeline runs on per-source token share before fixing mixture
    // weights). G = 2·Σ(i·xᵢ)/(n·Σxᵢ) − (n+1)/n with x ascending.
    // Per-customer revenue is an exact decimal sum; ranks come from
    // a total order (rev, custkey); Σxᵢ and Σ(i·xᵢ) stay DECIMAL
    // (exact, order-free) until one final cast, and the closing
    // double arithmetic is the identical tree in both engines. One
    // agg + one keyed window + one agg — no all-pairs anything.
    QueryDef(
      "q181_gini_concentration",
      (s, d) => {
        val rev = orders(s, d)
          .groupBy("o_custkey")
          .agg(sum(col("o_totalprice").cast(Dec)).cast(Dec2).as("rev"))
        val seg = rev.join(
          customer(s, d).select("c_custkey", "c_mktsegment"),
          col("c_custkey") === col("o_custkey"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("c_mktsegment")
          .orderBy(col("rev"), col("o_custkey"))
        val ranked = seg.withColumn("i", row_number().over(w))
        ranked.groupBy("c_mktsegment")
          .agg(count(lit(1)).as("n_cust"),
            sum(col("rev")).as("s0"),
            sum(col("rev") * col("i")).as("s1"))
          .select(col("c_mktsegment"), col("n_cust"),
            col("s0").cast("double").as("total_rev"),
            (lit(2.0) * col("s1").cast("double") /
              (col("n_cust") * col("s0").cast("double")) -
              (col("n_cust") + lit(1.0)) / col("n_cust")).as("gini"))
          .orderBy("c_mktsegment")
      },
      Some(s"""WITH rev AS (
              |  SELECT o_custkey,
              |    CAST(round(SUM(CAST(o_totalprice AS DECIMAL(38,12))),
              |      2) AS DECIMAL(38,2)) AS rev
              |  FROM orders GROUP BY o_custkey
              |), ranked AS (
              |  SELECT c_mktsegment, rev,
              |    row_number() OVER (PARTITION BY c_mktsegment
              |      ORDER BY rev, o_custkey) AS i
              |  FROM rev JOIN customer ON c_custkey = o_custkey
              |), g AS (
              |  SELECT c_mktsegment, COUNT(*) AS n_cust,
              |    SUM(rev) AS s0, SUM(rev * i) AS s1
              |  FROM ranked GROUP BY c_mktsegment
              |)
              |SELECT c_mktsegment, CAST(n_cust AS BIGINT) AS n_cust,
              |  CAST(s0 AS DOUBLE) AS total_rev,
              |  2.0 * CAST(s1 AS DOUBLE) /
              |    (n_cust * CAST(s0 AS DOUBLE)) -
              |    (n_cust + 1.0) / n_cust AS gini
              |FROM g ORDER BY c_mktsegment""".stripMargin)),

    // CUSUM change-point scan over the daily revenue series — the
    // classic drift detector (where did the level shift?): cumulative
    // deviation from the reference mean, peak |CUSUM| day flagged.
    // The whole statistic runs in INTEGER CENTS: daily revenue is an
    // exact decimal sum snapped to cents, the reference mean is the
    // floored cents mean, and the running sum + peak comparison are
    // pure long arithmetic — no engine-divergent rounding anywhere
    // (decimal scale-down rounds negatives differently in the two
    // engines, so the double formulation is a trap). The series is
    // O(days) AFTER one linear hash-agg, so the ordered window runs
    // on the sketch, never the fact table.
    QueryDef(
      "q184_cusum_changepoint",
      (s, d) => {
        val daily = orders(s, d)
          .groupBy(to_date(col("o_orderdate")).as("day"))
          .agg(dsum(col("o_totalprice")).as("rev"))
          .withColumn("rev_c", round(col("rev") * 100).cast("long"))
        val mean = daily.agg(
          expr("SUM(rev_c) DIV COUNT(1)").as("mu_c"))
        val wCum = org.apache.spark.sql.expressions.Window
          .orderBy("day")
          .rowsBetween(org.apache.spark.sql.expressions.Window
            .unboundedPreceding, 0)
        val wAll = org.apache.spark.sql.expressions.Window
          .partitionBy()
        daily.crossJoin(broadcast(mean))
          .withColumn("cusum_c",
            sum(col("rev_c") - col("mu_c")).over(wCum))
          .withColumn("is_peak",
            (abs(col("cusum_c")) === max(abs(col("cusum_c"))).over(wAll))
              .cast("int"))
          .select(col("day"), col("rev"),
            (col("cusum_c") / 100.0).as("cusum"), col("is_peak"))
          .orderBy("day")
      },
      Some(s"""WITH daily AS (
              |  SELECT CAST(o_orderdate AS DATE) AS day,
              |    ${sqlDsum("o_totalprice")} AS rev
              |  FROM orders GROUP BY 1
              |), dc AS (
              |  SELECT day, rev,
              |    CAST(round(rev * 100) AS BIGINT) AS rev_c
              |  FROM daily
              |), m AS (SELECT SUM(rev_c) // COUNT(*) AS mu_c FROM dc),
              |c AS (
              |  SELECT day, rev,
              |    CAST(SUM(rev_c - mu_c)
              |      OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING
              |        AND CURRENT ROW) AS BIGINT) AS cusum_c
              |  FROM dc CROSS JOIN m
              |)
              |SELECT day, rev, cusum_c / 100.0 AS cusum,
              |  CAST(abs(cusum_c) = MAX(abs(cusum_c)) OVER ()
              |    AS INTEGER) AS is_peak
              |FROM c ORDER BY day""".stripMargin)),

    // Day-of-week seasonality profile — the seasonal-index pass of a
    // classic decomposition: mean daily revenue per weekday over the
    // overall mean. The weekday comes from integral date arithmetic
    // (days since a known Monday, mod 7) — both engines' dayofweek()
    // disagree on numbering, date subtraction does not. All means are
    // exact-decimal davg; the index is one double division on
    // identical operands.
    QueryDef(
      "q185_dow_seasonality",
      (s, d) => {
        val daily = orders(s, d)
          .groupBy(to_date(col("o_orderdate")).as("day"))
          .agg(dsum(col("o_totalprice")).as("rev"))
        val overall = daily.agg(davg(col("rev")).as("mu"))
        daily
          // 1990-01-01 is a Monday and precedes every order date, so
          // the diff is non-negative and % agrees across engines
          .withColumn("dow",
            datediff(col("day"), lit("1990-01-01")) % 7)
          .groupBy("dow")
          .agg(count(lit(1)).as("n_days"), davg(col("rev")).as("mean_rev"))
          .crossJoin(broadcast(overall))
          .select(col("dow"), col("n_days"), col("mean_rev"),
            (col("mean_rev") / col("mu")).as("seasonal_idx"))
          .orderBy("dow")
      },
      Some(s"""WITH daily AS (
              |  SELECT CAST(o_orderdate AS DATE) AS day,
              |    ${sqlDsum("o_totalprice")} AS rev
              |  FROM orders GROUP BY 1
              |), m AS (SELECT ${sqlDavg("rev")} AS mu FROM daily)
              |SELECT CAST((day - DATE '1990-01-01') % 7 AS INTEGER)
              |    AS dow,
              |  COUNT(*) AS n_days,
              |  ${sqlDavg("rev")} AS mean_rev,
              |  ${sqlDavg("rev")} / MAX(mu) AS seasonal_idx
              |FROM daily CROSS JOIN m
              |GROUP BY 1 ORDER BY dow""".stripMargin)),

    // Shuffle-skew audit — the diagnostic a 100 TB pipeline runs on a
    // join/agg key BEFORE deciding between a plain shuffle, AQE skew
    // splitting, and explicit salting (operators/SkewJoin): per-key
    // group sizes, their exact p50/p99 (from the integer size
    // histogram — the q176 sketch, O(distinct sizes) state), the max,
    // and the hot key's share of all rows. Everything but the final
    // share ratio is integer arithmetic. Two linear hash-aggs; the
    // cumulative runs over the size histogram, never the keys.
    QueryDef(
      "q186_skew_audit",
      (s, d) => {
        val sizes = events(s, d)
          .groupBy("user_id").agg(count(lit(1)).as("n"))
        val hist = sizes.groupBy("n").agg(count(lit(1)).as("k"))
        val wc = org.apache.spark.sql.expressions.Window.orderBy("n")
        val wAll = org.apache.spark.sql.expressions.Window.partitionBy()
        val cum = hist
          .withColumn("cum", sum("k").over(wc))
          .withColumn("nk", max(col("cum")).over(wAll))
        val keyStats = cum.agg(
          max("cum").as("n_keys"),
          min(when(col("cum") * 2 >= col("nk"), col("n")))
            .as("p50_size"),
          min(when(col("cum") * 100 >= col("nk") * 99, col("n")))
            .as("p99_size"))
        keyStats.crossJoin(broadcast(sizes.agg(
          sum("n").as("total_rows"), max("n").as("max_size"))))
          .select(col("n_keys"), col("total_rows"), col("max_size"),
            col("p50_size"), col("p99_size"),
            (col("max_size").cast("double") / col("total_rows"))
              .as("top1_share"))
      },
      Some("""WITH sizes AS (
             |  SELECT user_id, COUNT(*) AS n FROM events GROUP BY user_id
             |), hist AS (
             |  SELECT n, COUNT(*) AS k FROM sizes GROUP BY n
             |), c AS (
             |  SELECT n, CAST(SUM(k) OVER (ORDER BY n) AS BIGINT) AS cum
             |  FROM hist
             |), ks AS (
             |  SELECT MAX(cum) AS n_keys,
             |    MIN(CASE WHEN cum * 2 >= (SELECT MAX(cum) FROM c)
             |      THEN n END) AS p50_size,
             |    MIN(CASE WHEN cum * 100 >= 99 * (SELECT MAX(cum) FROM c)
             |      THEN n END) AS p99_size
             |  FROM c
             |), tot AS (
             |  SELECT CAST(SUM(n) AS BIGINT) AS total_rows,
             |    MAX(n) AS max_size
             |  FROM sizes
             |)
             |SELECT n_keys, total_rows, max_size, p50_size, p99_size,
             |  CAST(max_size AS DOUBLE) / total_rows AS top1_share
             |FROM ks CROSS JOIN tot""".stripMargin)),

    // WEIGHTED quantiles from the same mergeable bin sketch as q176:
    // "the price below which half the REVENUE sits" (weighted median
    // and the revenue-weighted p90) per return flag — the
    // concentration statistic behind pricing and token-budget
    // analyses (where does the mass live, not the rows). Bin weights
    // are exact integer cents (decimal sum snapped once), the
    // cumulative runs over O(bins), and every threshold compare is
    // integral — no doubles until the reported bound.
    QueryDef(
      "q188_weighted_quantiles",
      (s, d) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("l_returnflag")
        val binned = lineitem(s, d)
          .groupBy(col("l_returnflag"),
            floor(col("l_extendedprice") / 5000.0).as("bin"))
          .agg(round(dsum(col("l_extendedprice")) * 100).cast("long")
            .as("w_c"))
        val cum = binned.select(col("l_returnflag"), col("bin"),
          sum("w_c").over(w.orderBy("bin")).as("cum"),
          sum("w_c").over(w).as("tot"))
        def wLo(pct: Int) =
          min(when(col("cum") * 100 >= col("tot") * pct, col("bin"))) * 5000
        cum.groupBy("l_returnflag")
          .agg((max("tot") / 100.0).as("total_rev"),
            wLo(50).as("wp50_lo"), wLo(90).as("wp90_lo"))
          .orderBy("l_returnflag")
      },
      Some(s"""WITH b AS (
              |  SELECT l_returnflag,
              |    CAST(floor(l_extendedprice / 5000.0) AS BIGINT) AS bin,
              |    CAST(round((${sqlDsum("l_extendedprice")}) * 100)
              |      AS BIGINT) AS w_c
              |  FROM lineitem GROUP BY l_returnflag, bin
              |), c AS (
              |  SELECT l_returnflag, bin,
              |    CAST(SUM(w_c) OVER (PARTITION BY l_returnflag
              |      ORDER BY bin) AS BIGINT) AS cum,
              |    CAST(SUM(w_c) OVER (PARTITION BY l_returnflag)
              |      AS BIGINT) AS tot
              |  FROM b
              |)
              |SELECT l_returnflag, MAX(tot) / 100.0 AS total_rev,
              |  MIN(CASE WHEN cum*100 >= tot*50 THEN bin END)*5000
              |    AS wp50_lo,
              |  MIN(CASE WHEN cum*100 >= tot*90 THEN bin END)*5000
              |    AS wp90_lo
              |FROM c GROUP BY l_returnflag
              |ORDER BY l_returnflag""".stripMargin)),

    // HITS authority scoring over the customer→supplier bipartite
    // graph — iterative graph analytics beyond q55's connected
    // components: hub(c) and auth(s) mutually reinforce over the
    // edge set for a FIXED 3 iterations with MAX (L∞) normalization
    // each round. Every per-node sum rides as scale-9 scaled longs
    // (the q183 trick — scores live in [0,1]) and the normalizing
    // division sees identical operands, so the scores hash-match;
    // the Spark loop and the DuckDB CTE chain are GENERATED from the
    // same iteration count, so the two engines cannot drift
    // structurally. MAX-normalization (not L1) is the 100 TB choice
    // twice over: per-node scores stay O(deg/max_deg) instead of
    // shrinking as 1/nodes (an L1-normalized corpus-scale graph
    // would quantize every score to 0 at any fixed scale), and the
    // normalizer is a MAX of longs — nothing scaled is ever summed
    // across the whole graph, so no overflow at any edge count.
    // Per iteration: two gather aggregations of the edge list
    // (degree-bounded, map-side partial agg, score joins broadcast),
    // folded into ONE materialization per round by
    // GraphPropagation.hits — and the final round stays lazy, so
    // this query never executes the last hub gather at all
    // (measured 4.3 → 3.6 s at sf0.1 on job count alone); O(nodes)
    // state — the standard scalable power-iteration shape.
    QueryDef(
      "q191_hits_authority",
      (s, d) => {
        // gather + scale-9 quantize + MAX-normalize + checkpoint all
        // live in operators.GraphPropagation (shared with q192's
        // PageRank) — see its Scaladoc for the 100 TB contract;
        // hits() checkpoints the edge copies, truncating the lineage
        // (the DedupClusters lesson). Edges come from the shared
        // csEdges store (one orders⋈lineitem distinct per dataset,
        // not per graph row).
        val edges = csEdges(s, d)
        val (_, auth) = graft.operators.GraphPropagation
          .hits(edges, "c", "sp", iters = 3)
        auth.select(col("sp").as("suppkey"), col("auth"))
          .orderBy(col("auth").desc, col("suppkey")).limit(10)
      },
      Some {
        val sb = new StringBuilder(
          s"""WITH edges AS (
             |  SELECT DISTINCT o_custkey AS c, l_suppkey AS sp
             |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
             |), hub0 AS (
             |  SELECT DISTINCT c, CAST(1.0 AS DOUBLE) AS hub FROM edges
             |)""".stripMargin)
        val s9 = (e: String) =>
          s"SUM(CAST(floor(($e) * 1000000000.0 + 0.5) AS BIGINT))"
        for (i <- 1 to 3) {
          sb.append(s""", araw$i AS (
             |  SELECT sp, ${s9("hub")} AS a6
             |  FROM edges JOIN hub${i - 1} USING (c) GROUP BY sp
             |), atot$i AS (SELECT MAX(a6) AS t6 FROM araw$i),
             |auth$i AS (
             |  SELECT sp, CAST(a6 AS DOUBLE) / t6 AS auth
             |  FROM araw$i CROSS JOIN atot$i
             |), hraw$i AS (
             |  SELECT c, ${s9("auth")} AS h6
             |  FROM edges JOIN auth$i USING (sp) GROUP BY c
             |), htot$i AS (SELECT MAX(h6) AS t6 FROM hraw$i),
             |hub$i AS (
             |  SELECT c, CAST(h6 AS DOUBLE) / t6 AS hub
             |  FROM hraw$i CROSS JOIN htot$i
             |)""".stripMargin)
        }
        sb.append("""
             |SELECT sp AS suppkey, auth FROM auth3
             |ORDER BY auth DESC, suppkey LIMIT 10""".stripMargin)
        sb.toString
      }),

    // PageRank over the same customer↔supplier graph, BIDIRECTED
    // (each edge plus its reverse — the undirected reading; no
    // dangling mass) with NUMERIC node ids (custkey·2 / suppkey·2+1
    // — parity-disjoint, so customer 5 and supplier 5 stay distinct
    // nodes while every join/agg keys on a long, not a string —
    // measured 8.0 → 3.2 s at sf0.1 together with the outdeg fold in
    // the operator). Second instantiation of
    // operators.GraphPropagation (q191 is the first): 3 iterations
    // of r' = 0.15 + 0.85·Σ_in r/outdeg in the ×N convention —
    // scores O(1) at any graph size, so the scale-9 quantization
    // never floors them (see the operator doc). The oracle CTE chain
    // is GENERATED from the same iteration count; teleport/damping
    // are spelled as the same literals on both sides (never 1−d:
    // double(1−0.85) ≠ double(0.15)).
    QueryDef(
      "q192_pagerank",
      (s, d) => {
        val e0 = csEdges(s, d)
          .select((col("c").cast("long") * 2).as("src"),
            (col("sp").cast("long") * 2 + 1).as("dst"))
        val edges = e0
          .unionByName(e0.select(col("dst").as("src"),
            col("src").as("dst")))
          .localCheckpoint(eager = false)
        graft.operators.GraphPropagation
          .pageRank(edges, "src", "dst", iters = 3)
          .orderBy(col("rank").desc, col("node")).limit(10)
      },
      Some {
        val sb = new StringBuilder(
          """WITH e0 AS (
            |  SELECT DISTINCT CAST(o_custkey AS BIGINT) * 2 AS src,
            |    CAST(l_suppkey AS BIGINT) * 2 + 1 AS dst
            |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
            |), edges AS (
            |  SELECT src, dst FROM e0
            |  UNION ALL SELECT dst AS src, src AS dst FROM e0
            |), nodes AS (
            |  SELECT src AS node FROM edges
            |  UNION SELECT dst FROM edges
            |), outdeg AS (
            |  SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY src
            |), r0 AS (
            |  SELECT node, CAST(1.0 AS DOUBLE) AS rank FROM nodes
            |)""".stripMargin)
        for (i <- 1 to 3) {
          sb.append(s""", c$i AS (
            |  SELECT src, rank / outdeg AS contrib
            |  FROM r${i - 1} JOIN outdeg ON node = src
            |), g$i AS (
            |  SELECT dst,
            |    SUM(CAST(floor(contrib * 1000000000.0 + 0.5)
            |      AS BIGINT)) AS s9
            |  FROM edges JOIN c$i USING (src) GROUP BY dst
            |), r$i AS (
            |  SELECT node, 0.15 + 0.85 *
            |    (CAST(COALESCE(s9, 0) AS DOUBLE) / 1000000000.0)
            |    AS rank
            |  FROM nodes LEFT JOIN g$i ON dst = node
            |)""".stripMargin)
        }
        sb.append("""
            |SELECT node, rank FROM r3
            |ORDER BY rank DESC, node LIMIT 10""".stripMargin)
        sb.toString
      }),

    // Triangle counting on the high-volume co-purchase graph (parts
    // co-occurring in an order with l_quantity ≥ 25), the third graph
    // workload after HITS (q191) and PageRank (q192). The classic
    // scale trap is the wedge join: joining edges on a shared vertex
    // enumerates Σ deg² wedges, which a few power-law hubs blow up
    // quadratically. The standard fix — degree orientation — is
    // applied here: every undirected edge is directed from its
    // (degree, id)-smaller endpoint to the larger, which bounds
    // out-degree by O(√m) (arboricity), cuts the wedge count ~14×
    // on this data (84 M → 6 M at sf0.1), and counts each triangle
    // exactly once (the wedge apex is the triangle's min-rank
    // vertex; the closing edge's own orientation deduplicates the
    // two wedge spellings). Edge building is per-order bounded
    // (≤ 13 items ⇒ ≤ 78 pairs); the quantity filter pushes to the
    // parquet scan. The oriented edge list is localCheckpoint'd
    // once (O(m) ints) because the triangle join reads it three
    // times; the degree join stays a shuffle join — deg is O(nodes)
    // and at 100 TB is NOT broadcastable.
    QueryDef(
      "q264_triangle_count",
      (s, d) => graft.operators.Triangles
        .perNode(coPurchaseEdges(s, d, minQty = 25))
        .select(col("node").as("partkey"), col("n_tri"))
        .orderBy(col("n_tri").desc, col("partkey").asc)
        .limit(20),
      Some("""WITH li AS (
             |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
             |  FROM lineitem WHERE l_quantity >= 25
             |), e AS (
             |  SELECT DISTINCT a.pk AS u, b.pk AS v
             |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
             |), deg AS (
             |  SELECT node, CAST(COUNT(*) AS BIGINT) AS dg FROM (
             |    SELECT u AS node FROM e
             |    UNION ALL SELECT v AS node FROM e)
             |  GROUP BY node
             |), oe AS (
             |  SELECT CASE WHEN da.dg < db.dg
             |                OR (da.dg = db.dg AND e.u < e.v)
             |              THEN e.u ELSE e.v END AS s,
             |         CASE WHEN da.dg < db.dg
             |                OR (da.dg = db.dg AND e.u < e.v)
             |              THEN e.v ELSE e.u END AS t,
             |         CASE WHEN da.dg < db.dg
             |                OR (da.dg = db.dg AND e.u < e.v)
             |              THEN db.dg ELSE da.dg END AS dt
             |  FROM e
             |  JOIN deg da ON da.node = e.u
             |  JOIN deg db ON db.node = e.v
             |), tri AS (
             |  SELECT e1.s AS x, e1.t AS y, e2.t AS z
             |  FROM oe e1
             |  JOIN oe e2 ON e2.s = e1.s
             |    AND (e1.dt < e2.dt OR (e1.dt = e2.dt AND e1.t < e2.t))
             |  JOIN oe e3 ON e3.s = e1.t AND e3.t = e2.t
             |), corners AS (
             |  SELECT x AS node FROM tri
             |  UNION ALL SELECT y AS node FROM tri
             |  UNION ALL SELECT z AS node FROM tri
             |)
             |SELECT node AS partkey, CAST(COUNT(*) AS BIGINT) AS n_tri
             |FROM corners GROUP BY node
             |ORDER BY n_tri DESC, partkey ASC LIMIT 20""".stripMargin)),

    // Local clustering coefficient — cc(v) = 2·tri(v) / (deg·(deg−1))
    // — on a SPARSER slice of the co-purchase graph (l_quantity ≥ 35;
    // q264 measures the ≥ 25 slice) so the two graph-topology rows
    // exercise different densities. Same degree-oriented triangle
    // core as q264 (each wedge enumerated once in rank order); the
    // per-node triangle counts then LEFT-join back onto the degree
    // table so zero-triangle nodes report cc = 0 rather than
    // vanishing. All-integer until the final division, which both
    // engines spell identically.
    QueryDef(
      "q266_clustering_coefficient",
      (s, d) => {
        val e = coPurchaseEdges(s, d, minQty = 35)
          .localCheckpoint(eager = false) // deg + triangle core share it
        val deg = graft.operators.Triangles.degreesOf(e)
        val tcnt = graft.operators.Triangles.perNode(e)
        deg.join(tcnt, Seq("node"), "left")
          .filter(col("dg") >= 2)
          .select(col("node").as("partkey"), col("dg"),
            coalesce(col("n_tri"), lit(0L)).as("n_tri"),
            ((lit(2) * coalesce(col("n_tri"), lit(0L))).cast("double") /
              (col("dg") * (col("dg") - 1)).cast("double")).as("cc"))
          .orderBy(col("cc").desc, col("partkey").asc)
          .limit(20)
      },
      Some("""WITH li AS (
             |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
             |  FROM lineitem WHERE l_quantity >= 35
             |), e AS (
             |  SELECT DISTINCT a.pk AS u, b.pk AS v
             |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
             |), deg AS (
             |  SELECT node, CAST(COUNT(*) AS BIGINT) AS dg FROM (
             |    SELECT u AS node FROM e
             |    UNION ALL SELECT v AS node FROM e)
             |  GROUP BY node
             |), oe AS (
             |  SELECT CASE WHEN da.dg < db.dg
             |                OR (da.dg = db.dg AND e.u < e.v)
             |              THEN e.u ELSE e.v END AS s,
             |         CASE WHEN da.dg < db.dg
             |                OR (da.dg = db.dg AND e.u < e.v)
             |              THEN e.v ELSE e.u END AS t,
             |         CASE WHEN da.dg < db.dg
             |                OR (da.dg = db.dg AND e.u < e.v)
             |              THEN db.dg ELSE da.dg END AS dt
             |  FROM e
             |  JOIN deg da ON da.node = e.u
             |  JOIN deg db ON db.node = e.v
             |), tri AS (
             |  SELECT e1.s AS x, e1.t AS y, e2.t AS z
             |  FROM oe e1
             |  JOIN oe e2 ON e2.s = e1.s
             |    AND (e1.dt < e2.dt OR (e1.dt = e2.dt AND e1.t < e2.t))
             |  JOIN oe e3 ON e3.s = e1.t AND e3.t = e2.t
             |), corners AS (
             |  SELECT x AS node FROM tri
             |  UNION ALL SELECT y AS node FROM tri
             |  UNION ALL SELECT z AS node FROM tri
             |), tcnt AS (
             |  SELECT node, CAST(COUNT(*) AS BIGINT) AS n_tri
             |  FROM corners GROUP BY node
             |)
             |SELECT d.node AS partkey, d.dg,
             |  COALESCE(t.n_tri, 0) AS n_tri,
             |  CAST(2 * COALESCE(t.n_tri, 0) AS DOUBLE) /
             |    CAST(d.dg * (d.dg - 1) AS DOUBLE) AS cc
             |FROM deg d LEFT JOIN tcnt t ON t.node = d.node
             |WHERE d.dg >= 2
             |ORDER BY cc DESC, partkey ASC LIMIT 20""".stripMargin)),

    // Degree assortativity — the Pearson correlation of endpoint
    // degrees over (both directions of) every edge: positive means
    // hubs link to hubs. The whole computation is INTEGER until one
    // final double expression (sums of degree products over edges —
    // counts bounded well inside int64 at any test SF), so the value
    // is bit-reproducible with no decimal machinery at all. One edge
    // scan + one 6-sum aggregate; at 100 TB the degree join is the
    // only shuffle and the moments fold map-side.
    QueryDef(
      "q267_degree_assortativity",
      (s, d) => {
        val e = coPurchaseEdges(s, d, minQty = 25)
          .localCheckpoint(eager = false) // deg + the moment join share it
        val deg = graft.operators.Triangles.degreesOf(e)
        val de = e
          .join(deg.select(col("node").as("u"), col("dg").as("du")), "u")
          .join(deg.select(col("node").as("v"), col("dg").as("dv")), "v")
        val sym = de.select(col("du").as("x"), col("dv").as("y"))
          .unionAll(de.select(col("dv").as("x"), col("du").as("y")))
        sym.agg(
            count(lit(1)).as("n"),
            sum(col("x")).as("sx"), sum(col("y")).as("sy"),
            sum(col("x") * col("x")).as("sxx"),
            sum(col("y") * col("y")).as("syy"),
            sum(col("x") * col("y")).as("sxy"))
          .select(col("n").as("n_pairs"),
            ((col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
              (sqrt((col("n") * col("sxx") - col("sx") * col("sx"))
                  .cast("double")) *
                sqrt((col("n") * col("syy") - col("sy") * col("sy"))
                  .cast("double")))).as("assortativity"))
      },
      Some("""WITH li AS (
             |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
             |  FROM lineitem WHERE l_quantity >= 25
             |), e AS (
             |  SELECT DISTINCT a.pk AS u, b.pk AS v
             |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
             |), deg AS (
             |  SELECT node, CAST(COUNT(*) AS BIGINT) AS dg FROM (
             |    SELECT u AS node FROM e
             |    UNION ALL SELECT v AS node FROM e)
             |  GROUP BY node
             |), de AS (
             |  SELECT da.dg AS du, db.dg AS dv
             |  FROM e
             |  JOIN deg da ON da.node = e.u
             |  JOIN deg db ON db.node = e.v
             |), sym AS (
             |  SELECT du AS x, dv AS y FROM de
             |  UNION ALL SELECT dv AS x, du AS y FROM de
             |), m AS (
             |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
             |    CAST(SUM(x) AS BIGINT) AS sx,
             |    CAST(SUM(y) AS BIGINT) AS sy,
             |    CAST(SUM(x * x) AS BIGINT) AS sxx,
             |    CAST(SUM(y * y) AS BIGINT) AS syy,
             |    CAST(SUM(x * y) AS BIGINT) AS sxy
             |  FROM sym
             |)
             |SELECT n AS n_pairs,
             |  CAST(n * sxy - sx * sy AS DOUBLE) /
             |    (sqrt(CAST(n * sxx - sx * sx AS DOUBLE)) *
             |     sqrt(CAST(n * syy - sy * sy AS DOUBLE))) AS assortativity
             |FROM m""".stripMargin)),

    // k-core backbone of the co-purchase graph (operators.KCore) —
    // the dense-subgraph extraction next to the triangle (q264) and
    // assortativity (q267) rows: peel nodes with degree < 16 until
    // the cascade settles. Five fixed rounds converge at every test
    // SF (measured: the last two round sizes agree by round 4), and
    // the output row WITNESSES it — n_edges_r4 = n_edges_r5 — so a
    // drifted dataset that needs more rounds fails the hash rather
    // than passing silently. Peeling is degree-agg + keyed filters
    // only (strictly cheaper than the wedge join); the oracle chain
    // is GENERATED from the same round count, with MATERIALIZED CTEs
    // so DuckDB evaluates each round once instead of exponentially
    // re-inlining the chain.
    QueryDef(
      "q271_kcore",
      (s, d) => {
        val e = coPurchaseEdges(s, d, minQty = 25)
        val (core, counts) = graft.operators.KCore
          .peelWithCounts(e, k = 16, rounds = 5)
        val deg = core.select(col("u").as("node"))
          .unionAll(core.select(col("v").as("node")))
          .groupBy("node").agg(count(lit(1)).as("dg"))
        deg.agg(count(lit(1)).cast("long").as("n_core_nodes"),
            min(col("dg")).as("min_core_deg"),
            max(col("dg")).as("max_core_deg"))
          .select(lit(16).as("k"),
            lit(counts(3)).as("n_edges_r4"),
            lit(counts(4)).as("n_edges_r5"),
            col("n_core_nodes"), col("min_core_deg"),
            col("max_core_deg"))
      },
      Some {
        val sb = new StringBuilder(
          """WITH li AS MATERIALIZED (
            |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
            |  FROM lineitem WHERE l_quantity >= 25
            |), e0 AS MATERIALIZED (
            |  SELECT DISTINCT a.pk AS u, b.pk AS v
            |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
            |)""".stripMargin)
        for (r <- 1 to 5) {
          sb.append(s""", d$r AS MATERIALIZED (
            |  SELECT node, CAST(COUNT(*) AS BIGINT) AS dg FROM (
            |    SELECT u AS node FROM e${r - 1}
            |    UNION ALL SELECT v AS node FROM e${r - 1})
            |  GROUP BY node
            |), keep$r AS MATERIALIZED (
            |  SELECT node FROM d$r WHERE dg >= 16
            |), e$r AS MATERIALIZED (
            |  SELECT u, v FROM e${r - 1}
            |  JOIN keep$r ku ON ku.node = e${r - 1}.u
            |  JOIN keep$r kv ON kv.node = e${r - 1}.v
            |)""".stripMargin)
        }
        sb.append("""
          |, cdeg AS (
          |  SELECT node, CAST(COUNT(*) AS BIGINT) AS dg FROM (
          |    SELECT u AS node FROM e5
          |    UNION ALL SELECT v AS node FROM e5)
          |  GROUP BY node
          |)
          |SELECT 16 AS k,
          |  (SELECT CAST(COUNT(*) AS BIGINT) FROM e4) AS n_edges_r4,
          |  (SELECT CAST(COUNT(*) AS BIGINT) FROM e5) AS n_edges_r5,
          |  CAST(COUNT(*) AS BIGINT) AS n_core_nodes,
          |  MIN(dg) AS min_core_deg,
          |  MAX(dg) AS max_core_deg
          |FROM cdeg""".stripMargin)
        sb.toString
      }),

    // Space-Saving heavy hitters (operators.HeavyHitters), oracle-
    // gated in its EXACT regime: capacity 2048 exceeds the distinct
    // supplier count at every test SF (100 at sf0.01, 1000 at
    // sf0.1), so no counter is ever evicted, every estimate is the
    // true count, every tracked error is 0, and the result is
    // deterministic under ANY partitioning/merge order — making the
    // full mergeable-summary path (per-partition sketches, pairwise
    // merge, bound bookkeeping) comparable against the exact groupBy
    // oracle, the same way q176/q180 gate the bin sketch. The
    // approximate regime (capacity < distinct: eviction, n/m error
    // bounds, guaranteed-detection threshold) is order-dependent by
    // nature and stays property-gated in HeavyHittersSpec. At 100 TB
    // the capacity stays FIXED while distincts grow past it — the
    // shuffle still carries `capacity` counters per partition, which
    // is the entire point of the sketch.
    QueryDef(
      "q193_heavy_hitters",
      (s, d) => {
        // enforce (don't assume) the exact-regime precondition the
        // oracle encodes: at a SF where distinct suppliers exceed
        // capacity the sketch is still CORRECT but approximate, and
        // the est=exact/err=0 oracle would silently go red — fail
        // loudly instead so the gate mismatch is diagnosable
        val cap = 2048
        val nDistinct = lineitem(s, d)
          .agg(countDistinct(col("l_suppkey"))).head.getLong(0)
        require(nDistinct <= cap,
          s"q193 exact-regime gate requires distinct suppliers " +
            s"($nDistinct) <= capacity ($cap); raise capacity or " +
            s"gate the approx regime by property instead")
        graft.operators.HeavyHitters.topK(
          lineitem(s, d).select(col("l_suppkey")), "l_suppkey",
          k = 10, capacity = cap)
      },
      Some("""SELECT CAST(l_suppkey AS VARCHAR) AS item,
             |  CAST(COUNT(*) AS BIGINT) AS est,
             |  CAST(0 AS BIGINT) AS err
             |FROM lineitem GROUP BY l_suppkey
             |ORDER BY est DESC, item ASC LIMIT 10""".stripMargin)),

    // Distribution drift between two corpus segments (even- vs
    // odd-month events): per-class total-variation and chi-square
    // contributions — the drift monitor a 100 TB pipeline runs
    // between snapshots before trusting a refresh. Laplace add-one
    // smoothing keeps every class probability strictly positive, so
    // the chi-square term never divides by zero (an absent class is
    // a drift SIGNAL, not an error) and every statistic stays pure
    // rational arithmetic — no log/ln, whose libm implementations
    // are not bit-identical across engines (the reason this is TV +
    // chi-square, not KL/PSI). O(classes) state from one linear
    // pass; both engines derive the terms from the SAME smoothed
    // doubles.
    QueryDef(
      "q194_distribution_drift",
      (s, d) => {
        val ev = events(s, d)
          .withColumn("seg",
            (month(col("ts")) % 2 === 0).cast("int"))
        val cnt = ev.groupBy("event_type")
          .agg(sum(when(col("seg") === 1, 1L).otherwise(0L))
            .as("n_even"),
            sum(when(col("seg") === 0, 1L).otherwise(0L)).as("n_odd"))
        val tot = cnt.agg(sum("n_even").as("t_even"),
          sum("n_odd").as("t_odd"), count(lit(1)).as("k"))
        cnt.crossJoin(broadcast(tot))
          .select(col("event_type"),
            ((col("n_even") + 1).cast("double") /
              (col("t_even") + col("k"))).as("p"),
            ((col("n_odd") + 1).cast("double") /
              (col("t_odd") + col("k"))).as("q"))
          .select(col("event_type"), col("p"), col("q"),
            (abs(col("p") - col("q")) / 2).as("tv_term"),
            ((col("p") - col("q")) * (col("p") - col("q")) / col("q"))
              .as("chi2_term"))
          .orderBy("event_type")
      },
      Some("""WITH cnt AS (
             |  SELECT event_type,
             |    CAST(SUM(CASE WHEN month(ts) % 2 = 0 THEN 1 ELSE 0
             |      END) AS BIGINT) AS n_even,
             |    CAST(SUM(CASE WHEN month(ts) % 2 = 0 THEN 0 ELSE 1
             |      END) AS BIGINT) AS n_odd
             |  FROM events GROUP BY event_type
             |), tot AS (
             |  SELECT CAST(SUM(n_even) AS BIGINT) AS t_even,
             |    CAST(SUM(n_odd) AS BIGINT) AS t_odd,
             |    COUNT(*) AS k
             |  FROM cnt
             |), pq AS (
             |  SELECT event_type,
             |    CAST(n_even + 1 AS DOUBLE) / (t_even + k) AS p,
             |    CAST(n_odd + 1 AS DOUBLE) / (t_odd + k) AS q
             |  FROM cnt CROSS JOIN tot
             |)
             |SELECT event_type, p, q,
             |  abs(p - q) / 2 AS tv_term,
             |  (p - q) * (p - q) / q AS chi2_term
             |FROM pq ORDER BY event_type""".stripMargin)),

    // Theil–Sen slope — the robust trend estimator (median of all
    // pairwise slopes) next to q161's OLS: one gross outlier day
    // shifts OLS arbitrarily but moves a median-of-16k-slopes not at
    // all. Series = daily 1995-H1 revenue (exact-decimal sums, so
    // the slope operands are bit-identical cross-engine); the median
    // is the LOWER median under a total order on (slope, day_i,
    // day_j) — rank-picked, no averaging, no float ambiguity. The
    // O(days²) pair join is over the AGGREGATED series (≈180 rows →
    // 16k pairs), never the fact table — the standard way Theil–Sen
    // stays cheap at any corpus size.
    QueryDef(
      "q269_theil_sen",
      (s, d) => {
        val daily = lineitem(s, d)
          .filter(col("l_shipdate") >= lit("1995-01-01") &&
            col("l_shipdate") < lit("1995-07-01"))
          .groupBy(datediff(col("l_shipdate"),
            to_date(lit("1992-01-01"))).cast("long").as("day"))
          .agg(dsum(col("l_extendedprice")).as("rev"))
          .localCheckpoint(eager = false) // O(days) rows, read twice by the self-join
        val slopes = daily.as("a").join(daily.as("b"),
            col("a.day") < col("b.day"))
          .select(col("a.day").as("d1"), col("b.day").as("d2"),
            ((col("b.rev") - col("a.rev")) /
              (col("b.day") - col("a.day")).cast("double")).as("slope"))
        val w = org.apache.spark.sql.expressions.Window
          .orderBy(col("slope"), col("d1"), col("d2"))
        slopes
          .withColumn("rnk", row_number().over(w))
          .crossJoin(slopes.agg(count(lit(1)).as("n_pairs")))
          .filter(col("rnk") === expr("(n_pairs + 1) DIV 2"))
          .select(col("n_pairs"), col("slope").as("median_slope"))
      },
      Some(s"""WITH daily AS (
              |  SELECT date_diff('day', DATE '1992-01-01', l_shipdate)
              |      AS day,
              |    ${sqlDsum("l_extendedprice")} AS rev
              |  FROM lineitem
              |  WHERE l_shipdate >= DATE '1995-01-01'
              |    AND l_shipdate < DATE '1995-07-01'
              |  GROUP BY 1
              |), slopes AS (
              |  SELECT a.day AS d1, b.day AS d2,
              |    (b.rev - a.rev) / CAST(b.day - a.day AS DOUBLE) AS slope
              |  FROM daily a JOIN daily b ON a.day < b.day
              |), ranked AS (
              |  SELECT slope,
              |    row_number() OVER (ORDER BY slope, d1, d2) AS rnk,
              |    CAST(COUNT(*) OVER () AS BIGINT) AS n_pairs
              |  FROM slopes
              |)
              |SELECT n_pairs, slope AS median_slope
              |FROM ranked WHERE rnk = (n_pairs + 1) // 2""".stripMargin)),

    // Trimmed (10%-symmetric) mean — the robust location estimate
    // beside MAD (q164) and the weighted quantiles (q188): per order
    // priority, drop the bottom and top 5% of o_totalprice by rank
    // (total order, orderkey tiebreak — no percentile interpolation
    // ambiguity) and average the rest in exact decimal. One window
    // rank + one hash-agg, both partitioned by the group key.
    QueryDef(
      "q270_trimmed_mean",
      (s, d) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("o_orderpriority")
          .orderBy(col("o_totalprice"), col("o_orderkey"))
        val ranked = orders(s, d)
          .select(col("o_orderpriority"), col("o_totalprice"),
            col("o_orderkey"))
          .withColumn("rnk", row_number().over(w))
          .withColumn("n", count(lit(1)).over(
            org.apache.spark.sql.expressions.Window
              .partitionBy("o_orderpriority")))
        val cut = expr("n DIV 20")
        ranked
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).cast("long").as("n_orders"),
            sum(when(col("rnk") > cut && col("rnk") <= col("n") - cut, 1L)
              .otherwise(0L)).cast("long").as("n_kept"),
            davg(when(col("rnk") > cut && col("rnk") <= col("n") - cut,
              col("o_totalprice"))).as("trimmed_mean"),
            davg(col("o_totalprice")).as("raw_mean"))
          .orderBy("o_orderpriority")
      },
      Some(s"""WITH ranked AS (
              |  SELECT o_orderpriority, o_totalprice,
              |    row_number() OVER (PARTITION BY o_orderpriority
              |      ORDER BY o_totalprice, o_orderkey) AS rnk,
              |    COUNT(*) OVER (PARTITION BY o_orderpriority) AS n
              |  FROM orders
              |)
              |SELECT o_orderpriority,
              |  CAST(COUNT(*) AS BIGINT) AS n_orders,
              |  CAST(SUM(CASE WHEN rnk > n // 20 AND rnk <= n - n // 20
              |    THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
              |  ${sqlDavg("CASE WHEN rnk > n // 20 AND rnk <= n - n // 20 " +
                "THEN o_totalprice END")} AS trimmed_mean,
              |  ${sqlDavg("o_totalprice")} AS raw_mean
              |FROM ranked
              |GROUP BY o_orderpriority
              |ORDER BY o_orderpriority""".stripMargin)),

    // Lag-7 autocorrelation of the daily event-value series — the
    // periodicity detector next to the day-of-week seasonality profile
    // (q185) and CUSUM (q184): Pearson r between v(day) and v(day+7)
    // over the exact-decimal daily sums, computed with the q161
    // moment formula (every sum order-independent decimal, every
    // final op a single correctly-rounded double step). The daily agg
    // is the only corpus-wide pass; the lag join and moments run on
    // the O(days) series (localCheckpoint pins it — read twice by the
    // self-join). A strong weekly cycle drives r toward 1; this
    // synthetic series measures what it measures — the row is the
    // detector, tracked like the drift and seasonality rows.
    QueryDef(
      "q280_autocorr_lag7",
      (s, d) => {
        val daily = events(s, d)
          .groupBy(datediff(to_date(col("ts")),
            to_date(lit("2024-01-01"))).cast("long").as("day"))
          .agg(dsum(col("value")).as("v"))
          .localCheckpoint(eager = false)
        val pairs = daily.as("a")
          .join(daily.as("b"), col("b.day") === col("a.day") + 7)
          .select(col("a.v").as("x"), col("b.v").as("y"))
        pairs
          .agg(count(lit(1)).as("n"),
            dsum(col("x")).as("sx"), dsum(col("y")).as("sy"),
            dsum(col("x") * col("x")).as("sxx"),
            dsum(col("y") * col("y")).as("syy"),
            dsum(col("x") * col("y")).as("sxy"))
          .select(lit(7L).as("lag"), col("n").cast("long").as("n_pairs"),
            ((col("n") * col("sxy") - col("sx") * col("sy")) /
              (sqrt(col("n") * col("sxx") - col("sx") * col("sx")) *
                sqrt(col("n") * col("syy") - col("sy") * col("sy"))))
              .as("autocorr"))
      },
      Some(s"""WITH daily AS (
              |  SELECT date_diff('day', DATE '2024-01-01',
              |      CAST(ts AS DATE)) AS day,
              |    ${sqlDsum("value")} AS v
              |  FROM events GROUP BY 1
              |), pairs AS (
              |  SELECT a.v AS x, b.v AS y
              |  FROM daily a JOIN daily b ON b.day = a.day + 7
              |), sums AS (
              |  SELECT COUNT(*) AS n,
              |    ${sqlDsum("x")} AS sx, ${sqlDsum("y")} AS sy,
              |    ${sqlDsum("x * x")} AS sxx,
              |    ${sqlDsum("y * y")} AS syy,
              |    ${sqlDsum("x * y")} AS sxy
              |  FROM pairs
              |)
              |SELECT CAST(7 AS BIGINT) AS lag,
              |  CAST(n AS BIGINT) AS n_pairs,
              |  (n * sxy - sx * sy) /
              |    (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy))
              |    AS autocorr
              |FROM sums""".stripMargin)),

    // Exponentially-weighted moving average (α = 1/2) of the daily
    // event-value series — the smoothing rung beside gap-fill (q125)
    // and CUSUM. The recursion e_t = ½x_t + ½e_{t−1} is made EXACT
    // and order-safe by integer scaling (C_i = round(100·x_i)), and
    // made UNBOUNDED-horizon by a truncated-lookback restatement:
    // row t sums only its trailing L = min(t, 55) rows, with the
    // oldest surviving row absorbing the dropped tail's weight —
    // scaled term C_{t−j}·2^max(L−2−j, 0) for lookback j, divided by
    // 2^(L−1). For t ≤ 55 this is algebraically IDENTICAL to the
    // full recursion (the head row's doubled weight 2^−(t−1) is
    // exactly the first term's weight); for t > 55 the replaced tail
    // Σ_{j≥54} x_{t−j}·2^−(j+1) and its stand-in x_{t−54}·2^−54
    // differ by at most 2^−54·max|x_i − x_j| — below one ULP of any
    // same-magnitude result, so the truncated value rounds to the
    // same double as the exact one (property-tested in
    // EwmaTruncationSpec). The scaled terms now top out at C·2^53
    // regardless of series length (summed as exact DECIMAL/HUGEINT —
    // associative, engine-exact, overflow-safe for any daily C), so
    // the old 55-row raise_error envelope is gone. The daily agg is
    // the only corpus-wide pass; the banded self-join runs on the
    // O(days) series (55 pair rows per day — driver-scale at any SF).
    QueryDef(
      "q281_ewma_daily",
      (s, d) => {
        val w = org.apache.spark.sql.expressions.Window
          .orderBy("day")
        val daily = events(s, d)
          .groupBy(datediff(to_date(col("ts")),
            to_date(lit("2024-01-01"))).cast("long").as("day"))
          .agg(dsum(col("value")).as("v"))
        val seq = daily
          .withColumn("rn", row_number().over(w))
          .withColumn("c", round(col("v") * 100).cast("long"))
          .localCheckpoint(eager = false)
        seq.as("a")
          .join(seq.as("b"),
            col("b.rn").between(col("a.rn") - 54, col("a.rn")))
          .select(col("a.day").as("day"), col("a.v").as("v"),
            col("a.rn").as("rn"),
            (col("b.c").cast("decimal(20,0)") *
              expr("CAST(power(2, greatest(least(a.rn, 55) - 2 - " +
                "(a.rn - b.rn), 0)) AS DECIMAL(18,0))")).as("term"))
          .groupBy("day", "v", "rn")
          .agg(sum(col("term")).as("e_scaled"))
          .select(col("day"), col("v").as("daily_value"),
            (col("e_scaled").cast("double") /
              expr("power(2, least(rn, 55) - 1)") / lit(100.0))
              .as("ewma"))
          .orderBy("day")
      },
      Some(s"""WITH daily AS (
              |  SELECT date_diff('day', DATE '2024-01-01',
              |      CAST(ts AS DATE)) AS day,
              |    ${sqlDsum("value")} AS v
              |  FROM events GROUP BY 1
              |), seq AS (
              |  SELECT day, v,
              |    CAST(round(v * 100) AS BIGINT) AS c,
              |    row_number() OVER (ORDER BY day) AS rn
              |  FROM daily
              |), acc AS (
              |  SELECT a.day, a.v, a.rn,
              |    SUM(CAST(b.c AS HUGEINT) *
              |        CAST(power(2, greatest(least(a.rn, 55) - 2 -
              |          (a.rn - b.rn), 0)) AS HUGEINT)) AS e_scaled
              |  FROM seq a JOIN seq b
              |    ON b.rn BETWEEN a.rn - 54 AND a.rn
              |  GROUP BY a.day, a.v, a.rn
              |)
              |SELECT day, v AS daily_value,
              |  CAST(e_scaled AS DOUBLE) / power(2, least(rn, 55) - 1)
              |    / 100.0 AS ewma
              |FROM acc ORDER BY day""".stripMargin)),

    // Link prediction by common neighbors + neighborhood Jaccard
    // (Liben-Nowell & Kleinberg CIKM'03) on the co-purchase graph —
    // the recommendation rung beside co-occurrence lift (q169, which
    // scores EXISTING pairs; this predicts ABSENT edges). CN(a,b) =
    // wedges a—s—b; the wedge join enumerates Σ deg² rows, so apexes
    // are capped at deg ≤ 64 — the q208 df-cap transplanted to
    // graphs: super-hubs carry no pair discrimination but deg² join
    // rows (the cap doesn't bind on this graph, max deg 61 at sf0.1 —
    // exact here, skew guard at 100 TB). Candidate pairs inherit the
    // u < v normalization, so one anti-join on the edge list removes
    // existing links; Jaccard = cn / (deg(a)+deg(b)−cn) uses FULL
    // degrees (int/int double division, exact). Top-20 under a total
    // order.
    QueryDef(
      "q282_link_prediction",
      (s, d) => {
        val e = coPurchaseEdges(s, d, minQty = 30)
          .localCheckpoint(eager = false)
        val deg = graft.operators.Triangles.degreesOf(e)
          .localCheckpoint(eager = false)
        val adj = e.select(col("u").as("apex"), col("v").as("t"))
          .unionAll(e.select(col("v").as("apex"), col("u").as("t")))
          .join(deg.select(col("node").as("apex"),
            col("dg").as("apex_dg")), "apex")
          .filter(col("apex_dg") <= 64)
          .select("apex", "t")
          .localCheckpoint(eager = false) // read twice by the self-join
        val cn = adj.as("x")
          .join(adj.as("y"),
            col("x.apex") === col("y.apex") && col("x.t") < col("y.t"))
          .groupBy(col("x.t").as("u"), col("y.t").as("v"))
          .agg(count(lit(1)).cast("long").as("n_common"))
        // jaccard is not in the sort key, and every cn endpoint has a
        // degree row (t-values are nodes of e), so the two degree
        // joins are no-drop decorations: take the top-20 FIRST
        // (TakeOrderedAndProject over pair rows), then join degrees
        // onto 20 rows instead of the full candidate-pair set
        val top = cn
          .join(e, Seq("u", "v"), "left_anti")
          .orderBy(col("n_common").desc, col("u").asc, col("v").asc)
          .limit(20)
        top
          .join(deg.select(col("node").as("u"), col("dg").as("du")), "u")
          .join(deg.select(col("node").as("v"), col("dg").as("dv")), "v")
          .select(col("u"), col("v"), col("n_common"),
            (col("n_common").cast("double") /
              (col("du") + col("dv") - col("n_common")).cast("double"))
              .as("jaccard"))
          .orderBy(col("n_common").desc, col("u").asc, col("v").asc)
      },
      Some("""WITH li AS (
             |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
             |  FROM lineitem WHERE l_quantity >= 30
             |), e AS (
             |  SELECT DISTINCT a.pk AS u, b.pk AS v
             |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
             |), deg AS (
             |  SELECT node, COUNT(*) AS dg FROM (
             |    SELECT u AS node FROM e
             |    UNION ALL SELECT v FROM e)
             |  GROUP BY node
             |), adj AS (
             |  SELECT a.apex, a.t FROM (
             |    SELECT u AS apex, v AS t FROM e
             |    UNION ALL SELECT v AS apex, u AS t FROM e) a
             |  JOIN deg ON deg.node = a.apex
             |  WHERE deg.dg <= 64
             |), cn AS (
             |  SELECT x.t AS u, y.t AS v,
             |    CAST(COUNT(*) AS BIGINT) AS n_common
             |  FROM adj x JOIN adj y
             |    ON x.apex = y.apex AND x.t < y.t
             |  GROUP BY x.t, y.t
             |)
             |SELECT cn.u, cn.v, cn.n_common,
             |  CAST(cn.n_common AS DOUBLE) /
             |    CAST(du.dg + dv.dg - cn.n_common AS DOUBLE) AS jaccard
             |FROM cn
             |JOIN deg du ON du.node = cn.u
             |JOIN deg dv ON dv.node = cn.v
             |WHERE NOT EXISTS (
             |  SELECT 1 FROM e WHERE e.u = cn.u AND e.v = cn.v)
             |ORDER BY cn.n_common DESC, cn.u ASC, cn.v ASC
             |LIMIT 20""".stripMargin)),

    // Exact AUC via the Mann–Whitney rank statistic — the
    // classifier-eval rung beside RBP (q244) and MRR (q233): does
    // event value separate purchases from the rest? AUC =
    // (Σ_pos midrank − n⁺(n⁺+1)/2) / (n⁺·n⁻), tie-corrected with
    // MID ranks kept INTEGER by doubling: midrank·2 = 2·rank() +
    // ties − 1, so every sum is a long and the single final double
    // division is correctly rounded — engine-exact, no float rank
    // arithmetic. The global rank is one unpartitioned window at
    // this scale; at 100 TB ranks come from the two-pass
    // histogram-offset form (per-partition counts → prefix offsets),
    // same statistic.
    QueryDef(
      "q285_auc_mann_whitney",
      (s, d) => {
        val wv = org.apache.spark.sql.expressions.Window
          .orderBy("value")
        val wt = org.apache.spark.sql.expressions.Window
          .partitionBy("value")
        val ranked = events(s, d)
          .select(col("value"),
            (col("event_type") === "purchase").as("is_pos"))
          .withColumn("rnk", rank().over(wv))
          .withColumn("ties", count(lit(1)).over(wt))
          .withColumn("mid2",
            lit(2L) * col("rnk") + col("ties") - lit(1L))
        ranked.agg(
            sum(when(col("is_pos"), 1L).otherwise(0L)).as("n_pos"),
            sum(when(!col("is_pos"), 1L).otherwise(0L)).as("n_neg"),
            sum(when(col("is_pos"), col("mid2")).otherwise(0L))
              .as("sum_mid2"))
          .select(col("n_pos").cast("long").as("n_pos"),
            col("n_neg").cast("long").as("n_neg"),
            ((col("sum_mid2") - col("n_pos") * (col("n_pos") + 1))
              .cast("double") /
              (lit(2L) * col("n_pos") * col("n_neg")).cast("double"))
              .as("auc"))
      },
      Some("""WITH ranked AS (
             |  SELECT (event_type = 'purchase') AS is_pos,
             |    rank() OVER (ORDER BY value) AS rnk,
             |    COUNT(*) OVER (PARTITION BY value) AS ties
             |  FROM events
             |), mids AS (
             |  SELECT is_pos, 2 * rnk + ties - 1 AS mid2 FROM ranked
             |), sums AS (
             |  SELECT
             |    SUM(CASE WHEN is_pos THEN 1 ELSE 0 END) AS n_pos,
             |    SUM(CASE WHEN is_pos THEN 0 ELSE 1 END) AS n_neg,
             |    SUM(CASE WHEN is_pos THEN mid2 ELSE 0 END) AS sum_mid2
             |  FROM mids
             |)
             |SELECT CAST(n_pos AS BIGINT) AS n_pos,
             |  CAST(n_neg AS BIGINT) AS n_neg,
             |  CAST(sum_mid2 - n_pos * (n_pos + 1) AS DOUBLE) /
             |    CAST(2 * n_pos * n_neg AS DOUBLE) AS auc
             |FROM sums""".stripMargin)),

    // Incremental view maintenance for a JOIN-aggregate — the
    // two-sided delta rule (Γ(A⋈B) over A = A₀∪ΔA, B = B₀∪ΔB splits
    // into the four pair terms, and a SUM view merges them by
    // addition) that q175 witnessed for a single table. The Spark
    // side computes revenue-per-priority ONLY through the delta
    // algebra — base view Γ(L₀⋈O₀) plus the three delta terms, each
    // kept as an UNROUNDED decimal partial so the merge is exact and
    // associative — while the oracle recomputes the full join: the
    // gate is the algebra itself. At refresh time only the Δ terms
    // run (ΔL⋈O is delta-sized against the indexed base), which is
    // why a 100 TB nightly view refresh touches GBs, not the corpus.
    QueryDef(
      "q286_ivm_join_agg",
      (s, d) => {
        val lCut = "1996-01-01" // ΔL: recent shipments
        val oCut = "1995-07-01" // ΔO: recent orders
        val li = lineitem(s, d)
        val or0 = orders(s, d).filter(col("o_orderdate") < oCut)
        val or1 = orders(s, d).filter(col("o_orderdate") >= oCut)
        val li0 = li.filter(col("l_shipdate") < lCut)
        val li1 = li.filter(col("l_shipdate") >= lCut)
        val rev = col("l_extendedprice") * (lit(1.0) - col("l_discount"))
        def term(l: org.apache.spark.sql.DataFrame,
            o: org.apache.spark.sql.DataFrame) =
          l.join(o, col("l_orderkey") === col("o_orderkey"))
            .groupBy("o_orderpriority")
            .agg(count(lit(1)).as("n"), sum(rev.cast(Dec)).as("s"))
        term(li0, or0).unionByName(term(li0, or1))
          .unionByName(term(li1, or0)).unionByName(term(li1, or1))
          .groupBy("o_orderpriority")
          .agg(sum(col("n")).cast("long").as("n_rows"),
            sum(col("s")).cast(Dec2).cast("double").as("revenue"))
          .orderBy("o_orderpriority")
      },
      Some(s"""SELECT o_orderpriority,
              |  CAST(COUNT(*) AS BIGINT) AS n_rows,
              |  ${sqlDsum("l_extendedprice * (1 - l_discount)")}
              |    AS revenue
              |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
              |GROUP BY o_orderpriority
              |ORDER BY o_orderpriority""".stripMargin)),

    // Join-size estimation from count-min sketches (the AMS inner
    // product, Cormode & Muthukrishnan §4.2): |A ⋈_k B| = Σ_k
    // fA(k)·fB(k), estimated as min_r Σ_b cntA[r][b]·cntB[r][b] —
    // never under the truth, from two d×w sketches. This is the
    // planner's "would this join blow up" answer at 100 TB: sketch
    // each partition/day ONCE (q234's mergeable build), then any
    // cross-partition join size costs an O(d·w) fold of stored
    // metadata — no re-scan of either side. Gated here on full-
    // history × recent-shipment lineitem partkeys vs the exact
    // frequency-product truth; the overshoot is the w=256 collision
    // cost, tracked in-row like q234's.
    QueryDef(
      "q287_cms_join_size",
      (s, d) => {
        val cms = graft.operators.CountMinSketch
        // The 100 TB serving story made literal: the sketch pair and
        // the exact per-key frequency table are STORED metadata,
        // built once per corpus (StoreCache — the warm-up pays it;
        // q234 prices sketch building) in ONE lineitem pass —
        // buildPair sketches the full key stream and the
        // recent-shipment sub-stream together, the exact side is one
        // conditional hash-agg per key. The timed run then answers
        // "would this join blow up" the way a planner does: an
        // O(d·w) fold of the stored sketch vs the stored frequency
        // products (na·nb with nb = 0 contributes 0, exactly the
        // inner join) — lineitem itself is never re-scanned.
        val dir = graft.StoreCache.getOrBuild("cms287", d) { p =>
          val keys = lineitem(s, d).select(col("l_partkey").as("k"),
            (col("l_shipdate") >= "1996-01-01").as("recent"))
          cms.buildPair(keys, "k", "recent", 4, 256)
            .coalesce(1).write.mode("overwrite")
            .parquet(s"$p/sketch")
          keys.groupBy("k")
            .agg(count(lit(1)).as("na"),
              count_if(col("recent")).as("nb"))
            .write.mode("overwrite").parquet(s"$p/freq")
        }
        val est = graft.StoreCache.readParquet(s, s"$dir/sketch")
          .groupBy("row")
          .agg(sum(col("cnt") * col("cnt_tag")).as("ip"))
          .agg(min(col("ip")).cast("long").as("est_join_size"))
        val exact = graft.StoreCache.readParquet(s, s"$dir/freq")
          .agg(sum(col("na") * col("nb")).cast("long")
            .as("exact_join_size"))
        exact.crossJoin(est)
          .select(col("exact_join_size"), col("est_join_size"),
            (col("est_join_size") - col("exact_join_size"))
              .as("overshoot"),
            (col("est_join_size").cast("double") /
              col("exact_join_size").cast("double")).as("ratio"))
      },
      Some("""WITH ka AS (
             |  SELECT l_partkey AS k FROM lineitem
             |), kb AS (
             |  SELECT l_partkey AS k FROM lineitem
             |  WHERE l_shipdate >= DATE '1996-01-01'
             |), ca AS (
             |  SELECT r, CAST('0x' || substr(md5(k || '#' || r), 1, 13)
             |      AS BIGINT) % 256 AS bucket,
             |    CAST(COUNT(*) AS BIGINT) AS cnt_a
             |  FROM ka, LATERAL unnest([0, 1, 2, 3]) AS rr(r)
             |  GROUP BY 1, 2
             |), cb AS (
             |  SELECT r, CAST('0x' || substr(md5(k || '#' || r), 1, 13)
             |      AS BIGINT) % 256 AS bucket,
             |    CAST(COUNT(*) AS BIGINT) AS cnt_b
             |  FROM kb, LATERAL unnest([0, 1, 2, 3]) AS rr(r)
             |  GROUP BY 1, 2
             |), ip AS (
             |  SELECT ca.r, SUM(ca.cnt_a * cb.cnt_b) AS ip
             |  FROM ca JOIN cb ON cb.r = ca.r AND cb.bucket = ca.bucket
             |  GROUP BY ca.r
             |), est AS (
             |  SELECT CAST(MIN(ip) AS BIGINT) AS est_join_size FROM ip
             |), fa AS (
             |  SELECT k, COUNT(*) AS na FROM ka GROUP BY k
             |), fb AS (
             |  SELECT k, COUNT(*) AS nb FROM kb GROUP BY k
             |), ex AS (
             |  SELECT CAST(SUM(na * nb) AS BIGINT) AS exact_join_size
             |  FROM fa JOIN fb USING (k)
             |)
             |SELECT ex.exact_join_size, est.est_join_size,
             |  est.est_join_size - ex.exact_join_size AS overshoot,
             |  CAST(est.est_join_size AS DOUBLE) /
             |    CAST(ex.exact_join_size AS DOUBLE) AS ratio
             |FROM ex CROSS JOIN est""".stripMargin)),

    // Personalized PageRank from a two-customer seed set over the
    // bidirected customer↔supplier purchase graph (q192's graph) —
    // proximity TO the seeds rather than global centrality, the
    // graph-recommendation primitive ("suppliers related to these
    // accounts"). Restart mass lands only on seeds; scores decay
    // with hop distance, so the top-15 reads as the seeds' 1–3-hop
    // neighborhood ranked by connection strength. Same scaled-long
    // gather as q192 (order-free exact sums → cross-engine hash
    // parity); seeds are isin literals, never a join.
    QueryDef(
      "q289_personalized_pagerank",
      (s, d) => {
        val e0 = csEdges(s, d)
          .select((col("c").cast("long") * 2).as("src"),
            (col("sp").cast("long") * 2 + 1).as("dst"))
        val edges = e0
          .unionByName(e0.select(col("dst").as("src"),
            col("src").as("dst")))
          .localCheckpoint(eager = false)
        graft.operators.GraphPropagation
          .personalizedPageRank(edges, "src", "dst",
            seeds = Seq(2L, 4L), iters = 3)
          .orderBy(col("rank").desc, col("node")).limit(15)
      },
      Some {
        val sb = new StringBuilder(
          """WITH e0 AS (
            |  SELECT DISTINCT CAST(o_custkey AS BIGINT) * 2 AS src,
            |    CAST(l_suppkey AS BIGINT) * 2 + 1 AS dst
            |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
            |), edges AS (
            |  SELECT src, dst FROM e0
            |  UNION ALL SELECT dst AS src, src AS dst FROM e0
            |), nodes AS (
            |  SELECT src AS node FROM edges
            |  UNION SELECT dst FROM edges
            |), outdeg AS (
            |  SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY src
            |), r0 AS (
            |  SELECT node,
            |    CASE WHEN node IN (2, 4) THEN CAST(1.0 AS DOUBLE)
            |         ELSE CAST(0.0 AS DOUBLE) END AS rank
            |  FROM nodes
            |)""".stripMargin)
        for (i <- 1 to 3) {
          sb.append(s""", c$i AS (
            |  SELECT src, rank / outdeg AS contrib
            |  FROM r${i - 1} JOIN outdeg ON node = src
            |), g$i AS (
            |  SELECT dst,
            |    SUM(CAST(floor(contrib * 1000000000.0 + 0.5)
            |      AS BIGINT)) AS s9
            |  FROM edges JOIN c$i USING (src) GROUP BY dst
            |), r$i AS (
            |  SELECT node,
            |    CASE WHEN node IN (2, 4) THEN 0.15 ELSE 0.0 END +
            |    0.85 * (CAST(COALESCE(s9, 0) AS DOUBLE)
            |      / 1000000000.0) AS rank
            |  FROM nodes LEFT JOIN g$i ON dst = node
            |)""".stripMargin)
        }
        sb.append("""
            |SELECT node, rank FROM r3
            |ORDER BY rank DESC, node LIMIT 15""".stripMargin)
        sb.toString
      }),

    // Monotone streaks over the daily event-value series — the
    // run-length analytic beside CUSUM (q184, level shifts) and
    // autocorrelation (q280, periodicity): every maximal run of
    // strictly-increasing consecutive days, reported with its length
    // and value travel. Gaps-and-islands on the sign of the daily
    // delta (island break = non-increase or a calendar gap), all on
    // the O(days) post-agg series — the corpus pass is the daily
    // hash-agg alone. Exact: deltas compare scale-2 decimals as
    // doubles (bit-identical both engines), counts and day ids are
    // integers.
    QueryDef(
      "q291_increase_streaks",
      (s, d) => {
        val w = org.apache.spark.sql.expressions.Window.orderBy("day")
        val daily = events(s, d)
          .groupBy(datediff(to_date(col("ts")),
            to_date(lit("2024-01-01"))).cast("long").as("day"))
          .agg(dsum(col("value")).as("v"))
        daily
          .withColumn("pv", lag("v", 1).over(w))
          .withColumn("pd", lag("day", 1).over(w))
          .withColumn("brk",
            when(col("pv").isNotNull && col("v") > col("pv") &&
              col("day") === col("pd") + 1, lit(0)).otherwise(lit(1)))
          .withColumn("grp", sum("brk").over(
            w.rowsBetween(org.apache.spark.sql.expressions.Window
              .unboundedPreceding, 0)))
          .groupBy("grp")
          .agg(min("day").as("start_day"), max("day").as("end_day"),
            count(lit(1)).cast("long").as("run_len"),
            (max("v") - min("v")).as("travel"))
          .filter(col("run_len") >= 3)
          .select("start_day", "end_day", "run_len", "travel")
          .orderBy("start_day")
      },
      Some(s"""WITH daily AS (
              |  SELECT date_diff('day', DATE '2024-01-01',
              |      CAST(ts AS DATE)) AS day,
              |    ${sqlDsum("value")} AS v
              |  FROM events GROUP BY 1
              |), lagged AS (
              |  SELECT day, v,
              |    lag(v) OVER (ORDER BY day) AS pv,
              |    lag(day) OVER (ORDER BY day) AS pd
              |  FROM daily
              |), brks AS (
              |  SELECT day, v,
              |    CASE WHEN pv IS NOT NULL AND v > pv AND day = pd + 1
              |      THEN 0 ELSE 1 END AS brk
              |  FROM lagged
              |), grps AS (
              |  SELECT day, v,
              |    SUM(brk) OVER (ORDER BY day) AS grp
              |  FROM brks
              |)
              |SELECT MIN(day) AS start_day, MAX(day) AS end_day,
              |  CAST(COUNT(*) AS BIGINT) AS run_len,
              |  MAX(v) - MIN(v) AS travel
              |FROM grps GROUP BY grp
              |HAVING COUNT(*) >= 3
              |ORDER BY start_day""".stripMargin)),

    // Binary-segmentation changepoint: the best single split of the
    // daily series — argmin over split points of within-segment SSE
    // (SSE = Σx² − (Σx)²/n per side, prefix-sum form) with ≥ 3 days
    // per side — the structural-break LOCATOR refining CUSUM's
    // detector (q184): CUSUM says "a level shift exists", this says
    // "it is at day k, and explains this much variance". Prefix sums
    // ride one O(days) window; every candidate split is then a
    // per-row expression — no per-split scan. Exactness: all
    // Σ are order-free decimals surfaced as scale-2 doubles, and the
    // SSE arithmetic is a fixed sequence of correctly-rounded double
    // ops, identical in both engines.
    QueryDef(
      "q292_best_split",
      (s, d) => {
        val w = org.apache.spark.sql.expressions.Window.orderBy("day")
        val cum = w.rowsBetween(org.apache.spark.sql.expressions
          .Window.unboundedPreceding, 0)
        val daily = events(s, d)
          .groupBy(datediff(to_date(col("ts")),
            to_date(lit("2024-01-01"))).cast("long").as("day"))
          .agg(dsum(col("value")).as("v"))
        val pre = daily
          .withColumn("rn", row_number().over(w).cast("long"))
          .withColumn("xs", sum(col("v").cast(Dec)).over(cum)
            .cast(Dec2).cast("double"))
          .withColumn("x2s", sum((col("v") * col("v")).cast(Dec))
            .over(cum).cast(Dec2).cast("double"))
        // totals = the prefix values AT the last row (argmax by rn) —
        // max(xs) itself would be wrong the moment any daily sum is
        // negative (cumulative sums are not monotone then)
        val tot = pre.agg(max("rn").as("n_all"),
          max(struct(col("rn"), col("xs"))).getField("xs").as("xs_all"),
          max(struct(col("rn"), col("x2s"))).getField("x2s")
            .as("x2s_all"))
        def sse(x2: org.apache.spark.sql.Column,
            x: org.apache.spark.sql.Column,
            n: org.apache.spark.sql.Column) =
          x2 - (x * x) / n.cast("double")
        val cand = pre.crossJoin(broadcast(tot))
          .filter(col("rn") >= 3 && col("rn") <= col("n_all") - 3)
          .withColumn("sse_split",
            sse(col("x2s"), col("xs"), col("rn")) +
              sse(col("x2s_all") - col("x2s"),
                col("xs_all") - col("xs"),
                col("n_all") - col("rn")))
          .withColumn("sse_total",
            sse(col("x2s_all"), col("xs_all"), col("n_all")))
        cand
          .withColumn("rk", row_number().over(
            org.apache.spark.sql.expressions.Window
              .orderBy(col("sse_split").asc, col("day").asc)))
          .filter(col("rk") === 1)
          .select(col("day").as("split_day"),
            col("rn").as("n_left"),
            (col("n_all") - col("rn")).as("n_right"),
            col("sse_total"), col("sse_split"),
            (col("sse_total") - col("sse_split")).as("reduction"))
      },
      Some(s"""WITH daily AS (
              |  SELECT date_diff('day', DATE '2024-01-01',
              |      CAST(ts AS DATE)) AS day,
              |    ${sqlDsum("value")} AS v
              |  FROM events GROUP BY 1
              |), pre AS (
              |  SELECT day, v,
              |    CAST(row_number() OVER (ORDER BY day) AS BIGINT)
              |      AS rn,
              |    CAST(round(SUM(CAST(v AS DECIMAL(38,12)))
              |      OVER (ORDER BY day), 2) AS DOUBLE) AS xs,
              |    CAST(round(SUM(CAST(v * v AS DECIMAL(38,12)))
              |      OVER (ORDER BY day), 2) AS DOUBLE) AS x2s
              |  FROM daily
              |), tot AS (
              |  SELECT MAX(rn) AS n_all, arg_max(xs, rn) AS xs_all,
              |    arg_max(x2s, rn) AS x2s_all
              |  FROM pre
              |), cand AS (
              |  SELECT p.day, p.rn, t.n_all,
              |    (p.x2s - (p.xs * p.xs) / CAST(p.rn AS DOUBLE)) +
              |    ((t.x2s_all - p.x2s) -
              |      ((t.xs_all - p.xs) * (t.xs_all - p.xs)) /
              |        CAST(t.n_all - p.rn AS DOUBLE)) AS sse_split,
              |    t.x2s_all - (t.xs_all * t.xs_all) /
              |      CAST(t.n_all AS DOUBLE) AS sse_total
              |  FROM pre p CROSS JOIN tot t
              |  WHERE p.rn >= 3 AND p.rn <= t.n_all - 3
              |)
              |SELECT day AS split_day, rn AS n_left,
              |  n_all - rn AS n_right, sse_total, sse_split,
              |  sse_total - sse_split AS reduction
              |FROM cand
              |ORDER BY sse_split ASC, day ASC LIMIT 1""".stripMargin)),

    // Wilson-score interval on the daily conversion rate — the
    // uncertainty-aware rate the raw ratio misleads on at small n
    // (a 3/5 day is NOT better than a 480/1000 day once the interval
    // is drawn): per day, purchases / events with the 95% Wilson
    // bounds. Integer counts come from one hash-agg; the interval is
    // a fixed per-row sequence of correctly-rounded double ops
    // (division, sqrt) spelled IDENTICALLY in both engines, so even
    // the bounds hash-gate. The shrink-toward-½ at small n is the
    // reason ranking by wilson_lo beats ranking by rate — the
    // standard sorted-by-rating rule.
    QueryDef(
      "q293_wilson_rate",
      (s, d) => {
        val daily = events(s, d)
          .groupBy(datediff(to_date(col("ts")),
            to_date(lit("2024-01-01"))).cast("long").as("day"))
          .agg(count(lit(1)).cast("long").as("n"),
            sum(when(col("event_type") === "purchase", 1L)
              .otherwise(0L)).cast("long").as("k"))
        // The oracle must CAST(1.96 AS DOUBLE): DuckDB parses a bare
        // 1.96 as DECIMAL(3,2), making 1.96*1.96 the exact decimal
        // 3.8416 where binary doubles give 3.8415999999999997 — a
        // last-ULP divergence in the bounds. Spark literals are
        // already double.
        val n = col("n").cast("double")
        val p = col("k").cast("double") / n
        val z = lit(1.96)
        val z2 = z * z
        val denom = lit(1.0) + z2 / n
        val center = (p + (z2 / lit(2.0)) / n) / denom
        val half = (z * sqrt(p * (lit(1.0) - p) / n +
          (z2 / lit(4.0)) / (n * n))) / denom
        daily
          .select(col("day"), col("n"), col("k"), p.as("rate"),
            (center - half).as("wilson_lo"),
            (center + half).as("wilson_hi"))
          .orderBy("day")
      },
      Some("""WITH daily AS (
             |  SELECT date_diff('day', DATE '2024-01-01',
             |      CAST(ts AS DATE)) AS day,
             |    CAST(COUNT(*) AS BIGINT) AS n,
             |    CAST(SUM(CASE WHEN event_type = 'purchase'
             |      THEN 1 ELSE 0 END) AS BIGINT) AS k
             |  FROM events GROUP BY 1
             |), rates AS (
             |  SELECT day, n, k,
             |    CAST(n AS DOUBLE) AS nd,
             |    CAST(k AS DOUBLE) / CAST(n AS DOUBLE) AS p
             |  FROM daily
             |)
             |SELECT day, n, k, p AS rate,
             |  ((p + (CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE) / 2.0) / nd) /
             |    (1.0 + (CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE)) / nd)) -
             |  ((CAST(1.96 AS DOUBLE) * sqrt(p * (1.0 - p) / nd +
             |    (CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE) / 4.0) / (nd * nd))) /
             |    (1.0 + (CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE)) / nd)) AS wilson_lo,
             |  ((p + (CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE) / 2.0) / nd) /
             |    (1.0 + (CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE)) / nd)) +
             |  ((CAST(1.96 AS DOUBLE) * sqrt(p * (1.0 - p) / nd +
             |    (CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE) / 4.0) / (nd * nd))) /
             |    (1.0 + (CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE)) / nd)) AS wilson_hi
             |FROM rates ORDER BY day""".stripMargin)),

    // Cohort LTV curves — the VALUE companion of the retention
    // matrix (q129, which counts who comes back; this accumulates
    // what they're worth): users are cohorted by their first signup
    // week, every later event lands in a week offset, and the
    // running decimal sum gives each cohort's cumulative value
    // trajectory — the curve whose plateau is the cohort's lifetime
    // value. The signup anchor is one min-agg per user (the q251
    // first-touch shape); the matrix is a keyed hash-agg; the
    // cumulative is an O(weeks) keyed window. All money stays in
    // order-free decimals until the final scale-2 cast.
    QueryDef(
      "q294_cohort_ltv",
      (s, d) => {
        val anchors = events(s, d)
          .filter(col("event_type") === "signup")
          .groupBy(col("user_id"))
          .agg(min(datediff(to_date(col("ts")),
            to_date(lit("2024-01-01"))).cast("long")).as("c_day"))
        val acts = events(s, d)
          .select(col("user_id"), col("value"),
            datediff(to_date(col("ts")),
              to_date(lit("2024-01-01"))).cast("long").as("day"))
        val mat = acts.join(anchors, "user_id")
          .filter(col("day") >= col("c_day"))
          .groupBy(expr("c_day DIV 7").as("cohort_week"),
            expr("(day - c_day) DIV 7").as("week_offset"))
          .agg(countDistinct(col("user_id")).cast("long")
            .as("n_users"),
            sum(col("value").cast(Dec)).as("s"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("cohort_week").orderBy("week_offset")
          .rowsBetween(org.apache.spark.sql.expressions
            .Window.unboundedPreceding, 0)
        mat
          .select(col("cohort_week"), col("week_offset"),
            col("n_users"),
            col("s").cast(Dec2).cast("double").as("wk_value"),
            sum(col("s")).over(w).cast(Dec2).cast("double")
              .as("cum_value"))
          .orderBy("cohort_week", "week_offset")
      },
      Some("""WITH anchors AS (
             |  SELECT user_id,
             |    MIN(date_diff('day', DATE '2024-01-01',
             |      CAST(ts AS DATE))) AS c_day
             |  FROM events WHERE event_type = 'signup'
             |  GROUP BY user_id
             |), acts AS (
             |  SELECT user_id, value,
             |    date_diff('day', DATE '2024-01-01', CAST(ts AS DATE))
             |      AS day
             |  FROM events
             |), mat AS (
             |  SELECT a.c_day // 7 AS cohort_week,
             |    (e.day - a.c_day) // 7 AS week_offset,
             |    CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS n_users,
             |    SUM(CAST(e.value AS DECIMAL(38,12))) AS s
             |  FROM acts e JOIN anchors a USING (user_id)
             |  WHERE e.day >= a.c_day
             |  GROUP BY 1, 2
             |)
             |SELECT cohort_week, week_offset, n_users,
             |  CAST(round(s, 2) AS DOUBLE) AS wk_value,
             |  CAST(round(SUM(s) OVER (PARTITION BY cohort_week
             |    ORDER BY week_offset ROWS UNBOUNDED PRECEDING), 2)
             |    AS DOUBLE) AS cum_value
             |FROM mat ORDER BY cohort_week, week_offset""".stripMargin)),

    // Leave-one-out target encoding — the tabular-ML categorical
    // feature that avoids self-leakage: each row's category value is
    // replaced by the mean target of its OTHER members, loo =
    // (Σ_group − own) / (n_group − 1). Naive mean encoding leaks the
    // row's own target into its feature (the classic CV-score
    // inflation); LOO subtracts it exactly. One keyed window carries
    // (decimal Σ, n) to every row — no second scan, no join; the
    // subtraction stays decimal until the final scale-2 cast, so the
    // feature hash-gates. Gated on an orderkey slice for bounded
    // declared output; groups are priority classes (n ≈ 3k each).
    QueryDef(
      "q296_target_encoding",
      (s, d) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("o_orderpriority")
        orders(s, d)
          .select(col("o_orderkey"), col("o_orderpriority"),
            col("o_totalprice"))
          .withColumn("grp_sum",
            sum(col("o_totalprice").cast(Dec)).over(w))
          .withColumn("grp_n", count(lit(1)).over(w))
          .filter(col("o_orderkey") % 500 === 0)
          .select(col("o_orderkey"), col("o_orderpriority"),
            col("o_totalprice"),
            ((col("grp_sum") - col("o_totalprice").cast(Dec))
              .cast(Dec2).cast("double") /
              (col("grp_n") - 1).cast("double")).as("loo_encoding"))
          .orderBy("o_orderkey")
      },
      Some("""WITH stats AS (
             |  SELECT o_orderkey, o_orderpriority, o_totalprice,
             |    SUM(CAST(o_totalprice AS DECIMAL(38,12)))
             |      OVER (PARTITION BY o_orderpriority) AS grp_sum,
             |    COUNT(*) OVER (PARTITION BY o_orderpriority) AS grp_n
             |  FROM orders
             |)
             |SELECT o_orderkey, o_orderpriority, o_totalprice,
             |  CAST(round(grp_sum -
             |      CAST(o_totalprice AS DECIMAL(38,12)), 2) AS DOUBLE)
             |    / CAST(grp_n - 1 AS DOUBLE) AS loo_encoding
             |FROM stats WHERE o_orderkey % 500 = 0
             |ORDER BY o_orderkey""".stripMargin)),

    // k-hop BFS reachability profile from a seed part — exact hop
    // distances where personalized PageRank (q289) gives decayed
    // proximity: frontier-at-a-time expansion (the Pregel shape —
    // each hop is ONE join of the previous frontier against the
    // adjacency list, anti-joined against the visited set for
    // min-hop semantics), profiled as nodes-per-hop. Three hops =
    // three keyed joins over frontier-sized inputs — never a
    // transitive closure materialization; the visited anti-join is
    // what keeps frontier growth monotone on cyclic graphs. Seed =
    // the smallest node id in the edge list (one 1-row driver
    // lookup, model metadata).
    QueryDef(
      "q297_khop_reachability",
      (s, d) => {
        val e = coPurchaseEdges(s, d, minQty = 30)
          .localCheckpoint(eager = false)
        val adj = e.select(col("u").as("a"), col("v").as("b"))
          .unionAll(e.select(col("v").as("a"), col("u").as("b")))
          .localCheckpoint(eager = false)
        val seed = adj.agg(min(col("a"))).head().getLong(0)
        var frontier = s.range(1).select(lit(seed).as("node"))
          .localCheckpoint(eager = false)
        var visited = frontier
        var out = frontier.withColumn("hop", lit(0L))
        for (h <- 1 to 3) {
          frontier = adj
            .join(frontier, adj("a") === frontier("node"))
            .select(col("b").as("node")).distinct()
            .join(visited, Seq("node"), "left_anti")
            .localCheckpoint(eager = false)
          visited = visited.unionByName(frontier)
            .localCheckpoint(eager = false)
          out = out.unionByName(
            frontier.withColumn("hop", lit(h.toLong)))
        }
        out.groupBy("hop")
          .agg(count(lit(1)).cast("long").as("n_nodes"),
            min("node").as("min_node"), max("node").as("max_node"))
          .orderBy("hop")
      },
      Some("""WITH li AS (
             |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
             |  FROM lineitem WHERE l_quantity >= 30
             |), e AS (
             |  SELECT DISTINCT a.pk AS u, b.pk AS v
             |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
             |), adj AS (
             |  SELECT u AS a, v AS b FROM e
             |  UNION ALL SELECT v AS a, u AS b FROM e
             |), seed AS (SELECT MIN(a) AS node FROM adj),
             |h0 AS (SELECT node FROM seed),
             |h1 AS (
             |  SELECT DISTINCT adj.b AS node FROM adj
             |  JOIN h0 ON adj.a = h0.node
             |  WHERE adj.b NOT IN (SELECT node FROM h0)
             |), h2 AS (
             |  SELECT DISTINCT adj.b AS node FROM adj
             |  JOIN h1 ON adj.a = h1.node
             |  WHERE adj.b NOT IN (SELECT node FROM h0
             |    UNION ALL SELECT node FROM h1)
             |), h3 AS (
             |  SELECT DISTINCT adj.b AS node FROM adj
             |  JOIN h2 ON adj.a = h2.node
             |  WHERE adj.b NOT IN (SELECT node FROM h0
             |    UNION ALL SELECT node FROM h1
             |    UNION ALL SELECT node FROM h2)
             |), all_hops AS (
             |  SELECT 0 AS hop, node FROM h0
             |  UNION ALL SELECT 1, node FROM h1
             |  UNION ALL SELECT 2, node FROM h2
             |  UNION ALL SELECT 3, node FROM h3
             |)
             |SELECT CAST(hop AS BIGINT) AS hop,
             |  CAST(COUNT(*) AS BIGINT) AS n_nodes,
             |  CAST(MIN(node) AS BIGINT) AS min_node,
             |  CAST(MAX(node) AS BIGINT) AS max_node
             |FROM all_hops GROUP BY hop ORDER BY hop""".stripMargin)),

    // First-journey funnel in BATCH form — the SQL-expressible slice
    // of the streaming state machine (StatefulOps.funnelProgress):
    // anchor at each user's FIRST view (first-touch), take the first
    // click STRICTLY after it, then the first purchase strictly
    // after that with total span ≤ 5 days. Three keyed argmin
    // windows + two keyed joins — no state, no scan order. Whenever
    // this row emits, the state machine's first completion for that
    // user is IDENTICAL (the machine can additionally complete
    // users whose first attempt expired and a later anchor
    // succeeded — exactly the journeys no first-anchored SQL can
    // express, which is why the streaming op exists); the
    // FunnelCrossSpec witnesses that containment against the live
    // machine.
    QueryDef(
      "q307_first_journey",
      (s, d) => {
        val spanUs = 5L * 24 * 3600 * 1000000
        def firstOf(df: org.apache.spark.sql.DataFrame,
            tsCol: String, idCol: String) = {
          val w = org.apache.spark.sql.expressions.Window
            .partitionBy("user_id")
            .orderBy(col(tsCol).asc, col(idCol).asc)
          df.withColumn("__rn", row_number().over(w))
            .filter(col("__rn") === 1).drop("__rn")
        }
        val ev = events(s, d)
          .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
            col("event_id"), col("event_type"))
        val s1 = firstOf(ev.filter(col("event_type") === "view")
            .select(col("user_id"), col("ts_us").as("s1_ts"),
              col("event_id").as("s1_id")), "s1_ts", "s1_id")
        val s2 = firstOf(ev.filter(col("event_type") === "click")
            .join(s1, "user_id")
            .filter(col("ts_us") > col("s1_ts"))
            .select(col("user_id"), col("s1_ts"), col("s1_id"),
              col("ts_us").as("s2_ts"), col("event_id").as("s2_id")),
          "s2_ts", "s2_id")
        val s3 = firstOf(ev.filter(col("event_type") === "purchase")
            .join(s2, "user_id")
            .filter(col("ts_us") > col("s2_ts") &&
              col("ts_us") - col("s1_ts") <= spanUs)
            .select(col("user_id"), col("s1_ts"), col("s1_id"),
              col("s2_id"), col("ts_us").as("s3_ts"),
              col("event_id").as("s3_id")),
          "s3_ts", "s3_id")
        s3.select(col("user_id"), col("s1_id"), col("s2_id"),
            col("s3_id"),
            (col("s3_ts") - col("s1_ts")).as("latency_us"))
          .orderBy("user_id")
      },
      Some("""WITH ev AS (
             |  SELECT user_id, epoch_us(ts) AS ts_us, event_id,
             |    event_type
             |  FROM events
             |), s1 AS (
             |  SELECT user_id, ts_us AS s1_ts, event_id AS s1_id
             |  FROM (
             |    SELECT user_id, ts_us, event_id,
             |      row_number() OVER (PARTITION BY user_id
             |        ORDER BY ts_us, event_id) AS rn
             |    FROM ev WHERE event_type = 'view')
             |  WHERE rn = 1
             |), s2 AS (
             |  SELECT user_id, s1_ts, s1_id, ts_us AS s2_ts,
             |    event_id AS s2_id
             |  FROM (
             |    SELECT e.user_id, s1.s1_ts, s1.s1_id, e.ts_us,
             |      e.event_id,
             |      row_number() OVER (PARTITION BY e.user_id
             |        ORDER BY e.ts_us, e.event_id) AS rn
             |    FROM ev e JOIN s1 ON s1.user_id = e.user_id
             |    WHERE e.event_type = 'click' AND e.ts_us > s1.s1_ts)
             |  WHERE rn = 1
             |), s3 AS (
             |  SELECT user_id, s1_id, s2_id, event_id AS s3_id,
             |    ts_us - s1_ts AS latency_us
             |  FROM (
             |    SELECT e.user_id, s2.s1_ts, s2.s1_id, s2.s2_id,
             |      e.ts_us, e.event_id,
             |      row_number() OVER (PARTITION BY e.user_id
             |        ORDER BY e.ts_us, e.event_id) AS rn
             |    FROM ev e JOIN s2 ON s2.user_id = e.user_id
             |    WHERE e.event_type = 'purchase'
             |      AND e.ts_us > s2.s2_ts
             |      AND e.ts_us - s2.s1_ts <= 432000000000)
             |  WHERE rn = 1
             |)
             |SELECT user_id, s1_id, s2_id, s3_id,
             |  CAST(latency_us AS BIGINT) AS latency_us
             |FROM s3 ORDER BY user_id""".stripMargin)),

    // The materialized-summary rewrite GATE: builds the rollup once
    // per JVM (StoreCache, the q216/q238 pattern), registers it with
    // SummaryRewriteRule, and runs a subset-grouped aggregate over
    // the FACT — which the optimizer must serve from the summary.
    // The declared output carries the plan-derived `read_summary`
    // flag next to the aggregate values, so the oracle (which
    // recomputes from the raw fact, knowing nothing of summaries)
    // hash-gates BOTH the rewrite's answer parity and the fact that
    // the rewrite actually fired. At 100 TB this plan is the point:
    // the query touches a rollup of |keys| rows instead of the
    // corpus.
    QueryDef(
      "q298_summary_rewrite",
      (s, d) => {
        val fact = lineitem(s, d)
        val path = graft.StoreCache.getOrBuild("summary", d) { p =>
          fact.groupBy("l_returnflag", "l_linestatus")
            .agg(count(lit(1)).as("n_rows"),
              sum(col("l_linenumber")).as("sum_ln"))
            .write.mode("overwrite").parquet(p)
        }
        graft.plans.SummaryRewriteRule.clear()
        graft.plans.SummaryRewriteRule.register(fact,
          graft.StoreCache.readParquet(s, path),
          keys = Seq("l_returnflag", "l_linestatus"),
          partials = Map(("count", "*") -> "n_rows",
            ("sum", "l_linenumber") -> "sum_ln"))
        // aggregate shapes must stay bare Alias(AggregateExpression)
        // for the rule's structural match — no outer casts (count and
        // sum-over-int are LongType already)
        val agg = fact.groupBy("l_returnflag")
          .agg(count(lit(1)).as("n_rows"),
            sum(col("l_linenumber")).as("sum_ln"))
        val readSummary = agg.queryExecution.optimizedPlan.collect {
          case lr: org.apache.spark.sql.execution.datasources
              .LogicalRelation => lr.relation match {
            case h: org.apache.spark.sql.execution.datasources
                .HadoopFsRelation =>
              h.location.rootPaths.map(_.toString)
            case _ => Seq.empty[String]
          }
        }.flatten.exists(_.contains("graft-stores/summary"))
        // execute WHILE registered (3 rows — O(keys) model scale),
        // then DEREGISTER so no later query in this session is
        // silently re-routed: the rewrite must never make unrelated
        // plans order-dependent on whether q298 ran first.
        val rows = agg.orderBy("l_returnflag").collect()
        graft.plans.SummaryRewriteRule.clear()
        import s.implicits._
        rows.toSeq
          .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
            readSummary))
          .toDF("l_returnflag", "n_rows", "sum_ln", "read_summary")
          .orderBy("l_returnflag")
      },
      Some("""SELECT l_returnflag,
             |  CAST(COUNT(*) AS BIGINT) AS n_rows,
             |  CAST(SUM(CAST(l_linenumber AS BIGINT)) AS BIGINT)
             |    AS sum_ln,
             |  true AS read_summary
             |FROM lineitem GROUP BY l_returnflag
             |ORDER BY l_returnflag""".stripMargin)),

    // Labeled BUILD workload for the shared graph edge stores (the
    // q239/q240 pattern: serve rows measure serving, this row prices
    // the materializations). Forces a rebuild of every edge store the
    // graph family probes — the three co-purchase quantity slices and
    // the customer↔supplier bipartite list — then reports each
    // store's edge/node counts from the STORE (not the inline form),
    // so the oracle gate certifies the materialized content itself.
    // Bipartite node count is |customers| + |suppliers| counted
    // separately (custkey 5 and suppkey 5 are distinct nodes — a
    // naive union would merge them).
    QueryDef(
      "q314_edge_stores_build",
      (s, d) => {
        // ONE wedge join builds all three quantity slices: the base
        // tags every edge with the highest threshold it survives
        // (max over shared orders of least(endpoint max-quantities)),
        // so copurch25/30/35 are FILTERS of one store instead of
        // three self-joins — the r18 verdict's build-lane trim. The
        // slice stores' content is bit-identical to the inline form
        // (the oracle still gates each store's counts).
        val baseDir = graft.StoreCache.rebuild("copurchbase", d) { p =>
          coPurchaseBaseInline(s, d, 25)
            .write.mode("overwrite").parquet(p)
        }
        val base = s.read.parquet(baseDir)
        val co = Seq(25, 30, 35).map { q =>
          val dir = graft.StoreCache.rebuild(s"copurch$q", d) { p =>
            base.filter(col("maxq") >= q).select("u", "v")
              .write.mode("overwrite").parquet(p)
          }
          val e = s.read.parquet(dir)
          val nE = e.agg(count(lit(1)).cast("long").as("n_edges"))
          val nN = e.select(col("u").as("n"))
            .unionAll(e.select(col("v").as("n"))).distinct()
            .agg(count(lit(1)).cast("long").as("n_nodes"))
          nE.crossJoin(nN)
            .select(lit(s"copurch$q").as("store"),
              col("n_edges"), col("n_nodes"))
        }
        val csDir = graft.StoreCache.rebuild("csedges", d) { p =>
          csEdgesInline(s, d).write.mode("overwrite").parquet(p)
        }
        val cs = s.read.parquet(csDir)
        val csRow = cs.agg(count(lit(1)).cast("long").as("n_edges"))
          .crossJoin(cs.select("c").distinct()
            .agg(count(lit(1)).as("nc")))
          .crossJoin(cs.select("sp").distinct()
            .agg(count(lit(1)).as("ns")))
          .select(lit("csedges").as("store"), col("n_edges"),
            (col("nc") + col("ns")).cast("long").as("n_nodes"))
        co.reduce(_ unionByName _).unionByName(csRow)
          .orderBy("store")
      },
      Some {
        def cop(q: Int) =
          s"""li$q AS (
             |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
             |  FROM lineitem WHERE l_quantity >= $q
             |), e$q AS (
             |  SELECT DISTINCT a.pk AS u, b.pk AS v
             |  FROM li$q a JOIN li$q b ON a.ok = b.ok AND a.pk < b.pk
             |)""".stripMargin
        def copRow(q: Int) =
          s"""SELECT 'copurch$q' AS store,
             |  CAST((SELECT COUNT(*) FROM e$q) AS BIGINT) AS n_edges,
             |  CAST((SELECT COUNT(*) FROM (
             |    SELECT u FROM e$q UNION SELECT v FROM e$q))
             |    AS BIGINT) AS n_nodes""".stripMargin
        s"""WITH ${cop(25)}, ${cop(30)}, ${cop(35)}, cs AS (
           |  SELECT DISTINCT o_custkey AS c, l_suppkey AS sp
           |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
           |)
           |SELECT * FROM (
           |${copRow(25)}
           |UNION ALL
           |${copRow(30)}
           |UNION ALL
           |${copRow(35)}
           |UNION ALL
           |SELECT 'csedges' AS store,
           |  CAST((SELECT COUNT(*) FROM cs) AS BIGINT) AS n_edges,
           |  CAST((SELECT COUNT(DISTINCT c) FROM cs) +
           |       (SELECT COUNT(DISTINCT sp) FROM cs)
           |    AS BIGINT) AS n_nodes)
           |ORDER BY store""".stripMargin
      }),

    // Community detection via synchronous label propagation (Raghavan
    // et al. 2007, made deterministic — see
    // operators.GraphPropagation.labelPropagation) over the q314
    // copurch35 edge store: 3 fixed rounds of neighbor-majority
    // voting (count DESC, label ASC tie-break), then the community
    // size distribution. Community grain sits BETWEEN connected
    // components (q299's audit shows components over-merge through
    // chain links) and per-node scores (q191/q192) — the clustering a
    // near-dup/citation corpus actually wants. Everything is integer
    // (labels are node ids, votes are counts), so the unrolled DuckDB
    // CTE chain reproduces the rounds bit-for-bit; per round one
    // edge-sized join + two hash-aggs, O(nodes) state, per-round
    // localCheckpoint — linear and keyed at any graph size.
    QueryDef(
      "q316_label_propagation",
      (s, d) => {
        val edges = coPurchaseEdges(s, d, 35)
          .select(col("u").cast("long").as("u"),
            col("v").cast("long").as("v"))
        graft.operators.GraphPropagation
          .labelPropagation(edges, "u", "v", rounds = 3)
          .groupBy(col("lbl").cast("long").as("community"))
          .agg(count(lit(1)).cast("long").as("n_nodes"))
          .orderBy(col("n_nodes").desc, col("community").asc)
          .limit(10)
      },
      Some {
        val sb = new StringBuilder(
          """WITH li AS (
            |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
            |  FROM lineitem WHERE l_quantity >= 35
            |), e0 AS (
            |  SELECT DISTINCT a.pk AS u, b.pk AS v
            |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
            |), und AS (
            |  SELECT u AS n, v AS m FROM e0
            |  UNION ALL SELECT v AS n, u AS m FROM e0
            |), l0 AS (
            |  SELECT DISTINCT n, n AS lbl FROM und
            |)""".stripMargin)
        for (i <- 1 to 3) {
          sb.append(s""", v$i AS (
            |  SELECT und.n, l.lbl, CAST(COUNT(*) AS BIGINT) AS c
            |  FROM und JOIN l${i - 1} l ON und.m = l.n
            |  GROUP BY und.n, l.lbl
            |), l$i AS (
            |  SELECT n, lbl FROM (
            |    SELECT n, lbl, row_number() OVER (
            |      PARTITION BY n ORDER BY c DESC, lbl ASC) AS rn
            |    FROM v$i)
            |  WHERE rn = 1
            |)""".stripMargin)
        }
        sb.append("""
            |SELECT CAST(lbl AS BIGINT) AS community,
            |  CAST(COUNT(*) AS BIGINT) AS n_nodes
            |FROM l3 GROUP BY lbl
            |ORDER BY n_nodes DESC, community ASC
            |LIMIT 10""".stripMargin)
        sb.toString
      })
  )

  /** Distinct co-purchase part pairs (u < v): parts sharing an order
    * whose line quantity ≥ `minQty` — the graph behind
    * q264/q266/q267/q271. Per-order fan-out is bounded (≤ 13 items ⇒
    * ≤ 78 pairs) and the quantity filter pushes to the parquet scan.
    */
  /** The co-purchase edge list computed inline: distinct part pairs
    * sharing an order at the quantity slice — the (order, part)
    * self-join every graph-topology row starts from.
    */
  private[queries] def coPurchaseEdgesInline(
      s: org.apache.spark.sql.SparkSession,
      d: String, minQty: Int): org.apache.spark.sql.DataFrame = {
    val li = lineitem(s, d)
      .filter(col("l_quantity") >= minQty)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .distinct()
    li.as("a")
      .join(li.as("b"),
        col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
      .select(col("a.pk").as("u"), col("b.pk").as("v"))
      .distinct()
  }

  /** Threshold-tagged co-purchase edge base — ONE wedge join for
    * EVERY quantity slice at or above `floor`: per (order, part) the
    * max quantity survives the floor filter, the wedge join tags
    * each pair with `least` of the endpoint maxima, and the edge
    * keeps the MAX tag over shared orders. An edge belongs to slice
    * `t ≥ floor` iff `maxq ≥ t`, so the three copurch stores become
    * filters of this base (each slice's content identical to its own
    * inline self-join) and the build lane pays the wedge join once.
    */
  private[queries] def coPurchaseBaseInline(
      s: org.apache.spark.sql.SparkSession,
      d: String, floor: Int): org.apache.spark.sql.DataFrame = {
    val li = lineitem(s, d)
      .filter(col("l_quantity") >= floor)
      .groupBy(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .agg(max(col("l_quantity")).as("mq"))
    li.as("a")
      .join(li.as("b"),
        col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
      .select(col("a.pk").as("u"), col("b.pk").as("v"),
        least(col("a.mq"), col("b.mq")).as("t"))
      .groupBy("u", "v")
      .agg(max(col("t")).as("maxq"))
  }

  /** Co-purchase edges served from the per-session StoreCache: the
    * graph-topology family (q264/q266/q267/q271/q282/q297) shares the
    * same self-join-derived edge list per quantity slice, so each
    * slice is materialized ONCE per dataset (the labeled q314 build
    * row rebuilds and prices all edge stores) and every serve row
    * starts from a columnar edge scan instead of re-running the
    * (order, part) self-join. Parquet round-trips the integer keys
    * exactly and all consumers are order-insensitive, so results are
    * bit-identical to the inline form. At 100 TB this IS the design:
    * an edge list is a first-class materialization, not a per-query
    * derivation.
    */
  private def coPurchaseEdges(s: org.apache.spark.sql.SparkSession,
      d: String, minQty: Int): org.apache.spark.sql.DataFrame = {
    val dir = graft.StoreCache.getOrBuild(s"copurch$minQty", d) { p =>
      coPurchaseEdgesInline(s, d, minQty)
        .write.mode("overwrite").parquet(p)
    }
    graft.StoreCache.readParquet(s, dir).select("u", "v")
  }

  /** The customer↔supplier bipartite edge list computed inline:
    * distinct (custkey, suppkey) pairs linked through an order.
    */
  private[queries] def csEdgesInline(
      s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    orders(s, d)
      .join(lineitem(s, d), col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey").as("c"), col("l_suppkey").as("sp"))
      .distinct()

  /** Customer↔supplier edges served from the per-session StoreCache
    * (shared by q191/q192/q289 — HITS, PageRank, and PPR all
    * propagate over the same bipartite graph). Stored RAW (c, sp):
    * the parity-disjoint long encoding q192/q289 use is an injective
    * per-row map, so deriving it from the stored pairs preserves
    * distinctness and types exactly.
    */
  private def csEdges(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    val dir = graft.StoreCache.getOrBuild("csedges", d) { p =>
      csEdgesInline(s, d).write.mode("overwrite").parquet(p)
    }
    graft.StoreCache.readParquet(s, dir).select("c", "sp")
  }

}

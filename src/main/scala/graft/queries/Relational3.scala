package graft.queries

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Third relational pack: the statistical-aggregate family, ordered
  * arg-extrema (min_by/max_by), boolean/bitwise aggregates, the
  * standard `FILTER (WHERE ...)` aggregate clause, UNPIVOT (melt),
  * correlated LATERAL top-n, and deterministic mode + exact median.
  *
  * Every query here is a single map-side-combinable hash aggregation
  * (or, for the lateral/mode forms, one shuffle keyed on the group),
  * so all of them scale as a straight partial-agg tree — no windows
  * over whole tables, no driver-side state.
  */
object Relational3 {

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  val defs: Seq[QueryDef] = Seq(

    // Full statistical-moment family. Skewness/kurtosis are the
    // POPULATION g1 / excess-g2 forms computed from raw power sums:
    // Spark's builtins are population forms but DuckDB's are
    // sample-corrected, so the text spells the formulas out — equal to
    // Spark's builtins at 6 dp on quantity-scale magnitudes.
    // corr / covar / stddev / var agree between engines natively.
    QueryDef.sql(
      "q_stat_aggs",
      """WITH m AS (
        |  SELECT l_returnflag, avg(l_quantity) AS mu,
        |    avg(l_quantity*l_quantity) AS m2r,
        |    avg(l_quantity*l_quantity*l_quantity) AS m3r,
        |    avg(l_quantity*l_quantity*l_quantity*l_quantity) AS m4r,
        |    round(stddev_samp(l_quantity), 6) AS sd_qty,
        |    round(var_samp(l_quantity), 6) AS var_qty,
        |    round(stddev_pop(l_quantity), 6) AS sdp_qty,
        |    round(var_pop(l_quantity), 6) AS varp_qty,
        |    round(corr(l_quantity, l_extendedprice), 6) AS corr_qp,
        |    round(covar_samp(l_quantity, l_discount), 6) AS cov_qd,
        |    round(covar_pop(l_quantity, l_discount), 6) AS covp_qd
        |  FROM lineitem GROUP BY 1)
        |SELECT l_returnflag, sd_qty, var_qty, sdp_qty, varp_qty,
        |  corr_qp, cov_qd, covp_qd,
        |  round((m3r - 3*mu*m2r + 2*mu*mu*mu)
        |        / pow(m2r - mu*mu, 1.5), 6) AS skew_qty,
        |  round((m4r - 4*mu*m3r + 6*mu*mu*m2r - 3*mu*mu*mu*mu)
        |        / pow(m2r - mu*mu, 2) - 3, 6) AS kurt_qty
        |FROM m
        |""".stripMargin),

    // Ordered arg-extrema: the selector (o_orderkey) is unique within
    // every group, so min_by/max_by are fully deterministic — no
    // tie-break hazard between engines.
    QueryDef.sql(
      "q_minmax_by",
      """SELECT o_orderpriority,
        |  max_by(o_custkey, o_orderkey) AS last_cust,
        |  min_by(o_custkey, o_orderkey) AS first_cust,
        |  max_by(o_totalprice, o_orderkey) AS last_price,
        |  min_by(o_totalprice, o_orderkey) AS first_price
        |FROM orders GROUP BY 1
        |""".stripMargin),

    // Boolean + bitwise aggregates — all order-independent, so partial
    // aggregation is exact by construction.
    QueryDef.sql(
      "q_bool_bit_aggs",
      """SELECT l_returnflag,
        |  bool_and(l_discount <= 0.10) AS all_small_disc,
        |  bool_or(l_quantity >= 49)    AS any_big_qty,
        |  bool_and(l_tax >= 0.05)      AS all_taxed,
        |  bit_and(l_partkey) AS pk_and,
        |  bit_or(l_partkey)  AS pk_or,
        |  bit_xor(l_partkey) AS pk_xor
        |FROM lineitem GROUP BY 1
        |""".stripMargin),

    // Standard aggregate FILTER clause (per-aggregate predicates in one
    // grouping pass — the alternative is N self-joined aggregations).
    // Catalyst folds each FILTER into the aggregate's own evaluation,
    // so this stays one hash-agg over one scan.
    QueryDef.sql(
      "q_agg_filter",
      """SELECT l_returnflag,
        |  count(*) FILTER (WHERE l_discount > 0.05) AS n_disc,
        |  sum(l_quantity) FILTER (WHERE l_tax = 0) AS qty_notax,
        |  round(avg(l_extendedprice) FILTER (WHERE l_linestatus = 'F'), 4) AS avg_price_f,
        |  count(*) AS n_all
        |FROM lineitem GROUP BY 1
        |""".stripMargin),

    // UNPIVOT / melt: wide measure columns to (metric, value) rows.
    // Spark's Dataset.unpivot is a zero-shuffle Expand (each input row
    // emits one row per measure inside the scan stage); the aggregate
    // after it is the only shuffle.
    QueryDef(
      "q_unpivot",
      """SELECT l_returnflag, metric,
        |  round(avg(value), 6) AS av, round(sum(value), 4) AS tot
        |FROM (
        |  UNPIVOT (SELECT l_returnflag, l_quantity, l_discount, l_tax FROM lineitem)
        |  ON l_quantity, l_discount, l_tax INTO NAME metric VALUE value)
        |GROUP BY 1, 2
        |""".stripMargin) { (s, dir) =>
      t(s, dir, "lineitem")
        .unpivot(
          Array(col("l_returnflag")),
          Array(col("l_quantity"), col("l_discount"), col("l_tax")),
          "metric", "value")
        .groupBy("l_returnflag", "metric")
        .agg(round(avg("value"), 6).as("av"), round(sum("value"), 4).as("tot"))
    },

    // Correlated LATERAL subquery with ORDER BY + LIMIT — per-order
    // top-2 lineitems by price. Catalyst decorrelates this into a
    // join + per-key rank filter (DecorrelateInnerQuery), so it runs
    // as one shuffle on the join key, not a per-row nested loop; the
    // selective orders filter is pushed to the scan.
    QueryDef.sql(
      "q_lateral_topn",
      """SELECT o.o_orderkey, t.l_linenumber, t.l_extendedprice
        |FROM orders o, LATERAL (
        |  SELECT l_linenumber, l_extendedprice FROM lineitem l
        |  WHERE l.l_orderkey = o.o_orderkey
        |  ORDER BY l_extendedprice DESC, l_linenumber LIMIT 2) t
        |WHERE o.o_totalprice > 400000
        |""".stripMargin),

    // Recursive CTE (new in Spark 4): a weekly calendar spine built by
    // recursion, left-joined to the fact table — the canonical
    // "report every bucket even when empty" shape. The spine is tiny
    // (rows = weeks), so Catalyst broadcasts it; the fact scan stays
    // one pass. Recursion depth is bounded by the date range, never
    // by data volume.
    QueryDef(
      "q_recursive_cte",
      """WITH RECURSIVE spine(ws) AS (
        |  SELECT CAST('1995-01-02' AS TIMESTAMP)
        |  UNION ALL
        |  SELECT ws + INTERVAL '7' DAY FROM spine
        |  WHERE ws < CAST('1995-11-27' AS TIMESTAMP)
        |), buck AS (
        |  SELECT CAST('1995-01-02' AS TIMESTAMP)
        |    + INTERVAL (7 * CAST(floor(date_diff('day', DATE '1995-01-02',
        |        l_shipdate) / 7) AS INT)) DAY AS ws,
        |    l_orderkey
        |  FROM lineitem
        |)
        |SELECT s.ws, count(b.l_orderkey) AS n
        |FROM spine s LEFT JOIN buck b ON b.ws = s.ws
        |GROUP BY s.ws
        |""".stripMargin) { (s, dir) =>
      // The spine comes from the recursion (the surface under test);
      // the facts attach by EQUI-join on the computed week bucket —
      // the theta form (l_shipdate >= ws AND < ws + 7d) planned as an
      // interpreted BroadcastNestedLoopJoin evaluating the interval
      // arithmetic per (row, week) pair: 6.3 s at sf0.1 for 29M
      // pairs; the bucket equi-join is a codegen'd hash join.
      // Semantics identical: each row maps to exactly one week,
      // out-of-range rows map to no spine week.
      //
      // The facts are aggregated to per-week counts BEFORE meeting the
      // spine: a left join whose preserved side is the 48-row spine
      // cannot broadcast it (only the non-preserved side of an outer
      // join is broadcastable), so the naive `spine LEFT JOIN buck`
      // shuffles the ENTIRE fact table onto 48 week keys — maximal
      // skew, superlinear at scale (1.6 s at sf0.1 → 20 s at sf1).
      // Pre-aggregating makes the fact pass a map-side-combined hash
      // aggregate (48 rows out per partition) and the join a broadcast
      // of week-count rows; count(b.l_orderkey)=0 for empty weeks is
      // restored by coalesce. The text is Spark's dialect: DuckDB's
      // `date_diff('day', ...)` and `INTERVAL (expr) DAY` do not parse.
      Tables.sql(s, dir,
        """WITH RECURSIVE spine(ws) AS (
          |  SELECT CAST('1995-01-02' AS TIMESTAMP)
          |  UNION ALL
          |  SELECT ws + INTERVAL '7' DAY FROM spine
          |  WHERE ws < CAST('1995-11-27' AS TIMESTAMP)
          |), buck AS (
          |  SELECT timestampadd(DAY,
          |      7 * CAST(floor(datediff(l_shipdate, DATE'1995-01-02') / 7) AS INT),
          |      TIMESTAMP'1995-01-02') AS ws,
          |    count(*) AS cnt
          |  FROM lineitem
          |  GROUP BY 1
          |)
          |SELECT s.ws, coalesce(b.cnt, 0) AS n
          |FROM spine s LEFT JOIN buck b ON b.ws = s.ws
          |""".stripMargin)
    },

    // Deterministic mode (highest count, then smallest value — builtin
    // mode() is tie-nondeterministic in both engines, so the rule is
    // spelled out) + exact interpolated median. The mode side is a
    // wordcount-shaped double aggregation: (flag, qty) counts, then a
    // flag-keyed argmax — group cardinality, never row cardinality, in
    // the second stage.
    QueryDef.sql(
      "q_mode_median",
      """WITH c AS (
        |  SELECT l_returnflag, l_quantity, count(*) AS n
        |  FROM lineitem GROUP BY 1, 2
        |), m AS (
        |  SELECT l_returnflag, l_quantity AS mode_qty,
        |    row_number() OVER (PARTITION BY l_returnflag
        |                       ORDER BY n DESC, l_quantity) AS rn
        |  FROM c)
        |SELECT m.l_returnflag, m.mode_qty, md.med_qty
        |FROM m JOIN (
        |  SELECT l_returnflag, round(median(l_quantity), 4) AS med_qty
        |  FROM lineitem GROUP BY 1) md
        |ON m.l_returnflag = md.l_returnflag
        |WHERE m.rn = 1
        |""".stripMargin),

    // QUALIFY — filter on a window function (top-3 orders per
    // customer by price), executed as the SORT-FREE k-bounded heap
    // aggregate ([[graft.operators.ScalableWindow.topKPerGroup]]):
    // with 1.5M scattered customer groups at sf10 the window form's
    // partial WindowGroupLimit sorts all 15M rows map-side while
    // pruning nothing, then sorts again after the exchange (19.1 s;
    // 7.6 s with the rule off; the heap aggregate: no sort anywhere).
    // The two-pass ranker (groupRowNumber) stays the unranked/
    // full-ranking escape hatch.
    QueryDef(
      "q_qualify",
      """SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    CAST(row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rn
        |  FROM orders)
        |WHERE rn <= 3
        |""".stripMargin) { (s, dir) =>
      graft.operators.ScalableWindow.topKPerGroup(
          t(s, dir, "orders")
            .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice")),
          Seq("o_custkey"), "o_totalprice", "o_orderkey", k = 3, out = "rn")
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
          col("rn"))
    },

    // GROUP BY ALL (group by every non-aggregate select item) —
    // Spark 4 supports it natively in SQL. Plans identically to the
    // explicit GROUP BY.
    QueryDef.sql(
      "q_groupby_all",
      """SELECT l_returnflag, l_linestatus, CAST(count(*) AS BIGINT) AS n,
        |  round(sum(l_extendedprice), 2) AS rev
        |FROM lineitem GROUP BY ALL
        |""".stripMargin),

    // Windowed COUNT(DISTINCT) — neither engine-portable nor
    // Spark-supported directly, so the operator IS the standard
    // rewrite: first-occurrence flag (row_number over the
    // (user, type) pair by time) running-summed over the user's
    // timeline. Both windows are keyed on high-cardinality user_id —
    // balanced tasks, no single-task global window.
    QueryDef.sql(
      "q_window_count_distinct",
      """WITH e AS (
        |  SELECT user_id, event_type, ts, event_id,
        |    row_number() OVER (PARTITION BY user_id, event_type
        |                       ORDER BY ts, event_id) AS occ
        |  FROM events
        |)
        |SELECT user_id, event_id,
        |  CAST(sum(CASE WHEN occ = 1 THEN 1 ELSE 0 END)
        |    OVER (PARTITION BY user_id ORDER BY ts, event_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS BIGINT) AS distinct_types_so_far
        |FROM e
        |""".stripMargin),

    // Robust anomaly detection: modified z-score on median/MAD
    // (Iglewicz & Hoaglin's |0.6745·(x−med)/MAD| > 3.5 rule) per
    // event_type — outliers survive the statistic that flags them,
    // unlike mean/stddev. Two group-cardinality median aggregates +
    // two broadcast joins; the corpus is scanned twice, shuffled to
    // |event_type| rows each time.
    QueryDef(
      "q_anomaly_mad",
      """WITH m AS (
        |  SELECT event_type, median(value) AS med FROM events GROUP BY 1
        |), d AS (
        |  SELECT e.event_type, e.event_id, e.value, m.med,
        |    abs(e.value - m.med) AS adev
        |  FROM events e JOIN m USING (event_type)
        |), mad AS (
        |  SELECT event_type, median(adev) AS mad FROM d GROUP BY 1
        |)
        |SELECT d.event_type, d.event_id, round(d.value, 6) AS value,
        |  round(0.6745 * (d.value - d.med) / mad.mad, 4) AS mod_z
        |FROM d JOIN mad USING (event_type)
        |WHERE mad.mad > 0
        |  AND abs(0.6745 * (d.value - d.med) / mad.mad) > 3.5
        |""".stripMargin) { (s, dir) =>
      val e = t(s, dir, "events")
      val m = e.groupBy("event_type").agg(median(col("value")).as("med"))
      val d = e.join(broadcast(m), "event_type")
        .select(col("event_type"), col("event_id"), col("value"), col("med"),
          abs(col("value") - col("med")).as("adev"))
      val mad = d.groupBy("event_type").agg(median(col("adev")).as("mad"))
      val z = lit(0.6745) * (col("value") - col("med")) / col("mad")
      d.join(broadcast(mad), "event_type")
        .filter(col("mad") > 0 && abs(z) > 3.5)
        .select(col("event_type"), col("event_id"),
          round(col("value"), 6).as("value"), round(z, 4).as("mod_z"))
    }
  )
}

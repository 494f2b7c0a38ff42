package graft.queries

import graft.{QueryDef, Tables}
import graft.operators.Flatten
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Second relational pack: percentiles, analytic-window extras, pivot,
  * ordered string aggregation, distributed flattening. */
object Relational2 {

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  val defs: Seq[QueryDef] = Seq(

    // exact interpolated percentiles (Spark `percentile` ≡ DuckDB
    // quantile_cont — both exact, unlike the approx sketches)
    QueryDef(
      "q_percentiles",
      """SELECT l_returnflag,
        |  round(quantile_cont(l_quantity, 0.5), 4) AS p50,
        |  round(quantile_cont(l_quantity, 0.9), 4) AS p90,
        |  round(quantile_cont(l_extendedprice, 0.25), 4) AS price_p25
        |FROM lineitem GROUP BY l_returnflag
        |""".stripMargin) { (s, dir) =>
      // size-adaptive: builtin percentile buffers a value->count map
      // per group (OOM on continuous columns at cluster scale); past
      // the limit the rank-based distributed form takes over
      graft.operators.ScalableWindow.exactPercentiles(
        t(s, dir, "lineitem"), "l_returnflag",
        Seq(("p50", "l_quantity", 0.5), ("p90", "l_quantity", 0.9),
          ("price_p25", "l_extendedprice", 0.25)),
        singleNodeAggLimitBytes = 2L << 30)
        .select(col("l_returnflag"), round(col("p50"), 4).as("p50"),
          round(col("p90"), 4).as("p90"),
          round(col("price_p25"), 4).as("price_p25"))
    },

    QueryDef(
      "q_window_analytic",
      """SELECT l_orderkey, l_linenumber,
        |  round(percent_rank() OVER w, 6) AS pct_rank,
        |  round(cume_dist()    OVER w, 6) AS cume,
        |  nth_value(l_quantity, 2) OVER
        |    (PARTITION BY l_returnflag ORDER BY l_quantity, l_orderkey, l_linenumber
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS second_qty,
        |  last_value(l_quantity) OVER
        |    (PARTITION BY l_returnflag ORDER BY l_quantity, l_orderkey, l_linenumber
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS max_qty
        |FROM lineitem
        |WINDOW w AS (PARTITION BY l_returnflag ORDER BY l_quantity, l_orderkey, l_linenumber)
        |""".stripMargin) { (s, dir) =>
      // Rank-family over 3 partition keys. Window.partitionBy sorts
      // each key's whole row set in ONE task — fine up to tens of
      // millions of rows per key, unrunnable at 100 TB. The operator
      // picks by input size (catalog stats, no extra pass): under the
      // threshold the plain window wins on wall-clock (fewer passes);
      // above it, ScalableWindow.groupRowNumber computes the same four
      // outputs from a distributed per-group row number (range
      // repartition + offset pass; exact SQL peer semantics).
      graft.operators.ScalableWindow.analyticRankQuery(
        t(s, dir, "lineitem"),
        singleTaskSortLimitBytes = 2L << 30,
        // (l_orderkey, l_linenumber) — the lineitem primary key — is
        // inside the ORDER BY, so ties are impossible and the big arm
        // skips peer recovery (two full-data exchanges).
        orderIsUnique = true)
    },

    // pivot as portable conditional aggregation (one column per
    // return flag)
    QueryDef.sql(
      "q_pivot",
      """SELECT l_linestatus,
        |  round(coalesce(sum(CASE WHEN l_returnflag = 'A' THEN l_quantity END), 0), 2) AS A,
        |  round(coalesce(sum(CASE WHEN l_returnflag = 'N' THEN l_quantity END), 0), 2) AS N,
        |  round(coalesce(sum(CASE WHEN l_returnflag = 'R' THEN l_quantity END), 0), 2) AS R
        |FROM lineitem GROUP BY l_linestatus
        |""".stripMargin),

    // deterministic ordered string aggregation (sorted collect_list —
    // order-insensitive across partitions, unlike raw listagg)
    QueryDef(
      "q_string_agg",
      """SELECT n_regionkey, string_agg(n_name, ',' ORDER BY n_name) AS names
        |FROM nation GROUP BY n_regionkey
        |""".stripMargin) { (s, dir) =>
      t(s, dir, "nation").groupBy("n_regionkey")
        .agg(array_join(array_sort(collect_list(col("n_name"))), ",").as("names"))
    },

    QueryDef(
      "q_regex_filter",
      """SELECT p_partkey, p_name,
        |  regexp_replace(p_name, '[aeiou]', '_', 'g') AS devoweled
        |FROM part WHERE regexp_matches(p_name, 'red|blue')
        |""".stripMargin) { (s, dir) =>
      t(s, dir, "part")
        .filter(col("p_name").rlike("red|blue"))
        .select(col("p_partkey"), col("p_name"),
          regexp_replace(col("p_name"), "[aeiou]", "_").as("devoweled"))
    },

    QueryDef.sql(
      "q_null_funcs",
      """SELECT
        |  count(*) AS n_rows,
        |  count(click_ref) AS n_nonnull,
        |  count(coalesce(click_ref, 'none')) AS n_coalesced,
        |  count(DISTINCT nullif(event_type, 'click')) AS n_types_minus_click
        |FROM (SELECT event_type,
        |        CASE WHEN event_type = 'click' THEN NULL ELSE event_type END AS click_ref
        |      FROM events) t
        |""".stripMargin),

    // DISTINCT ON: first row per group under an ordering (DuckDB
    // native; Spark expresses it as row_number = 1)
    QueryDef(
      "q_distinct_on",
      """SELECT DISTINCT ON (o_custkey) o_custkey, o_orderkey, o_orderdate
        |FROM orders ORDER BY o_custkey, o_orderdate, o_orderkey
        |""".stripMargin) { (s, dir) =>
      val w = Window.partitionBy("o_custkey").orderBy(col("o_orderdate"), col("o_orderkey"))
      t(s, dir, "orders")
        .withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1)
        .select("o_custkey", "o_orderkey", "o_orderdate")
    },

    // TPC-H Q7 shape: shipping volume between two nation pairs by year
    QueryDef(
      "q_nation_volume",
      """SELECT supp_nation, cust_nation, l_year, round(sum(volume), 2) AS revenue
        |FROM (
        |  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |    CAST(year(l_shipdate) AS BIGINT) AS l_year,
        |    l_extendedprice * (1 - l_discount) AS volume
        |  FROM supplier JOIN lineitem ON s_suppkey = l_suppkey
        |  JOIN orders   ON o_orderkey = l_orderkey
        |  JOIN customer ON c_custkey = o_custkey
        |  JOIN nation n1 ON s_nationkey = n1.n_nationkey
        |  JOIN nation n2 ON c_nationkey = n2.n_nationkey
        |  WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
        |     OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
        |) shipping
        |GROUP BY supp_nation, cust_nation, l_year
        |""".stripMargin) { (s, dir) =>
      // The two-nation predicate is the selective step, so the
      // broadcast dims are filtered and joined FIRST (Catalyst cannot
      // split the OR-of-ANDs across two relations on its own): the
      // supplier and customer branches shrink to 2-of-N nations before
      // any fact shuffle. r18 (guide §3.1): the customer branch now
      // pre-filters ORDERS too — (custkey, cust_nation) of the two
      // qualifying nations joins into the orders scan, so orders
      // collapses to qualifying-nation rows (~2/N of the table)
      // BEFORE the orderkey join, and only that slim (orderkey,
      // cust_nation) stream is exchanged. The old shape put the full
      // orders fact on the orderkey join's build side, where the
      // single-JVM 512 MB threshold turned it into a 15M-row
      // single-threaded driver hash build (measured at sf10: 76 s
      // wall with 13 task-seconds; this shape measures 6.8 s). The
      // SHUFFLE_MERGE hint keeps the static planner from broadcasting
      // either fact-derived side of the orderkey join. The cross-pair
      // condition (excluding N1–N1 / N2–N2) still applies after both
      // sides meet.
      val nats = Seq("NATION_1", "NATION_2")
      val n1 = t(s, dir, "nation")
        .select(col("n_nationkey").as("nk1"), col("n_name").as("supp_nation"))
        .filter(col("supp_nation").isin(nats: _*))
      val n2 = t(s, dir, "nation")
        .select(col("n_nationkey").as("nk2"), col("n_name").as("cust_nation"))
        .filter(col("cust_nation").isin(nats: _*))
      val cust2 = t(s, dir, "customer")
        .join(broadcast(n2), col("c_nationkey") === col("nk2"))
        .select(col("c_custkey"), col("cust_nation"))
      val ordCust = t(s, dir, "orders")
        .join(cust2, col("c_custkey") === col("o_custkey"))
        .select(col("o_orderkey"), col("cust_nation"))
      t(s, dir, "supplier")
        .join(broadcast(n1), col("s_nationkey") === col("nk1"))
        .join(t(s, dir, "lineitem"), col("s_suppkey") === col("l_suppkey"))
        .hint("SHUFFLE_MERGE")
        .join(ordCust.hint("SHUFFLE_MERGE"), col("o_orderkey") === col("l_orderkey"))
        .filter((col("supp_nation") === "NATION_1" && col("cust_nation") === "NATION_2") ||
          (col("supp_nation") === "NATION_2" && col("cust_nation") === "NATION_1"))
        .groupBy(col("supp_nation"), col("cust_nation"),
          year(col("l_shipdate")).cast("long").as("l_year"))
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
    },

    // TPC-H Q14 shape: conditional-aggregate ratio (promo revenue share)
    QueryDef.sql(
      "q_promo_share",
      """SELECT round(
        |  100.0 * sum(CASE WHEN p_type LIKE 'type_1%'
        |                   THEN l_extendedprice * (1 - l_discount) ELSE 0 END)
        |  / sum(l_extendedprice * (1 - l_discount)), 6) AS promo_share
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |""".stripMargin),

    // TPC-H Q18 shape: large orders via an aggregated IN-subquery
    QueryDef(
      "q_big_orders",
      """SELECT c_name, o_orderkey, o_totalprice, round(sum(l_quantity), 2) AS total_qty
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE o_orderkey IN (
        |  SELECT l_orderkey FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 150)
        |GROUP BY c_name, o_orderkey, o_totalprice
        |""".stripMargin) { (s, dir) =>
      // The HAVING filter is by far the most selective step, so it is
      // applied FIRST: Catalyst does not reorder joins (no CBO), and
      // semi-joining after customer⋈orders⋈lineitem would shuffle all
      // three tables at full volume only to discard ~everything.
      // r18 (guide §3.1, eager aggregation): the HAVING aggregate
      // ALREADY holds the query's output measure — total_qty per
      // order IS the sum the HAVING computed, because o_orderkey is
      // in the GROUP BY and orders/customer keys are unique, so every
      // output group is exactly one qualifying order. The old plan
      // re-derived it by scanning lineitem a second time, semi-joining
      // it, joining 4×-fanout fact rows through customer, and
      // re-aggregating (plan: 2 lineitem scans, 9 exchanges); carrying
      // __q instead drops the second scan, the fact join and the final
      // aggregate (plan: 1 lineitem scan, 5 exchanges). total_qty is
      // bit-identical: l_quantity is integral, so the double sums are
      // exact in any association order. The qualifying-orders side
      // collapses to few rows and AQE broadcasts it into orders and
      // customer — at 100 TB neither big table shuffles at all.
      val big = t(s, dir, "lineitem").groupBy("l_orderkey")
        .agg(sum("l_quantity").as("__q")).filter(col("__q") > 150)
      t(s, dir, "orders")
        .join(big, col("o_orderkey") === col("l_orderkey"))
        .join(t(s, dir, "customer"), col("c_custkey") === col("o_custkey"))
        .select(col("c_name"), col("o_orderkey"), col("o_totalprice"),
          round(col("__q"), 2).as("total_qty"))
    },

    // gap-based sessionization in pure SQL (lag + running sum of
    // session breaks) — the batch form of the streaming session window
    QueryDef(
      "q_sessionize_gap",
      """WITH flagged AS (
        |  SELECT user_id, ts, event_id,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR date_diff('second', lag(ts) OVER w, ts) > 1800
        |         THEN 1 ELSE 0 END AS new_sess
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |), numbered AS (
        |  SELECT user_id, ts, event_id,
        |    CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        |  FROM flagged
        |)
        |SELECT user_id, session_id, count(*) AS n_events,
        |  min(ts) AS session_start, max(ts) AS session_end
        |FROM numbered GROUP BY user_id, session_id
        |""".stripMargin) { (s, dir) =>
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val wRun = w.rowsBetween(Window.unboundedPreceding, 0)
      Tables.load(s, dir, "events")
        .withColumn("new_sess",
          when(lag(col("ts"), 1).over(w).isNull ||
            (unix_timestamp(col("ts")) - unix_timestamp(lag(col("ts"), 1).over(w))) > 1800, 1)
            .otherwise(0))
        .withColumn("session_id", sum(col("new_sess")).over(wRun).cast("long"))
        .groupBy("user_id", "session_id")
        .agg(count(lit(1)).as("n_events"),
          min("ts").as("session_start"), max("ts").as("session_end"))
    },

    // correlated scalar subquery — Catalyst's
    // RewriteCorrelatedScalarSubquery decorrelates it into an
    // aggregate + left outer join
    QueryDef.sql(
      "q_corr_scalar",
      """SELECT c_custkey, c_name,
        |  (SELECT round(max(o_totalprice), 2) FROM orders o
        |   WHERE o.o_custkey = c.c_custkey) AS max_order
        |FROM customer c
        |""".stripMargin),

    // struct construction + field access
    QueryDef(
      "q_struct_ops",
      """SELECT o_orderkey,
        |  struct_pack(status := o_orderstatus, price := o_totalprice).status AS s_status,
        |  struct_pack(status := o_orderstatus, price := o_totalprice).price  AS s_price
        |FROM orders
        |""".stripMargin) { (s, dir) =>
      val st = struct(col("o_orderstatus").as("status"), col("o_totalprice").as("price"))
      Tables.load(s, dir, "orders").select(
        col("o_orderkey"),
        st.getField("status").as("s_status"),
        st.getField("price").as("s_price"))
    },

    // the horizontal flattener running DISTRIBUTED (flatMap over a
    // Dataset of JSON strings) against raw event props
    QueryDef(
      "q_flatten_distributed",
      """SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        |FROM events
        |""".stripMargin) { (s, dir) =>
      import s.implicits._
      t(s, dir, "events")
        .select(col("event_id"), col("props"))
        .as[(Long, String)]
        .flatMap { case (id, props) =>
          Flatten.horizontal("t", props).map { r =>
            val k = r.row.get("k").collect {
              case graft.functions.JValue.JNum(raw) => raw.toLong
            }
            (id, k)
          }
        }
        .toDF("event_id", "k")
        .select(col("event_id"), col("k"))
    },

    QueryDef.sql(
      "q_join_right",
      """SELECT n_name, s_suppkey, s_name
        |FROM supplier RIGHT JOIN nation ON s_nationkey = n_nationkey
        |""".stripMargin),

    // MapType: build a per-customer status→count map in the engine,
    // then read it back out with element_at / map_keys / cardinality
    QueryDef(
      "q_map_ops",
      """WITH per AS (
        |  SELECT o_custkey, o_orderstatus AS st, count(*) AS c
        |  FROM orders GROUP BY 1, 2
        |), m AS (
        |  SELECT o_custkey, map(list(st ORDER BY st), list(c ORDER BY st)) AS mm
        |  FROM per GROUP BY 1
        |)
        |SELECT o_custkey,
        |  map_extract(mm, 'O')[1] AS n_open,
        |  map_extract(mm, 'F')[1] AS n_filled,
        |  array_to_string(list_sort(map_keys(mm)), ',') AS statuses,
        |  CAST(cardinality(mm) AS BIGINT) AS n_statuses
        |FROM m
        |""".stripMargin) { (s, dir) =>
      val m = t(s, dir, "orders")
        .groupBy("o_custkey", "o_orderstatus").count()
        .groupBy("o_custkey")
        .agg(map_from_entries(
          array_sort(collect_list(struct(col("o_orderstatus"), col("count"))))).as("mm"))
      m.select(col("o_custkey"),
        element_at(col("mm"), "O").as("n_open"),
        element_at(col("mm"), "F").as("n_filled"),
        array_join(array_sort(map_keys(col("mm"))), ",").as("statuses"),
        size(col("mm")).cast("long").as("n_statuses"))
    },

    // distribution windows: ntile / percent_rank / cume_dist — the
    // bucket-assignment family (quartiles per order status)
    QueryDef.sql(
      "q_window_ntile",
      """SELECT o_orderkey, o_orderstatus,
        |  CAST(ntile(4) OVER w AS BIGINT) AS quartile,
        |  round(percent_rank() OVER w, 6) AS pct_rank,
        |  round(cume_dist() OVER w, 6) AS cume
        |FROM orders
        |WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice, o_orderkey)
        |""".stripMargin),

    // gap-filled daily series with forward fill: generate the full day
    // spine between min and max order date, left-join actuals, carry
    // the last seen value across gaps — the time-series densification
    // every metrics pipeline runs. Money sums in DECIMAL so both
    // engines aggregate exactly.
    QueryDef(
      "q_gap_fill",
      """WITH daily AS (
        |  SELECT o_orderdate AS d,
        |    sum(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
        |  FROM orders GROUP BY 1
        |), bounds AS (
        |  SELECT min(d) AS lo, max(d) AS hi FROM daily
        |), spine AS (
        |  SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY))::DATE AS d FROM bounds
        |)
        |SELECT CAST(s.d AS VARCHAR) AS day,
        |  round(CAST(daily.rev AS DOUBLE), 2) AS revenue,
        |  round(CAST(last_value(daily.rev IGNORE NULLS) OVER (
        |    ORDER BY s.d ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
        |  ) AS DOUBLE), 2) AS revenue_filled
        |FROM spine s LEFT JOIN daily ON daily.d = s.d
        |""".stripMargin) { (s, dir) =>
      val daily = t(s, dir, "orders")
        .groupBy(col("o_orderdate").as("d"))
        .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("rev"))
      val bounds = daily.agg(min("d").as("lo"), max("d").as("hi"))
      val spine = bounds.select(explode(sequence(col("lo"), col("hi"))).as("d"))
      val w = Window.orderBy("d")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      spine.join(daily, Seq("d"), "left_outer")
        .select(date_format(col("d"), "yyyy-MM-dd").as("day"),
          round(col("rev").cast("double"), 2).as("revenue"),
          round(last(col("rev"), ignoreNulls = true).over(w).cast("double"), 2)
            .as("revenue_filled"))
    },

    // fuzzy self-match: near-identical part types by edit distance —
    // the string-similarity join (entity resolution shape). The
    // distinct-value domain is tiny, so the quadratic pair space is
    // bounded by |domain|², never |table|².
    QueryDef.sql(
      "q_fuzzy_match",
      """WITH v AS (SELECT DISTINCT p_type FROM part)
        |SELECT a.p_type AS type_a, b.p_type AS type_b,
        |  CAST(levenshtein(a.p_type, b.p_type) AS BIGINT) AS dist
        |FROM v a JOIN v b ON a.p_type < b.p_type
        |WHERE levenshtein(a.p_type, b.p_type) <= 4
        |""".stripMargin))
}

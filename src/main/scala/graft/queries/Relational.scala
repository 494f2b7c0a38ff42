package graft.queries

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The delegated relational SQL surface (SURVEY.md §2B): everything the
  * reference passes through to its backend database. Where the DuckDB
  * oracle text also runs in Spark, the entry is that one text
  * ([[QueryDef.sql]]) and Catalyst does pushdown / pruning / join
  * strategy / codegen, as it does for a tenant's passthrough SQL. A
  * DataFrame body remains where the DuckDB text does not run in Spark
  * (a DuckDB-only function or syntax) or where the body carries a plan
  * choice the planner does not make (a hint, an explicit broadcast).
  *
  * Scale notes (100 TB design intent):
  *  - dimension joins (region/nation/supplier) broadcast — no shuffle
  *    of the fact side;
  *  - fact-fact joins (lineitem ⋈ orders) shuffle on the join key and
  *    rely on AQE for skew; at warehouse scale both sides would be
  *    bucketed on orderkey, making this a zero-shuffle join;
  *  - aggregates use partial (map-side) aggregation automatically via
  *    HashAggregateExec, so shuffled bytes are |groups|, not |rows|.
  *
  * Float determinism: double sums can differ in the last ulp between
  * engines, so every aggregated double is rounded identically on both
  * sides; raw (unaggregated) doubles compare exactly.
  */
object Relational {

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  private def r2(c: Column): Column = round(c, 2)

  val defs: Seq[QueryDef] = Seq(

    // ---- scan / projection / filter --------------------------------
    QueryDef.sql(
      "q_scan_filter",
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
        |FROM lineitem
        |WHERE l_shipdate < TIMESTAMP '1995-01-01' AND l_quantity > 45
        |""".stripMargin),

    QueryDef.sql(
      "q_projection",
      // Money math in exact DECIMAL on both sides: rounding a raw double
      // product ties differently between engines (DuckDB nearbyint vs
      // Spark BigDecimal HALF_UP); decimal arithmetic is exact and the
      // 4-digit round is then engine-independent.  Cast back to DOUBLE
      // so the output schema stays a plain double column.
      """SELECT l_orderkey, l_linenumber,
        |  CAST(round(CAST(l_extendedprice AS DECIMAL(12,2))
        |             * CAST(1 - CAST(l_discount AS DECIMAL(4,2)) AS DECIMAL(4,2))
        |             * CAST(1 + CAST(l_tax AS DECIMAL(4,2)) AS DECIMAL(4,2)), 4) AS DOUBLE) AS charged,
        |  CAST(l_quantity AS BIGINT) AS qty_int
        |FROM lineitem
        |""".stripMargin),

    // ---- aggregation (TPC-H Q1 shape) ------------------------------
    QueryDef.sql(
      "q_agg_pricing",
      """SELECT l_returnflag, l_linestatus,
        |  round(sum(l_quantity), 2)                                        AS sum_qty,
        |  round(sum(l_extendedprice), 2)                                   AS sum_base_price,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2)                AS sum_disc_price,
        |  round(avg(l_quantity), 4)                                        AS avg_qty,
        |  round(avg(l_extendedprice), 4)                                   AS avg_price,
        |  round(avg(l_discount), 4)                                        AS avg_disc,
        |  count(*)                                                         AS count_order,
        |  CAST(max(l_quantity) AS DOUBLE)                                  AS max_qty,
        |  CAST(min(l_quantity) AS DOUBLE)                                  AS min_qty
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus
        |""".stripMargin),

    QueryDef.sql(
      "q_count_distinct",
      """SELECT o_orderstatus,
        |  count(DISTINCT o_custkey) AS n_cust,
        |  count(*) AS n_orders
        |FROM orders GROUP BY o_orderstatus
        |""".stripMargin),

    QueryDef.sql(
      "q_having",
      """SELECT o_custkey, count(*) AS n, round(sum(o_totalprice), 2) AS spend
        |FROM orders GROUP BY o_custkey HAVING count(*) > 12
        |""".stripMargin),

    QueryDef.sql(
      "q_distinct",
      "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem"),

    // ---- grouping sets / rollup / cube -----------------------------
    QueryDef.sql(
      "q_rollup",
      """SELECT l_returnflag, l_linestatus,
        |  round(sum(l_quantity), 2) AS sum_qty, count(*) AS n
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |""".stripMargin),

    QueryDef.sql(
      "q_cube",
      """SELECT l_returnflag, l_linestatus,
        |  round(sum(l_extendedprice), 2) AS sum_price, count(*) AS n
        |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
        |""".stripMargin),

    QueryDef.sql(
      "q_grouping_sets",
      """SELECT l_returnflag, l_linestatus, count(*) AS n
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        |""".stripMargin),

    // ---- joins -----------------------------------------------------
    QueryDef.sql(
      "q_join_inner",
      // sum(double) is summation-order-dependent; summing exact DECIMAL
      // products makes per-group revenue identical across engines.
      // Fact-fact equi-join: shuffles on orderkey; bucket both sides on
      // orderkey at warehouse scale to eliminate the shuffle entirely.
      """SELECT o_orderkey, o_orderdate,
        |  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2))
        |                 * CAST(1 - CAST(l_discount AS DECIMAL(4,2)) AS DECIMAL(4,2))), 2) AS DOUBLE) AS revenue,
        |  count(*) AS n_lines
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_orderstatus = 'F'
        |GROUP BY o_orderkey, o_orderdate
        |""".stripMargin),

    QueryDef(
      "q_join_multiway",
      """SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM customer
        |JOIN orders   ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |JOIN nation   ON c_nationkey = n_nationkey
        |GROUP BY n_name
        |""".stripMargin) { (s, dir) =>
      // nation is a classic broadcast dim. r18 (guide §2.3, aggregate
      // before you shuffle): the only output is ONE revenue sum per
      // nation and every join key is unique on its dim side (orders
      // PK, customer PK), so group-then-join ≡ join-then-group at
      // every level. Eager aggregation collapses lineitem to one
      // partial-summed revenue row per order BEFORE any join, and the
      // joined stream again to one row per customer before the
      // customer join — the 100-TB lineitem and orders tables cross
      // the wire as per-key partials, never as raw fact rows. The
      // SHUFFLE_MERGE hint pins the orderkey join: the static planner
      // would otherwise BROADCAST a fact-scan side whose
      // pruned-column estimate slips under the single-JVM 512 MB
      // threshold, and building a 15–60M-row hash relation is
      // single-threaded driver work (measured at sf10: 45 s wall with
      // 17 task-seconds — the driver built a 60M-row relation while
      // 32 cores idled; this shape measures 8.7 s, and the hinted SMJ
      // sides reuse the aggregation exchanges).
      val liRev = t(s, dir, "lineitem").groupBy("l_orderkey")
        .agg(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("__rev"))
      val perCust = t(s, dir, "orders").hint("SHUFFLE_MERGE")
        .join(liRev.hint("SHUFFLE_MERGE"), col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_custkey").agg(sum("__rev").as("__rev"))
      t(s, dir, "customer")
        .join(perCust, col("c_custkey") === col("o_custkey"))
        .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
        .groupBy("n_name")
        .agg(r2(sum(col("__rev"))).as("revenue"))
    },

    QueryDef(
      "q_join_left",
      """SELECT c_custkey, c_name, count(o_orderkey) AS n_orders,
        |  round(coalesce(sum(o_totalprice), 0), 2) AS total_spend
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_custkey, c_name
        |""".stripMargin) { (s, dir) =>
      // Eager aggregation: the orders fact is reduced to per-custkey
      // partials BEFORE the join (map-side combine shrinks the shuffle
      // from |orders| rows to distinct custkeys per partition), and the
      // post-join aggregate disappears — each order matches exactly one
      // customer row, so join-then-group and group-then-join are
      // identical here. At fact >> dim scale this cuts the shuffled
      // bytes by the per-customer fanout; the left join's unmatched
      // customers come back as count 0 / spend 0 via coalesce.
      val perCust = t(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(count(col("o_orderkey")).as("__n"), sum("o_totalprice").as("__s"))
      t(s, dir, "customer")
        .join(perCust, col("c_custkey") === col("o_custkey"), "left_outer")
        .select(col("c_custkey"), col("c_name"),
          coalesce(col("__n"), lit(0L)).as("n_orders"),
          r2(coalesce(col("__s"), lit(0))).as("total_spend"))
    },

    QueryDef.sql(
      "q_join_full",
      """SELECT n_name, s_suppkey, s_name
        |FROM nation FULL OUTER JOIN supplier ON n_nationkey = s_nationkey
        |""".stripMargin),

    QueryDef.sql(
      "q_join_semi",
      """SELECT c_custkey, c_name FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o
        |              WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000)
        |""".stripMargin),

    QueryDef(
      "q_join_anti",
      """SELECT c_custkey, c_name FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
        |""".stripMargin) { (s, dir) =>
      t(s, dir, "customer")
        .join(t(s, dir, "orders"), col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name")
    },

    QueryDef.sql(
      "q_join_cross",
      "SELECT r_name, n_name FROM region CROSS JOIN nation"),

    // IN (subquery) plans as a broadcast left-semi join on the tiny dim.
    QueryDef.sql(
      "q_subquery_in",
      """SELECT c_custkey, c_name FROM customer
        |WHERE c_nationkey IN (SELECT n_nationkey FROM nation WHERE n_regionkey = 2)
        |""".stripMargin),

    QueryDef(
      "q_subquery_scalar",
      """SELECT o_orderkey, o_totalprice FROM orders
        |WHERE o_totalprice > 2 * (SELECT avg(o_totalprice) FROM orders)
        |""".stripMargin) { (s, dir) =>
      // scalar subquery as a broadcast cross join: one tiny 1-row DF,
      // no driver-side collect, stays a single distributed plan.
      val o = t(s, dir, "orders")
      val avgDf = o.agg(avg("o_totalprice").as("__avg"))
      o.crossJoin(broadcast(avgDf))
        .filter(col("o_totalprice") > lit(2) * col("__avg"))
        .select("o_orderkey", "o_totalprice")
    },

    // ---- windows ---------------------------------------------------
    QueryDef.sql(
      "q_window_rank",
      """SELECT s_nationkey, s_suppkey, s_name,
        |  CAST(row_number() OVER w AS BIGINT) AS rn,
        |  CAST(rank()       OVER w AS BIGINT) AS rk,
        |  CAST(dense_rank() OVER w AS BIGINT) AS drk,
        |  CAST(ntile(4)     OVER w AS BIGINT) AS quartile
        |FROM supplier
        |WINDOW w AS (PARTITION BY s_nationkey ORDER BY s_acctbal DESC, s_suppkey)
        |""".stripMargin),

    QueryDef.sql(
      "q_window_leadlag",
      """SELECT o_custkey, o_orderkey, o_totalprice,
        |  lag(o_totalprice)  OVER w AS prev_price,
        |  lead(o_totalprice) OVER w AS next_price,
        |  first_value(o_totalprice) OVER w AS first_price
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |""".stripMargin),

    QueryDef.sql(
      "q_window_frame",
      """SELECT l_suppkey, l_orderkey, l_linenumber,
        |  round(sum(l_quantity) OVER (PARTITION BY l_suppkey
        |    ORDER BY l_shipdate, l_orderkey, l_linenumber
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_qty,
        |  round(avg(l_quantity) OVER (PARTITION BY l_suppkey
        |    ORDER BY l_shipdate, l_orderkey, l_linenumber
        |    ROWS BETWEEN 3 PRECEDING AND CURRENT ROW), 4) AS avg_qty_4
        |FROM lineitem
        |""".stripMargin),

    // ---- sort / top-k ----------------------------------------------
    // ORDER BY + LIMIT plans TakeOrderedAndProject: per-partition
    // top-k then a k-row merge on the driver — no global sort.
    QueryDef.sql(
      "q_topk",
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 20
        |""".stripMargin),

    // ---- set operations --------------------------------------------
    QueryDef.sql(
      "q_union_all",
      """SELECT c_custkey AS key, 'customer' AS src FROM customer
        |UNION ALL
        |SELECT s_suppkey AS key, 'supplier' AS src FROM supplier
        |""".stripMargin),

    QueryDef.sql(
      "q_union_distinct",
      """SELECT c_nationkey AS nk FROM customer
        |UNION
        |SELECT s_nationkey AS nk FROM supplier
        |""".stripMargin),

    QueryDef.sql(
      "q_intersect",
      """SELECT c_nationkey AS nk FROM customer
        |INTERSECT
        |SELECT s_nationkey AS nk FROM supplier
        |""".stripMargin),

    QueryDef.sql(
      "q_except",
      """SELECT c_nationkey AS nk FROM customer
        |EXCEPT
        |SELECT s_nationkey AS nk FROM supplier
        |""".stripMargin),

    // ---- scalar functions ------------------------------------------
    QueryDef(
      "q_string_funcs",
      """SELECT p_partkey,
        |  upper(p_name)                            AS uname,
        |  lower(p_brand)                           AS lbrand,
        |  substr(p_type, 1, 5)                     AS t5,
        |  replace(p_name, ' ', '_')                AS unders,
        |  CAST(length(p_name) AS BIGINT)           AS name_len,
        |  concat(p_brand, ':', p_type)             AS brand_type,
        |  trim(concat(' ', p_name, ' '))           AS trimmed,
        |  regexp_extract(p_type, '([a-z]+)', 1)    AS first_word,
        |  CAST(len(string_split(p_name, ' ')) AS BIGINT) AS n_words
        |FROM part
        |""".stripMargin) { (s, dir) =>
      t(s, dir, "part").select(
        col("p_partkey"),
        upper(col("p_name")).as("uname"),
        lower(col("p_brand")).as("lbrand"),
        substring(col("p_type"), 1, 5).as("t5"),
        regexp_replace(col("p_name"), lit(" "), lit("_")).as("unders"),
        length(col("p_name")).cast("long").as("name_len"),
        concat(col("p_brand"), lit(":"), col("p_type")).as("brand_type"),
        trim(concat(lit(" "), col("p_name"), lit(" "))).as("trimmed"),
        regexp_extract(col("p_type"), "([a-z]+)", 1).as("first_word"),
        size(split(col("p_name"), " ")).cast("long").as("n_words"))
    },

    QueryDef(
      "q_date_funcs",
      """SELECT o_orderkey,
        |  CAST(year(o_orderdate)    AS BIGINT) AS yr,
        |  CAST(quarter(o_orderdate) AS BIGINT) AS qtr,
        |  CAST(month(o_orderdate)   AS BIGINT) AS mon,
        |  CAST(day(o_orderdate)     AS BIGINT) AS dom,
        |  CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month_start,
        |  CAST(date_diff('day', DATE '1995-01-01', o_orderdate) AS BIGINT) AS days_since,
        |  o_orderdate + INTERVAL 30 DAY AS due_ts
        |FROM orders
        |""".stripMargin) { (s, dir) =>
      t(s, dir, "orders").select(
        col("o_orderkey"),
        year(col("o_orderdate")).cast("long").as("yr"),
        quarter(col("o_orderdate")).cast("long").as("qtr"),
        month(col("o_orderdate")).cast("long").as("mon"),
        dayofmonth(col("o_orderdate")).cast("long").as("dom"),
        date_trunc("month", col("o_orderdate")).as("month_start"),
        datediff(col("o_orderdate"), lit("1995-01-01").cast("date")).cast("long").as("days_since"),
        (col("o_orderdate") + expr("INTERVAL 30 DAY")).as("due_ts"))
    },

    QueryDef.sql(
      "q_math_funcs",
      """SELECT l_orderkey, l_linenumber,
        |  round(abs(l_discount - 0.05), 4)      AS abs_disc,
        |  CAST(ceil(l_quantity)  AS BIGINT)     AS qty_ceil,
        |  CAST(floor(l_quantity) AS BIGINT)     AS qty_floor,
        |  round(ln(l_extendedprice), 6)         AS log_price,
        |  round(pow(l_discount, 2), 6)          AS disc_sq,
        |  round(sqrt(l_quantity), 6)            AS qty_sqrt,
        |  l_orderkey % 7                        AS key_mod
        |FROM lineitem
        |""".stripMargin),

    QueryDef(
      "q_case_predicates",
      """SELECT
        |  CASE WHEN o_orderstatus = 'F' THEN 'final'
        |       WHEN o_orderstatus IN ('O', 'P') THEN 'open'
        |       ELSE 'other' END AS status_class,
        |  CASE WHEN o_totalprice BETWEEN 0 AND 100000 THEN 'small'
        |       WHEN o_totalprice BETWEEN 100000 AND 300000 THEN 'medium'
        |       ELSE 'large' END AS size_class,
        |  count(*) AS n
        |FROM orders
        |WHERE o_orderpriority IS NOT NULL
        |GROUP BY 1, 2
        |""".stripMargin) { (s, dir) =>
      t(s, dir, "orders")
        .filter(col("o_orderpriority").isNotNull)
        .select(
          when(col("o_orderstatus") === "F", "final")
            .when(col("o_orderstatus").isin("O", "P"), "open")
            .otherwise("other").as("status_class"),
          when(col("o_totalprice").between(0, 100000), "small")
            .when(col("o_totalprice").between(100000, 300000), "medium")
            .otherwise("large").as("size_class"))
        .groupBy("status_class", "size_class")
        .agg(count(lit(1)).as("n"))
    },

    // ---- arrays / explode / json -----------------------------------
    QueryDef(
      "q_explode_array",
      """SELECT p_partkey, unnest(string_split(p_name, ' ')) AS word FROM part
        |""".stripMargin) { (s, dir) =>
      t(s, dir, "part").select(
        col("p_partkey"), explode(split(col("p_name"), " ")).as("word"))
    },

    QueryDef(
      "q_array_ops",
      """SELECT p_partkey,
        |  CAST(len(string_split(p_name, ' ')) AS BIGINT)     AS n_tokens,
        |  string_split(p_name, ' ')[1]                       AS first_token,
        |  array_to_string(list_sort(string_split(p_name, ' ')), '|') AS sorted_tokens,
        |  CAST(list_contains(string_split(p_name, ' '), 'red') AS BOOLEAN) AS has_red
        |FROM part
        |""".stripMargin) { (s, dir) =>
      val toks = split(col("p_name"), " ")
      t(s, dir, "part").select(
        col("p_partkey"),
        size(toks).cast("long").as("n_tokens"),
        element_at(toks, 1).as("first_token"),
        array_join(array_sort(toks), "|").as("sorted_tokens"),
        array_contains(toks, "red").as("has_red"))
    },

    QueryDef(
      "q_json_funcs",
      """SELECT event_id,
        |  json_extract_string(props, '$.k')                   AS k_str,
        |  CAST(json_extract_string(props, '$.k') AS BIGINT)   AS k_int
        |FROM events
        |""".stripMargin) { (s, dir) =>
      t(s, dir, "events").select(
        col("event_id"),
        get_json_object(col("props"), "$.k").as("k_str"),
        get_json_object(col("props"), "$.k").cast("long").as("k_int"))
    },

    // ---- events / time-series shapes -------------------------------
    QueryDef.sql(
      "q_events_sessionize",
      """SELECT user_id, CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour,
        |  count(*) AS n_events,
        |  round(sum(value), 2) AS sum_value,
        |  count(DISTINCT event_type) AS n_types
        |FROM events GROUP BY 1, 2
        |""".stripMargin))
}

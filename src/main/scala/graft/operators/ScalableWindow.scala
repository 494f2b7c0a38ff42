package graft.operators

import graft.util.GraftConf
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Rank-family window functions without the per-key single-task sort.
  *
  * `Window.partitionBy(k).orderBy(...)` puts EVERY row of a key into
  * one task — with 3 distinct keys over 18M rows (sf3 lineitem) that
  * is three tasks each sorting 6M rows, and at 100 TB it simply does
  * not run. When the window's order key is unique within the group,
  * every rank-family function (row_number / rank / percent_rank /
  * cume_dist) is a function of the global per-group row number, which
  * distributes cleanly with the classic two-pass ranking scheme
  * (the same idea as RDD.zipWithIndex, done per group) — expressed
  * here entirely in DataFrame operators so the whole pipeline stays
  * inside Tungsten/whole-stage codegen (an earlier RDD formulation
  * paid a full decode-to-Row + re-encode round trip):
  *
  *   1. range-repartition by (group ++ order): non-overlapping key
  *      ranges, each group's rows ordered ACROSS partition ids;
  *   2. partition-local row number: window over (partition-id, group)
  *      — balanced tasks regardless of group count;
  *   3. per-(partition, group) counts — a |partitions|×|groups| mini
  *      table that never leaves the cluster — turned into starting
  *      offsets by a prefix sum over pid within each group;
  *   4. broadcast-join the offsets back: global rn = local rn + offset.
  *
  * Wall-clock becomes two balanced full-data exchanges + parallel
  * local sorts, independent of how few groups there are.
  */
object ScalableWindow {

  /** Size-adaptive arm switch for [[groupRowNumber]] /
    * [[groupedPrefixSum]] (same pattern as [[exactPercentiles]]):
    * below the limit the plain window operator wins — the distributed
    * scheme's range-repartition + checkpoint + broadcast-back costs a
    * flat ~1–2 s that dominates small inputs (r6: text_cap_per_source
    * 5.4× and text_shuffle_shard 3.4× vs DuckDB at sf10, pure
    * constant). Catalog stats only, no extra job. Conservative by
    * construction: the hazard is the largest GROUP in one task, and
    * whole-input ≤ limit bounds every group. Tunable via
    * `graft.window.singleTaskLimitBytes` (default 256 MiB ≈ a few
    * seconds of single-task sort worst-case, the break-even band).
    * [[AsOfJoin]] routes its per-key window on the same switch. */
  private[operators] def smallInput(df: DataFrame): Boolean =
    GraftConf.fitsIn(df,
      GraftConf.bytes(df.sparkSession, "graft.window.singleTaskLimitBytes", 256L << 20))

  /** Adds `out` = 1-based global row number of each row within its
    * group, ordered by orderCols (which must be non-null and unique
    * per group for rank-family semantics to hold).
    *
    * `checkpoint` pins the ranged partitioning (see the comment at the
    * call site). The default routes through
    * [[graft.util.Checkpoints.pin]]: `localCheckpoint` normally, or
    * reliable `df.checkpoint()` when `graft.checkpoint.reliable=true`
    * — the cluster-survivability switch, one config for every
    * consumer. A custom function can still be passed explicitly. */
  def groupRowNumber(df: DataFrame, groupCols: Seq[String],
                     orderCols: Seq[String], out: String,
                     numPartitions: Int,
                     checkpoint: DataFrame => DataFrame = graft.util.Checkpoints.pin): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    if (smallInput(df)) {
      val w = Window.partitionBy(groupCols.map(col): _*)
        .orderBy(orderCols.map(col): _*)
      return df.withColumn(out, row_number().over(w).cast("long"))
    }
    val keyCols = (groupCols ++ orderCols).map(col)
    val (pid, lrn, off, cnt) = ("__gw_pid", "__gw_lrn", "__gw_off", "__gw_n")
    // Materialized ONCE: repartitionByRange samples its boundaries
    // with an RDD-id-derived seed, so two executions of the same plan
    // can pick DIFFERENT ranges — and the offsets below are only
    // valid against the pid assignment they were counted on. The
    // checkpoint pins one set of boundaries for both consumers (and
    // freezes spark_partition_id into a plain column).
    val ranged = checkpoint(
      df.repartitionByRange(numPartitions, keyCols: _*)
        .withColumn(pid, spark_partition_id()))
    val wLocal = Window.partitionBy((pid +: groupCols).map(col): _*)
      .orderBy(orderCols.map(col): _*)
    val local = ranged.withColumn(lrn, row_number().over(wLocal).cast("long"))
    val counts = local.groupBy((pid +: groupCols).map(col): _*)
      .agg(count(lit(1)).as(cnt))
    // prefix-sum the counts in pid order within each group: tiny input
    // (|partitions|×|groups| rows), so the per-group window is free
    val wOff = Window.partitionBy(groupCols.map(col): _*).orderBy(col(pid))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = counts.select((pid +: groupCols).map(col) :+
      coalesce(sum(col(cnt)).over(wOff), lit(0L)).as(off): _*)
    local.join(broadcast(offsets), pid +: groupCols)
      .withColumn(out, col(lrn) + col(off))
      .drop(pid, lrn, off)
  }

  /** Adds `out` = INCLUSIVE running sum of `valCol` within each group,
    * ordered by orderCols — `sum(v) OVER (PARTITION BY g ORDER BY o)`
    * without the per-group single-task sort, by the same two-pass
    * scheme as [[groupRowNumber]] (local running sums per range
    * partition, per-(partition, group) totals prefix-summed into
    * starting offsets, broadcast back). orderCols must be unique per
    * group so the running sum is well-defined framewise (ROWS ≡ RANGE).
    * This is the distributed backbone of token-budget sampling: at
    * 100 TB a single source can be tens of TB, and the naive window
    * puts all of it in one task. */
  def groupedPrefixSum(df: DataFrame, groupCols: Seq[String],
                       orderCols: Seq[String], valCol: String, out: String,
                       numPartitions: Int,
                       checkpoint: DataFrame => DataFrame = graft.util.Checkpoints.pin): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    if (smallInput(df)) {
      val w = Window.partitionBy(groupCols.map(col): _*)
        .orderBy(orderCols.map(col): _*)
        .rowsBetween(Window.unboundedPreceding, 0)
      return df.withColumn(out, sum(col(valCol)).over(w))
    }
    val keyCols = (groupCols ++ orderCols).map(col)
    val (pid, ls, off, tot) = ("__ps_pid", "__ps_ls", "__ps_off", "__ps_t")
    val ranged = checkpoint(
      df.repartitionByRange(numPartitions, keyCols: _*)
        .withColumn(pid, spark_partition_id()))
    val wLocal = Window.partitionBy((pid +: groupCols).map(col): _*)
      .orderBy(orderCols.map(col): _*)
      .rowsBetween(Window.unboundedPreceding, 0)
    val local = ranged.withColumn(ls, sum(col(valCol)).over(wLocal))
    val totals = ranged.groupBy((pid +: groupCols).map(col): _*)
      .agg(sum(col(valCol)).as(tot))
    val wOff = Window.partitionBy(groupCols.map(col): _*).orderBy(col(pid))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = totals.select((pid +: groupCols).map(col) :+
      coalesce(sum(col(tot)).over(wOff), lit(0L)).as(off): _*)
    local.join(broadcast(offsets), pid +: groupCols)
      .withColumn(out, col(ls) + col(off))
      .drop(pid, ls, off)
  }

  /** Exact interpolated percentiles per group (≡ Spark `percentile` /
    * DuckDB `quantile_cont`: r = q·(n−1) zero-based, linear between
    * the two straddling order statistics), with the physical strategy
    * chosen by input size:
    *
    *   - small inputs → the builtin `percentile` aggregate: fastest,
    *     BUT it buffers a value→count map per group in one aggregation
    *     buffer — on a continuous column (prices) distinct values ~
    *     rows, so at 100 TB that map is the whole column in one task's
    *     heap. Fine at bench scale, unrunnable at cluster scale;
    *   - past `singleNodeAggLimitBytes` (catalog stats, no extra job)
    *     → the distributed form: positional per-group row numbers from
    *     [[groupRowNumber]] (ties get arbitrary positions — harmless,
    *     interpolating between equal values is order-free), per-group
    *     counts turn each quantile into its two straddling ranks, a
    *     broadcast rank-filter join picks those rows, and a tiny
    *     weighted aggregate interpolates. No task ever holds more
    *     than |rows|/parallelism values.
    *
    * specs: (outName, valueCol, q). NULL values are ignored per
    * aggregate semantics; a group with no non-null values yields NULL.
    * Returns one row per group: (groupCol, outName...), unrounded. */
  def exactPercentiles(df: DataFrame, groupCol: String,
                       specs: Seq[(String, String, Double)],
                       singleNodeAggLimitBytes: Long): DataFrame = {
    val valueCols = specs.map(_._2).distinct
    val base = df.select((groupCol +: valueCols).map(col): _*)
    if (GraftConf.fitsIn(base, singleNodeAggLimitBytes))
      df.groupBy(groupCol).agg(
        percentile(col(specs.head._2), lit(specs.head._3)).as(specs.head._1),
        specs.tail.map { case (name, v, q) =>
          percentile(col(v), lit(q)).as(name) }: _*)
    else {
      val par = df.sparkSession.sparkContext.defaultParallelism
      val groups = base.select(groupCol).distinct()
      val perValueCol: Seq[DataFrame] = valueCols.map { vc =>
        val vcSpecs = specs.filter(_._2 == vc)
        val vals = base.select(col(groupCol), col(vc).cast("double").as("__v"))
          .filter(col("__v").isNotNull)
        val rn = groupRowNumber(vals, Seq(groupCol), Seq("__v"), "__rn", par)
        val counts = vals.groupBy(groupCol).agg(count(lit(1)).as("__n"))
        // each (group, spec) → its two straddling 1-based ranks with
        // interpolation weights; lo == hi duplicates merge by summing
        val targets = counts.select(
          col(groupCol), explode(array(vcSpecs.map { case (name, _, q) =>
            struct(lit(name).as("__name"), lit(q).as("__q"))
          }: _*)).as("__s"), col("__n"))
          .select(col(groupCol), col("__s.__name").as("__name"),
            (col("__s.__q") * (col("__n") - 1)).as("__r"))
          .select(col(groupCol), col("__name"),
            explode(array(
              struct((floor(col("__r")) + 1).cast("long").as("__rank"),
                (lit(1.0) - (col("__r") - floor(col("__r")))).as("__w")),
              struct((ceil(col("__r")) + 1).cast("long").as("__rank"),
                when(ceil(col("__r")) === floor(col("__r")), lit(0.0))
                  .otherwise(col("__r") - floor(col("__r"))).as("__w"))))
              .as("__t"))
          .select(col(groupCol), col("__name"),
            col("__t.__rank").as("__rank"), col("__t.__w").as("__w"))
          .filter(col("__w") > 0.0)
        // broadcast the tiny rank table against the ranked corpus: the
        // join keeps ≤ 2·|groups|·|specs| rows, then a tiny aggregate
        // interpolates
        val picked = rn.join(broadcast(targets),
          rn(groupCol) === targets(groupCol) && col("__rn") === col("__rank"))
          .groupBy(rn(groupCol).as(groupCol), col("__name"))
          .agg(sum(col("__w") * col("__v")).as("__pv"))
        groups.join(picked, Seq(groupCol), "left_outer")
          .groupBy(groupCol)
          .agg(vcSpecs.head._1 match { case h =>
            max(when(col("__name") === h, col("__pv"))).as(h)
          }, vcSpecs.tail.map { case (name, _, _) =>
            max(when(col("__name") === name, col("__pv"))).as(name)
          }: _*)
      }
      // per-value-col results are |groups|-sized; re-order columns to
      // the caller's spec order
      val joined = perValueCol.reduce(_.join(_, Seq(groupCol)))
      joined.select(col(groupCol) +: specs.map { case (name, _, _) => col(name) }: _*)
    }
  }

  /** The q_window_analytic shape (percent_rank / cume_dist /
    * running-frame nth_value(2) / whole-partition last_value over
    * lineitem partitioned by l_returnflag), with the physical
    * strategy chosen by input size:
    *
    *   - small inputs → Spark's window operator: one sort per key,
    *     fewest passes, fastest at bench scales;
    *   - inputs past `singleTaskSortLimitBytes` (catalog stats, no
    *     extra job) → the distributed form: global per-flag row
    *     number via groupRowNumber, peers (full-key ties) recovered
    *     by one aggregation (rank = min rn, cume rows = max rn),
    *     per-flag scalars broadcast back. Identical output — the
    *     equivalence is spec-checked on a tied corpus — but no task
    *     ever sorts more than |rows|/numPartitions.
    *
    * `orderIsUnique = true` is a PRECONDITION the caller guarantees,
    * not a hint: (l_quantity, l_orderkey, l_linenumber) must be unique
    * within each l_returnflag. The big arm then skips peer recovery,
    * so on tied order keys it returns wrong results: rank equals
    * row_number and cume_dist counts rows up to the current one, not
    * its last peer. The small arm ignores the flag.
    */
  def analyticRankQuery(lineitem: DataFrame,
                        singleTaskSortLimitBytes: Long,
                        orderIsUnique: Boolean = false): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = lineitem.select(
      "l_returnflag", "l_quantity", "l_orderkey", "l_linenumber")
    if (GraftConf.fitsIn(base, singleTaskSortLimitBytes)) {
      val order = Seq(col("l_quantity"), col("l_orderkey"), col("l_linenumber"))
      val w = Window.partitionBy("l_returnflag").orderBy(order: _*)
      val wRun = w.rowsBetween(Window.unboundedPreceding, 0)
      val wAll = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      base.select(
        col("l_orderkey"), col("l_linenumber"),
        round(percent_rank().over(w), 6).as("pct_rank"),
        round(cume_dist().over(w), 6).as("cume"),
        nth_value(col("l_quantity"), 2).over(wRun).as("second_qty"),
        last(col("l_quantity")).over(wAll).as("max_qty"))
    } else {
      val par = lineitem.sparkSession.sparkContext.defaultParallelism
      val fullKey = Seq("l_returnflag", "l_quantity", "l_orderkey", "l_linenumber")
      val rn = groupRowNumber(base, Seq("l_returnflag"),
        Seq("l_quantity", "l_orderkey", "l_linenumber"), "__rn", par)
      // Peer recovery (rank = min rn over full-key ties, cume rows =
      // max rn) costs a full-data aggregation plus a full-data
      // self-join on the 4-part key — two of this arm's four big
      // exchanges. When the caller KNOWS the order key is unique per
      // group (q_window_analytic orders by (l_quantity, l_orderkey,
      // l_linenumber), and (l_orderkey, l_linenumber) is the lineitem
      // primary key), every peer group is a singleton — rank ≡ rn ≡
      // cume rows — so both operations are identities and are skipped
      // (r18, guide §2.4: remove shuffles outright). The tied-corpus
      // equivalence spec pins the general arm; a unique-order spec
      // pins this one.
      val peered =
        if (orderIsUnique)
          rn.withColumn("__rank", col("__rn")).withColumn("__cume_rn", col("__rn"))
        else {
          val peers = rn.groupBy(fullKey.map(col): _*)
            .agg(min("__rn").as("__rank"), max("__rn").as("__cume_rn"))
          rn.join(peers, fullKey)
        }
      val orderKey = struct(col("l_quantity"), col("l_orderkey"), col("l_linenumber"))
      val stats = base.groupBy("l_returnflag").agg(
        count(lit(1)).as("__n"),
        max_by(col("l_quantity"), orderKey).as("__max_qty"))
      val second = rn.filter(col("__rn") === 2)
        .select(col("l_returnflag"), col("l_quantity").as("__q2"))
      peered
        .join(broadcast(stats), Seq("l_returnflag"))
        .join(broadcast(second), Seq("l_returnflag"), "left_outer")
        .select(
          col("l_orderkey"), col("l_linenumber"),
          round(when(col("__n") === 1, 0.0).otherwise(
            (col("__rank") - 1).cast("double") / (col("__n") - 1).cast("double")), 6)
            .as("pct_rank"),
          round(col("__cume_rn").cast("double") / col("__n").cast("double"), 6).as("cume"),
          when(col("__rn") >= 2, col("__q2")).as("second_qty"),
          col("__max_qty").as("max_qty"))
    }
  }

  /** Sort-free per-group top-k by (valCol DESC, tieCol ASC): a
    * k-bounded heap aggregate ([[graft.functions.TopKDescAgg]])
    * instead of `row_number() OVER ... WHERE rn <= k`. The window
    * form sorts the whole input TWICE when groups are many and
    * scattered (the partial WindowGroupLimit's map-side sort prunes
    * nothing but still sorts everything — measured 19.1 s on 15M
    * rows / 1.5M groups vs 7.6 s with the rule disabled); this is a
    * plain hash aggregation with k-bounded per-group state at every
    * stage and NO sort of data-sized input anywhere. Use the window
    * form when groups are few (its per-group sort parallelizes
    * poorly only across groups); use this when groups are many or
    * the fact table is huge.
    *
    * The input is repartitioned on the group keys FIRST, so both
    * aggregate phases run in one post-shuffle stage. In this
    * operator's regime (scattered many-group input) a map-side
    * partial compresses almost nothing — each map partition still
    * sees most groups once — but pays a heap serialize/deserialize
    * per (partition × group): measured at sf10 (15M rows, 1.5M
    * groups, k=3) 7.5 s two-phase vs 5.0 s repartition-first. The
    * shuffle moves raw (key, v, tie) rows either way; row count is
    * the same, payloads are a few bytes wider, object churn drops
    * ~8×. If a use case ever has rows/group ≫ cluster partition
    * count, the plain two-phase groupBy is the better call — use the
    * window form or a direct groupBy there.
    *
    * Output: groupCols ++ (valCol, tieCol, `out` rank 1..k).
    */
  def topKPerGroup(df: DataFrame, groupCols: Seq[String], valCol: String,
                   tieCol: String, k: Int, out: String): DataFrame = {
    val tk = df.repartition(groupCols.map(col): _*)
      .groupBy(groupCols.map(col): _*)
      .agg(graft.functions.TopK.topk_desc(
        col(valCol), col(tieCol), k).as("__tk"))
    tk.select(groupCols.map(col) :+
        posexplode(col("__tk")).as(Seq("__p", "__r")): _*)
      .select(groupCols.map(col) ++ Seq(
        col("__r")("v").as(valCol),
        col("__r")("tie").as(tieCol),
        (col("__p") + 1).cast("long").as(out)): _*)
  }
}

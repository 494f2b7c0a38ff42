package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** As-of (point-in-time) join: for every left row, the single right
  * row with the greatest right-ts ≤ left-ts within the same key group
  * (backward direction, inclusive) — DuckDB `ASOF JOIN` semantics.
  *
  * Spark has no native as-of join. A naive range join
  * (`l.ts >= r.ts` + window) explodes quadratically per key. This
  * implementation is the scalable union+window form:
  *
  *   1. tag right rows 0 / left rows 1 and union them;
  *   2. one shuffle: window partitioned by the keys, ordered by
  *      (ts, tag) — ties sort the right row first, making equal
  *      timestamps match (inclusive);
  *   3. `last(right payload, ignoreNulls)` over an unbounded-preceding
  *      running frame carries the latest right row forward;
  *   4. keep only left rows.
  *
  * Cost: ONE shuffle of |L|+|R| rows on the group keys + a linear
  * sorted scan per key — no row-pair blowup, skew bounded by the
  * hottest key (salt upstream if a key dominates). This is the plan
  * you'd want at 100 TB and it's all built-in operators, so AQE and
  * codegen apply.
  */
object AsOfJoin {

  /** @param keys      equi-join group columns (must exist both sides)
    * @param leftTs    left ordering column name
    * @param rightTs   right ordering column name
    * @param rightCols right payload columns to carry (renamed as-is in
    *                  the output; must not collide with left columns)
    */
  def backward(left: DataFrame, right: DataFrame, keys: Seq[String],
               leftTs: String, rightTs: String,
               rightCols: Seq[String]): DataFrame =
    asof(left, right, keys, leftTs, rightTs, rightCols, "backward", Long.MaxValue)

  def forward(left: DataFrame, right: DataFrame, keys: Seq[String],
              leftTs: String, rightTs: String,
              rightCols: Seq[String]): DataFrame =
    asof(left, right, keys, leftTs, rightTs, rightCols, "forward", Long.MaxValue)

  /** @param direction   "backward" (latest right ≤ left) or "forward"
    *                    (earliest right ≥ left), both inclusive
    * @param toleranceMs max |leftTs − matched rightTs| in milliseconds;
    *                    matches farther away become NULL (left join
    *                    semantics preserved)
    */
  private val matchedTs = "__matched_ts"

  /** Tag right rows 0 / left rows 1 and union them on a shared schema:
    * (keys, __ts, __tag, __matched_ts, left payload, right payload). */
  private def taggedUnion(left: DataFrame, right: DataFrame,
                          keys: Seq[String], leftTs: String, rightTs: String,
                          rightCols: Seq[String]): DataFrame = {
    val leftCols = left.columns.toSeq
    val taggedRight = right.select(
      keys.map(col) ++
        Seq(col(rightTs).as("__ts"), lit(0).as("__tag"),
          col(rightTs).as(matchedTs)) ++
        leftCols.filterNot(keys.contains).map(c => lit(null).as(c)) ++
        rightCols.map(col): _*)
    val taggedLeft = left.select(
      keys.map(col) ++
        Seq(col(leftTs).as("__ts"), lit(1).as("__tag"),
          lit(null).cast(right.schema(rightTs).dataType).as(matchedTs)) ++
        leftCols.filterNot(keys.contains).map(col) ++
        rightCols.map(c => lit(null).as(c)): _*)
    taggedRight.unionByName(taggedLeft)
  }

  /** Range-partitioned as-of carry — the skew-proof big arm. The
    * tagged union is range-repartitioned on (keys, __ts, __tag) in
    * WINDOW ORDER, so a hot key splits across as many time-slice
    * partitions as its volume needs (the same scheme as
    * [[ScalableWindow.groupRowNumber]], and the automatic form of
    * "detect the dominant key and salt": range boundaries are sampled
    * from the data, so the split follows volume wherever it piles up).
    * Per slice, the usual running `last(payload)` window; what a slice
    * cannot see — a match in an earlier slice — arrives through a
    * per-(slice, key) carry table: the last right payload of each
    * slice, prefix-scanned in slice order (tiny: |slices|·|keys touched|
    * rows) and broadcast back. `alsoForward` additionally computes the
    * symmetric forward carry from the SAME ranged table (for
    * [[nearest]]). The checkpoint pins the sampled range boundaries,
    * exactly as in ScalableWindow (local by default,
    * `graft.checkpoint.reliable=true` for clusters).
    *
    * Equal-timestamp right rows across a slice boundary still match
    * inclusively: __tag is part of the range key, so a right row sorts
    * into an earlier-or-equal slice and reaches the left row through
    * the carry; equal gaps in [[nearest]] still resolve backward
    * because the backward carry sees the gap-0 match. */
  private def rangedCarry(u: DataFrame, keys: Seq[String], asc: Boolean,
      payload: Column, outB: String, forwardOut: Option[String],
      checkpoint: DataFrame => DataFrame = graft.util.Checkpoints.pin): DataFrame = {
    val n = u.sparkSession.sessionState.conf.numShufflePartitions
    val order =
      if (asc) Seq(col("__ts").asc, col("__tag").asc)
      else Seq(col("__ts").desc, col("__tag").asc)
    val pidKeys = "__pid" +: keys
    val ranged = checkpoint(
      u.repartitionByRange(n, keys.map(col) ++ order: _*)
        .withColumn("__pid", spark_partition_id()))
    // every (slice, key) — including slices holding only left rows,
    // which still need a carry-in
    val slices = ranged.groupBy(pidKeys.map(col): _*)
      .agg(count(lit(1)).as("__sn")).drop("__sn")
    val rights = ranged.filter(col("__tag") === 0)
    // per-slice boundary payloads: the LAST right row in window order
    // (asc: max ts; desc: min ts) for the primary carry, the FIRST for
    // the forward carry
    val lastRight = rights.groupBy(pidKeys.map(col): _*)
      .agg((if (asc) max_by(payload, col("__ts"))
            else min_by(payload, col("__ts"))).as("__scb"))
    val wIn = Window.partitionBy(keys.map(col): _*).orderBy(col("__pid"))
      .rowsBetween(Window.unboundedPreceding, -1)
    var carry = slices.join(lastRight, pidKeys, "left_outer")
      .withColumn("__cib", last(col("__scb"), ignoreNulls = true).over(wIn))
      .drop("__scb")
    forwardOut.foreach { _ =>
      val firstRight = rights.groupBy(pidKeys.map(col): _*)
        .agg(min_by(payload, col("__ts")).as("__scf"))
      val wInF = Window.partitionBy(keys.map(col): _*).orderBy(col("__pid"))
        .rowsBetween(1, Window.unboundedFollowing)
      carry = carry.join(firstRight, pidKeys, "left_outer")
        .withColumn("__cif", first(col("__scf"), ignoreNulls = true).over(wInF))
        .drop("__scf")
    }
    val wLocal = Window.partitionBy(pidKeys.map(col): _*)
      .orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    var out = ranged.join(broadcast(carry), pidKeys)
      .withColumn(outB,
        coalesce(last(payload, ignoreNulls = true).over(wLocal), col("__cib")))
      .drop("__cib")
    forwardOut.foreach { f =>
      val wLocalF = Window.partitionBy(pidKeys.map(col): _*)
        .orderBy(order: _*)
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
      out = out
        .withColumn(f,
          coalesce(first(payload, ignoreNulls = true).over(wLocalF), col("__cif")))
        .drop("__cif")
    }
    out.drop("__pid")
  }

  def asof(left: DataFrame, right: DataFrame, keys: Seq[String],
           leftTs: String, rightTs: String, rightCols: Seq[String],
           direction: String, toleranceMs: Long): DataFrame = {
    require(rightCols.nonEmpty, "need at least one right payload column")
    require(direction == "backward" || direction == "forward", s"bad direction $direction")
    val leftCols = left.columns.toSeq

    // forward direction is backward over the reversed timeline; the
    // tag keeps equal timestamps inclusive in both directions
    val order =
      if (direction == "backward") Seq(col("__ts").asc, col("__tag").asc)
      else Seq(col("__ts").desc, col("__tag").asc)
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)

    // Carry the matched right row as ONE struct: per-column
    // last(ignoreNulls) would skip a NULL payload value and substitute
    // it from an OLDER right row, mixing columns of different matches.
    // The struct itself is non-null for every right row, so last() picks
    // whole rows and NULL payload values survive — DuckDB ASOF semantics.
    val payload = when(col("__tag") === 0,
      struct((rightCols :+ matchedTs).map(col): _*))
    val union = taggedUnion(left, right, keys, leftTs, rightTs, rightCols)
    val carried =
      if (ScalableWindow.smallInput(union))
        union.withColumn("__payload", last(payload, ignoreNulls = true).over(w))
      else
        rangedCarry(union, keys, asc = direction == "backward", payload,
          "__payload", forwardOut = None)

    // timestamp columns (TZ or NTZ): tolerance in ms via exact integer
    // micros — cast("double") throws DATATYPE_MISMATCH on TIMESTAMP_NTZ
    // and loses sub-ms precision on TIMESTAMP. Numeric ordering columns:
    // tolerance in the column's own unit.
    import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}
    val matched = col("__payload").getField(matchedTs)
    val gapOk: Column =
      if (toleranceMs == Long.MaxValue) matched.isNotNull
      else right.schema(rightTs).dataType match {
        case TimestampType | TimestampNTZType =>
          // NTZ→TZ cast shifts both sides by the same session-tz offset,
          // so the gap is invariant
          abs(unix_micros(col("__ts").cast("timestamp")) -
            unix_micros(matched.cast("timestamp"))) <= lit(toleranceMs * 1000L)
        case _ =>
          abs(col("__ts").cast("double") - matched.cast("double")) <=
            lit(toleranceMs.toDouble)
      }

    carried.filter(col("__tag") === 1)
      .select(leftCols.map(col) ++
        rightCols.map(c => when(gapOk, col("__payload").getField(c)).as(c)): _*)
  }

  /** Nearest-match as-of: per left row, the right row minimizing
    * |leftTs − rightTs| within the key group, either direction; exact
    * ties (equal gaps) resolve to the BACKWARD match.
    *
    * Fused single-pass form (r6 verdict item 7): ONE union sorted by
    * (__ts, __tag asc) carries BOTH candidates simultaneously —
    * `last(payload)` over unbounded-preceding..current (backward) and
    * `first(payload)` over current..unbounded-following (forward).
    * The two frames share one partitioning + ordering, so Catalyst
    * plans them in a single WindowExec: one exchange, one sort, no
    * re-join — and therefore no "left columns uniquely identify a
    * row" requirement and no NULL-payload row loss (the previous
    * two-pass form re-joined on all left columns, silently dropping
    * left rows with a NULL payload value; null != null).
    *
    * An equal-ts right row sorts BEFORE the left row, so the forward
    * frame misses it — harmless for nearest: the backward frame
    * catches it at gap 0, which wins every tie. The gap compare is
    * exact integer micros for timestamp columns, the column's own
    * unit for numerics. `rightTsOut` names the carried right
    * timestamp column inside `rightCols` used for the gap.
    */
  def nearest(left: DataFrame, right: DataFrame, keys: Seq[String],
              leftTs: String, rightTs: String, rightCols: Seq[String],
              rightTsOut: String): DataFrame = {
    require(rightCols.contains(rightTsOut),
      s"rightCols must carry the matched timestamp column $rightTsOut")
    val leftCols = left.columns.toSeq
    val base = Window.partitionBy(keys.map(col): _*)
      .orderBy(col("__ts").asc, col("__tag").asc)
    val wb = base.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wf = base.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val payload = when(col("__tag") === 0,
      struct((rightCols :+ matchedTs).map(col): _*))
    val union = taggedUnion(left, right, keys, leftTs, rightTs, rightCols)
    val carried =
      if (ScalableWindow.smallInput(union))
        union
          .withColumn("__b", last(payload, ignoreNulls = true).over(wb))
          .withColumn("__f", first(payload, ignoreNulls = true).over(wf))
      else
        rangedCarry(union, keys, asc = true, payload, "__b", forwardOut = Some("__f"))

    import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}
    val bTs = col("__b").getField(matchedTs)
    val fTs = col("__f").getField(matchedTs)
    val (gb, gf) = right.schema(rightTs).dataType match {
      case TimestampType | TimestampNTZType =>
        (unix_micros(col("__ts").cast("timestamp")) -
           unix_micros(bTs.cast("timestamp")),
         unix_micros(fTs.cast("timestamp")) -
           unix_micros(col("__ts").cast("timestamp")))
      case _ =>
        (col("__ts").cast("double") - bTs.cast("double"),
         fTs.cast("double") - col("__ts").cast("double"))
    }
    val useB = bTs.isNotNull && (fTs.isNull || gb <= gf)
    carried.filter(col("__tag") === 1)
      .select(leftCols.map(col) ++ rightCols.map(c =>
        when(useB, col("__b").getField(c))
          .otherwise(col("__f").getField(c)).as(c)): _*)
  }
}

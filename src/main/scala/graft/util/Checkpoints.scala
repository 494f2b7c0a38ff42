package graft.util

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** The one checkpoint seam for every operator that PINS a
  * nondeterministic intermediate — sampled range boundaries
  * (ScalableWindow, TextPipeline.bm25 sharding), time-derived
  * snowflake ids (GraftCatalog ingest), iterative lineage caps
  * (union-find, PageRank, BPE merges).
  *
  * Default is `localCheckpoint`: blocks live on executors, fastest,
  * but a lost executor forces a recompute that re-draws the
  * nondeterminism (re-sampled boundaries shear rank offsets;
  * re-stamped snowflake ids change identity). On a real cluster set
  * `graft.checkpoint.reliable=true` and every consumer switches to
  * reliable `df.checkpoint()` — recoverable from storage, same
  * pinned values after any executor loss. The location comes from
  * `graft.checkpoint.dir` (HDFS/object storage) when the
  * SparkContext has none set. One switch, all call sites.
  *
  * Local pins store SERIALIZED (`MEMORY_AND_DISK_SER`), not Spark's
  * `localCheckpoint` default of deserialized rows: a pinned edge list
  * is UnsafeRows, which serialize as a flat byte copy, and the
  * deserialized form costs ~6× the heap (object header + byte[]
  * header + padding per row on top of 16 B of payload). Measured at
  * the 300M-edge contraction probe: two deserialized 300M-row pins
  * (the probe's input pin + the canonical-edges pin inside
  * connectedComponents) OOM'd an 80 GB heap; serialized they fit in
  * ~10 GB combined.
  */
object Checkpoints {

  /** EAGER by default — calling `pin` (and therefore any operator
    * whose default `checkpoint` argument is `pin`) RUNS Spark jobs at
    * construction time, because only a materialized pin has a
    * measured size for [[org.apache.spark.sql.graft.Bridge.measuredPinStats]]
    * to install (the true-cost broadcast story). Plan-only callers
    * (explain, speculative DataFrame assembly) pass the operator's
    * `checkpoint = Checkpoints.pinLazy` parameter instead, trading
    * measured stats for deferred execution; pair long-lived pins with
    * [[release]] when done. */
  def pin(df: DataFrame): DataFrame = pin(df, eager = true)

  def pin(df: DataFrame, eager: Boolean): DataFrame = {
    val ss = df.sparkSession
    val pinned =
      if (GraftConf.bool(ss, "graft.checkpoint.reliable", false)) {
        if (ss.sparkContext.getCheckpointDir.isEmpty)
          GraftConf.string(ss, "graft.checkpoint.dir")
            .foreach(ss.sparkContext.setCheckpointDir)
        df.checkpoint(eager)
      } else df.localCheckpoint(eager, StorageLevel.MEMORY_AND_DISK_SER)
    // The checkpoint inherits the origin plan's size ESTIMATE, which
    // descends from compressed file bytes — for text/array data that
    // undercounts the in-memory relation by 10-100× and makes the
    // static planner broadcast pin-derived join sides that are
    // actually hundreds of MB (each executor transfers + rebuilds +
    // GCs the relation; measured 7× task-time inflation on
    // dedup_incremental at sf10 in local-cluster mode, and at real
    // scale it is an executor OOM). Replace it: an eager pin installs
    // its MEASURED block-manager/checkpoint-file size (true-cost
    // broadcast decisions at every scale); a lazy pin strips the
    // estimate and is statically non-broadcastable, with AQE still
    // broadcasting from actual runtime shuffle sizes where a side is
    // genuinely small.
    scala.util.Try(org.apache.spark.sql.graft.Bridge.measuredPinStats(pinned))
      .getOrElse(pinned) // stats are advisory — never fail a pin over them
  }

  /** Lazy variant for lineage caps inside iterative loops. */
  def pinLazy(df: DataFrame): DataFrame = pin(df, eager = false)

  /** Release a pin's checkpoint blocks explicitly (no-op on non-pinned
    * plans). Pins otherwise hold executor memory until their RDD is
    * GC'd; operators that construct large intermediate pins and know
    * when they are done call this. The blocks are the only copy of
    * the data — the DataFrame must not be used after release. */
  def release(df: DataFrame): Unit =
    scala.util.Try(org.apache.spark.sql.graft.Bridge.releasePin(df))
}

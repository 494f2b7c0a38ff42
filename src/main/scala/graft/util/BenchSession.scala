package graft.util

import org.apache.spark.sql.SparkSession

/** The ONE place the bench/probe session recipe lives.
  *
  * [[graft.Bench]] and [[graft.Explain]] (whose plan dumps explain
  * Bench's timings) must run the SAME conf: a probe that omits Bench's
  * single-JVM settings (the 512m measured-stats broadcast threshold,
  * the objectHashAggregate fallback threshold, codegen cache sizing)
  * can pick a DIFFERENT physical plan — e.g. sort-merge where Bench
  * broadcasts — and then attributes wall-clock to stages the bench run
  * never executes.
  *
  * Env knobs (identical everywhere): SPARK_GRAFT_CPUS,
  * SPARK_GRAFT_SHUFFLE, SPARK_GRAFT_AQE, SPARK_GRAFT_MASTER,
  * SPARK_GRAFT_MPB, SPARK_GRAFT_EXEC_CP, and SPARK_GRAFT_CONF
  * ("k=v;k=v", applied LAST so it overrides either mode's defaults).
  */
object BenchSession {

  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")

  def master: String = sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]")

  def builder(): SparkSession.Builder = {
    val m = master
    val shufflePartitions = sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", cpus)
    val aqe = sys.env.getOrElse("SPARK_GRAFT_AQE", "true")
    val b = SparkSession.builder()
      .master(m)
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.adaptive.enabled", aqe)
      .config("spark.sql.adaptive.coalescePartitions.enabled", aqe)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // single-file parquet needs small splits for scan parallelism on
      // a 32-thread box (132 MB orders at sf10 = 2 tasks at the 128m
      // default: scan+noop measured 8.8 s vs 1.1 s at 16m)
      .config("spark.sql.files.maxPartitionBytes",
        sys.env.getOrElse("SPARK_GRAFT_MPB", "16m"))
      // the 128-key default demotes every TypedImperativeAggregate
      // with many groups to sort-based aggregation (topKPerGroup on
      // 1.5M groups: 21 s fallback vs 11 s hashed)
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
        "4000000")
      // Static conf, default 100 entries: a 170-query suite evicts the
      // first queries' compiled codegen classes long before the global
      // warm-up pass returns to them, so the "measured" pass was
      // recompiling everything (r10 driver artifact: 166.5 s vs
      // 101.6 s steady). Sized for the whole suite's codegen units.
      .config("spark.sql.codegen.cache.maxEntries", "10000")
    if (m.startsWith("local-cluster")) {
      val cp = sys.env.getOrElse("SPARK_GRAFT_EXEC_CP",
        s"${sys.props("user.dir")}/target/scala-2.13/classes")
      b.config("spark.executor.extraClassPath", cp)
    } else {
      // Pins carry MEASURED sizes (graft.util.Checkpoints), so the
      // broadcast threshold decides on true bytes — and what is WORTH
      // broadcasting is deployment-dependent: in ONE JVM a broadcast
      // is a pointer handoff plus one hash build, strictly cheaper
      // than the shuffle+sort it replaces for anything that fits the
      // heap (measured at sf10: the 331 MB md5-signature index as a
      // broadcast vs sort-merge is dedup_minhash 60 s vs 220 s — the
      // single-node profile an in-memory engine gets for free).
      // Multi-executor mode keeps Spark's conservative default (every
      // executor pays transfer + build + heap; at 1000 executors a fat
      // broadcast is aggregate TBs). SPARK_GRAFT_CONF overrides either
      // mode; size SPARK_DRIVER_MEM to match when probing big SFs.
      b.config("spark.sql.autoBroadcastJoinThreshold", "512m")
    }
    // Extra session conf for experiments: "k=v;k=v" — applied last.
    sys.env.get("SPARK_GRAFT_CONF").foreach(_.split(';').filter(_.contains('='))
      .foreach { kv => val Array(k, v) = kv.split("=", 2); b.config(k, v) })
    b
  }
}

package graft.util

import org.apache.spark.sql.DataFrame

/** Guard against row-group-bound scan parallelism.
  *
  * Parquet's split unit is the ROW GROUP: a 53 MB single-row-group
  * file (bench-data/sf10 embeddings: 200k rows, 1 row group) yields 4
  * file splits at maxPartitionBytes=16m, but 3 of them are EMPTY —
  * the row group is processed by the one split containing its
  * midpoint. Every pipeline fused into that scan stage (gram-matrix
  * partial aggregation, PCA projection maps) then runs in ONE task no
  * matter how many cores exist; `rdd.getNumPartitions` can't see it
  * (it counts splits, not row groups). Measured: emb_pca_invariants
  * at sf10 ran 98 s wall / 162 CPU-s — average parallelism 1.65 on a
  * 32-core box.
  *
  * [[spreadIfNarrow]] detects the degenerate layout from the parquet
  * footers (driver-side, metadata-only, short-circuited) and inserts
  * one round-robin repartition ONLY then. On healthy layouts — many
  * files or many row groups, i.e. any real multi-file table at scale
  * — it is a no-op returning the input plan unchanged, so no shuffle
  * is ever added to data that already parallelizes. Intended for
  * compute-dense per-row kernels (hundreds of flops/byte) where one
  * pass of the slim input through the exchange is noise next to the
  * serialized compute it unlocks.
  */
object ScanParallelism {

  /** Total parquet row groups across `files`, reading footers until
    * the count reaches `enough` (then short-circuits — past that the
    * layout is known healthy). None if any file is unreadable or not
    * parquet (caller must then assume healthy and not repartition).
    */
  def rowGroupCount(df: DataFrame, enough: Int): Option[Int] = {
    val conf = df.sparkSession.sessionState.newHadoopConf()
    var total = 0
    val it = df.inputFiles.iterator
    try {
      while (it.hasNext && total < enough) {
        val f = it.next()
        if (!f.endsWith(".parquet")) return None
        val in = org.apache.parquet.hadoop.util.HadoopInputFile
          .fromPath(new org.apache.hadoop.fs.Path(f), conf)
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try total += r.getRowGroups.size() finally r.close()
      }
      Some(total)
    } catch { case _: Exception => None }
  }

  /** Total on-disk bytes of `files` (driver-side stat calls; callers
    * only reach here with fewer than `defaultParallelism` files). None
    * if any file can't be stat'd — treat as "don't spread".
    */
  private def totalBytes(df: DataFrame, files: Array[String]): Option[Long] =
    try {
      val conf = df.sparkSession.sessionState.newHadoopConf()
      var sum = 0L
      files.foreach { f =>
        val p = new org.apache.hadoop.fs.Path(f)
        sum += p.getFileSystem(conf).getFileStatus(p).getLen
      }
      Some(sum)
    } catch { case _: Exception => None }

  /** Repartition `df` to `defaultParallelism` iff its parquet layout
    * caps scan parallelism below half the cores AND the input is big
    * enough for the trade to win. The check is pure metadata: ≤ `par`
    * footers read on the driver (a table with ≥ par files
    * short-circuits on the file count alone). Non-parquet or
    * unreadable inputs (in-memory test frames, post-shuffle plans with
    * no inputFiles) are left untouched.
    *
    * Size floor (`graft.spread.minBytes`, default 1 MiB): a
    * row-group-bound layout only costs real wall time when the fused
    * kernel has enough rows to serialize — a 580 KB sf0.1 file runs
    * its kernel in well under a second single-threaded, and the 32-way
    * exchange the spread inserts costs MORE CPU than it saves
    * (measured r12: suite process-CPU 298 → 499 CPU-s with no wall
    * win, concentrated in sf0.1 queries whose inputs were 594–799 KB
    * on disk). The documented wins start at sf1 (documents.parquet
    * 1.75 MB: minhash 9.26 → 5.28 s) and grow through sf10
    * (embeddings.parquet 52.06 MB: PCA 98 → 10.3 s), so the floor
    * must sit BETWEEN 799 KB and 1.75 MB — 1 MiB keeps every measured
    * win and drops every measured misfire. (The r13 default of
    * 64 MiB was wrong at both ends: 52.06 MB < 64 MiB disabled the
    * flagship sf10 win, and the sf1 wins are single-digit MB.) At
    * 100 TB any single-row-group file a writer produces exceeds the
    * floor by orders of magnitude, so the guard engages where it
    * must. A malformed conf value falls back to the default rather
    * than failing the scan (matching rowGroupCount/totalBytes, which
    * also fail safe).
    */
  def spreadIfNarrow(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val par = spark.sparkContext.defaultParallelism
    val files = df.inputFiles
    if (files.isEmpty || files.length >= par) return df
    val floor = GraftConf.bytes(spark, "graft.spread.minBytes", 1L << 20)
    if (!totalBytes(df, files).exists(_ >= floor)) return df
    // Idempotence: guards now sit at BOTH the table-helper level and
    // inside CPU-dense operators, so the same input can be checked
    // twice. inputFiles sees through an upstream repartition (it reads
    // the leaf scans), so detect a prior spread from the LOGICAL plan:
    // any shuffling repartition/rebalance node above the leaf already
    // re-distributed the rows (spreads insert repartition(par); pack
    // helpers repartition(par, key)) and a second exchange would only
    // move the text again. The previous check here read
    // df.rdd.getNumPartitions, which under AQE forces
    // getFinalPhysicalPlan and eagerly SUBMITS every upstream shuffle
    // stage — a throwaway scan+shuffle job of the corpus at
    // DataFrame-construction time (ADVICE r16). Plan inspection
    // answers the same question with zero jobs.
    import org.apache.spark.sql.catalyst.plans.logical.{
      LogicalPlan, Repartition, RepartitionByExpression, RebalancePartitions}
    // Only the LINEAR ancestor chain above the (single) leaf scan
    // counts (ADVICE r17): a repartition on the far side of a join or
    // union says nothing about THIS scan's spread, so a multi-child
    // node stops the walk — composite plans fall through to the
    // row-group check like any fresh scan.
    @annotation.tailrec
    def spreadInChain(p: LogicalPlan): Boolean = p match {
      case r: Repartition if r.shuffle => true
      case _: RepartitionByExpression => true
      case _: RebalancePartitions => true
      case u if u.children.size == 1 => spreadInChain(u.children.head)
      case _ => false
    }
    if (spreadInChain(df.queryExecution.analyzed)) return df
    rowGroupCount(df, par) match {
      case Some(groups) if groups < math.max(1, par / 2) => df.repartition(par)
      case _ => df
    }
  }
}

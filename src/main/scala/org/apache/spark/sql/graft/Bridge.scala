package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ⇄ Expression bridge. Spark 4 made the direct constructors
  * `private[sql]`; extensions conventionally expose them from a file
  * compiled into the org.apache.spark.sql namespace (same pattern
  * third-party Spark connectors use).
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Replace the origin statistics a checkpointed Dataset's LogicalRDD
    * inherited from the plan it pinned with the pin's MEASURED size —
    * or with nothing when the pin is not materialized yet.
    *
    * `Dataset.checkpoint`/`localCheckpoint` copy the ORIGIN plan's
    * estimated `Statistics` into the LogicalRDD
    * (`LogicalRDD.fromDataset`), and those estimates descend from the
    * COMPRESSED file size of the scan. For text/array-heavy data the
    * in-memory relation is one to two orders of magnitude bigger
    * (measured: a 12.1 MB snappy documents.parquet yields a pinned
    * signature table estimated at 3.5 MB that builds a 284 MiB
    * broadcast), so the static planner happily broadcasts pin-derived
    * join sides that each executor must then transfer, rebuild, and
    * GC — or OOM on at real scale.
    *
    * An EAGER pin has its blocks in the block manager (or, for a
    * reliable checkpoint, its files on the checkpoint FS), so the TRUE
    * serialized size is known — installing it lets the optimizer make
    * every size-based decision (broadcast, join build side) on real
    * bytes: genuinely small pins still broadcast, fat ones never do,
    * and `spark.sql.autoBroadcastJoinThreshold` means what it says.
    * A lazy pin's size is unknowable at planning time — its stats are
    * stripped, falling back to `spark.sql.defaultSizeInBytes`
    * (Long.MaxValue): never statically broadcast, while AQE still
    * converts to broadcast joins from actual runtime shuffle sizes.
    * That stripping therefore only happens when AQE is ON; with AQE
    * disabled there is no runtime re-plan to recover a genuinely-small
    * lazy pin's broadcast, so the inherited estimate (the pre-r14
    * behavior) is the lesser evil and is kept. A measured size of
    * ZERO is a valid measurement (an empty pin) — clamped to 1 byte,
    * not discarded, so an empty join side stays statically
    * broadcastable. Non-LogicalRDD plans pass through unchanged.
    *
    * The rebuilt node deliberately DROPS the pin's inherited
    * constraint set (negative result, measured): threading
    * `Some(r.constraints)` through let `InferFiltersFromConstraints`
    * re-derive predicates onto both sides of the MinHash self-joins,
    * re-evaluating kernel-priced expressions per joined copy —
    * idle-box A/B at sf10, same session, dedup_minhash_oph:
    * 108.8 s / 2637 CPU-s with constraints vs 75.9 s / 1285 CPU-s
    * without (r15). The optimizer value of those constraints on an
    * already-materialized pin is a pruned re-filter at best; the cost
    * was a doubled suite kernel. */
  def measuredPinStats(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    df.queryExecution.logical match {
      case r: org.apache.spark.sql.execution.LogicalRDD =>
        val session = df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
        val sc = session.sparkContext
        val measured: Option[BigInt] = sc.getRDDStorageInfo
          .find(_.id == r.rdd.id)
          .map(i => (BigInt(i.memSize) + BigInt(i.diskSize)).max(BigInt(1)))
          .orElse(r.rdd.getCheckpointFile.flatMap { p =>
            scala.util.Try {
              val path = new org.apache.hadoop.fs.Path(p)
              val fs = path.getFileSystem(sc.hadoopConfiguration)
              BigInt(fs.getContentSummary(path).getLength).max(BigInt(1))
            }.toOption
          })
        val aqeOn = session.sessionState.conf.getConf(
          org.apache.spark.sql.internal.SQLConf.ADAPTIVE_EXECUTION_ENABLED)
        if (measured.isEmpty && !aqeOn) df
        else {
          val stats = measured.map(b =>
            org.apache.spark.sql.catalyst.plans.logical.Statistics(sizeInBytes = b))
          val rebuilt = org.apache.spark.sql.execution.LogicalRDD(
            r.output, r.rdd, r.outputPartitioning, r.outputOrdering, r.isStreaming,
            r.stream)(session, stats, None) // constraints dropped — see scaladoc
          org.apache.spark.sql.classic.Dataset.ofRows(session, rebuilt)
        }
      case _ => df
    }

  /** Declare a pinned Dataset's TRUE hash partitioning to the planner.
    *
    * `localCheckpoint` preserves the physical row layout partition by
    * partition, but (measured, r16) the resulting LogicalRDD reaches
    * the optimizer with `UnknownPartitioning` under AQE — so a later
    * join on the very key the caller just `repartition(n, key)`-ed by
    * pays a full re-exchange of the pinned stream. Callers that KNOW
    * the pin was materialized straight out of a hash exchange declare
    * it here; the claim is truthful by construction (same Murmur3
    * hash, same modulus that Spark's own exchange used), so
    * EnsureRequirements plans join sides against it soundly. Columns
    * that don't resolve (or a non-pinned plan) pass through unchanged
    * — the declaration is advisory, never load-bearing for
    * correctness. */
  def declareHashPartitioning(df: org.apache.spark.sql.DataFrame,
                              colNames: Seq[String],
                              numPartitions: Int): org.apache.spark.sql.DataFrame =
    df.queryExecution.logical match {
      case r: org.apache.spark.sql.execution.LogicalRDD =>
        val attrs = colNames.flatMap(n => r.output.find(_.name == n))
        if (attrs.size != colNames.size || numPartitions <= 0) df
        else {
          val session = df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
          val part = org.apache.spark.sql.catalyst.plans.physical.HashPartitioning(
            attrs, numPartitions)
          // carry forward whatever statistics the pin already installed
          // (measured size from measuredPinStats, or the stripped
          // default) — .stats reads them off the existing node
          val stats = Some(df.queryExecution.optimizedPlan.stats)
          val rebuilt = org.apache.spark.sql.execution.LogicalRDD(
            r.output, r.rdd, part, r.outputOrdering, r.isStreaming,
            r.stream)(session, stats, None)
          org.apache.spark.sql.classic.Dataset.ofRows(session, rebuilt)
        }
      case _ => df
    }

  /** Install MEASURED table-level statistics on a file-relation scan.
    *
    * A raw parquet scan's planner estimate is the COMPRESSED file
    * size (`HadoopFsRelation.sizeInBytes`) — the same 10–100×
    * undercount that made pins broadcast 331 MB indexes as "3.5 MB"
    * before [[measuredPinStats]]. The warehouse catalog KNOWS the
    * true decoded size and row count of every table it publishes
    * (parquet footers at commit time); this installs them where the
    * planner reads statistics: a minimal `CatalogTable` whose
    * `CatalogStatistics` `LogicalRelation.computeStats` prefers over
    * the file size. `sizeInBytes` drives broadcast/build-side choices
    * at any CBO setting; `rowCount` additionally feeds CBO when the
    * session enables it. Plans without a `LogicalRelation` scan pass
    * through unchanged. */
  def withTableStats(df: org.apache.spark.sql.DataFrame, db: String, table: String,
                     sizeInBytes: BigInt, rowCount: Option[BigInt]): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.catalyst.TableIdentifier
    import org.apache.spark.sql.catalyst.catalog.{CatalogStatistics, CatalogStorageFormat, CatalogTable, CatalogTableType}
    import org.apache.spark.sql.execution.datasources.LogicalRelation
    val session = df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val stats = CatalogStatistics(sizeInBytes = sizeInBytes, rowCount = rowCount)
    val rewritten = df.queryExecution.analyzed.transform {
      case lr: LogicalRelation =>
        val ct = lr.catalogTable.getOrElse(CatalogTable(
          identifier = TableIdentifier(table, Some(db)),
          tableType = CatalogTableType.EXTERNAL,
          storage = CatalogStorageFormat.empty,
          schema = lr.schema))
        lr.copy(catalogTable = Some(ct.copy(stats = Some(stats))))
    }
    org.apache.spark.sql.classic.Dataset.ofRows(session, rewritten)
  }

  /** Drop a pinned Dataset's checkpoint blocks from the block manager
    * (no-op for non-pinned plans). A local checkpoint's blocks
    * otherwise live until the RDD object is GC'd and the
    * ContextCleaner notices — this is the explicit seam for callers
    * that know they are done with a pin. The blocks are the ONLY copy
    * of the pinned data: the DataFrame must not be used afterwards. */
  def releasePin(df: org.apache.spark.sql.DataFrame): Unit =
    df.queryExecution.logical match {
      case r: org.apache.spark.sql.execution.LogicalRDD =>
        r.rdd.unpersist(blocking = false)
      case _ => ()
    }

  /** `df.createOrReplaceTempView(name)` without the eager command: the
    * same catalog entry (and the same uncache of a replaced view's
    * cached data), but no SQL execution with its listener events —
    * 0.4 ms per view instead of 8 ms (lineitem at sf0.1, median of 35),
    * which a query that registers its tables on every run pays per
    * table. */
  def replaceTempView(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
    val ds = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
    val catalog = ds.sparkSession.sessionState.catalog
    val plan = ds.logicalPlan
    catalog.createTempView(name,
      org.apache.spark.sql.execution.command.ViewHelper.createTemporaryViewRelation(
        org.apache.spark.sql.catalyst.TableIdentifier(name), ds.sparkSession,
        replace = true, catalog.getRawTempView, originalText = None,
        analyzedPlan = plan, aliasedPlan = plan, referredTempFunctions = Nil),
      overrideIfExists = true)
  }
}

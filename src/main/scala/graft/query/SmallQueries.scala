package graft.query

import graft.util.GraftConf
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.planning.ExtractEquiJoinKeys
import org.apache.spark.sql.catalyst.plans.FullOuter
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreeNodeTag
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.internal.SQLConf

/** Runs a passthrough query over a small input as one Spark job, the
  * way a single-process backend (the reference's DuckDB) runs it.
  *
  * When every leaf of the plan is a file-source relation and their
  * files total at most `spark.sql.files.openCostInBytes` on disk, each
  * scan is coalesced to one partition, so aggregates, global sorts,
  * windows, set ops and joins find their input already in one
  * partition and the planner adds no exchange. Spark defines that
  * setting as the bytes one task scans in the time it takes to open a
  * file: an input this small gains nothing from being split, while each
  * extra job (map stage, range sample, broadcast) costs tens of ms. The
  * limit sits below the measured break-even (BENCH_LOCAL.md, "One job
  * for small passthrough queries").
  *
  * The rule fires only when the plan has an operator that needs a
  * distribution and no user `COALESCE`/`REPARTITION` hint. It inserts
  * `Repartition(1, shuffle = false)` above each maximal Project/Filter
  * chain over a relation, so filter, partition and column pruning still
  * reach the scan, and above the two operators whose output does not
  * count as one partition even when their input does: `Expand`
  * (rollups, several distinct aggregates) and a full outer join.
  * An unhinted equi-join gets a `SHUFFLE_HASH` hint on each side Spark
  * would broadcast, so it runs in the same task instead of a broadcast
  * job; a user's join hint is kept. Subquery plans are optimized on
  * their own, so a scalar subquery gets the rule with its own inputs.
  */
object SmallQueries {

  /** Installs the rule on `spark`; later calls are no-ops. Only sessions
    * that plan passthrough SQL get it: the worker session, `Bench`,
    * `Verify` and the operator inventory keep their own plan shapes. */
  def install(spark: SparkSession): Unit = {
    val ex = spark.experimental
    ex.synchronized {
      if (!ex.extraOptimizations.contains(OneJob)) ex.extraOptimizations :+= OneJob
    }
  }

  object OneJob extends Rule[LogicalPlan] {
    def apply(plan: LogicalPlan): LogicalPlan =
      coalesceSmall(plan, conf.filesOpenCostInBytes)
  }

  /** Marks the repartitions this rule inserted, so a second pass leaves
    * them alone and any other repartition reads as a user hint. */
  private val Inserted = TreeNodeTag[Unit]("graft.smallQueries.coalesce")

  /** `SHUFFLE_HASH` on each side of `j` that Spark would broadcast:
    * that side is hashed inside the task instead of broadcast in a job
    * of its own, within the same memory bound. A join with neither side
    * that small sort-merges inside the task. */
  private def hashSmallSides(j: Join): JoinHint = {
    val limit = SQLConf.get.autoBroadcastJoinThreshold
    def hint(side: LogicalPlan) =
      if (GraftConf.fitsIn(side, limit)) Some(HintInfo(strategy = Some(SHUFFLE_HASH)))
      else None
    JoinHint(hint(j.left), hint(j.right))
  }

  private[graft] def coalesceSmall(plan: LogicalPlan, maxBytes: Long): LogicalPlan = {
    lazy val bytes = plan.collectLeaves().map(fileBytes)
    val fires = plan.exists(needsDistribution) && !plan.exists(userRepartition) &&
      bytes.forall(_.isDefined) && bytes.flatten.sum <= maxBytes
    if (fires) coalesce(plan) else plan
  }

  /** `Distinct`, `Deduplicate` and the set ops reach this rule already
    * rewritten to `Aggregate`s and `Join`s. */
  private def needsDistribution(p: LogicalPlan): Boolean = p match {
    case _: Aggregate | _: Join | _: Window | _: GlobalLimit => true
    case s: Sort => s.global
    case _ => false
  }

  private def userRepartition(p: LogicalPlan): Boolean = p match {
    case r: RepartitionOperation => r.getTagValue(Inserted).isEmpty
    case _: RebalancePartitions => true
    case _ => false
  }

  private def fileBytes(leaf: LogicalPlan): Option[Long] = leaf match {
    case l: LogicalRelation => l.relation match {
      case fs: HadoopFsRelation => Some(fs.location.sizeInBytes)
      case _ => None
    }
    case _ => None
  }

  private def scanChain(p: LogicalPlan): Boolean = p match {
    case Project(_, c) => scanChain(c)
    case Filter(_, c) => scanChain(c)
    case _: LogicalRelation => true
    case _ => false
  }

  private def oneTask(p: LogicalPlan): LogicalPlan = {
    val r = Repartition(1, shuffle = false, p)
    r.setTagValue(Inserted, ())
    r
  }

  private def coalesce(p: LogicalPlan): LogicalPlan = p match {
    case r: Repartition if r.getTagValue(Inserted).isDefined => r
    case _ if scanChain(p) => oneTask(p)
    case j: Join =>
      val equi = ExtractEquiJoinKeys.unapply(j).isDefined
      val hinted = if (equi && j.hint == JoinHint.NONE) j.copy(hint = hashSmallSides(j)) else j
      val q = hinted.mapChildren(coalesce)
      if (j.joinType == FullOuter) oneTask(q) else q
    case e: Expand => oneTask(e.mapChildren(coalesce))
    case _ => p.mapChildren(coalesce)
  }
}

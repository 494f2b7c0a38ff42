package graft

import graft.query.{QueryService, SmallQueries}
import graft.sources.{GraftCatalog, Loader}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{BROADCAST, Join, JoinHint, LogicalPlan, Repartition}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
import java.io.StringWriter
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import scala.jdk.CollectionConverters._

/** Passthrough SQL over small tables plans without exchanges and runs as
  * one Spark job ([[SmallQueries]]), returns what Spark's distributed
  * plan returns, and leaves larger inputs and user hints alone. */
class SmallQueriesSpec extends SparkTestBase with AdaptiveSparkPlanHelper {

  /** `events` (3 files, NULL user ids and kinds, tied cents) and `users`
    * (ids 0-199 of the events' 0-249, plus a NULL id) in one warehouse,
    * with views on a passthrough session and on a session without the
    * rule. */
  private object Tables {
    private val tmp = Files.createTempDirectory("graft-small")
    private val root = s"$tmp/warehouse"
    def session(): SparkSession = {
      val s = spark.newSession()
      new GraftCatalog(s, root).registerViews("db")
      s
    }
    private val loader = new Loader(new GraftCatalog(spark.newSession(), root))
    private def load(table: String, rows: Seq[String]): Unit = {
      val f = Files.createTempFile(tmp, table, ".ndjson")
      Files.write(f, rows.mkString("", "\n", "\n").getBytes(UTF_8))
      loader.loadFile("db", table, f)
    }
    private val kinds = Seq("view", "click", "buy", "share")
    (0 until 3).foreach { b =>
      load("events", (b * 400 until (b + 1) * 400).map { i =>
        val user = if (i % 23 == 0) "null" else ((i * 37) % 250).toString
        val kind = if (i % 31 == 0) "null" else "\"" + kinds(i % kinds.size) + "\""
        s"""{"event_id": $i, "user_id": $user, "kind": $kind, "cents": ${i * 7 % 50}, "day": ${i % 10}}"""
      })
    }
    load("users", (0 until 200).map { u =>
      s"""{"user_id": $u, "country": "c${u % 5}", "plan": "${if (u % 3 == 0) "pro" else "free"}"}"""
    } :+ """{"user_id": null, "country": "c3", "plan": "pro"}""")
    /** On-disk bytes of a table's parquet files. */
    def bytes(table: String): Long = Files.walk(java.nio.file.Paths.get(root)).iterator().asScala
      .filter(p => p.toString.endsWith(".parquet") && p.toString.contains(s"/$table/"))
      .map(Files.size(_)).toSeq.sum
    val small: SparkSession = session()
    val plain: SparkSession = session()
  }
  import Tables.{plain, small}

  private def exchanges(p: SparkPlan): Seq[SparkPlan] =
    collectWithSubqueries(p) { case e: Exchange => e }

  private def inserted(p: LogicalPlan): Int =
    p.collectWithSubqueries { case r: Repartition if r.numPartitions == 1 && !r.shuffle => r }.size

  /** Runs `sql` through the passthrough path the server uses: the JSON
    * encoder's jobs, then the executed plan of a collected copy. */
  private def served(sql: String): (Int, SparkPlan) = {
    val df = QueryService.query(small, sql)
    val jobs = jobsIn(QueryService.writeJson(df, new StringWriter()))
    df.collect()
    (jobs, df.queryExecution.executedPlan)
  }

  private val oneJob = Seq(
    "grouped order by" ->
      "select kind, count(*) as n, sum(cents) as c from events group by kind order by kind",
    "join" ->
      """select u.country, count(*) as n, sum(e.cents) as c from events e
        |join users u on e.user_id = u.user_id group by u.country order by u.country""".stripMargin,
    "window with ties" ->
      """select event_id, rank() over (partition by kind order by cents) as r,
        |sum(cents) over (order by cents) as running from events order by event_id""".stripMargin,
    "distinct" -> "select distinct kind, day from events",
    "union" -> "select kind as v from events union select country as v from users",
    "except" -> "select user_id from events except select user_id from users",
    "intersect" -> "select user_id from events intersect all select user_id from users",
    "full outer join" ->
      """select e.user_id as eu, u.user_id as uu, count(*) as n from events e
        |full outer join users u on e.user_id = u.user_id group by 1, 2""".stripMargin,
    "rollup" -> "select kind, day, count(*) as n from events group by rollup(kind, day)",
    "two distinct counts" ->
      "select day, count(distinct user_id) as u, count(distinct kind) as k from events group by day",
    "top-N limit" ->
      "select user_id, count(*) as n from events group by user_id order by n desc, user_id limit 10",
    "limit" -> "select event_id, kind from events where cents > 10 limit 5")

  oneJob.foreach { case (shape, sql) =>
    test(s"small tables: $shape plans no exchange and runs one job") {
      val (jobs, plan) = served(sql)
      assert(exchanges(plan).isEmpty, s"exchange in plan:\n$plan")
      assert(jobs == 1, s"expected 1 job, ran $jobs:\n$plan")
    }
  }

  test("small tables: each scalar subquery of a count poll runs as one job, no exchange") {
    val (jobs, plan) = served(
      "select (select count(*) from events) as events, (select count(*) from users) as users")
    assert(exchanges(plan).isEmpty, s"exchange in plan:\n$plan")
    // one job per subquery and one for the outer row (2 per subquery without the rule)
    assert(jobs == 3, s"expected 3 jobs, ran $jobs:\n$plan")
  }

  test("the parquet scan keeps its pushed filters and pruned read schema") {
    val (_, plan) = served(
      "select kind, count(*) as n from events where cents > 40 group by kind order by kind")
    val scan = collect(plan) { case s: FileSourceScanExec => s }.head
    assert(scan.metadata("PushedFilters").contains("GreaterThan(cents,40)"), scan.metadata)
    assert(scan.metadata("ReadSchema") == "struct<cents:bigint,kind:string>", scan.metadata)
  }

  test("above spark.sql.files.openCostInBytes the plan is left unchanged") {
    val sql = "select kind, count(*) as n from events group by kind"
    val plan = plain.sql(sql).queryExecution.optimizedPlan
    assert(SmallQueries.coalesceSmall(plan, Tables.bytes("events") - 1) eq plan)
    assert(inserted(SmallQueries.coalesceSmall(plan, Tables.bytes("events"))) == 1)

    val s = Tables.session()
    s.conf.set("spark.sql.files.openCostInBytes", (Tables.bytes("events") - 1).toString)
    val df = QueryService.query(s, sql)
    df.collect()
    assert(inserted(df.queryExecution.optimizedPlan) == 0)
    assert(exchanges(df.queryExecution.executedPlan).nonEmpty)
  }

  test("a user COALESCE hint or join hint is kept") {
    val hinted = QueryService.query(small,
      "select /*+ COALESCE(2) */ kind, count(*) as n from events group by kind")
    val reps = hinted.queryExecution.optimizedPlan.collect { case r: Repartition => r }
    assert(reps.map(_.numPartitions) == Seq(2), hinted.queryExecution.optimizedPlan)

    val broadcast = QueryService.query(small,
      """select /*+ BROADCAST(u) */ u.country, count(*) as n from events e
        |join users u on e.user_id = u.user_id group by u.country""".stripMargin)
    val hints = broadcast.queryExecution.optimizedPlan.collect { case j: Join =>
      Seq(j.hint.leftHint, j.hint.rightHint).map(_.flatMap(_.strategy))
    }
    assert(hints == Seq(Seq(None, Some(BROADCAST))), hints)
    broadcast.collect()
    assert(collect(broadcast.queryExecution.executedPlan) {
      case b: BroadcastHashJoinExec => b }.nonEmpty)
  }

  test("a join with no side under autoBroadcastJoinThreshold sort-merges in one job") {
    val s = Tables.session()
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val df = QueryService.query(s,
      "select u.country, count(*) as n from events e join users u on e.user_id = u.user_id group by u.country")
    val hints = df.queryExecution.optimizedPlan.collect { case j: Join => j.hint }
    assert(hints == Seq(JoinHint.NONE), hints)
    val jobs = jobsIn(df.collect())
    assert(exchanges(df.queryExecution.executedPlan).isEmpty, df.queryExecution.executedPlan)
    assert(collect(df.queryExecution.executedPlan) { case j: SortMergeJoinExec => j }.nonEmpty)
    assert(jobs == 1, s"expected 1 job, ran $jobs")
  }

  test("the rule is installed once, on the passthrough session only") {
    QueryService.query(small, "select 1")
    QueryService.tenantQuery(small, "select 1", Nil)
    assert(small.experimental.extraOptimizations.count(_ eq SmallQueries.OneJob) == 1)
    assert(!spark.experimental.extraOptimizations.contains(SmallQueries.OneJob))
    assert(!plain.experimental.extraOptimizations.contains(SmallQueries.OneJob))
  }

  private val differential = oneJob.filterNot(_._1 == "limit").map(_._2) ++ Seq(
    "select e.event_id, u.country from events e left join users u on e.user_id = u.user_id order by e.event_id",
    """select u.user_id, count(e.event_id) as n from events e right join users u
      |on e.user_id = u.user_id group by u.user_id""".stripMargin,
    """select event_id from events e where exists
      |(select 1 from users u where u.user_id = e.user_id and u.plan = 'pro') order by event_id""".stripMargin,
    "select event_id from events e where not exists (select 1 from users u where u.user_id = e.user_id)",
    "select count(*) as n from events where user_id in (select user_id from users where country = 'c1')",
    "select count(*) as n from events where user_id not in (select user_id from users where country = 'c1')",
    "select count(*) as n from events where user_id not in (select user_id from users where country = 'c3')",
    """select kind, count(*) as n from events where cents > (select avg(cents) from events)
      |group by kind order by kind""".stripMargin,
    """select u.user_id, (select count(*) from events e where e.user_id = u.user_id) as n
      |from users u order by u.user_id""".stripMargin,
    "select event_id, dense_rank() over (order by cents desc) as d from events order by d, event_id",
    "select count(user_id) as u, count(*) as n, sum(cents) as c from events where kind is null",
    "select kind, user_id, count(*) as n from events group by kind, user_id order by n desc, kind, user_id")

  test("differential: the same rows as Spark's distributed plan, in ORDER BY order") {
    differential.foreach { sql =>
      val got = QueryService.query(small, sql)
      assert(inserted(got.queryExecution.optimizedPlan) > 0, s"rule did not fire: $sql")
      val a = got.collect().toSeq
      val b = plain.sql(sql).collect().toSeq
      assert(a.nonEmpty, s"vacuous: $sql")
      if (sql.trim.toLowerCase.matches("(?s).*\\border by [^()]*")) assert(a == b, sql)
      else assert(sorted(a) == sorted(b), sql)
    }
  }

  private def sorted(rows: Seq[Row]): Seq[String] = rows.map(_.toString).sorted
}

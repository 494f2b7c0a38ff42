package graft

import graft.queries.{Relational, Relational2, Relational3}
import graft.query.QueryService
import graft.sources.{GraftCatalog, Loader}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import java.io.{File, StringWriter}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

/** The query path's fixed per-request cost: temp views are rebuilt only
  * when their table changed, the encoders run one Spark job per wave of
  * result partitions, and a load counts its rows from the published
  * footers instead of re-reading its input. The inventory's SQL path
  * (`Tables.sql`) rebuilds the view of every table its text names, so a
  * view left from another scale factor never answers for it. */
class QueryPathSpec extends SparkTestBase {

  /** A catalog on its own child session (temp views are per session),
    * and a loader that writes `rows` as one NDJSON file and loads it. */
  private final class Fixture {
    private val tmp = Files.createTempDirectory("graft-qp")
    val s: SparkSession = spark.newSession()
    val catalog = new GraftCatalog(s, s"$tmp/warehouse")
    private val loader = new Loader(catalog)
    def load(table: String, rows: String*): Long = {
      val f = Files.createTempFile(tmp, table, ".ndjson")
      Files.write(f, rows.mkString("", "\n", "\n").getBytes(UTF_8))
      loader.loadFile("db", table, f)
    }
  }

  private def view(s: SparkSession, t: String): AnyRef =
    s.sessionState.catalog.getRawTempView(t).orNull

  private def count(s: SparkSession, t: String): Long =
    s.sql(s"select count(*) from $t").head().getLong(0)

  test("registerViews reuses a table's view while nothing changed") {
    val fx = new Fixture; import fx._
    load("t", """{"a": 1}""", """{"a": 2}""")
    catalog.registerViews("db")
    val v = view(s, "t")
    assert(v != null)
    catalog.registerViews("db")
    assert(view(s, "t") eq v, "an unchanged table must keep its view")
    assert(count(s, "t") == 2)
  }

  test("registerViews rebuilds after an append, addColumns and compact") {
    val fx = new Fixture; import fx._
    load("t", """{"a": 1}""")
    catalog.registerViews("db")
    val v1 = view(s, "t")

    load("t", """{"a": 2}""")
    catalog.registerViews("db")
    val v2 = view(s, "t")
    assert(v2 ne v1, "append must rebuild the view")
    assert(count(s, "t") == 2)

    catalog.addColumns("db", "t", Map("b" -> "int"))
    catalog.registerViews("db")
    val v3 = view(s, "t")
    assert(v3 ne v2, "addColumns must rebuild the view")
    assert(s.table("t").columns.contains("b"))

    load("t", """{"a": 3, "b": 4}""")
    assert(catalog.compact("db", "t")._2 == 1)
    catalog.registerViews("db")
    assert(view(s, "t") ne v3, "compact must rebuild the view")
    // the pre-compaction generation is deleted: a stale view would fail
    val r = s.sql("select count(*), sum(a), sum(b) from t").head()
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) == (3L, 6L, 4L))
  }

  test("registerViews rebuilds after a redelivered job republishes under its key") {
    val fx = new Fixture; import fx._
    load("t", """{"a": 1}""")
    catalog.append("db", "t", s.range(0, 3, 1, 1).toDF("a"), Some("job-1"))
    catalog.registerViews("db")
    assert(count(s, "t") == 4)
    // same key, one file → four: the committed key set is unchanged,
    // the listing is not
    catalog.append("db", "t", s.range(0, 8, 1, 4).toDF("a"), Some("job-1"))
    catalog.registerViews("db")
    assert(count(s, "t") == 9)
  }

  test("registerViews restores a view an admin replaced or dropped") {
    val fx = new Fixture; import fx._
    load("t", """{"a": 1}""", """{"a": 2}""")
    catalog.registerViews("db")
    s.sql("CREATE OR REPLACE TEMP VIEW t AS SELECT 42 AS a")
    assert(count(s, "t") == 1)
    catalog.registerViews("db")
    assert(count(s, "t") == 2, "the replaced view must be restored")
    s.sql("DROP VIEW t")
    catalog.registerViews("db")
    assert(count(s, "t") == 2, "the dropped view must be restored")
  }

  test("encoders stream a multi-partition result in order, one Spark job per wave") {
    val df = spark.range(0, 300, 1, 10)
      .selectExpr("id", "concat('s,', id % 7) AS s", "if(id % 5 = 0, null, id * 0.5D) AS d")
    assert(df.rdd.getNumPartitions == 10)
    val rows = df.collect()
    val json = df.toJSON.collect()
    val waves = math.ceil(10.0 / spark.sparkContext.defaultParallelism).toInt
    def encode(f: (org.apache.spark.sql.DataFrame, StringWriter) => Unit) = {
      val w = new StringWriter()
      val jobs = jobsIn(f(df, w))
      assert(jobs == waves, s"expected $waves jobs (one per wave), ran $jobs")
      w.toString
    }
    assert(encode(QueryService.writeJson) == json.mkString("[", ",", "]"))
    assert(encode(QueryService.writeNdjson) == json.map(_ + "\n").mkString)
    val csv = rows.map { r =>
      Seq(r.getLong(0).toString, "\"" + r.getString(1) + "\"",
        if (r.isNullAt(2)) "null" else r.getDouble(2).toString).mkString(",")
    }
    assert(encode(QueryService.writeCsv) == csv.mkString("id,s,d\n", "\n", "\n"))
  }

  test("a result larger than the wave budget streams in order in smaller waves") {
    val lines = spark.range(0, 300, 1, 10).toJSON
    val expected = lines.collect()
    // 30 JSON lines per partition: 350-390 chars each, 3,780 in all
    val budget = 900L
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    val jobs = jobsIn(QueryService.streamLines(lines, budget)(out += _))
    assert(out.toSeq == expected.toSeq)
    // the first wave (4 partitions at local[4]) passes its 225-char
    // shares, so each of its partitions is fetched alone; the 380-char
    // largest then sizes the rest into waves of 2: 1 + 4 + 3 jobs
    assert(jobs == 8, s"expected 8 jobs, ran $jobs")
  }

  test("every Tables.sql definition plans and scans only its own directory") {
    val dir = "/root/testdata/sf0.001"
    val root = new File(dir).getCanonicalPath + File.separator
    // A run on another directory leaves a view of every table behind.
    val other = Files.createTempDirectory("graft-other-sf")
    Tables.all.foreach(n =>
      Files.copy(Paths.get(s"$dir/$n.parquet"), other.resolve(s"$n.parquet")))
    val viaSql = (Relational.defs ++ Relational2.defs ++ Relational3.defs).flatMap { d =>
      val s = spark.newSession()
      Tables.all.foreach(n => Tables.load(s, other.toString, n).createOrReplaceTempView(n))
      val df = d.run(s, dir)
      // parsed SQL text names its tables; a DataFrame body holds scans
      if (df.queryExecution.logical.exists(_.isInstanceOf[UnresolvedRelation]))
        Some(d.name -> df)
      else None
    }
    assert(viaSql.size > 30, s"only ${viaSql.size} definitions run SQL text")
    viaSql.foreach { case (name, df) =>
      assert(df.queryExecution.executedPlan != null, name)
      val files = df.queryExecution.optimizedPlan.collectWithSubqueries {
        case l: LogicalRelation => l.relation match {
          case r: HadoopFsRelation => r.location.rootPaths
          case _ => Nil
        }
      }.flatten.map(p => new File(p.toUri).getCanonicalPath)
      assert(files.nonEmpty, s"$name scans no files")
      assert(files.forall(_.startsWith(root)), s"$name reads outside $dir: $files")
    }
  }

  test("loadFile returns the row count and runs one Spark job") {
    val fx = new Fixture; import fx._
    load("t", """{"a": 0}""") // creates the table outside the count
    val rows = (1 to 250).map(i => s"""{"a": $i, "b": "x$i"}""")
    var loaded = -1L
    val jobs = jobsIn { loaded = load("t", rows: _*) }
    assert(loaded == 250)
    assert(jobs == 1, s"a load must run only its write job, ran $jobs")
    assert(catalog.read("db", "t").count() == 251)
  }
}

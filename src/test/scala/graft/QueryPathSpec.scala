package graft

import graft.queries.{Relational, Relational2, Relational3}
import graft.query.QueryService
import graft.sources.{GraftCatalog, Loader}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
import org.apache.spark.sql.execution.{DeserializeToObjectExec, MapPartitionsExec, QueryExecution, SerializeFromObjectExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.graft.ResultBytes
import org.apache.spark.sql.util.QueryExecutionListener
import java.io.{ByteArrayOutputStream, File, OutputStream, StringWriter, Writer}
import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

/** The query path's fixed per-request cost: temp views are rebuilt only
  * when their table changed, the encoders run one Spark job per wave of
  * result partitions, and a load counts its rows from the published
  * footers instead of re-reading its input. The inventory's SQL path
  * (`Tables.sql`) rebuilds the view of every table its text names, so a
  * view left from another scale factor never answers for it. */
class QueryPathSpec extends SparkTestBase with AdaptiveSparkPlanHelper {

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
    def encode(f: (org.apache.spark.sql.DataFrame, OutputStream) => Long) = {
      val out = new ByteArrayOutputStream()
      var written = -1L
      val jobs = jobsIn { written = f(df, out) }
      assert(jobs == waves, s"expected $waves jobs (one per wave), ran $jobs")
      assert(written == out.size)
      out.toString(UTF_8)
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
    val df = spark.range(0, 300, 1, 10).toDF()
    val expected = df.toJSON.collect()
    // 30 NDJSON lines per partition: 290-330 bytes each, 3,190 in all
    val budget = 900L
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    val jobs = jobsIn(QueryService.streamChunks(df, ResultBytes.json(df, "", "\n"), budget) { c =>
      out ++= new String(c, UTF_8).split("\n")
    })
    assert(out.toSeq == expected.toSeq)
    // the first wave (4 partitions at local[4]) passes its 225-byte
    // shares, so each of its partitions is fetched alone; the 320-byte
    // largest then sizes the rest into waves of 2: 1 + 4 + 3 jobs
    assert(jobs == 8, s"expected 8 jobs, ran $jobs")
  }

  /** Each column a JSON or CSV encoder treats apart: multi-byte and
    * 4-byte UTF-8 with quotes, commas and newlines, nulls, nested
    * struct/array/map, decimal, binary, NaN and ±Infinity, date,
    * timestamp and timestamp_ntz. 8 partitions of one row; the filter
    * keeps partitions 0, 3 and 6, so empty partitions sit between
    * non-empty ones. */
  private def wide(s: SparkSession) = s.range(0, 8, 1, 8).where("id % 3 = 0").selectExpr(
    "id",
    "case id when 0 then 'ünï \"q\", ✓\nnext' when 3 then '日本語,😀\r' end AS s",
    "if(id = 3, null, id) AS n",
    "named_struct('a', id, 'b', concat('x\"', id), 'c', array(id, null)) AS st",
    "array('a,b', null, 'ç') AS arr",
    "map('k\"1', id * 1.5D, 'k2', null) AS m",
    "cast(id * 1.25 - 3 AS decimal(10, 3)) AS dec",
    "cast(concat('b', id) AS binary) AS bin",
    "case id when 0 then double('NaN') when 3 then double('Infinity') else double('-Infinity') end AS dbl",
    "date_add(date'2024-02-28', cast(id AS int)) AS d",
    "timestamp'2024-03-10 01:30:00' + make_interval(0, 0, 0, 0, cast(id AS int), 7, 0.125) AS ts",
    "timestamp_ntz'2024-01-01 00:00:00' + make_interval(0, 0, 0, cast(id AS int), 0, 0, 0) AS ntz")

  /** Parent's text for each format: `toJSON` lines spliced as the
    * encoders splice them, and the Row-based `csvLine` over `collect`. */
  private def parentText(df: org.apache.spark.sql.DataFrame): Map[String, String] = {
    val json = df.toJSON.collect()
    Map(
      "json" -> json.mkString("[", ",", "]"),
      "ndjson" -> json.map(_ + "\n").mkString,
      "csv" -> (df.columns.mkString("", ",", "\n") +
        df.collect().map(r => QueryService.csvLine(r) + "\n").mkString))
  }

  /** Each format's bytes through the OutputStream writer; the Writer
    * overload must decode to the same text. */
  private def encoded(df: org.apache.spark.sql.DataFrame): Map[String, Array[Byte]] = {
    def run(toStream: (org.apache.spark.sql.DataFrame, OutputStream) => Long,
            toWriter: (org.apache.spark.sql.DataFrame, Writer) => Long): Array[Byte] = {
      val out = new ByteArrayOutputStream()
      assert(toStream(df, out) == out.size)
      val w = new StringWriter()
      assert(toWriter(df, w) == out.size)
      assert(w.toString == out.toString(UTF_8))
      out.toByteArray
    }
    Map(
      "json" -> run(QueryService.writeJson, QueryService.writeJson),
      "ndjson" -> run(QueryService.writeNdjson, QueryService.writeNdjson),
      "csv" -> run(QueryService.writeCsv, QueryService.writeCsv))
  }

  private def assertSameBytes(df: org.apache.spark.sql.DataFrame, formats: String*): Unit = {
    val want = parentText(df)
    val got = encoded(df)
    formats.foreach { f =>
      assert(java.util.Arrays.equals(got(f), want(f).getBytes(UTF_8)),
        s"$f differs:\n${new String(got(f), UTF_8)}\nvs parent\n${want(f)}")
    }
  }

  test("the byte encoders write the parent's text on a wide schema under a non-UTC zone") {
    val s = spark.newSession()
    s.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    val df = wide(s)
    assert(df.rdd.getNumPartitions == 8)
    assert(df.count() == 3)
    assertSameBytes(df, "json", "ndjson", "csv")
    val json = new String(encoded(df)("json"), UTF_8)
    assert(json.contains("-07:00") && json.contains("-08:00"), json) // zone and its DST shift
    val empty = df.where("false")
    assertSameBytes(empty, "json", "ndjson", "csv")
    assert(new String(encoded(empty)("json"), UTF_8) == "[]")
  }

  test("the CSV encoder builds its Row deserializer from the DataFrame's session") {
    val s = spark.newSession()
    s.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    s.conf.set("spark.sql.datetime.java8API.enabled", "true")
    val df = wide(s)
    val ts = df.collect().head.getAs[Any]("ts")
    assert(ts.isInstanceOf[java.time.Instant], ts.getClass)
    assertSameBytes(df, "csv")
    assert(new String(encoded(df)("csv"), UTF_8).contains(ts.toString))
  }

  test("the encoders run the plan tenantQuery checked, with no Row round trip") {
    val s = spark.newSession()
    val seen = new LinkedBlockingQueue[(String, QueryExecution)]()
    s.listenerManager.register(new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = seen.add(f -> qe)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    })
    val df = QueryService.tenantQuery(s,
      "select id % 7 as k, count(*) as n from range(0, 1000, 1, 4) group by 1 order by 1",
      Seq(Files.createTempDirectory("graft-scope").toString))
    def wrappers(qe: QueryExecution) = collectWithSubqueries(qe.executedPlan) {
      case p @ (_: DeserializeToObjectExec | _: MapPartitionsExec | _: SerializeFromObjectExec) => p
    }
    // the parent's encoder plan: toJSON wraps the query in all three
    assert(wrappers(df.toJSON.queryExecution).size == 3)
    Seq[OutputStream => Long](QueryService.writeJson(df, _), QueryService.writeNdjson(df, _),
        QueryService.writeCsv(df, _)).foreach { write =>
      write(new ByteArrayOutputStream())
      val (name, qe) = seen.poll(30, TimeUnit.SECONDS)
      assert(name == "streamChunks")
      assert(qe eq df.queryExecution, "the encoder must run the query's own execution")
      assert(wrappers(qe).isEmpty, qe.executedPlan.treeString)
    }
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

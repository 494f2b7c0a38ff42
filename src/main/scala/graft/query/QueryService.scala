package graft.query

import graft.functions.GraftExtensions
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
import org.apache.spark.sql.catalyst.plans.logical.{Command, InsertIntoDir, InsertIntoStatement}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import java.io.Writer
import java.nio.file.Paths

/** Query passthrough + streaming result encoders (SURVEY §2A A9-A11,
  * A14). The reference trims the SQL (whitespace + trailing ';',
  * /root/reference/pkg/util/sql.go:9-13), hands it verbatim to the
  * backend, and streams the encoded result without ever materializing
  * it. Spark analog: `spark.sql` → rows encoded to strings on the
  * executors → one Spark job per wave of result partitions, written to
  * the client in partition order. At most one wave is buffered on the
  * driver, and a wave is sized to a budget under
  * `spark.driver.maxResultSize` (see `streamLines`); `toLocalIterator`
  * would buffer one partition but run one job per partition.
  *
  * A query whose whole input is small runs as one Spark job, as it
  * would inside the reference's single-process DuckDB: `query` and
  * `tenantQuery` install [[SmallQueries]] on the session they plan on,
  * which coalesces each scan to one partition when the input files
  * total at most `spark.sql.files.openCostInBytes` (4 MB by default),
  * so aggregates, sorts, windows, set ops and joins need no exchange.
  * Larger inputs keep Spark's distributed plan. They also register
  * graft's SQL functions there, so every query can call them.
  */
object QueryService {

  /** pkg/util/sql.go:9-13: TrimSpace, drop one trailing ';', trim again. */
  def cleanQuery(sql: String): String = {
    val t = sql.trim
    (if (t.endsWith(";")) t.dropRight(1) else t).trim
  }

  def query(spark: SparkSession, sql: String): DataFrame = {
    prepare(spark)
    spark.sql(cleanQuery(sql))
  }

  /** What every passthrough query plans with: [[SmallQueries]] and
    * graft's SQL functions, each installed once per session. */
  private def prepare(spark: SparkSession): Unit = {
    SmallQueries.install(spark)
    GraftExtensions.register(spark)
  }

  /** Raised when a tenant query breaks out of its sandbox; the server
    * maps it to 403. */
  final class QueryRejected(msg: String) extends RuntimeException(msg)

  /** Tenant-scoped passthrough. The reference hands each tenant an
    * isolated backend database, so passthrough SQL can only touch that
    * tenant's data; a shared Spark session needs the same wall rebuilt:
    *
    *   1. statements that execute eagerly inside `spark.sql` (DDL/DML
    *      commands, `INSERT ... DIRECTORY`, SET) are rejected BEFORE
    *      execution — a tenant's surface is read-only SQL, writes go
    *      through the ingest/copy APIs;
    *   2. every file-source scan in the analyzed plan must stay under
    *      `allowedRoots` (the tenant's own warehouse dir) — otherwise
    *      ``json.`/any/path` `` could read other tenants' parquet.
    *
    * Admin keys skip this via plain `query()` (parity with DuckDB's
    * unrestricted `read_ndjson_auto`).
    */
  def tenantQuery(spark: SparkSession, sql: String,
                  allowedRoots: Seq[String]): DataFrame = {
    prepare(spark)
    val cleaned = cleanQuery(sql)
    val parsed = spark.sessionState.sqlParser.parsePlan(cleaned)
    // collectWithSubqueries everywhere: plain collect/foreach do NOT
    // descend into subquery-expression plans, and a scalar subquery
    // (`select (select count(*) from parquet.\`/other\`)`) is exactly
    // where an attacker would hide a foreign scan — caught by spec.
    val writes = parsed.collectWithSubqueries {
      case c: Command => c
      case i: InsertIntoStatement => i
      case d: InsertIntoDir => d
    }
    if (writes.nonEmpty)
      throw new QueryRejected("only read queries are allowed for tenant keys")
    val allowed = allowedRoots.map(r => Paths.get(r).normalize.toString)
    def pathOk(p: String): Boolean = {
      val norm = Paths.get(p).normalize.toString
      allowed.exists(a => norm == a || norm.startsWith(a + "/"))
    }
    // Parse-time gate on ``format.`/path` `` scans: rejecting here means
    // analysis never touches the foreign files (schema inference reads
    // footers during planning, which would both leak data and surface
    // as an opaque 500 instead of a clean denial).
    val fileFormats = Set("json", "parquet", "csv", "orc", "text", "textfile",
      "binaryfile", "avro")
    val badPaths = parsed.collectWithSubqueries {
      case u: UnresolvedRelation if u.multipartIdentifier.length == 2 &&
          fileFormats.contains(u.multipartIdentifier.head.toLowerCase) &&
          !pathOk(u.multipartIdentifier(1)) =>
        u.multipartIdentifier(1)
    }
    if (badPaths.nonEmpty)
      throw new QueryRejected(s"file scan outside tenant scope: ${badPaths.head}")
    val df = spark.sql(cleaned)
    // Defense in depth: whatever route a file source took into the
    // analyzed plan — subquery plans included — its resolved root
    // paths must sit inside the scope.
    val outside = df.queryExecution.analyzed.collectWithSubqueries {
      case lr: LogicalRelation => lr.relation match {
        case fs: HadoopFsRelation =>
          fs.location.rootPaths.filterNot(p => pathOk(p.toUri.getPath))
        case _ => Nil
      }
    }.flatten
    if (outside.nonEmpty)
      throw new QueryRejected(
        s"file scan outside tenant scope: ${outside.head}")
    // reflect()/java_method() invoke arbitrary static JVM methods —
    // System.getenv, properties, … — an engine-host capability no
    // isolated tenant backend exposes.
    val reflected = df.queryExecution.analyzed.collectWithSubqueries {
      case p => p.expressions.flatMap(_.collect {
        case r: org.apache.spark.sql.catalyst.expressions.CallMethodViaReflection => r
      })
    }.flatten
    if (reflected.nonEmpty)
      throw new QueryRejected("reflect()/java_method() is not available to tenant keys")
    df
  }

  /** Single JSON array, rows comma-spliced as they stream
    * (duckdb/query.go:15-116 / clickhouse/query.go:24-70). */
  def writeJson(df: DataFrame, out: Writer): Unit = {
    out.write("[")
    var first = true
    streamLines(df.toJSON, waveBudget(df.sparkSession)) { line =>
      if (!first) out.write(",")
      out.write(line)
      first = false
    }
    out.write("]")
  }

  /** One JSON object per line (FORMAT JSONEachRow analog). */
  def writeNdjson(df: DataFrame, out: Writer): Unit =
    streamLines(df.toJSON, waveBudget(df.sparkSession)) { line =>
      out.write(line); out.write("\n")
    }

  /** CSV with header row; NULL renders as the literal `null`
    * (postgres/query.go:139-197 writes %v-stringified values and
    * `null` at :176). Quotes only when the value needs escaping. */
  def writeCsv(df: DataFrame, out: Writer): Unit = {
    out.write(df.columns.map(csvCell).mkString(","))
    out.write("\n")
    streamLines(df.map(csvLine)(Encoders.STRING), waveBudget(df.sparkSession)) { line =>
      out.write(line); out.write("\n")
    }
  }

  /** Hands each string of `lines` to `emit` in partition order, one
    * Spark job per wave of partitions. A wave's strings must fit
    * `budget` chars on the driver: each task returns its partition only
    * while the partition stays under its share of the budget, and a
    * partition that passes its share is fetched again in a job of its
    * own, as `toLocalIterator` would fetch it. Each next wave is sized
    * from the largest partition seen so far, so a small result takes one
    * job per `defaultParallelism` partitions and a large export drops
    * back to one partition per job. */
  private[graft] def streamLines(lines: Dataset[String], budget: Long)(emit: String => Unit): Unit = {
    val qe = lines.queryExecution
    SQLExecution.withNewExecutionId(qe, Some("streamLines")) {
      val rdd = qe.toRdd
      val sc = rdd.sparkContext
      def fetch(ids: Seq[Int], cap: Long): Array[Option[Array[String]]] =
        sc.runJob(rdd, (it: Iterator[InternalRow]) => linesUpTo(it, cap), ids)
      val most = math.max(1, sc.defaultParallelism)
      val n = rdd.getNumPartitions
      var wave = most
      var largest = 0L
      var start = 0
      while (start < n) {
        val ids = start until math.min(n, start + wave)
        val parts = fetch(ids, if (ids.size == 1) Long.MaxValue else budget / ids.size)
        var i = 0
        while (i < parts.length) {
          val part = parts(i).getOrElse(fetch(Seq(ids(i)), Long.MaxValue).head.get)
          parts(i) = None
          part.foreach(emit)
          largest = math.max(largest, part.iterator.map(_.length.toLong).sum)
          i += 1
        }
        start = ids.end
        wave = math.min(most.toLong, math.max(1L, budget / math.max(1L, largest))).toInt
      }
    }
  }

  /** Chars of encoded rows one wave may bring to the driver: a quarter
    * of `spark.driver.maxResultSize` (room for serialization overhead
    * and multi-byte chars, so a wave never trips the job-abort check),
    * and at most an eighth of the driver heap. */
  private def waveBudget(spark: SparkSession): Long = {
    val maxResult = org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
      spark.conf.get("spark.driver.maxResultSize", "1g"))
    val heap = Runtime.getRuntime.maxMemory / 8
    if (maxResult <= 0) heap else math.min(maxResult / 4, heap)
  }

  /** A partition's strings, or None once their length passes `cap`. */
  private def linesUpTo(it: Iterator[InternalRow], cap: Long): Option[Array[String]] = {
    val out = Array.newBuilder[String]
    var chars = 0L
    while (it.hasNext) {
      val line = it.next().getUTF8String(0).toString
      chars += line.length
      if (chars > cap) return None
      out += line
    }
    Some(out.result())
  }

  private def csvLine(row: Row): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < row.length) {
      if (i > 0) sb.append(',')
      sb.append(csvCell(stringify(row.get(i))))
      i += 1
    }
    sb.toString
  }

  private def stringify(v: Any): String = v match {
    case null                => "null"
    case b: Array[Byte]      => java.util.Base64.getEncoder.encodeToString(b)
    // list/struct/map cells render DuckDB-CSV-style: [a, b] / {x, y} /
    // {k=v} — comma-separated, so the cell gets CSV-quoted as one value
    // collection.Seq, not scala.Seq: Row.get hands back mutable
    // ArraySeq, which the 2.13 immutable-Seq alias would miss
    case s: collection.Seq[_] => s.map(stringify).mkString("[", ", ", "]")
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => s"${stringify(k)}=${stringify(x)}" }
        .mkString("{", ", ", "}")
    case r: Row              =>
      r.toSeq.map(stringify).mkString("{", ", ", "}")
    case other               => other.toString
  }

  private def csvCell(s: String): String =
    if (s.exists(c => c == ',' || c == '"' || c == '\n' || c == '\r'))
      "\"" + s.replace("\"", "\"\"") + "\""
    else s
}

package graft.query

import graft.functions.GraftExtensions
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
import org.apache.spark.sql.catalyst.plans.logical.{Command, InsertIntoDir, InsertIntoStatement}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.graft.ResultBytes
import java.io.{OutputStream, Writer}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Paths

/** Query passthrough + streaming result encoders (SURVEY §2A A9-A11,
  * A14). The reference trims the SQL (whitespace + trailing ';',
  * /root/reference/pkg/util/sql.go:9-13), hands it verbatim to the
  * backend, and streams the encoded result without ever materializing
  * it. Spark analog: `spark.sql` → the query's own plan runs, and each
  * task encodes its partition's rows as one chunk of UTF-8 bytes
  * ([[ResultBytes]]) → one Spark job per wave of result partitions,
  * the chunks written to the client in partition order as they are.
  * At most one wave is buffered on the driver, and a wave is sized to a
  * budget under `spark.driver.maxResultSize` (see `streamChunks`);
  * `toLocalIterator` would buffer one partition but run one job per
  * partition.
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
    * (duckdb/query.go:15-116 / clickhouse/query.go:24-70). Each writer
    * returns the bytes it wrote. */
  def writeJson(df: DataFrame, out: OutputStream): Long = json(df, Out(out))
  def writeJson(df: DataFrame, out: Writer): Long = json(df, Out(out))

  /** One JSON object per line (FORMAT JSONEachRow analog). */
  def writeNdjson(df: DataFrame, out: OutputStream): Long = ndjson(df, Out(out))
  def writeNdjson(df: DataFrame, out: Writer): Long = ndjson(df, Out(out))

  /** CSV with header row; NULL renders as the literal `null`
    * (postgres/query.go:139-197 writes %v-stringified values and
    * `null` at :176). Quotes only when the value needs escaping. */
  def writeCsv(df: DataFrame, out: OutputStream): Long = csv(df, Out(out))
  def writeCsv(df: DataFrame, out: Writer): Long = csv(df, Out(out))

  private def json(df: DataFrame, out: Out): Long = {
    out.text("[")
    var first = true
    streamChunks(df, ResultBytes.json(df, sep = ",", end = ""), waveBudget(df.sparkSession)) { c =>
      if (!first) out.text(",")
      out.chunk(c)
      first = false
    }
    out.text("]")
    out.written
  }

  private def ndjson(df: DataFrame, out: Out): Long = {
    streamChunks(df, ResultBytes.json(df, sep = "", end = "\n"), waveBudget(df.sparkSession))(out.chunk)
    out.written
  }

  private def csv(df: DataFrame, out: Out): Long = {
    out.text(df.columns.map(csvCell).mkString(","))
    out.text("\n")
    streamChunks(df, ResultBytes.lines(df, csvLine, "\n"), waveBudget(df.sparkSession))(out.chunk)
    out.written
  }

  /** Where encoded output goes, with its count of UTF-8 bytes. Text is
    * the prelude and the glue between chunks, each one write. */
  private final class Out(writeText: String => Unit, writeChunk: Array[Byte] => Unit) {
    var written = 0L
    def text(s: String): Unit = { writeText(s); written += s.getBytes(UTF_8).length }
    def chunk(c: Array[Byte]): Unit = { writeChunk(c); written += c.length }
  }

  private object Out {
    def apply(out: OutputStream): Out = new Out(s => out.write(s.getBytes(UTF_8)), out.write(_))
    /** A chunk ends on a row boundary, so decoding it whole is exact. */
    def apply(out: Writer): Out = new Out(out.write(_), c => out.write(new String(c, UTF_8)))
  }

  /** Hands the encoded chunks of `df`'s non-empty result partitions to
    * `emit` in partition order, running `df`'s own plan, one Spark job
    * per wave of partitions. A wave's chunks must fit `budget` bytes on
    * the driver: each task returns its chunk only while the chunk stays
    * under its share of the budget, and a partition that passes its
    * share is fetched again in a job of its own, as `toLocalIterator`
    * would fetch it. Each next wave is sized from the largest chunk seen
    * so far, so a small result takes one job per `defaultParallelism`
    * partitions and a large export drops back to one partition per job. */
  private[graft] def streamChunks(df: DataFrame, encode: ResultBytes.Encoder, budget: Long)
                                 (emit: Array[Byte] => Unit): Unit = {
    val qe = df.queryExecution
    SQLExecution.withNewExecutionId(qe, Some("streamChunks")) {
      val rdd = qe.toRdd
      val sc = rdd.sparkContext
      def fetch(ids: Seq[Int], cap: Long): Array[Option[Array[Byte]]] =
        sc.runJob(rdd, (it: Iterator[InternalRow]) => encode(it, cap), ids)
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
          if (part.nonEmpty) emit(part)
          largest = math.max(largest, part.length.toLong)
          i += 1
        }
        start = ids.end
        wave = math.min(most.toLong, math.max(1L, budget / math.max(1L, largest))).toInt
      }
    }
  }

  /** Bytes of encoded rows one wave may bring to the driver: a quarter
    * of `spark.driver.maxResultSize` (room for the task results'
    * serialization overhead, so a wave never trips the job-abort check),
    * and at most an eighth of the driver heap. */
  private def waveBudget(spark: SparkSession): Long = {
    val maxResult = org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
      spark.conf.get("spark.driver.maxResultSize", "1g"))
    val heap = Runtime.getRuntime.maxMemory / 8
    if (maxResult <= 0) heap else math.min(maxResult / 4, heap)
  }

  private[graft] def csvLine(row: Row): String = {
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

package perfbench

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import graft.control._
import graft.query.{Copier, QueryService}
import graft.sources.{GraftCatalog, Ingest, Loader, NdjsonSink}
import org.apache.spark.sql.SparkSession

import java.io.{OutputStreamWriter, Writer}
import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.nio.file.Path
import java.util.concurrent.ConcurrentHashMap

/** The ingest and query paths of `graft.api.GraftServer`, wired from the
  * same public classes the way the server wires them (catalog, local blob
  * store, MetaStore as job queue and key store, NDJSON sink whose
  * `onRotate` uploads and enqueues, `Ingest`, `Loader`, `Workers`,
  * per-database child sessions). The server keeps these parts private, so
  * the traced run builds them here and records spans at their boundaries:
  * around each call into `Ingest.insert`, inside `onRotate`, and at the
  * job queue, which `Workers` reaches through the `JobQueue` trait. Only
  * the two routes the benchmark drives are served. */
final class TracedGateway(spark: SparkSession, root: String, workerCount: Int,
                          sinkMaxAgeSeconds: Long) extends Gateway {
  val catalog = new GraftCatalog(spark, s"$root/warehouse")
  private val blob = new LocalBlobStore(s"$root/blob")
  private val meta = new MetaStore(s"$root/meta")
  catalog.leaseStore = Some(meta)
  private val queue = new TracedQueue(meta, spark)
  private def destInfo(db: String): (String, String) =
    meta.getDestination(db).getOrElse(("spark", ""))
  private val loader = new Loader(catalog, destInfo _)
  private val workers = new Workers(queue, loader, new Copier(catalogFor _, destInfo _), workerCount)
  private val sink = new NdjsonSink(s"$root/sink", maxAgeSeconds = sinkMaxAgeSeconds,
    onRotate = cf => Trace.span("sink.rotate") {
      Trace.count("sink.rotations")
      Trace.count("sink.rotated_rows", cf.rows)
      val key = s"${cf.database}/${cf.table}/${cf.path.getFileName}"
      Trace.span("blob.upload")(blob.upload(key, cf.path))
      Trace.span("queue.enqueue")(
        queue.enqueue(JobMessage.InsertFile(cf.database, cf.table, cf.path.toString)))
    })
  private val ingest = new Ingest(sink)

  def load(db: String, table: String, file: Path): Long = loader.loadFile(db, table, file)
  def idle: Boolean = queue.isEmpty

  private val sessions = new ConcurrentHashMap[String, GraftCatalog]()
  private def catalogFor(db: String): GraftCatalog =
    sessions.computeIfAbsent(db, _ => {
      val c = new GraftCatalog(spark.newSession(), s"$root/warehouse")
      c.leaseStore = Some(meta)
      c
    })

  private def hash(key: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(key.getBytes(StandardCharsets.UTF_8)).map("%02x".format(_)).mkString

  def addApiKey(key: String, database: String): Unit = meta.putKey(hash(key), database, isAdmin = false)

  private var server: HttpServer = _

  def start(): Int = synchronized {
    if (server != null) return server.getAddress.getPort
    workers.start()
    sink.start()
    server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.setExecutor(java.util.concurrent.Executors.newCachedThreadPool())
    server.createContext("/", handle _)
    server.start()
    server.getAddress.getPort
  }

  def stop(): Unit = {
    if (server != null) server.stop(0)
    sink.stop()
    workers.stop()
    meta.close()
  }

  private def handle(ex: HttpExchange): Unit =
    try {
      val path = ex.getRequestURI.getPath
      val params = Option(ex.getRequestURI.getRawQuery).toSeq.flatMap(_.split("&"))
        .filter(_.contains("=")).map { kv =>
          val Array(k, v) = kv.split("=", 2)
          java.net.URLDecoder.decode(k, "UTF-8") -> java.net.URLDecoder.decode(v, "UTF-8")
        }.toMap
      meta.lookupKey(hash(params.getOrElse("api_key", ""))) match {
        case Some((db, false)) if path.startsWith("/api/data/insert/") =>
          Trace.span("api.insert")(insert(ex, db, path.stripPrefix("/api/data/insert/"),
            params.getOrElse("flatten", "")))
        case Some((db, false)) if path == "/api/data/query" =>
          Trace.span("api.query")(query(ex, db, params.getOrElse("query", ""),
            params.getOrElse("format", "json")))
        case _ => respond(ex, 404, "not found")
      }
    } catch {
      case e: Exception =>
        try respond(ex, 500, s"internal error: ${e.getMessage}") catch { case _: Exception => () }
    } finally ex.close()

  private def respond(ex: HttpExchange, code: Int, body: String): Unit = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    ex.sendResponseHeaders(code, bytes.length)
    ex.getResponseBody.write(bytes)
  }

  /** `GraftServer.handleInsert`: one `Ingest.insert` call, answered the
    * way the server answers it. */
  private def insert(ex: HttpExchange, db: String, table: String, flatten: String): Unit = {
    val body = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
    val mode = Ingest.FlattenMode.fromParam(flatten)
    val r = Trace.span("ingest.insert")(ingest.insert(db, table, body, mode))
    Trace.count("ingest.items", r.inserted)
    if (r.fullySucceeded) respond(ex, 200, s"""{"inserted":${r.inserted}}""")
    else respond(ex, 400, r.errors.mkString("; "))
  }

  /** `GraftServer.streamQuery` for a tenant key: register views, plan
    * through the sandbox, stream the encoded rows. */
  private def query(ex: HttpExchange, db: String, sql: String, format: String): Unit = {
    SparkCounters.tag(spark, "query")
    Trace.count("query.count")
    val c = catalogFor(db)
    val df = try {
      Trace.span("catalog.register_views")(c.registerViews(db))
      Trace.span("query.plan")(QueryService.tenantQuery(c.spark, sql, Seq(s"$root/warehouse/$db")))
    } catch {
      case e: QueryService.QueryRejected => respond(ex, 403, e.getMessage); return
    }
    ex.getResponseHeaders.set("Content-Type", format.toLowerCase match {
      case "csv" => "text/csv"
      case "ndjson" => "text/plain"
      case _ => "application/json"
    })
    ex.sendResponseHeaders(200, 0)
    val t0 = System.nanoTime()
    // writes before the first row: json "[", csv header line + "\n"
    val prelude = format match { case "csv" => 2; case "ndjson" => 0; case _ => 1 }
    val w = new TimingWriter(new OutputStreamWriter(ex.getResponseBody, StandardCharsets.UTF_8), prelude)
    Trace.span("query.stream") {
      format match {
        case "csv" => QueryService.writeCsv(df, w)
        case "ndjson" => QueryService.writeNdjson(df, w)
        case _ => QueryService.writeJson(df, w)
      }
      w.flush()
    }
    val t1 = System.nanoTime()
    val firstRow = if (w.firstRowNs > 0) w.firstRowNs else t1
    Trace.record("query.first_row", t0, firstRow)
    Trace.record("query.encode", firstRow, t1)
    Trace.count("query.result_chars", w.chars)
  }
}

/** Counts characters and notes when the first row is written. */
final class TimingWriter(out: Writer, preludeWrites: Int) extends Writer {
  private var writes = 0
  var chars = 0L
  var firstRowNs = 0L
  override def write(cbuf: Array[Char], off: Int, len: Int): Unit = {
    if (writes == preludeWrites && firstRowNs == 0L) firstRowNs = System.nanoTime()
    writes += 1
    chars += len
    out.write(cbuf, off, len)
  }
  override def write(s: String): Unit = {
    if (writes == preludeWrites && firstRowNs == 0L) firstRowNs = System.nanoTime()
    writes += 1
    chars += s.length
    out.write(s)
  }
  override def flush(): Unit = out.flush()
  override def close(): Unit = out.close()
}

/** The job queue with enqueue-to-claim wait, claim-to-ack job time (in
  * total and per table), depth and redeliveries recorded at its boundary.
  * `Workers` claims a job on the thread that then runs it, so the claim
  * also tags that thread's Spark jobs as loads. */
final class TracedQueue(inner: JobQueue, spark: SparkSession, maxAttempts: Int = 3)
    extends JobQueue {
  private val enqueuedAt = new ConcurrentHashMap[Long, java.lang.Long]
  private val claimed = new ConcurrentHashMap[Long, (Long, String)]
  private val deliveries = new ConcurrentHashMap[Long, Integer]
  def enqueue(msg: JobMessage): Long = {
    val id = inner.enqueue(msg)
    enqueuedAt.put(id, System.nanoTime())
    Trace.max("queue.depth_max", inner.size.toLong)
    id
  }
  def dequeue(timeoutMs: Long): Option[(Long, JobMessage)] = {
    val r = inner.dequeue(timeoutMs)
    r.foreach { case (id, msg) =>
      val now = System.nanoTime()
      Option(enqueuedAt.put(id, now)).foreach(t => Trace.record("queue.wait", t, now))
      val table = msg match {
        case JobMessage.InsertFile(_, t, _) => SparkCounters.tag(spark, "load"); t
        case _ => SparkCounters.tag(spark, "other"); ""
      }
      claimed.put(id, (now, table))
      deliveries.merge(id, 1, (a, b) => a + b)
    }
    r
  }
  /** `Workers` acknowledges a job when it succeeds, and also when it
    * fails on its last attempt (a dead letter); an ack on the last
    * delivery is counted as a dead letter, so the count is an upper
    * bound. */
  def ack(id: Long): Unit = {
    finish(id)
    if (Option(deliveries.remove(id)).exists(_ >= maxAttempts)) Trace.count("worker.dead_letters")
    enqueuedAt.remove(id)
    inner.ack(id)
  }
  def nack(id: Long): Unit = { finish(id); Trace.count("worker.retries"); inner.nack(id) }
  private def finish(id: Long): Unit =
    Option(claimed.remove(id)).foreach { case (t, table) =>
      val now = System.nanoTime()
      Trace.record("worker.job", t, now)
      if (table.nonEmpty) Trace.record(s"worker.job.$table", t, now)
    }
  def isEmpty: Boolean = inner.isEmpty
  def size: Int = inner.size
}

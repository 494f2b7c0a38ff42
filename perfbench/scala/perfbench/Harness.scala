package perfbench

import graft.functions.JValue
import graft.functions.JValue._
import graft.sources.{GraftCatalog, Loader}
import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** The program side of the benchmark (`perfbench/run.py` drives it).
  *
  * Starts a gateway on a fresh root (optionally preloading NDJSON batch
  * files through the Loader), prints a ready line, then answers `idle`
  * (wait until no load job is queued or running), `settle` (wait for the
  * JIT compile queue to drain), `mark` (start a measured window), `stats`
  * and `quit` on stdin.
  *
  * Every message for run.py is one stdout line: `@@ ` + JSON. */
object Harness {
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Trace.enabled = opts.get("trace").contains("1")
    serve(opts)
    System.exit(0)
  }

  private def emit(fields: (String, JValue)*): Unit = {
    println("@@ " + JValue.render(JObj(fields.toVector)))
    System.out.flush()
  }

  private def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  private def listen(spark: SparkSession): Option[SparkCounters] =
    if (!Trace.enabled) None
    else {
      val c = new SparkCounters
      spark.sparkContext.addSparkListener(c)
      Some(c)
    }

  // ------------------------------------------------------------ serve

  /** The session `graft.Serve` builds, at a fixed local[4]. */
  private def serveSession(): SparkSession = {
    val spark = SparkSession.builder().master("local[4]").appName("graft-server")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  private def serve(opts: Map[String, String]): Unit = {
    val spark = serveSession()
    val counters = listen(spark)
    val setups = opts.getOrElse("setups", "1").toInt
    // graft.Serve's two workers; a 1 s sink age so that freshness
    // measures the pipeline and not the rotation timer
    val workers = 2
    val maxAge = 1L
    val preload = opts.get("preload").map(Paths.get(_))
    var gw: Gateway = null
    var root = ""
    val setupTimes = (1 to setups).map { i =>
      if (gw != null) gw.stop()
      root = s"${opts("root")}/setup$i"
      val ((g, loaded), secs) = timed {
        val g =
          if (Trace.enabled) new TracedGateway(spark, root, workers, maxAge)
          else new PlainGateway(spark, root, workers, maxAge)
        g.addApiKey(opts("api-key"), "default")
        opts.get("dedup").foreach { spec =>
          val Array(table, textCol) = spec.split(":", 2)
          g.catalog.setDedupPolicy("default", table,
            GraftCatalog.DedupPolicy(textCol, "drop", 0.7, GraftCatalog.DedupParams()))
        }
        // one loader thread per core of the local[4] session
        val loaded = preload.map(dir => preloadTables(g, dir, 4)).getOrElse(0L)
        g.start()
        (g, loaded)
      }
      gw = g
      (secs, loaded)
    }
    val port = gw.start()  // already started: returns the bound port
    emit("event" -> JStr("ready"), "port" -> JNum(port.toString), "root" -> JStr(root),
      "setup_s" -> JArr(setupTimes.map(t => Trace.num(t._1)).toVector),
      "preloaded_rows" -> JNum(setupTimes.last._2.toString))

    var cpu0, gc0, jit0 = 0L
    def mark(): Unit = {
      Trace.reset(); counters.foreach(_.reset())
      cpu0 = Jvm.cpuNs; gc0 = Jvm.gcMs; jit0 = Jvm.jitMs
    }
    mark()
    val in = new java.io.BufferedReader(new java.io.InputStreamReader(System.in))
    var line = in.readLine()
    while (line != null && line.trim != "quit") {
      line.trim match {
        case "mark" => mark(); emit("event" -> JStr("marked"))
        case "settle" => Jvm.quiesceJit(capMs = 5000); emit("event" -> JStr("settled"))
        case "idle" =>
          val deadline = System.nanoTime() + 60000000000L
          while (!gw.idle && System.nanoTime() < deadline) Thread.sleep(20)
          emit("event" -> JStr("idle"))
        case "stats" =>
          emit(Seq[(String, JValue)]("event" -> JStr("stats"),
            "cpu_ms" -> Trace.num((Jvm.cpuNs - cpu0) / 1e6),
            "gc_ms" -> Trace.num((Jvm.gcMs - gc0).toDouble),
            "jit_ms" -> Trace.num((Jvm.jitMs - jit0).toDouble),
            "tables" -> tableFiles(gw.catalog, Paths.get(root, "warehouse", "default"))) ++
            counters.map(c => "spark" -> sparkJson(c)).toSeq ++
            (if (Trace.enabled) Seq("trace" -> Trace.summary()) else Nil): _*)
        case other => System.err.println(s"[perfbench] unknown command: $other")
      }
      line = in.readLine()
    }
    opts.get("spans").filter(_ => Trace.enabled).foreach(f => Trace.dump(Paths.get(f)))
    gw.stop()
    spark.stop()
  }

  /** Load every NDJSON batch file under `<dir>/<table>/` through the
    * loader, on `threads` threads, in file-name order. */
  private def preloadTables(g: Gateway, dir: Path, threads: Int): Long = {
    val jobs = Files.list(dir).iterator().asScala.toVector.sortBy(_.toString).flatMap { t =>
      Files.list(t).iterator().asScala.toVector.sortBy(_.toString).map(f => (t.getFileName.toString, f))
    }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try {
      val futures = jobs.map { case (table, f) => pool.submit(() => g.load("default", table, f)) }
      futures.map(_.get()).sum
    } finally pool.shutdown()
  }

  /** Parquet file count, bytes and catalog column count per table
    * directory. */
  private def tableFiles(catalog: GraftCatalog, db: Path): JObj =
    if (!Files.isDirectory(db)) JObj(Vector.empty)
    else JObj(Files.list(db).iterator().asScala.toVector.sortBy(_.toString).map { t =>
      val files = Files.walk(t).iterator().asScala
        .filter(p => p.toString.endsWith(".parquet") && !p.toString.contains("dedup_index") &&
          !p.toString.contains("/.stage/"))
        .toVector
      val name = t.getFileName.toString
      name -> (JObj(Vector("files" -> JNum(files.size.toString),
        "bytes" -> JNum(files.map(Files.size(_)).sum.toString),
        "columns" -> JNum((if (catalog.tableExists("default", name))
          catalog.columns("default", name).size else 0).toString))): JValue)
    })

  private def sparkJson(c: SparkCounters): JObj = JObj(Vector(
    "jobs_query" -> JNum(c.jobsOf("query").toString),
    "tasks_query" -> JNum(c.tasksOf("query").toString),
    "jobs_load" -> JNum(c.jobsOf("load").toString),
    "task_cpu_s" -> Trace.num(c.taskCpuNs.sum / 1e9),
    "shuffle_write_bytes" -> JNum(c.shuffleWriteBytes.sum.toString),
    "spill_bytes" -> JNum(c.spillBytes.sum.toString)))
}

/** What the benchmark needs from a serving gateway. */
trait Gateway {
  def catalog: GraftCatalog
  def addApiKey(key: String, database: String): Unit
  def start(): Int
  def stop(): Unit
  def load(db: String, table: String, file: Path): Long
  /** No load job queued or running. */
  def idle: Boolean
}

/** The product server, untouched. */
final class PlainGateway(spark: SparkSession, root: String, workers: Int, maxAge: Long)
    extends Gateway {
  private val srv = new graft.api.GraftServer(spark, root, workerCount = workers,
    sinkMaxAgeSeconds = maxAge)
  private val loader = new Loader(srv.catalog)
  private var port = -1
  def catalog: GraftCatalog = srv.catalog
  def addApiKey(key: String, database: String): Unit = srv.addApiKey(key, database)
  def start(): Int = { if (port < 0) port = srv.start(); port }
  def stop(): Unit = srv.stop()
  def load(db: String, table: String, file: Path): Long = loader.loadFile(db, table, file)
  def idle: Boolean = srv.queue.isEmpty
}

package graft

import graft.api.GraftServer
import org.apache.spark.sql.SparkSession

/** Standalone server entrypoint (the reference's `go run main.go`
  * quickstart: readme.md:36-48). Boots a local SparkSession, starts the
  * HTTP API + dashboard, seeds keys from the environment, and blocks.
  *
  *   GRAFT_ROOT       server root dir   (default /tmp/graft)
  *   GRAFT_PORT       listen port       (default 8080)
  *   GRAFT_API_KEY    tenant key for db `default` (default "localkey")
  *   GRAFT_ADMIN_KEY  admin key         (optional)
  *   SPARK_GRAFT_CPUS local parallelism (default 4)
  */
object Serve {
  def main(args: Array[String]): Unit = {
    // TCP_NODELAY on accepted sockets: without it a small response's
    // body waits ~40 ms behind the client's delayed ACK (Nagle). The JDK
    // reads the property once, when the process's first HttpServer is
    // created, so it is set here, before anything builds one.
    if (System.getProperty("sun.net.httpserver.nodelay") == null)
      System.setProperty("sun.net.httpserver.nodelay", "true")
    val root = sys.env.getOrElse("GRAFT_ROOT", "/tmp/graft")
    val port = sys.env.getOrElse("GRAFT_PORT", "8080").toInt
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-server")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val srv = new GraftServer(spark, root)
    srv.addApiKey(sys.env.getOrElse("GRAFT_API_KEY", "localkey"), "default")
    sys.env.get("GRAFT_ADMIN_KEY").foreach(srv.addAdminKey)
    val bound = srv.start(port)
    println(s"graft server listening on :$bound (root=$root)")
    sys.addShutdownHook(srv.stop())
    Thread.currentThread().join()
  }
}

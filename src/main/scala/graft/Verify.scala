package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // Fail fast if this launch path lacks the JDK 17 --add-opens flags;
    // see graft.util.LauncherCheck.
    graft.util.LauncherCheck.assertModuleOpens()
    val (sfDir, outDir) = (args(0), args(1))
    // Optional extra args: run only these query names (fast iteration).
    val only = args.drop(2).toSet
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // Multi-executor verification: SPARK_GRAFT_MASTER=local-cluster[2,8,4096]
    // (needs SPARK_HOME so workers can fork executor JVMs; graft classes
    // reach executors via spark.executor.extraClassPath below).
    val master = sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]")
    val builder = SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // match Bench: parallel single-file scans, hashed object aggs
      .config("spark.sql.files.maxPartitionBytes",
        sys.env.getOrElse("SPARK_GRAFT_MPB", "16m"))
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
        "4000000")
    if (master.startsWith("local-cluster")) {
      val cp = sys.env.getOrElse("SPARK_GRAFT_EXEC_CP",
        s"${sys.props("user.dir")}/target/scala-2.13/classes")
      builder.config("spark.executor.extraClassPath", cp)
    }
    // Extra session conf for experiments, same contract as Bench
    // ("k=v;k=v") — how the arm-forced oracle runs (e.g.
    // graft.window.singleTaskLimitBytes=0 for the distributed window
    // arms) reach the operators under Verify.
    sys.env.get("SPARK_GRAFT_CONF").foreach(_.split(';').filter(_.contains('='))
      .foreach { kv => val Array(k, v) = kv.split("=", 2); builder.config(k, v) })
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // Loss-proof gate: a query that fails to plan/run still writes an
    // output dir — a one-row __verify_error parquet — so the driver's
    // compare shows a RED row (schema mismatch) instead of silently
    // dropping the query from the report (r5 lesson: q_asof_tolerance
    // vanished instead of failing).
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    // Schema per successful query — drives the oracle-side signed-zero
    // canonicalization below (see graft.util.Canon).
    val schemas = scala.collection.mutable.LinkedHashMap[String, org.apache.spark.sql.types.StructType]()
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      try {
        val out = graft.util.Canon.normalizeNegZero(fn(spark, sfDir))
        out.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        schemas(name) = out.schema
      }
      catch { case e: Throwable =>
        val msg = s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(500)}"
        System.err.println(s"[verify] $name failed: $msg")
        errors(name) = msg
        try {
          import spark.implicits._
          Seq(msg).toDF("__verify_error").coalesce(1)
            .write.mode("overwrite").parquet(s"$outDir/$name")
        } catch { case e2: Throwable =>
          System.err.println(s"[verify] $name error-sentinel write failed: ${e2.getMessage}")
        }
      }
      finally {
        // drop lazily-pinned checkpoint blocks between queries — they
        // otherwise accumulate across the 169-query dump and crowd
        // execution memory (see Bench for the measurement); in finally
        // so a failed query can't leave residue behind
        spark.sparkContext.getPersistentRDDs.values
          .foreach(_.unpersist(blocking = false))
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // Canonicalize signed zero on the oracle side too: wrap each SQL
    // whose Spark result schema has float/double columns (-0.0 → +0.0
    // via `+ 0`). Queries with no captured schema (failed, or filtered
    // out by `only` during local iteration) dump unwrapped.
    val json = SparkEntry.oracleSql
      .map { case (k, v) =>
        val sql = schemas.get(k).map(graft.util.Canon.wrapOracleSql(v, _)).getOrElse(v)
        s"${q(k)}: ${q(sql)}"
      }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val errJson = errors.map { case (k, v) => s"${q(k)}: ${q(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/verify_errors.json"), errJson)
    if (errors.nonEmpty && only.isEmpty)
      System.err.println(s"[verify] ${errors.size}/${SparkEntry.queries.size} queries FAILED: ${errors.keys.mkString(", ")}")
    spark.stop()
  }
}

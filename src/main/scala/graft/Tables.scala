package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Test-corpus table loader (TESTDATA.md). Tables are single parquet
  * files under a scale-factor dir; at cluster scale these would be
  * partitioned directories — the read path is identical.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    // events.ts is TIMESTAMP(NANOS) parquet, which Spark 4 rejects by
    // default; read nanos as long and truncate to micros (exactly what
    // DuckDB does internally, so oracle comparisons line up).
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = spark.read.parquet(s"$dir/$name.parquet")
    // Only convert when ts actually came in as nanos-long — scaled
    // bench copies (graft.tools.ScaleData) are written with proper
    // TIMESTAMP(MICROS) and need no conversion. The load does not
    // spread single-row-group files (a scan-bound query would pay an
    // exchange for nothing); CPU-dense operators guard their own
    // inputs with graft.util.ScanParallelism.spreadIfNarrow.
    if (name == "events" &&
        df.schema("ts").dataType == org.apache.spark.sql.types.LongType)
      // integer `div`, NOT `/`: double division loses precision on
      // epoch-nanos (> 2^53) and shifts timestamps by up to ~128 ns
      df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
    else df
  }

  /** Plans `text` over the tables under `dir`. Every table whose name
    * appears in the text as a word is loaded through [[load]] and
    * registered as a temp view on each call, so a view an earlier call
    * left for another dir never answers for it. Tables the text does
    * not name are not loaded: registering all ten cost 600–700 ms per
    * query at sf0.1. */
  def sql(spark: SparkSession, dir: String, text: String): DataFrame = {
    all.filter(n => s"(?i)\\b$n\\b".r.findFirstIn(text).isDefined)
      .foreach(n => org.apache.spark.sql.graft.Bridge.replaceTempView(load(spark, dir, n), n))
    spark.sql(text)
  }
}

package graft.sources

import graft.functions.TypeLattice
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** Bulk NDJSON batch load (SURVEY §2A A6, the worker's
  * processInsertMessage: /root/reference/pkg/workers/workers.go:87-127):
  * download batch file → ensure table → infer + add columns → bulk
  * load. Here: infer the 4-type lattice over the file, evolve the
  * catalog schema additively, then one distributed
  * `spark.read.schema(...).json(file)` append — the Spark analog of
  * DuckDB's `INSERT INTO t BY NAME SELECT * FROM read_ndjson_auto(f)`.
  *
  * Reading with an explicit per-column schema makes Spark coerce the
  * raw JSON token to the column type (numbers/bools render into string
  * columns, ints widen to long, etc.), matching backend bulk-load
  * coercion. Inference is a driver-side single pass for rotation-sized
  * files, or `TypeLattice.inferTypesDistributed` beyond a threshold.
  */
/** @param destInfo (dest_type, url) resolver — `jdbc` destinations
  * bulk-load into the external engine instead of the Spark warehouse
  * (same inference + evolution contract, the engine's dialect applies). */
final class Loader(catalog: GraftCatalog,
                   destInfo: String => (String, String) = _ => ("spark", ""),
                   distributedInferenceBytes: Long = 256L * 1024 * 1024) {

  /** @param jobKey idempotency key for the table publish — worker-
    * driven loads pass their queue job id so an at-least-once
    * redelivery republishes instead of duplicating (see
    * [[GraftCatalog.append]]). */
  def loadFile(database: String, table: String, file: Path,
               jobKey: Option[String] = None): Long = {
    val spark = catalog.spark
    val types =
      if (Files.size(file) <= distributedInferenceBytes)
        TypeLattice.inferTypes(Files.lines(file).iterator().asScala)
      else {
        import spark.implicits._
        TypeLattice.inferTypesDistributed(spark, spark.read.textFile(file.toString))
      }
    destInfo(database) match {
      case ("jdbc", url) => return loadFileJdbc(url, table, file, types)
      case _ => ()
    }
    catalog.ensureTable(database, table)
    catalog.addColumns(database, table, types)
    val batchStruct = org.apache.spark.sql.types.StructType(
      catalog.structOf(database, table).fields.filter(f => types.contains(f.name) ||
        f.name == catalog.RowIdColumn))
    val df0 = spark.read.schema(batchStruct).json(file.toString)
    // distributed __row_id backfill: HTTP ingest stamps ids before the
    // sink, but files loaded from elsewhere may lack them — the
    // snowflake expression folds the partition index into the node id,
    // so executors can't collide (SnowflakeId in NativeExpressions)
    val df =
      if (types.contains(catalog.RowIdColumn)) df0
      else df0.withColumn(catalog.RowIdColumn,
        graft.functions.NativeExpressions.snowflake_id())
    catalog.appendWithPolicy(database, table, df, jobKey)
  }

  /** Bulk NDJSON load into a federated jdbc destination: same lattice
    * inference and additive evolution, executed on the external
    * engine; the coerced read + __row_id stamp stay Spark-side. */
  private def loadFileJdbc(url: String, table: String, file: Path,
                           types: Map[String, String]): Long = {
    val spark = catalog.spark
    val jd = new JdbcDestination(spark, url)
    val batchStruct = org.apache.spark.sql.types.StructType(
      types.toSeq.sortBy(_._1).map { case (n, t) =>
        org.apache.spark.sql.types.StructField(n, TypeLattice.toSparkType(t))
      })
    val df0 = spark.read.schema(batchStruct).json(file.toString)
    val df =
      if (types.contains(catalog.RowIdColumn)) df0
      else df0.withColumn(catalog.RowIdColumn,
        graft.functions.NativeExpressions.snowflake_id())
    jd.ensureColumns(table, df.schema)
    jd.append(table, df)
    df.count()
  }
}

package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Federated JDBC destination — the reference's identity is "one
  * gateway, many backend engines" (pkg/destinations/destinations.go:
  * 27-40 dispatching inserts/queries to five engines); this restores
  * that shape with the Spark warehouse as one destination type and any
  * JDBC engine as another. Query passthrough executes ON the external
  * engine: `spark.read option("query")` ships the SQL as a subquery
  * the engine runs, Spark only fetches result rows (and because the
  * engine sees it inside `SELECT * FROM (...)`, DDL/DML can't ride
  * along — tenant passthrough is read-only by construction). Writes
  * append through Spark's JDBC sink, which creates the table on first
  * append in the engine's own dialect. Derby embeds in this container
  * for tests; any JDBC OLAP backend slots in by URL.
  */
final class JdbcDestination(spark: SparkSession, url: String) {

  def query(sql: String): DataFrame = {
    val df = spark.read.format("jdbc")
      .option("url", url)
      .option("query", graft.query.QueryService.cleanQuery(sql))
      .load()
    // engines that fold unquoted identifiers to upper case (Derby,
    // Oracle, …) would answer with shouting column names; present the
    // gateway's canonical lower-case form
    df.toDF(df.columns.map(_.toLowerCase).toIndexedSeq: _*)
  }

  /** Spark's JDBC writer QUOTES every column it creates, which pins
    * the exact case and breaks unquoted follow-up SQL on engines that
    * fold identifiers. Pre-fold the names to the engine's unquoted
    * form (JDBC metadata says which way it folds) so quoted-create ==
    * unquoted-reference. */
  private def foldIdentifiers(df: DataFrame): DataFrame = {
    val fold = withConn(c => folding(c.getMetaData))
    df.toDF(df.columns.map(fold).toIndexedSeq: _*)
  }

  /** The engine's case folding for unquoted identifiers. */
  private def folding(md: java.sql.DatabaseMetaData): String => String =
    if (md.storesUpperCaseIdentifiers) _.toUpperCase
    else if (md.storesLowerCaseIdentifiers) _.toLowerCase
    else identity

  def append(table: String, df: DataFrame): Unit = {
    foldIdentifiers(df).write.mode("append").format("jdbc")
      .option("url", url).option("dbtable", table).save()
  }

  def count(table: String): Long =
    // engines disagree on COUNT's exact integral type (Derby: INTEGER)
    query(s"SELECT COUNT(*) AS n FROM $table").head().getAs[Number](0).longValue()

  def tables(): Seq[String] = withConn { c =>
    val rs = c.getMetaData.getTables(null, null, "%", Array("TABLE"))
    val b = Seq.newBuilder[String]
    while (rs.next()) b += rs.getString("TABLE_NAME").toLowerCase
    b.result().sorted
  }

  def columns(table: String): Seq[(String, String)] = withConn { c =>
    // Derby (and most engines) store unquoted identifiers upper-case
    val rs = c.getMetaData.getColumns(null, null, table.toUpperCase, "%")
    val b = Seq.newBuilder[(String, String)]
    while (rs.next())
      b += rs.getString("COLUMN_NAME").toLowerCase ->
        rs.getString("TYPE_NAME").toLowerCase
    b.result()
  }

  def tableExists(table: String): Boolean = tables().contains(table.toLowerCase)

  /** Additive schema evolution on the external engine (SURVEY §2A A5
    * for the jdbc backend — the reference runs per-engine
    * `ALTER TABLE ADD COLUMN` from its CreateColumns step): every df
    * column missing from an existing table is added with a portable
    * SQL type; Spark's JDBC writer then inserts by column NAME, so the
    * engine null-fills the rest. No-op when the table doesn't exist
    * yet (first append creates it). Each new name is folded the way
    * [[foldIdentifiers]] folds it for the writer, then quoted with the
    * engine's identifier quote, so a JSON key that is no bare SQL
    * identifier (`my col`) adds the column the writer inserts into. */
  def ensureColumns(table: String, schema: org.apache.spark.sql.types.StructType): Unit = {
    if (!tableExists(table)) return
    val existing = columns(table).map(_._1).toSet
    val missing = schema.fields.filterNot(f => existing.contains(f.name.toLowerCase))
    if (missing.isEmpty) return
    withConn { c =>
      val md = c.getMetaData
      val fold = folding(md)
      val q = md.getIdentifierQuoteString.trim
      def ident(name: String) = q + fold(name).replace(q, q + q) + q
      missing.foreach { f =>
        val sqlType = f.dataType match {
          case org.apache.spark.sql.types.LongType |
               org.apache.spark.sql.types.IntegerType => "BIGINT"
          case org.apache.spark.sql.types.DoubleType |
               org.apache.spark.sql.types.FloatType => "DOUBLE"
          case org.apache.spark.sql.types.BooleanType => "BOOLEAN"
          case _ => "VARCHAR(32000)"
        }
        val st = c.createStatement()
        try st.executeUpdate(s"ALTER TABLE $table ADD COLUMN ${ident(f.name)} $sqlType")
        finally st.close()
      }
    }
  }

  private def withConn[A](f: java.sql.Connection => A): A = {
    val c = java.sql.DriverManager.getConnection(url)
    try f(c) finally c.close()
  }
}

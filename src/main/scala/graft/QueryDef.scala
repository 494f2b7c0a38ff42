package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One named engine capability: a Spark implementation plus (when
  * SQL-expressible) an equivalent DuckDB oracle query. Column names and
  * types must match between the two — the driver sorts columns by name
  * and hash-compares values (see the builder contract).
  *
  * Where the DuckDB text also runs in Spark, the entry is one
  * [[QueryDef.sql]] statement: Catalyst plans the oracle text itself,
  * so the query is stated once. A hand-written `run` body is kept only
  * where the text does not run in Spark, or where the body carries a
  * plan choice the planner does not make (a hint, an explicit
  * broadcast, a size-routed operator).
  */
final case class QueryDef(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: Option[String])

object QueryDef {
  def apply(name: String, oracle: String)(
      run: (SparkSession, String) => DataFrame): QueryDef =
    QueryDef(name, run, Some(oracle))

  /** Run and oracle are the same text, planned through [[Tables.sql]]. */
  def sql(name: String, text: String): QueryDef =
    QueryDef(name, (s: SparkSession, dir: String) => Tables.sql(s, dir, text), Some(text))

  def noOracle(name: String)(
      run: (SparkSession, String) => DataFrame): QueryDef =
    QueryDef(name, run, None)
}

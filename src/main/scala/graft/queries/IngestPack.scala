package graft.queries

import graft.QueryDef
import graft.sources._
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** End-to-end ingest-path coverage through the driver's correctness
  * gate (SURVEY §2A A1-A7, A13): each query runs the REAL pipeline —
  * flatten → __row_id → sink rotation → lattice inference → schema
  * evolution → bulk load → catalog read — on fixed documents, then
  * returns only the deterministic columns so a constant-VALUES DuckDB
  * oracle can hash-match it.
  */
object IngestPack {

  private def pipeline(spark: org.apache.spark.sql.SparkSession) = {
    val tmp = Files.createTempDirectory("graft-rt").toString
    val catalog = new GraftCatalog(spark, s"$tmp/warehouse")
    val loader = new Loader(catalog)
    val sink = new NdjsonSink(s"$tmp/sink")
    (catalog, loader, sink, new Ingest(sink))
  }

  val defs: Seq[QueryDef] = Seq(

    // F1 quickstart (readme.md:36-48): horizontal ingest + group-by.
    QueryDef(
      "q_ingest_roundtrip",
      """SELECT user_name, CAST(n AS BIGINT) AS n
        |FROM (VALUES ('alice', 2), ('bob', 1)) AS t(user_name, n)
        |""".stripMargin) { (s, _) =>
      val (catalog, loader, sink, ingest) = pipeline(s)
      ingest.insert("db", "ev", """{"user": "alice", "event": "click"}""")
      ingest.insert("db", "ev",
        """[{"user": "bob", "event": "click"}, {"user": "alice", "event": "view"}]""")
      sink.flushAll().foreach(f => loader.loadFile(f.database, f.table, f.path))
      catalog.read("db", "ev")
        .groupBy(col("user").as("user_name"))
        .agg(count(lit(1)).as("n"))
    },

    // F3-shaped vertical flatten through the full pipeline: sibling
    // arrays cross-product with __order_ columns, typed by the lattice.
    QueryDef(
      "q_ingest_vertical",
      """SELECT user_name, tag, CAST(tag_ord AS BIGINT) AS tag_ord,
        |       CAST(score AS BIGINT) AS score, CAST(score_ord AS BIGINT) AS score_ord
        |FROM (VALUES
        |  ('u1', 'a', 0, 1, 0), ('u1', 'a', 0, 2, 1),
        |  ('u1', 'b', 1, 1, 0), ('u1', 'b', 1, 2, 1)
        |) AS t(user_name, tag, tag_ord, score, score_ord)
        |""".stripMargin) { (s, _) =>
      val (catalog, loader, sink, ingest) = pipeline(s)
      ingest.insert("db", "docs",
        """{"user": "u1", "tags": ["a", "b"], "scores": [1, 2]}""",
        Ingest.FlattenMode.Vertical)
      sink.flushAll().foreach(f => loader.loadFile(f.database, f.table, f.path))
      catalog.read("db", "docs").select(
        col("user").as("user_name"),
        col("tags").as("tag"),
        col("__order_tags").as("tag_ord"),
        col("scores").as("score"),
        col("__order_scores").as("score_ord"))
    },

    // Multi-table normalization through the pipeline: child rows carry
    // the parent FK; we project FK-joined values (ids are snowflakes,
    // so only their join structure is deterministic).
    QueryDef(
      "q_ingest_multitable",
      """SELECT parent_k, CAST(x AS BIGINT) AS x
        |FROM (VALUES ('v', 1), ('v', 2)) AS t(parent_k, x)
        |""".stripMargin) { (s, _) =>
      val (catalog, loader, sink, ingest) = pipeline(s)
      ingest.insert("db", "mt", """{"k": "v", "items": [{"x": 1}, {"x": 2}]}""",
        Ingest.FlattenMode.MultiTable)
      sink.flushAll().foreach(f => loader.loadFile(f.database, f.table, f.path))
      val parent = catalog.read("db", "mt").select(col("id"), col("k"))
      val items = catalog.read("db", "items")
      items.join(parent, items("mt_id") === parent("id"))
        .select(col("k").as("parent_k"), col("x"))
    },

    // Schema evolution: batch 2 adds a column; batch 1 rows read NULL
    // for it; the lattice widens mixed int+string to string.
    QueryDef(
      "q_ingest_evolution",
      """SELECT d, f FROM (VALUES ('x', NULL), ('3', NULL), ('y', 'true'))
        |  AS t(d, f)
        |""".stripMargin) { (s, _) =>
      val (catalog, loader, sink, ingest) = pipeline(s)
      ingest.insert("db", "t",
        """[{"d": "x", "a": 1}, {"d": 3, "a": 2}]""")
      sink.flushAll().foreach(f => loader.loadFile(f.database, f.table, f.path))
      ingest.insert("db", "t", """{"d": "y", "f": true}""")
      sink.flushAll().foreach(f => loader.loadFile(f.database, f.table, f.path))
      // f inferred bool (alone in its batch); render as string for the
      // constant oracle
      catalog.read("db", "t").select(col("d"), col("f").cast("string").as("f"))
    })
}

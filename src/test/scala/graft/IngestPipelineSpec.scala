package graft

import graft.sources._
import graft.query.QueryService
import org.apache.spark.sql.SparkSession
import java.io.StringWriter
import java.nio.file.Files

/** End-to-end ingest → catalog → query (SURVEY §3.1/§3.2; fixtures
  * F1/F2): insert JSON through flatten + __row_id + sink rotation +
  * bulk load, then SQL it back and check the streamed encoders. */
class IngestPipelineSpec extends SparkTestBase {

  /** Passthrough tests pass a child session, as the server gives each
    * database one: a passthrough query installs its planner rule on the
    * session it runs on, which must not be the suites' shared one. */
  private def freshPipeline(session: SparkSession = spark) = {
    val tmp = Files.createTempDirectory("graft-test").toString
    val catalog = new GraftCatalog(session, s"$tmp/warehouse")
    val loader = new Loader(catalog)
    val sink = new NdjsonSink(s"$tmp/sink", maxRows = 1000)
    (catalog, loader, sink, new Ingest(sink))
  }

  test("F1 quickstart: insert event, query it back with group by") {
    val (catalog, loader, sink, ingest) = freshPipeline(spark.newSession())
    val r = ingest.insert("db1", "events_in", """{"user": "alice", "event": "click"}""")
    assert(r.fullySucceeded && r.inserted == 1)
    ingest.insert("db1", "events_in", """[{"user": "bob", "event": "click"},
      {"user": "alice", "event": "view"}]""")
    sink.flushAll().foreach(f => loader.loadFile(f.database, f.table, f.path))

    assert(catalog.listTables("db1") == Seq("events_in"))
    val schema = catalog.schemaOf("db1", "events_in")
    assert(schema("__row_id") == "int")
    assert(schema("user") == "string" && schema("event") == "string")

    catalog.registerViews("db1")
    val counts = QueryService.query(catalog.spark,
      "select user, count(*) as n from events_in group by 1 order by 1;")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(counts == Seq("alice" -> 2L, "bob" -> 1L))

    // __row_id: injected, unique, time-ordered snowflakes
    val ids = catalog.read("db1", "events_in").select("__row_id")
      .collect().map(_.getLong(0))
    assert(ids.length == 3 && ids.distinct.length == 3 && ids.forall(_ > 0))
  }

  test("F4 type lattice drives column types; schema evolves additively") {
    val (catalog, loader, sink, ingest) = freshPipeline()
    ingest.insert("db", "t", """[{"a": 1, "b": 1.5, "c": true, "d": "x", "e": null},
      {"a": 2.5, "b": 2, "c": "yes", "d": 3, "e": null}]""")
    sink.flushAll().foreach(f => loader.loadFile(f.database, f.table, f.path))
    val s1 = catalog.schemaOf("db", "t")
    assert(s1("a") == "float" && s1("b") == "float" && s1("c") == "string" &&
      s1("d") == "string" && s1("e") == "string")

    // second batch: new column appears, existing columns keep types
    ingest.insert("db", "t", """{"a": 7, "f": 42}""")
    sink.flushAll().foreach(f => loader.loadFile(f.database, f.table, f.path))
    val s2 = catalog.schemaOf("db", "t")
    assert(s2("a") == "float" && s2("f") == "int")

    val df = catalog.read("db", "t")
    assert(df.count() == 3)
    // old rows read NULL for the new column; numbers landed as doubles/strings
    val row = df.filter(df("f").isNotNull).collect().head
    assert(row.getAs[Double]("a") == 7.0)
    val nullF = df.filter(df("f").isNull).count()
    assert(nullF == 2)
    // d saw "x" and 3 → string column holding both tokens
    val ds = df.select("d").collect().map(_.getString(0)).filter(_ != null).toSet
    assert(ds == Set("x", "3"))
  }

  test("sink rotation by rows and explicit age tick") {
    var rotated = Vector.empty[NdjsonSink.ClosedFile]
    val tmp = Files.createTempDirectory("graft-sink").toString
    val sink = new NdjsonSink(tmp, maxRows = 2, onRotate = cf => rotated :+= cf)
    sink.writeData("db", "t", """{"x":1}""")
    assert(rotated.isEmpty)
    sink.writeData("db", "t", """{"x":2}""")
    assert(rotated.size == 1 && rotated.head.rows == 2)
    sink.writeData("db", "t", """{"x":3}""")
    val flushed = sink.flushAll()
    assert(flushed.size == 1 && flushed.head.rows == 1)
  }

  test("F2 roundtrip through the streamed encoders (json / ndjson / csv)") {
    val (catalog, loader, sink, ingest) = freshPipeline(spark.newSession())
    ingest.insert("db", "msgs", """{"msg": "hello world", "n": 1}""")
    ingest.insert("db", "msgs", """{"msg": "with,comma \"q\"", "n": null}""")
    sink.flushAll().foreach(f => loader.loadFile(f.database, f.table, f.path))
    catalog.registerViews("db")

    val df = QueryService.query(catalog.spark, "select msg, n from msgs order by __row_id")

    val j = new StringWriter(); QueryService.writeJson(df, j)
    assert(j.toString ==
      """[{"msg":"hello world","n":1},{"msg":"with,comma \"q\""}]""")

    val nd = new StringWriter(); QueryService.writeNdjson(df, nd)
    assert(nd.toString ==
      "{\"msg\":\"hello world\",\"n\":1}\n{\"msg\":\"with,comma \\\"q\\\"\"}\n")

    val c = new StringWriter(); QueryService.writeCsv(df, c)
    assert(c.toString ==
      "msg,n\nhello world,1\n\"with,comma \"\"q\"\"\",null\n")
  }

  test("vertical and multitable ingest route rows to the right tables") {
    val (catalog, loader, sink, ingest) = freshPipeline()
    ingest.insert("db", "docs", """{"k": "v", "items": [{"x": 1}, {"x": 2}]}""",
      Ingest.FlattenMode.Vertical)
    sink.flushAll().foreach(f => loader.loadFile(f.database, f.table, f.path))
    val v = catalog.read("db", "docs")
    assert(v.count() == 2)
    assert(v.columns.toSet.contains("__order_items"))
    assert(v.columns.toSet.contains("___document_id"))

    ingest.insert("db", "mt", """{"k": "v", "items": [{"x": 1}, {"x": 2}]}""",
      Ingest.FlattenMode.MultiTable)
    sink.flushAll().foreach(f => loader.loadFile(f.database, f.table, f.path))
    assert(catalog.read("db", "mt").count() == 1)
    assert(catalog.read("db", "items").count() == 2)
    val fk = catalog.read("db", "items").select("mt_id").collect().map(_.getLong(0)).toSet
    val pid = catalog.read("db", "mt").select("id").collect().map(_.getLong(0)).toSet
    assert(fk == pid)
  }

  test("compaction: many tiny parts -> few, same rows, appends continue") {
    val (catalog, loader, sink, ingest) = freshPipeline()
    (1 to 12).foreach { i =>
      ingest.insert("db", "tiny", s"""{"n": $i, "tag": "b$i"}""")
      sink.flushAll().foreach(f => loader.loadFile(f.database, f.table, f.path)) // one parquet part per batch
    }
    val before = catalog.read("db", "tiny")
      .inputFiles.length
    assert(before >= 12, s"expected one part per batch, saw $before")

    val (was, now) = catalog.compact("db", "tiny")
    assert(was == before && now == 1, s"$was -> $now")
    val rows = catalog.read("db", "tiny")
    assert(rows.count() == 12)
    assert(rows.agg(org.apache.spark.sql.functions.sum("n")).head.getLong(0) == 78)
    assert(catalog.schemaOf("db", "tiny").contains("tag"), "sidecar schema intact")

    // the compacted table is still a live append target
    ingest.insert("db", "tiny", """{"n": 13, "tag": "b13"}""")
    sink.flushAll().foreach(f => loader.loadFile(f.database, f.table, f.path))
    assert(catalog.read("db", "tiny").count() == 13)

    // compacting a single-part table is a no-op
    assert(catalog.compact("db", "tiny")._1 <= 2)
    assert(catalog.compact("db", "missing") == ((0, 0)))
  }

  test("two catalogs (two drivers) serialize dedup appends through the metastore lease") {
    // Two GraftCatalog instances over ONE warehouse root model two
    // drivers: their JVM table-locks are separate objects, so without
    // the metastore lease both batches can probe the index before
    // either appends and every cross-batch near-dup survives. With the
    // lease wired, whichever append runs second must see the first
    // batch in the index.
    import org.apache.spark.sql.functions.col
    val tmp = Files.createTempDirectory("graft-lease").toString
    val meta = new graft.control.MetaStore(s"$tmp/meta")
    val c1 = new GraftCatalog(spark, s"$tmp/warehouse")
    val c2 = new GraftCatalog(spark, s"$tmp/warehouse")
    c1.leaseStore = Some(meta); c2.leaseStore = Some(meta)
    import spark.implicits._
    c1.ensureTable("db", "docs")
    c1.addColumns("db", "docs", Map("text" -> graft.functions.TypeLattice.String))
    c1.setDedupPolicy("db", "docs",
      GraftCatalog.DedupPolicy(textCol = "text", mode = "tag"))
    val shared = (1 to 50).map(i => s"tok$i").mkString(" ")
    val b1 = Seq(s"$shared one").toDF("text")
    val b2 = Seq(s"$shared two").toDF("text")
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val t1 = new Thread(() =>
      try c1.appendWithPolicy("db", "docs", b1)
      catch { case e: Throwable => errs.add(e) })
    val t2 = new Thread(() =>
      try c2.appendWithPolicy("db", "docs", b2)
      catch { case e: Throwable => errs.add(e) })
    t1.start(); t2.start(); t1.join(120000); t2.join(120000)
    assert(errs.isEmpty, s"concurrent appends failed: ${errs.peek()}")
    val rows = c1.read("db", "docs")
      .select(col("text"), col("__is_dup"), col("__dup_of")).collect()
    assert(rows.length == 2, s"both batches must land: ${rows.mkString(";")}")
    val dups = rows.filter(_.getBoolean(1))
    assert(dups.length == 1,
      s"exactly one cross-driver near-dup must be tagged (lease broken?): ${rows.mkString(";")}")
    assert(!dups.head.isNullAt(2), "the dup must point at its original")
    meta.close()
  }

  test("concurrent appends to one table are committer-isolated") {
    // Each append stages in its own directory before rename-publishing
    // (GraftCatalog.publishStage) — under the pre-r12 shared
    // mode("append") these 8 concurrent writers raced on the output
    // dir's _temporary/0 (BENCH_LOCAL.md, "IngestProbe: sustained
    // HTTP→queryable rate + the committer race", records both the
    // FileNotFoundException aborts and the duplicate rows the rival
    // commits published).
    import org.apache.spark.sql.functions.col
    val (catalog, _, _, _) = freshPipeline()
    catalog.ensureTable("db", "conc")
    catalog.addColumns("db", "conc", Map("w" -> "int", "n" -> "int"))
    import spark.implicits._
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (0 until 8).map { w =>
      new Thread(() =>
        try catalog.append("db", "conc",
          (0 until 100).map(i => (w.toLong, i.toLong)).toDF("w", "n")
            .withColumn("__row_id", col("n") + col("w") * 1000L))
        catch { case e: Throwable => errs.add(e) })
    }
    threads.foreach(_.start()); threads.foreach(_.join(120000))
    assert(errs.isEmpty, s"concurrent appends failed: ${errs.peek()}")
    assert(catalog.read("db", "conc").count() == 800L,
      "every writer's rows land exactly once")
  }

  test("jobKey retry republishes instead of duplicating") {
    // The worker pool passes its (redelivery-stable) queue job id as
    // the append's idempotency key: a retried job deletes the files
    // its earlier attempt published before renaming the new ones in,
    // so at-least-once delivery can't duplicate table rows.
    import org.apache.spark.sql.functions.col
    val (catalog, _, _, _) = freshPipeline()
    catalog.ensureTable("db", "keyed")
    catalog.addColumns("db", "keyed", Map("lang" -> "string", "n" -> "int"))
    import spark.implicits._
    def batch = Seq(("en", 1L), ("de", 2L), ("en", 3L)).toDF("lang", "n")
      .withColumn("__row_id", col("n"))
    catalog.append("db", "keyed", batch, jobKey = Some("q7"))
    catalog.append("db", "keyed", batch, jobKey = Some("q7")) // the retry
    assert(catalog.read("db", "keyed").count() == 3L,
      "same-key retry replaces, never duplicates")
    catalog.append("db", "keyed", batch, jobKey = Some("q8")) // a new job
    assert(catalog.read("db", "keyed").count() == 6L,
      "distinct keys append independently")
    val en = catalog.read("db", "keyed").filter(col("lang") === "en")
    assert(en.collect().map(_.getAs[Long]("n")).sum == 8L)
  }

  test("invalid bodies are rejected with per-item accounting") {
    val (_, _, _, ingest) = freshPipeline()
    assert(!ingest.insert("db", "t", """{"unterminated": """).fullySucceeded)
    assert(!ingest.insert("db", "t", """"just a string"""").fullySucceeded)
    val partial = ingest.insert("db", "t", """[{"ok": 1}, {"ok": 2}]""")
    assert(partial.inserted == 2 && partial.failed == 0)
  }
}

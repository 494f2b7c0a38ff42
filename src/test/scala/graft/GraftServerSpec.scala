package graft

import graft.api.GraftServer
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

/** Full-stack HTTP tests: the reference's own quickstart flow
  * (readme.md:36-48) against the Spark-backed server — insert JSON over
  * HTTP, query it back in every format, copy, share, introspect. */
class GraftServerSpec extends SparkTestBase {
  import spark.implicits._

  private lazy val http = HttpClient.newHttpClient()

  private def newServer() = {
    val tmp = Files.createTempDirectory("graft-srv").toString
    val srv = new GraftServer(spark, tmp)
    srv.addApiKey("localkey", "default")
    srv.addAdminKey("adminkey")
    val port = srv.start()
    (srv, s"http://localhost:$port")
  }

  private def get(url: String): HttpResponse[String] =
    http.send(HttpRequest.newBuilder(URI.create(url)).GET().build(),
      HttpResponse.BodyHandlers.ofString())

  private def post(url: String, body: String): HttpResponse[String] =
    http.send(HttpRequest.newBuilder(URI.create(url))
      .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.ofString())

  test("quickstart: insert events over HTTP, query them back") {
    val (srv, base) = newServer()
    try {
      assert(get(s"$base/healthcheck").statusCode() == 200)

      val ins = post(s"$base/api/data/insert/events_http?api_key=localkey",
        """{"user": "alice", "event": "click"}""")
      assert(ins.statusCode() == 200, ins.body())
      post(s"$base/api/data/insert/events_http?api_key=localkey",
        """[{"user": "bob", "event": "click"}, {"user": "alice", "event": "view"}]""")
      assert(srv.drain(), "ingest jobs should drain")

      val q = get(s"$base/api/data/query?api_key=localkey&query=" +
        java.net.URLEncoder.encode(
          "select user, count(*) as n from events_http group by 1 order by 1", "UTF-8"))
      assert(q.statusCode() == 200)
      assert(q.headers().firstValue("Content-Type").get.startsWith("application/json"))
      assert(q.body() == """[{"user":"alice","n":2},{"user":"bob","n":1}]""")

      // POST body is the query; ndjson + csv formats
      val nd = post(s"$base/api/data/query?api_key=localkey&format=ndjson",
        "select user from events_http order by user")
      assert(nd.body() == "{\"user\":\"alice\"}\n{\"user\":\"alice\"}\n{\"user\":\"bob\"}\n")
      val csv = post(s"$base/api/data/query?api_key=localkey&format=csv",
        "select user, event from events_http order by user, event")
      assert(csv.body() == "user,event\nalice,click\nalice,view\nbob,click\n", csv.body())

      // introspection
      val tables = get(s"$base/api/tables?api_key=localkey")
      assert(tables.body() == """["events_http"]""")
      val cols = get(s"$base/api/tables/events_http/columns?api_key=localkey")
      assert(cols.body().contains(""""name":"__row_id","type":"int""""))
      assert(cols.body().contains(""""name":"user","type":"string""""))
    } finally srv.stop()
  }

  test("ingest dedup policy (tag): re-ingested doc tagged over HTTP; index grows once") {
    val (srv, base) = newServer()
    try {
      val shared = (1 to 40).map(i => s"dw$i").mkString(" ")
      // the policy is set over HTTP, tenant-scoped to the key's db
      val set = post(s"$base/api/tables/docs_dedup/dedup?api_key=localkey",
        """{"text_col": "text", "mode": "tag"}""")
      assert(set.statusCode() == 200, set.body())
      val got = get(s"$base/api/tables/docs_dedup/dedup?api_key=localkey")
      assert(got.body().contains(""""mode":"tag""""), got.body())
      // validation: bad mode and bad threshold are rejected
      assert(post(s"$base/api/tables/docs_dedup/dedup?api_key=localkey",
        """{"text_col": "text", "mode": "purge"}""").statusCode() == 400)
      assert(post(s"$base/api/tables/docs_dedup/dedup?api_key=localkey",
        """{"text_col": "text", "threshold": 1.5}""").statusCode() == 400)

      post(s"$base/api/data/insert/docs_dedup?api_key=localkey",
        s"""{"text": "$shared ending one", "tag": "first"}""")
      assert(srv.drain(), "first batch drains")
      post(s"$base/api/data/insert/docs_dedup?api_key=localkey",
        s"""{"text": "$shared ending two", "tag": "second"}""")
      assert(srv.drain(), "second batch drains")
      post(s"$base/api/data/insert/docs_dedup?api_key=localkey",
        s"""{"text": "${(100 to 140).map(i => s"zz$i").mkString(" ")}", "tag": "third"}""")
      assert(srv.drain(), "third batch drains")

      val dups = get(s"$base/api/data/query?api_key=localkey&query=" +
        java.net.URLEncoder.encode(
          "select tag from docs_dedup where __is_dup order by tag", "UTF-8"))
      assert(dups.body() == """[{"tag":"second"}]""", dups.body())
      val kept = get(s"$base/api/data/query?api_key=localkey&query=" +
        java.net.URLEncoder.encode(
          "select tag from docs_dedup where not __is_dup order by tag", "UTF-8"))
      assert(kept.body() == """[{"tag":"first"},{"tag":"third"}]""", kept.body())

      // dup_of must point at the FIRST doc's row id
      val link = get(s"$base/api/data/query?api_key=localkey&query=" +
        java.net.URLEncoder.encode(
          "select count(*) as n from docs_dedup a join docs_dedup b " +
            "on a.__dup_of = b.__row_id where a.tag = 'second' and b.tag = 'first'",
          "UTF-8"))
      assert(link.body() == """[{"n":1}]""", link.body())

      // the index holds the two survivors only — the re-ingest never joined
      val bandsDir = new org.apache.hadoop.fs.Path(srv.catalog.dedupIndexDir("default", "docs_dedup"), "bands")
      val bands = spark.read.parquet(bandsDir.toString)
      assert(bands.select("doc").distinct().count() == 2,
        "index grows once per distinct document")

      // three batches appended three part files per dir; compaction
      // rewrites to ~one without changing the probe's view of the index
      val (before, after) = srv.catalog.compactDedupIndex("default", "docs_dedup")
      assert(before > after && after >= 2, s"compacted $before -> $after")
      val bandsAfter = spark.read.parquet(bandsDir.toString)
      assert(bandsAfter.select("doc").distinct().count() == 2,
        "compaction preserves the index content")
      post(s"$base/api/data/insert/docs_dedup?api_key=localkey",
        s"""{"text": "$shared ending four", "tag": "fourth"}""")
      assert(srv.drain(), "post-compaction batch drains")
      val dups2 = get(s"$base/api/data/query?api_key=localkey&query=" +
        java.net.URLEncoder.encode(
          "select tag from docs_dedup where __is_dup order by tag", "UTF-8"))
      assert(dups2.body() == """[{"tag":"fourth"},{"tag":"second"}]""",
        s"probe against the compacted index: ${dups2.body()}")
    } finally srv.stop()
  }

  test("dedup policy persists the signature convention; mismatched probes refuse") {
    val (srv, base) = newServer()
    try {
      val shared = (1 to 50).map(i => s"cv$i").mkString(" ")
      // the md5 k-hash family — the dedup_incremental oracle's
      // convention, NOT the defaults (oph xxhash64 family)
      val set = post(s"$base/api/tables/docs_conv/dedup?api_key=localkey",
        """{"text_col": "text", "mode": "tag", "shingle_k": 4,
          | "num_hashes": 64, "bands": 16, "seed": 7, "use_md5": true,
          | "oph": false}""".stripMargin)
      assert(set.statusCode() == 200, set.body())
      val got = get(s"$base/api/tables/docs_conv/dedup?api_key=localkey")
      assert(got.body().contains(""""useMd5":true"""), got.body())
      assert(got.body().contains(""""numHashes":64"""), got.body())

      post(s"$base/api/data/insert/docs_conv?api_key=localkey",
        s"""{"text": "$shared ending one", "tag": "first"}""")
      assert(srv.drain(), "first batch drains")
      post(s"$base/api/data/insert/docs_conv?api_key=localkey",
        s"""{"text": "$shared ending two", "tag": "second"}""")
      assert(srv.drain(), "second batch drains")
      val dups = get(s"$base/api/data/query?api_key=localkey&query=" +
        java.net.URLEncoder.encode(
          "select tag from docs_conv where __is_dup order by tag", "UTF-8"))
      assert(dups.body() == """[{"tag":"second"}]""",
        s"md5-family probe must verdict the near-dup: ${dups.body()}")

      // the verdict matches the batch operator run under the SAME
      // convention directly (end-to-end ≡ dedup_incremental's shape)
      val existing = Seq((1L, s"$shared ending one")).toDF("doc_id", "text")
      val incoming = Seq((2L, s"$shared ending two")).toDF("doc_id", "text")
      val direct = graft.operators.Dedup.minhashIncremental(
        existing, incoming, "doc_id", "text", shingleK = 4, numHashes = 64,
        bands = 16, seed = 7, useMd5 = true, oph = false)
        .collect().head
      assert(direct.getBoolean(1), "direct operator agrees: near-dup")

      // the index records what built it
      val stored = srv.catalog.storedIndexParams("default", "docs_conv")
      assert(stored.contains(graft.sources.GraftCatalog.DedupParams(
        4, 64, 16, 7L, useMd5 = true, oph = false)), s"got $stored")

      // changing the convention under a live index refuses (409)
      val flip = post(s"$base/api/tables/docs_conv/dedup?api_key=localkey",
        """{"text_col": "text", "mode": "tag"}""")
      assert(flip.statusCode() == 409, s"${flip.statusCode()} ${flip.body()}")

      // a mismatched probe (sidecar tampered behind the API) fails
      // LOUDLY instead of passing every duplicate as novel
      // tamper through the Hadoop FS the catalog reads with (a raw
      // nio write would leave the checksum sidecar stale)
      val pf = new org.apache.hadoop.fs.Path(
        srv.catalog.dedupIndexDir("default", "docs_conv").getParent,
        "dedup.json")
      val pfs = pf.getFileSystem(spark.sessionState.newHadoopConf())
      val out = pfs.create(pf, true)
      out.write(("""{"textCol":"text","mode":"tag","threshold":0.7,"shingleK":5,""" +
        """"numHashes":128,"bands":32,"seed":42,"useMd5":false,"oph":true}""")
        .getBytes("UTF-8"))
      out.close()
      val batch = Seq((s"$shared ending three", "third")).toDF("text", "tag")
      val err = intercept[IllegalStateException] {
        srv.catalog.appendWithPolicy("default", "docs_conv", batch)
      }
      assert(err.getMessage.contains("built under"), err.getMessage)
    } finally srv.stop()
  }

  test("dedup policy text_col must be a declared column once the table has data") {
    val (srv, base) = newServer()
    try {
      // before first ingest the table has no declared columns beyond
      // the seed — any identifier is accepted (the column arrives with
      // the data)
      assert(post(s"$base/api/tables/docs_tc/dedup?api_key=localkey",
        """{"text_col": "text"}""").statusCode() == 200)
      post(s"$base/api/data/insert/docs_tc2?api_key=localkey",
        """{"text": "hello world", "tag": "a"}""")
      assert(srv.drain())
      // declared schema now exists on docs_tc2: a typo'd column is a 400
      val bad = post(s"$base/api/tables/docs_tc2/dedup?api_key=localkey",
        """{"text_col": "txet"}""")
      assert(bad.statusCode() == 400, s"${bad.statusCode()} ${bad.body()}")
      assert(bad.body().contains("not a column"), bad.body())
      assert(post(s"$base/api/tables/docs_tc2/dedup?api_key=localkey",
        """{"text_col": "text"}""").statusCode() == 200)
    } finally srv.stop()
  }

  test("policy-bearing table counts batches that bypass the probe") {
    val (srv, base) = newServer()
    try {
      assert(post(s"$base/api/tables/docs_byp/dedup?api_key=localkey",
        """{"text_col": "body"}""").statusCode() == 200)
      val before = srv.catalog.policyBypassCount.get()
      // the batch has no "body" column: plain append, counted
      post(s"$base/api/data/insert/docs_byp?api_key=localkey",
        """{"text": "no body column here", "tag": "a"}""")
      assert(srv.drain())
      assert(srv.catalog.policyBypassCount.get() == before + 1,
        "bypass must be observable")
    } finally srv.stop()
  }

  test("semantic dedup policy: paraphrase-near embedding tagged on second ingest") {
    val (srv, base) = newServer()
    try {
      // embeddings travel as JSON-array STRINGS (one string column
      // under the 4-type lattice; a raw JSON array would flatten into
      // indexed columns)
      val set = post(s"$base/api/tables/docs_sem/dedup?api_key=localkey",
        """{"text_col": "emb", "method": "semantic", "threshold": 0.95}""")
      assert(set.statusCode() == 200, set.body())
      assert(get(s"$base/api/tables/docs_sem/dedup?api_key=localkey")
        .body().contains(""""method":"semantic""""))
      // a bogus method is rejected
      assert(post(s"$base/api/tables/docs_sem/dedup?api_key=localkey",
        """{"text_col": "emb", "method": "cosine"}""").statusCode() == 400)

      post(s"$base/api/data/insert/docs_sem?api_key=localkey",
        """{"emb": "[1.0, 0.0, 0.0, 0.0]", "tag": "first"}""")
      assert(srv.drain(), "first batch drains")
      // the paraphrase: same meaning, slightly rotated embedding
      // (cosine vs first ~0.990 >= 0.95)
      post(s"$base/api/data/insert/docs_sem?api_key=localkey",
        """{"emb": "[0.99, 0.14, 0.0, 0.0]", "tag": "second"}""")
      assert(srv.drain(), "second batch drains")
      // unrelated meaning: orthogonal embedding
      post(s"$base/api/data/insert/docs_sem?api_key=localkey",
        """{"emb": "[0.0, 1.0, 0.0, 0.0]", "tag": "third"}""")
      assert(srv.drain(), "third batch drains")

      val dups = get(s"$base/api/data/query?api_key=localkey&query=" +
        java.net.URLEncoder.encode(
          "select tag from docs_sem where __is_dup order by tag", "UTF-8"))
      assert(dups.body() == """[{"tag":"second"}]""", dups.body())
      val kept = get(s"$base/api/data/query?api_key=localkey&query=" +
        java.net.URLEncoder.encode(
          "select tag from docs_sem where not __is_dup order by tag", "UTF-8"))
      assert(kept.body() == """[{"tag":"first"},{"tag":"third"}]""", kept.body())
      // dup_of points at the ORIGINAL row
      val link = get(s"$base/api/data/query?api_key=localkey&query=" +
        java.net.URLEncoder.encode(
          "select count(*) as n from docs_sem a join docs_sem b " +
            "on a.__dup_of = b.__row_id where a.tag = 'second' and b.tag = 'first'",
          "UTF-8"))
      assert(link.body() == """[{"n":1}]""", link.body())
      // survivors only in the vec index; params record the method
      val vecs = spark.read.parquet(
        new org.apache.hadoop.fs.Path(srv.catalog.dedupIndexDir("default", "docs_sem"), "vecs").toString)
      assert(vecs.select("doc").distinct().count() == 2,
        "index grows once per distinct meaning")
      assert(srv.catalog.storedIndexParams("default", "docs_sem")
        .exists(_.method == "semantic"))
    } finally srv.stop()
  }

  test("ingest dedup policy: duplicates WITHIN one batch are caught too") {
    val (srv, base) = newServer()
    try {
      val shared = (1 to 40).map(i => s"wb$i").mkString(" ")
      post(s"$base/api/tables/docs_inbatch/dedup?api_key=localkey",
        """{"text_col": "text", "mode": "tag"}""")
      // one POST = one rotation file = one batch with an internal dup
      post(s"$base/api/data/insert/docs_inbatch?api_key=localkey",
        s"""[{"text": "$shared one", "tag": "a"},
           | {"text": "$shared two", "tag": "b"},
           | {"text": "${(500 to 540).map(i => s"u$i").mkString(" ")}", "tag": "c"}]"""
          .stripMargin)
      assert(srv.drain())
      val dups = get(s"$base/api/data/query?api_key=localkey&query=" +
        java.net.URLEncoder.encode(
          "select tag from docs_inbatch where __is_dup order by tag", "UTF-8"))
      assert(dups.body() == """[{"tag":"b"}]""", dups.body())
      // the within-batch dup's __dup_of points at its batch group rep
      val link = get(s"$base/api/data/query?api_key=localkey&query=" +
        java.net.URLEncoder.encode(
          "select count(*) as n from docs_inbatch a join docs_inbatch b " +
            "on a.__dup_of = b.__row_id where a.tag = 'b' and b.tag = 'a'", "UTF-8"))
      assert(link.body() == """[{"n":1}]""", link.body())
      // only the two survivors joined the index
      val bands = spark.read.parquet(
        new org.apache.hadoop.fs.Path(srv.catalog.dedupIndexDir("default", "docs_inbatch"), "bands").toString)
      assert(bands.select("doc").distinct().count() == 2)
    } finally srv.stop()
  }

  test("ingest dedup policy (drop): re-ingested doc never lands in the table") {
    val (srv, base) = newServer()
    try {
      val shared = (1 to 40).map(i => s"dd$i").mkString(" ")
      srv.catalog.setDedupPolicy("default", "docs_drop",
        graft.sources.GraftCatalog.DedupPolicy(textCol = "text", mode = "drop"))
      post(s"$base/api/data/insert/docs_drop?api_key=localkey",
        s"""{"text": "$shared", "tag": "a"}""")
      assert(srv.drain())
      post(s"$base/api/data/insert/docs_drop?api_key=localkey",
        s"""{"text": "$shared", "tag": "a-again"}""")
      assert(srv.drain())
      val rows = get(s"$base/api/data/query?api_key=localkey&query=" +
        java.net.URLEncoder.encode("select tag from docs_drop order by tag", "UTF-8"))
      assert(rows.body() == """[{"tag":"a"}]""", rows.body())
    } finally srv.stop()
  }

  test("destination isolation: same table name in two databases never collides") {
    val (srv, base) = newServer()
    try {
      srv.addApiKey("keyA", "dbA")
      srv.addApiKey("keyB", "dbB")
      post(s"$base/api/data/insert/t?api_key=keyA", """{"v": "from_a"}""")
      post(s"$base/api/data/insert/t?api_key=keyB", """{"v": "from_b"}""")
      srv.drain()
      val a = post(s"$base/api/data/query?api_key=keyA", "select v from t")
      val b = post(s"$base/api/data/query?api_key=keyB", "select v from t")
      assert(a.body() == """[{"v":"from_a"}]""", a.body())
      assert(b.body() == """[{"v":"from_b"}]""", b.body())
    } finally srv.stop()
  }

  test("destinations admin API: create, list, add key, use key") {
    val (srv, base) = newServer()
    try {
      assert(post(s"$base/api/destinations?api_key=adminkey",
        """{"name": "analytics"}""").statusCode() == 200)
      assert(get(s"$base/api/destinations?api_key=adminkey").body() == """["analytics"]""")
      assert(post(s"$base/api/destinations/analytics/keys?api_key=adminkey",
        """{"api_key": "newkey"}""").statusCode() == 200)
      assert(post(s"$base/api/destinations/nope/keys?api_key=adminkey",
        """{"api_key": "k2"}""").statusCode() == 404)
      // the fresh key routes to the new destination
      val r = post(s"$base/api/data/insert/t1?api_key=newkey", """{"z": 9}""")
      assert(r.statusCode() == 200)
      srv.drain()
      assert(get(s"$base/api/tables?api_key=newkey").body() == """["t1"]""")
    } finally srv.stop()
  }

  test("destinations routes are admin-only; tenant keys get 403") {
    val (srv, base) = newServer()
    try {
      assert(post(s"$base/api/destinations?api_key=localkey",
        """{"name": "sneaky"}""").statusCode() == 403)
      assert(get(s"$base/api/destinations?api_key=localkey").statusCode() == 403)
      // a tenant must not be able to mint keys for another tenant's db
      assert(post(s"$base/api/destinations?api_key=adminkey",
        """{"name": "victim"}""").statusCode() == 200)
      assert(post(s"$base/api/destinations/victim/keys?api_key=localkey",
        """{"api_key": "stolen"}""").statusCode() == 403)
    } finally srv.stop()
  }

  test("path-traversal identifiers are rejected at the API boundary") {
    val (srv, base) = newServer()
    try {
      // JDK HttpServer decodes %2F, so this arrives as `../../x`
      val r = post(s"$base/api/data/insert/..%2F..%2Fescape?api_key=localkey",
        """{"x": 1}""")
      assert(r.statusCode() == 400, s"${r.statusCode()} ${r.body()}")
      assert(post(s"$base/api/destinations?api_key=adminkey",
        """{"name": "../evil"}""").statusCode() == 400)
      assert(get(s"$base/api/tables?api_key=adminkey&destination_id=..%2Fup")
        .statusCode() == 400)
      val cp = post(s"$base/api/data/copy?api_key=adminkey",
        """{"query": "select 1", "destination_id": "ok_db", "destination_table": "../../t"}""")
      assert(cp.statusCode() == 400, cp.body())
    } finally srv.stop()
  }

  test("control plane survives a server restart (keys, destinations, shares)") {
    val root = Files.createTempDirectory("graft-restart").toString
    val first = new GraftServer(spark, root)
    first.addApiKey("persistkey", "default")
    first.addAdminKey("bosskey")
    val base1 = s"http://localhost:${first.start()}"
    post(s"$base1/api/data/insert/t_persist?api_key=persistkey", """{"v": 7}""")
    first.drain()
    assert(post(s"$base1/api/destinations?api_key=bosskey",
      """{"name": "durable"}""").statusCode() == 200)
    val sh = post(s"$base1/api/data/query/share?api_key=persistkey",
      """{"query": "select v from t_persist", "duration": 3600, "name": "keep"}""")
    val shareId = sh.body().split("\"")(3)
    first.stop()

    // a brand-new server over the same root: nothing re-registered
    val second = new GraftServer(spark, root)
    val base2 = s"http://localhost:${second.start()}"
    try {
      val q = post(s"$base2/api/data/query?api_key=persistkey", "select v from t_persist")
      assert(q.statusCode() == 200 && q.body() == """[{"v":7}]""", q.body())
      assert(get(s"$base2/api/destinations?api_key=bosskey").body() == """["durable"]""")
      val shared = get(s"$base2/share/$shareId/data.json")
      assert(shared.body() == """[{"v":7}]""", shared.body())
      assert(get(s"$base2/api/tables?api_key=wrong").statusCode() == 401)
    } finally second.stop()
  }

  test("SQL passthrough reads files directly (read_ndjson_auto parity)") {
    val (srv, base) = newServer()
    try {
      val f = java.nio.file.Files.createTempFile("graft-scan", ".ndjson")
      java.nio.file.Files.writeString(f, "{\"a\": 1}\n{\"a\": 2}\n")
      // unrestricted file scans are an admin capability
      val q = post(s"$base/api/data/query?api_key=adminkey",
        s"select sum(a) as s from json.`${f.toAbsolutePath}`")
      assert(q.statusCode() == 200)
      assert(q.body() == """[{"s":3}]""", q.body())
    } finally srv.stop()
  }

  test("passthrough SQL can call graft's functions, for tenant and admin keys") {
    val (srv, base) = newServer()
    try {
      for (key <- Seq("localkey", "adminkey")) {
        val q = post(s"$base/api/data/query?api_key=$key",
          "select cosine_sim(array(1.0d), array(1.0d)) as c")
        assert(q.statusCode() == 200, q.body())
        assert(q.body() == """[{"c":1.0}]""", q.body())
      }
    } finally srv.stop()
  }

  test("a query that does not analyze is a 400, not a 500") {
    val (srv, base) = newServer()
    try {
      val unknown = post(s"$base/api/data/query?api_key=localkey", "select no_such_column")
      assert(unknown.statusCode() == 400, unknown.body())
      assert(unknown.body().startsWith("bad query: "), unknown.body())
      val unparsed = post(s"$base/api/data/query?api_key=adminkey", "selec 1")
      assert(unparsed.statusCode() == 400, unparsed.body())
    } finally srv.stop()
  }

  test("tenant queries are sandboxed: no foreign file scans, no commands") {
    val (srv, base) = newServer()
    try {
      srv.addApiKey("keyS1", "dbS1"); srv.addApiKey("keyS2", "dbS2")
      post(s"$base/api/data/insert/secret?api_key=keyS2", """{"pin": 1234}""")
      srv.drain()

      // own table reads still work for the tenant
      val own = post(s"$base/api/data/query?api_key=keyS2", "select pin from secret")
      assert(own.statusCode() == 200 && own.body() == """[{"pin":1234}]""", own.body())

      // arbitrary file scan → 403 (ADVICE r2: cross-tenant file reads)
      val f = java.nio.file.Files.createTempFile("graft-other", ".ndjson")
      java.nio.file.Files.writeString(f, "{\"a\": 5}\n")
      val scan = post(s"$base/api/data/query?api_key=keyS1",
        s"select * from json.`${f.toAbsolutePath}`")
      assert(scan.statusCode() == 403, s"${scan.statusCode()} ${scan.body()}")

      // another tenant's warehouse dir by path → 403, even via `..`
      val direct = post(s"$base/api/data/query?api_key=keyS1",
        "select * from parquet.`" + srv.catalog.root + "/dbS2/secret`")
      assert(direct.statusCode() == 403, s"${direct.statusCode()} ${direct.body()}")
      val dotted = post(s"$base/api/data/query?api_key=keyS1",
        "select * from parquet.`" + srv.catalog.root + "/dbS1/../dbS2/secret`")
      assert(dotted.statusCode() == 403, s"${dotted.statusCode()} ${dotted.body()}")

      // foreign scans HIDDEN IN SUBQUERY PLANS (scalar subquery, CTE,
      // EXISTS) → 403: plain plan traversal does not descend into
      // subquery expressions, the sandbox must collectWithSubqueries
      val viaScalar = post(s"$base/api/data/query?api_key=keyS1",
        s"select (select count(*) from json.`${f.toAbsolutePath}`) as n")
      assert(viaScalar.statusCode() == 403, s"${viaScalar.statusCode()} ${viaScalar.body()}")
      val viaCte = post(s"$base/api/data/query?api_key=keyS1",
        s"with g as (select * from json.`${f.toAbsolutePath}`) select * from g")
      assert(viaCte.statusCode() == 403, s"${viaCte.statusCode()} ${viaCte.body()}")
      val viaExists = post(s"$base/api/data/query?api_key=keyS1",
        s"select 1 where exists (select 1 from json.`${f.toAbsolutePath}`)")
      assert(viaExists.statusCode() == 403, s"${viaExists.statusCode()} ${viaExists.body()}")

      // JVM escape hatches (reflect/java_method) → 403
      val refl = post(s"$base/api/data/query?api_key=keyS1",
        "select reflect('java.lang.System', 'getProperty', 'user.dir') as d")
      assert(refl.statusCode() == 403, s"${refl.statusCode()} ${refl.body()}")

      // eagerly-executing statements (DDL/DML/SET) → 403 before they run
      assert(post(s"$base/api/data/query?api_key=keyS1",
        "create table hijack(x int) using parquet").statusCode() == 403)
      assert(post(s"$base/api/data/query?api_key=keyS1",
        "set spark.sql.ansi.enabled=true").statusCode() == 403)
      assert(post(s"$base/api/data/query?api_key=keyS1",
        s"insert overwrite directory '${f.getParent}/evil' using parquet select 1")
        .statusCode() == 403)

      // the same wall guards the copy path's source query
      val cp = post(s"$base/api/data/copy?api_key=keyS1",
        s"""{"query": "select * from json.`${f.toAbsolutePath}`", "destination_id": "dbS1", "destination_table": "grab"}""")
      assert(cp.statusCode() == 403, s"${cp.statusCode()} ${cp.body()}")
    } finally srv.stop()
  }

  test("jdbc destination: register, copy spark->jdbc and back, federated query") {
    val (srv, base) = newServer()
    try {
      val derby = Files.createTempDirectory("graft-jdbc").resolve("extdb")
      val url = s"jdbc:derby:$derby;create=true"

      // admin registers the external engine as a typed destination
      val reg = post(s"$base/api/destinations?api_key=adminkey",
        s"""{"name": "extdb", "type": "jdbc", "url": "$url"}""")
      assert(reg.statusCode() == 200, reg.body())
      assert(reg.body().contains("\"type\":\"jdbc\""))
      srv.addApiKey("extkey", "extdb")

      // seed a spark-side table
      post(s"$base/api/data/insert/metrics?api_key=localkey",
        """[{"m": "lat", "v": 12}, {"m": "err", "v": 3}]""")
      srv.drain()

      // copy spark -> jdbc (admin may target any destination)
      val cp = post(s"$base/api/data/copy?api_key=adminkey&destination_id=default",
        """{"query": "select m, v from metrics", "destination_id": "extdb", "destination_table": "metrics_ext"}""")
      assert(cp.statusCode() == 200, cp.body())
      assert(srv.drain(), "copy job must complete")

      // federated query: the tenant key scoped to the jdbc destination
      // reads THROUGH the gateway, executed by the external engine
      val q = post(s"$base/api/data/query?api_key=extkey",
        "select m, v from metrics_ext order by v desc")
      assert(q.statusCode() == 200, q.body())
      assert(q.body() == """[{"m":"lat","v":12},{"m":"err","v":3}]""", q.body())

      // introspection routes hit the jdbc metadata
      assert(get(s"$base/api/tables?api_key=extkey").body().contains("metrics_ext"))
      val cols = get(s"$base/api/tables/metrics_ext/columns?api_key=extkey").body()
      assert(cols.contains("\"name\":\"m\"") && cols.contains("\"name\":\"v\""), cols)

      // copy jdbc -> spark closes the loop (source query runs on Derby)
      val back = post(s"$base/api/data/copy?api_key=adminkey&destination_id=extdb",
        """{"query": "select m, v from metrics_ext where v > 5", "destination_id": "default", "destination_table": "metrics_back"}""")
      assert(back.statusCode() == 200, back.body())
      assert(srv.drain(), "reverse copy job must complete")
      val rt = post(s"$base/api/data/query?api_key=localkey",
        "select m, v from metrics_back")
      assert(rt.body() == """[{"m":"lat","v":12}]""", rt.body())

      // HTTP insert routes through the sink/queue INTO the engine,
      // with additive schema evolution on the second batch
      post(s"$base/api/data/insert/logs?api_key=extkey", """{"msg": "boot", "code": 1}""")
      srv.drain()
      post(s"$base/api/data/insert/logs?api_key=extkey",
        """{"msg": "shutdown", "code": 2, "host": "n1"}""")
      assert(srv.drain(), "jdbc insert jobs must complete")
      val logs = post(s"$base/api/data/query?api_key=extkey",
        "select msg, code, host from logs order by code")
      assert(logs.statusCode() == 200, logs.body())
      // (the streaming JSON encoder omits null fields, like the reference)
      assert(logs.body() ==
        """[{"msg":"boot","code":1},{"msg":"shutdown","code":2,"host":"n1"}]""",
        logs.body())
    } finally srv.stop()
  }

  test("jdbc destination: a new key that is no bare identifier evolves the table") {
    // ensureColumns runs only against an existing table, so the first
    // batch creates t1 and the second adds `my col` with ALTER TABLE
    val (srv, base) = newServer()
    try {
      val derby = Files.createTempDirectory("graft-jdbc").resolve("quotedb")
      val reg = post(s"$base/api/destinations?api_key=adminkey",
        s"""{"name": "quotedb", "type": "jdbc", "url": "jdbc:derby:$derby;create=true"}""")
      assert(reg.statusCode() == 200, reg.body())
      srv.addApiKey("quotekey", "quotedb")

      assert(post(s"$base/api/data/insert/t1?api_key=quotekey", """{"a": 1}""")
        .statusCode() == 200)
      assert(srv.drain(), "first jdbc load must complete")
      assert(post(s"$base/api/data/insert/t1?api_key=quotekey",
        """{"a": 2, "my col": "x"}""").statusCode() == 200)
      assert(srv.drain(), "the load that adds `my col` must complete")

      val q = post(s"$base/api/data/query?api_key=quotekey&format=ndjson",
        "select * from t1 order by a")
      assert(q.statusCode() == 200, q.body())
      val rows = q.body().split("\n").toSeq
      assert(rows.length == 2, q.body())
      assert(rows(0).contains("\"a\":1") && !rows(0).contains("my col"), q.body())
      assert(rows(1).contains("\"a\":2") && rows(1).contains("\"my col\":\"x\""), q.body())
    } finally srv.stop()
  }

  test("jdbc destination: rich engine types (DECIMAL/DATE/TIMESTAMP/UUID) read and copy") {
    // The reference's ClickHouse reader coerces 16 wire types on read
    // (clickhouse/insert.go:148-201). The gateway analog: a table that
    // PRE-EXISTS in the external engine with a richer schema than the
    // ingest lattice writes must flow through the query and copy paths
    // without loss — Spark's JDBC dialect does the per-type coercion.
    val (srv, base) = newServer()
    try {
      val derby = Files.createTempDirectory("graft-jdbc").resolve("richdb")
      val url = s"jdbc:derby:$derby;create=true"
      val c = java.sql.DriverManager.getConnection(url)
      try {
        val st = c.createStatement()
        st.executeUpdate(
          """CREATE TABLE rich(
            |  id SMALLINT,
            |  price DECIMAL(10,2),
            |  ratio REAL,
            |  born DATE,
            |  seen TIMESTAMP,
            |  tag CHAR(36),
            |  note VARCHAR(100))""".stripMargin)
        st.executeUpdate(
          "INSERT INTO rich VALUES (1, 12345678.90, 0.25, DATE('2021-03-04'), " +
            "TIMESTAMP('2021-03-04 05:06:07'), " +
            "'123e4567-e89b-12d3-a456-426614174000', 'hello'), " +
            "(2, 0.01, 1.5, NULL, NULL, NULL, NULL)")
        st.close()
      } finally c.close()

      post(s"$base/api/destinations?api_key=adminkey",
        s"""{"name": "richdb", "type": "jdbc", "url": "$url"}""")
      srv.addApiKey("richkey", "richdb")

      // federated read: every engine type reaches the JSON encoder
      val q = post(s"$base/api/data/query?api_key=richkey",
        "select id, price, ratio, born, seen, trim(tag) as tag, note from rich order by id")
      assert(q.statusCode() == 200, q.body())
      assert(q.body().contains(""""price":12345678.90""") ||
        q.body().contains(""""price":12345678.9"""), q.body())
      assert(q.body().contains(""""born":"2021-03-04""""), q.body())
      assert(q.body().contains(""""seen":"2021-03-04"""), q.body())
      assert(q.body().contains(""""tag":"123e4567-e89b-12d3-a456-426614174000""""), q.body())
      // NULL-heavy row survives (encoder omits null fields)
      assert(q.body().contains(""""id":2,"price":0.01"""), q.body())

      // introspection reports the engine's own type names
      val cols = get(s"$base/api/tables/rich/columns?api_key=richkey").body()
      assert(cols.contains("decimal") && cols.contains("date") &&
        cols.contains("timestamp"), cols)

      // copy jdbc -> spark: the coerced rows round-trip into the
      // warehouse and stay queryable there
      val cp = post(s"$base/api/data/copy?api_key=adminkey&destination_id=richdb",
        """{"query": "select id, price, born, seen, trim(tag) as tag from rich", "destination_id": "default", "destination_table": "rich_copy"}""")
      assert(cp.statusCode() == 200, cp.body())
      assert(srv.drain(), "copy job must complete")
      val back = post(s"$base/api/data/query?api_key=localkey",
        "select cast(price as string) as p, cast(born as string) as b, tag from rich_copy where id = 1")
      assert(back.statusCode() == 200, back.body())
      // the copy lands through the ingest lattice, so DECIMAL coerces
      // to the lattice's float type (value preserved; rendering may be
      // scientific notation)
      assert(back.body().contains("12345678.9") ||
        back.body().contains("1.23456789E7"), back.body())
      assert(back.body().contains("2021-03-04") &&
        back.body().contains("123e4567-e89b-12d3-a456-426614174000"), back.body())
    } finally srv.stop()
  }

  test("dashboard, metrics, CORS, and CSV list-cell rendering") {
    val (srv, base) = newServer()
    try {
      // dashboard serves the query console (to a logged-in session)
      val login = post(s"$base/login", "email=op%40example.com&api_key=localkey")
      val jwt = login.headers().firstValue("Set-Cookie").get().split(";")(0)
      val dash = http.send(HttpRequest.newBuilder(URI.create(s"$base/dashboard"))
        .header("Cookie", jwt).GET().build(), HttpResponse.BodyHandlers.ofString())
      assert(dash.statusCode() == 200)
      assert(dash.headers().firstValue("Content-Type").get.startsWith("text/html"))
      assert(dash.body().contains("/api/data/query"))

      // CORS headers on responses; OPTIONS preflight short-circuits
      assert(dash.headers().firstValue("Access-Control-Allow-Origin").get == "*")
      val pre = http.send(HttpRequest.newBuilder(URI.create(s"$base/api/data/query"))
        .method("OPTIONS", HttpRequest.BodyPublishers.noBody()).build(),
        HttpResponse.BodyHandlers.ofString())
      assert(pre.statusCode() == 204)

      // CSV: array cells render [a, b], not space-joined
      val csv = post(s"$base/api/data/query?api_key=localkey&format=csv",
        "select array(1, 2, 3) as xs, named_struct('a', 7, 'b', 'z') as st")
      assert(csv.body() == "xs,st\n\"[1, 2, 3]\",\"{7, z}\"\n", csv.body())

      // metrics: counters + histogram in prometheus text format
      val m = get(s"$base/metrics").body()
      assert(m.contains("""graft_requests_total{route="query",code="200"}"""), m)
      assert(m.contains("""graft_request_duration_seconds_bucket{route="dashboard",le="+Inf"} 1"""), m)
    } finally srv.stop()
  }

  test("/metrics: bytes_returned holds each streamed answer's encoded bytes") {
    val (srv, base) = newServer()
    try {
      val q = post(s"$base/api/data/query?api_key=localkey",
        "select id, concat('é,\"', id) as s from range(0, 50, 1, 3)")
      assert(q.statusCode() == 200)
      val sh = post(s"$base/api/data/query/share?api_key=localkey",
        """{"query": "select 'ü' as u", "duration": 3600, "name": "b"}""")
      val shared = get(s"$base/share/${sh.body().split("\"")(3)}/data.csv")
      assert(shared.body() == "u\nü\n", shared.body())
      val m = get(s"$base/metrics").body()
      def series(name: String, route: String): Double =
        m.linesIterator.collectFirst {
          case l if l.startsWith(s"""graft_bytes_returned_$name{route="$route"} """) =>
            l.split(" ").last.toDouble
        }.getOrElse(fail(s"no $name for $route in\n$m"))
      assert(series("count", "query") == 1)
      assert(series("sum", "query") == q.body().getBytes(UTF_8).length)
      assert(series("count", "share_data") == 1)
      assert(series("sum", "share_data") == shared.body().getBytes(UTF_8).length)
    } finally srv.stop()
  }

  test("concurrent copies from different dbs never cross-read same-named tables") {
    // Two dbs, SAME table name, different contents. Copies run through
    // the per-db session pool, so the temp view `t` registered for one
    // copy must never be visible to the other (the single-session form
    // silently read the other tenant's rows under worker concurrency).
    val (srv, base) = newServer()
    try {
      srv.addApiKey("keyA2", "dbA2"); srv.addApiKey("keyB2", "dbB2")
      post(s"$base/api/data/insert/t?api_key=keyA2", """{"who": "alpha"}""")
      post(s"$base/api/data/insert/t?api_key=keyB2", """{"who": "beta"}""")
      srv.drain()

      (1 to 4).foreach { i =>
        post(s"$base/api/data/copy?api_key=keyA2",
          s"""{"query": "select who from t", "destination_id": "dbA2", "destination_table": "outA$i"}""")
        post(s"$base/api/data/copy?api_key=keyB2",
          s"""{"query": "select who from t", "destination_id": "dbB2", "destination_table": "outB$i"}""")
      }
      assert(srv.drain(), "all copy jobs drain")
      (1 to 4).foreach { i =>
        val a = post(s"$base/api/data/query?api_key=keyA2", s"select who from outA$i")
        val b = post(s"$base/api/data/query?api_key=keyB2", s"select who from outB$i")
        assert(a.body() == """[{"who":"alpha"}]""", s"outA$i: ${a.body()}")
        assert(b.body() == """[{"who":"beta"}]""", s"outB$i: ${b.body()}")
      }
    } finally srv.stop()
  }

  test("connection pages: session-gated list/new/request-link flow") {
    val (srv, base) = newServer()
    try {
      def withCookie(method: String, path: String, cookie: String, body: String = "") = {
        val b = HttpRequest.newBuilder(URI.create(s"$base$path")).header("Cookie", cookie)
        http.send(
          (if (method == "GET") b.GET()
           else b.POST(HttpRequest.BodyPublishers.ofString(body))).build(),
          HttpResponse.BodyHandlers.ofString())
      }
      // anonymous → login redirect (same Authenticator wall as /dashboard)
      assert(get(s"$base/dashboard/connections").statusCode() == 307)

      val jwt = post(s"$base/login", "email=a%40b.co&api_key=localkey")
        .headers().firstValue("Set-Cookie").get().split(";")(0)

      // empty list prompts to connect; form renders
      assert(withCookie("GET", "/dashboard/connections", jwt).body()
        .contains("No connections"))
      assert(withCookie("GET", "/dashboard/connections/new", jwt).body()
        .contains("name=\"api_key\""))

      // invalid form re-renders with the flash; nothing registered
      val bad = withCookie("POST", "/dashboard/connections/new", jwt,
        "name=pgx&type=jdbc&url=not-a-url&api_key=longenough")
      assert(bad.statusCode() == 400 && bad.body().contains("jdbc: url"), bad.body())

      // valid form → redirect → listed with its type; the minted key works
      val ok = withCookie("POST", "/dashboard/connections/new", jwt,
        "name=salesdb&type=spark&url=&api_key=sales-key-1")
      assert(ok.statusCode() == 303, ok.body())
      val listed = withCookie("GET", "/dashboard/connections", jwt).body()
      assert(listed.contains("salesdb") && listed.contains("spark"), listed)
      assert(post(s"$base/api/data/query?api_key=sales-key-1", "select 1 as x")
        .statusCode() == 200)

      // request-link page mints a working one-time upsert URL
      val link = withCookie("POST", "/dashboard/request", jwt).body()
      val token = "/connections/upsert/([0-9a-f-]+)".r
        .findFirstMatchIn(link).get.group(1)
      val up = post(s"$base/connections/upsert/$token",
        """{"name": "partner", "type": "spark", "api_key": "partner-key-1"}""")
      assert(up.statusCode() == 200, up.body())
      assert(withCookie("GET", "/dashboard/connections", jwt).body().contains("partner"))

      // extra key for an existing destination works immediately
      assert(withCookie("POST", "/dashboard/connections/key", jwt,
        "name=salesdb&api_key=sales-key-2").statusCode() == 303)
      assert(post(s"$base/api/data/query?api_key=sales-key-2", "select 1 as x")
        .statusCode() == 200)

      // delete removes the destination AND revokes its keys
      assert(withCookie("POST", "/dashboard/connections/delete", jwt,
        "name=salesdb").statusCode() == 303)
      assert(!withCookie("GET", "/dashboard/connections", jwt).body().contains("salesdb"))
      assert(post(s"$base/api/data/query?api_key=sales-key-2", "select 1 as x")
        .statusCode() == 401)
    } finally srv.stop()
  }

  test("login sessions: JWT cookie gates the dashboard; logout clears it") {
    val (srv, base) = newServer()
    try {
      def dashWith(cookie: String) =
        http.send(HttpRequest.newBuilder(URI.create(s"$base/dashboard"))
          .header("Cookie", cookie).GET().build(), HttpResponse.BodyHandlers.ofString())

      // no session → redirect to /login (reference Authenticator)
      val anon = get(s"$base/dashboard")
      assert(anon.statusCode() == 307)
      assert(anon.headers().firstValue("Location").get() == "/login")
      assert(get(s"$base/login").body().contains("<form"))

      // bad credential / malformed email → 401, no cookie
      assert(post(s"$base/login", "email=a%40b.co&api_key=wrong").statusCode() == 401)
      assert(post(s"$base/login", "email=not-an-email&api_key=localkey").statusCode() == 401)

      // valid login → 303 to /dashboard with an HttpOnly jwt cookie
      val ok = post(s"$base/login", "email=a%40b.co&api_key=localkey")
      assert(ok.statusCode() == 303, ok.body())
      assert(ok.headers().firstValue("Location").get() == "/dashboard")
      val cookie = ok.headers().firstValue("Set-Cookie").get()
      assert(cookie.startsWith("jwt=") && cookie.contains("HttpOnly"), cookie)
      val jwt = cookie.split(";")(0)
      assert(jwt.count(_ == '.') == 2, "three-part JWT")
      assert(dashWith(jwt).statusCode() == 200)

      // tampered signature → back to /login
      assert(dashWith(jwt.dropRight(3) + "xxx").statusCode() == 307)

      // the oauth-callback route shape performs the same exchange
      val cb = get(s"$base/oauth/local/callback?code=localkey&email=cb%40x.io")
      assert(cb.statusCode() == 303, cb.body())

      // logout expires the cookie and bounces to /login
      val out = get(s"$base/logout")
      assert(out.statusCode() == 303)
      assert(out.headers().firstValue("Location").get() == "/login")
      assert(out.headers().firstValue("Set-Cookie").get().contains("Max-Age=0"))
    } finally srv.stop()
  }

  test("login sessions survive a server restart (persisted secret + user)") {
    val root = Files.createTempDirectory("graft-sess").toString
    val first = new GraftServer(spark, root)
    first.addApiKey("sesskey", "default")
    val base1 = s"http://localhost:${first.start()}"
    val jwt = post(s"$base1/login", "email=keep%40me.io&api_key=sesskey")
      .headers().firstValue("Set-Cookie").get().split(";")(0)
    first.stop()

    val second = new GraftServer(spark, root)
    val base2 = s"http://localhost:${second.start()}"
    try {
      val dash = http.send(HttpRequest.newBuilder(URI.create(s"$base2/dashboard"))
        .header("Cookie", jwt).GET().build(), HttpResponse.BodyHandlers.ofString())
      assert(dash.statusCode() == 200, "old session still valid after restart")
    } finally second.stop()
  }

  test("connection-request flow: one-time token registers a typed destination") {
    val (srv, base) = newServer()
    try {
      // only admins mint links
      assert(post(s"$base/api/connections/request?api_key=localkey", "")
        .statusCode() == 403)
      val req = post(s"$base/api/connections/request?api_key=adminkey", "")
      assert(req.statusCode() == 200, req.body())
      val token = req.body().split("\"")(3)

      // bad forms don't burn the token
      assert(post(s"$base/connections/upsert/$token",
        """{"name": "x y", "type": "spark", "api_key": "longenough"}""").statusCode() == 400)
      assert(post(s"$base/connections/upsert/$token",
        """{"name": "teamdb", "type": "clickhouse", "api_key": "longenough"}""").statusCode() == 400)
      assert(post(s"$base/connections/upsert/$token",
        """{"name": "teamdb", "type": "spark", "api_key": "short"}""").statusCode() == 400)

      // valid form: destination registered, key live, token consumed
      val ok = post(s"$base/connections/upsert/$token",
        """{"name": "teamdb", "type": "spark", "api_key": "teamkey-123"}""")
      assert(ok.statusCode() == 200, ok.body())
      assert(get(s"$base/api/destinations?api_key=adminkey").body().contains("teamdb"))
      val ins = post(s"$base/api/data/insert/tc?api_key=teamkey-123", """{"n": 5}""")
      assert(ins.statusCode() == 200)
      assert(post(s"$base/connections/upsert/$token",
        """{"name": "again", "type": "spark", "api_key": "another-key"}""").statusCode() == 404,
        "token is one-time")
      assert(post(s"$base/connections/upsert/bogus-token",
        """{"name": "z", "type": "spark", "api_key": "whatever-1"}""").statusCode() == 404)
    } finally srv.stop()
  }

  test("auth: bad key 401; admin key routes via destination_id") {
    val (srv, base) = newServer()
    try {
      assert(get(s"$base/api/tables?api_key=wrong").statusCode() == 401)
      assert(get(s"$base/api/tables").statusCode() == 401)
      val r = post(s"$base/api/data/insert/t?api_key=adminkey&destination_id=dbX",
        """{"x": 1}""")
      assert(r.statusCode() == 200)
      srv.drain()
      assert(get(s"$base/api/tables?api_key=adminkey&destination_id=dbX").body() == """["t"]""")
    } finally srv.stop()
  }

  test("blank query 400; copy job; share links with expiry") {
    val (srv, base) = newServer()
    try {
      assert(post(s"$base/api/data/query?api_key=localkey", "  ").statusCode() == 400)

      post(s"$base/api/data/insert/src_t?api_key=localkey", """{"v": 10}""")
      post(s"$base/api/data/insert/src_t?api_key=localkey", """{"v": 32}""")
      srv.drain()

      // copy: tenant keys may only copy within their own database;
      // cross-database copy is an admin operation (reference checks
      // destination ownership in pkg/api/data.go Copy)
      val denied = post(s"$base/api/data/copy?api_key=localkey",
        """{"query": "select v from src_t", "destination_id": "otherdb", "destination_table": "stolen"}""")
      assert(denied.statusCode() == 403, denied.body())
      val own = post(s"$base/api/data/copy?api_key=localkey",
        """{"query": "select v, v * 2 as v2 from src_t", "destination_id": "default", "destination_table": "copied_own"}""")
      assert(own.statusCode() == 200 && own.body().startsWith("""{"job_id":"""), own.body())
      val cp = post(s"$base/api/data/copy?api_key=adminkey",
        """{"query": "select v, v * 2 as v2 from src_t", "destination_id": "otherdb", "destination_table": "copied"}""")
      assert(cp.statusCode() == 200 && cp.body().startsWith("""{"job_id":"""), cp.body())
      assert(srv.drain(), "copy jobs should drain")
      val ownRows = post(s"$base/api/data/query?api_key=localkey",
        "select v, v2 from copied_own order by v")
      assert(ownRows.body() == """[{"v":10,"v2":20},{"v":32,"v2":64}]""", ownRows.body())
      val copied = get(s"$base/api/data/query?api_key=adminkey&destination_id=otherdb&query=" +
        java.net.URLEncoder.encode("select v, v2 from copied order by v", "UTF-8"))
      assert(copied.body() == """[{"v":10,"v2":20},{"v":32,"v2":64}]""", copied.body())

      // share: create, fetch without auth, expired → 404
      val sh = post(s"$base/api/data/query/share?api_key=localkey",
        """{"query": "select sum(v) as total from src_t", "duration": 3600, "name": "totals"}""")
      assert(sh.statusCode() == 200, sh.body())
      val id = sh.body().split("\"")(3)
      val shared = get(s"$base/share/$id/data.json")
      assert(shared.body() == """[{"total":42}]""", shared.body())

      // bare /share/{uuid} serves the HTML viewer page; / redirects
      // to the dashboard (reference router.go:39-41, view/router.go)
      val page = get(s"$base/share/$id")
      assert(page.statusCode() == 200 && page.body().contains("totals"), page.body().take(120))
      val home = get(s"$base/")
      assert(home.statusCode() == 301 &&
        home.headers().firstValue("Location").get() == "/dashboard")

      val expired = post(s"$base/api/data/query/share?api_key=localkey",
        """{"query": "select 1", "duration": 0, "name": "dead"}""")
      val deadId = expired.body().split("\"")(3)
      Thread.sleep(50)
      assert(get(s"$base/share/$deadId/data.json").statusCode() == 404)

      // share validation mirrors reference: empty name/query → 400
      assert(post(s"$base/api/data/query/share?api_key=localkey",
        """{"query": "", "duration": 5, "name": "x"}""").statusCode() == 400)
      assert(post(s"$base/api/data/query/share?api_key=localkey",
        """{"query": "select 1", "duration": 5, "name": ""}""").statusCode() == 400)
    } finally srv.stop()
  }
}

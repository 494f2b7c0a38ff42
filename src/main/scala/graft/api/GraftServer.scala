package graft.api

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import graft.control._
import graft.functions.JValue
import graft.functions.JValue._
import graft.query.{Copier, QueryService}
import graft.sources._
import org.apache.spark.sql.{AnalysisException, SparkSession}
import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.security.MessageDigest
import java.util.UUID
import java.util.concurrent.ConcurrentHashMap

/** The reference's HTTP API re-hosted on the Spark engine (SURVEY §2A
  * A13-A16, A20; route table: /root/reference/pkg/api/router.go:38-60).
  * JDK HttpServer — zero extra dependencies; handlers mirror the
  * reference's auth / status-code / content-type behavior:
  *
  *   POST /api/data/insert/{table}?api_key=&flatten=
  *   GET|POST /api/data/query?api_key=&format=json|ndjson|csv
  *   POST /api/data/copy              {query, destination_id, destination_table}
  *   POST /api/data/query/share       {query, duration, name} → {id}
  *   GET  /share/{uuid}/data.{format} (no auth, expiring)
  *   GET  /api/tables
  *   GET  /api/tables/{table}/columns
  *   GET|POST /api/tables/{table}/dedup   {text_col, mode, threshold}
  *   GET  /healthcheck
  */
final class GraftServer(spark: SparkSession, root: String, workerCount: Int = 2,
                        blobRoot: Option[String] = None,
                        sinkMaxAgeSeconds: Long = 10,
                        oauth: Option[OAuthClient] = None,
                        oauthProviders: Map[String, OAuthClient] = Map.empty) {

  /** Named identity providers behind the reference's
    * `/oauth/{provider}/callback` route shape (pkg/api/router.go:76):
    * a second IdP is a map entry, not a code change. The legacy
    * single-client `oauth` parameter keeps its meaning as the
    * "google" provider; the first provider (insertion order, `oauth`
    * first) is where GET /login sends the browser. */
  private val providerSeq: Seq[(String, OAuthClient)] = {
    val all = oauth.map("google" -> _).toSeq ++ oauthProviders.toSeq
    all.map(_._1).distinct.map(n => n -> all.collectFirst {
      case (`n`, c) => c }.get)
  }

  val catalog = new GraftCatalog(spark, s"$root/warehouse")
  /** Rotated-batch staging area. A URI root (s3a://bucket/prefix, …)
    * goes through the Hadoop FS client exactly as a cluster deployment
    * would; the default is a plain local dir under the server root. */
  private val blob: BlobStore = blobRoot match {
    case Some(uri) if uri.contains("://") =>
      new HadoopBlobStore(uri, spark.sparkContext.hadoopConfiguration)
    case Some(dir) => new LocalBlobStore(dir)
    case None => new LocalBlobStore(s"$root/blob")
  }
  /** Durable control plane: keys/destinations/shares/queue live in an
    * embedded Derby DB under the server root, so a restart loses
    * nothing (the reference persists the same set in its GORM DB —
    * pkg/storage/database/gorm/gorm.go:101-136,258-261). */
  val meta = new MetaStore(s"$root/meta")
  val queue: JobQueue = meta
  // the ingest-dedup critical section is metastore-leased, not just
  // JVM-locked: two servers sharing this warehouse root serialize
  // through the lease row, not through their (separate) JVM monitors
  catalog.leaseStore = Some(meta)
  /** Browser sessions (HS256 JWT cookie). The signing secret persists
    * in the MetaStore so a restart doesn't log everyone out. */
  private val webSessions =
    new Sessions(meta.getOrPutSetting("jwt_secret", Sessions.randomSecret()))
  private val loader = new Loader(catalog, destInfo _)
  private val copier = new Copier(catalogFor _, destInfo _)
  private val workers = new Workers(queue, loader, copier, workerCount)

  // rotated sink files: upload to the blob store, enqueue a load job
  // (the reference's 10s upload ticker, fused into rotation — the 10 s
  // default age bounds insert-to-queryable latency the same way)
  val sink = new NdjsonSink(s"$root/sink", maxAgeSeconds = sinkMaxAgeSeconds,
    onRotate = cf => {
    val key = s"${cf.database}/${cf.table}/${cf.path.getFileName}"
    blob.upload(key, cf.path)
    queue.enqueue(JobMessage.InsertFile(cf.database, cf.table, cf.path.toString))
  })
  private val ingest = new Ingest(sink)

  // ---- auth (A20): sha256(api_key) → database; admin keys pick the
  // database via ?destination_id=; backed by the MetaStore -----------
  def hash(key: String): String =
    MessageDigest.getInstance("SHA-256").digest(key.getBytes(StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString

  /** Database/table names flow into filesystem paths (NdjsonSink,
    * GraftCatalog.tableDir); restrict them to a safe charset so a
    * request like `insert/..%2F..%2Fx` can never escape the warehouse
    * root (the JDK server decodes %2F but does not normalize `..`). */
  private def validIdent(s: String): Boolean =
    s.nonEmpty && s.length <= 128 && s.forall(c =>
      c.isLetterOrDigit && c < 128 || c == '_')

  def addApiKey(key: String, database: String): Unit =
    meta.putKey(hash(key), database, isAdmin = false)
  def addAdminKey(key: String): Unit = meta.putKey(hash(key), "", isAdmin = true)

  // ---- destination pooling (A22): one child SparkSession per
  // database, so temp views of different databases never collide —
  // the reference's lazily-opened per-destination pool
  // (pkg/destinations/destinations.go:89-133) -----------------------
  private val sessions = new ConcurrentHashMap[String, (SparkSession, GraftCatalog)]()
  private def catalogFor(db: String): GraftCatalog =
    sessions.computeIfAbsent(db, _ => {
      val s = spark.newSession()
      val c = new GraftCatalog(s, s"$root/warehouse")
      c.leaseStore = Some(meta)
      (s, c)
    })._2

  /** (dest_type, url) from the registry; unregistered tenant dbs are
    * plain spark-warehouse databases. */
  private def destInfo(db: String): (String, String) =
    meta.getDestination(db).getOrElse(("spark", ""))

  private var server: HttpServer = _

  /** Start on the given port (0 = ephemeral); returns the bound port. */
  def start(port: Int = 0): Int = synchronized {
    workers.start()
    sink.start()
    server = HttpServer.create(new InetSocketAddress(port), 0)
    server.setExecutor(java.util.concurrent.Executors.newCachedThreadPool())
    server.createContext("/", handle _)
    server.start()
    server.getAddress.getPort
  }

  def stop(): Unit = synchronized {
    if (server != null) server.stop(0)
    sink.stop()
    workers.stop()
    meta.close()
  }

  /** Flush the sink and wait for all queued loads (tests/shutdown). */
  def drain(): Boolean = { sink.flushAll(); workers.drain() }

  // ---- routing ----------------------------------------------------
  val metrics = new Metrics

  private def handle(ex: HttpExchange): Unit = {
    val t0 = System.nanoTime()
    val path = ex.getRequestURI.getPath
    val method = ex.getRequestMethod
    // CORS (the reference mounts permissive CORS middleware on the
    // router — pkg/api/router.go:65-72)
    val h = ex.getResponseHeaders
    h.set("Access-Control-Allow-Origin", "*")
    h.set("Access-Control-Allow-Methods", "GET, POST, OPTIONS")
    h.set("Access-Control-Allow-Headers", "Content-Type, Authorization")
    try {
      (method, path) match {
        case ("OPTIONS", _) => ex.sendResponseHeaders(204, -1) // preflight
        case ("GET", "/healthcheck") => respond(ex, 200, "ok", "text/plain")
        // reference: GET / permanently redirects to the dashboard
        // (pkg/api/router.go:39-41)
        case ("GET", "/") => redirect(ex, 301, "/dashboard")
        case ("GET", "/metrics") =>
          respond(ex, 200, metrics.render(), "text/plain; version=0.0.4")
        // Dashboard is session-gated like the reference's view routes
        // (pkg/api/auth.go:92-135 Authenticator: no/invalid JWT or a
        // deleted user → redirect to /login)
        case ("GET", "/dashboard") =>
          sessionUser(ex) match {
            case Some(_) => respond(ex, 200, Dashboard.html, "text/html; charset=utf-8")
            case None => redirect(ex, 307, "/login")
          }
        // Connection-management pages, session-gated like the
        // reference's /dashboard/connections + /request view routes
        // (pkg/view/router.go:74-80, controller.go ConnRoutes)
        case ("GET" | "POST", p) if p == "/dashboard/connections" ||
            p == "/dashboard/connections/new" ||
            p == "/dashboard/connections/key" ||
            p == "/dashboard/connections/delete" ||
            p == "/dashboard/request" =>
          sessionUser(ex) match {
            case None => redirect(ex, 307, "/login")
            case Some(_) => handleConnPages(ex, method, p)
          }
        case ("GET", "/login") if providerSeq.nonEmpty =>
          // reference Login (auth.go:84-87): redirect straight to the
          // provider's consent URL with a fresh state nonce. Unlike
          // the reference (which comments the check out at
          // auth.go:149), the nonce is PERSISTED in a short-TTL
          // HttpOnly cookie and the callback rejects a mismatch —
          // without this, sessions are minted behind a login an
          // attacker can drive (login CSRF / session fixation).
          val state = java.util.UUID.randomUUID().toString
          ex.getResponseHeaders.add("Set-Cookie",
            s"oauth_state=$state; HttpOnly; Path=/; Max-Age=600; SameSite=Lax")
          redirect(ex, 307, providerSeq.head._2.authCodeUrl(state))
        case ("GET", "/login") =>
          respond(ex, 200, Sessions.loginHtml.replace("__FLASH__", ""),
            "text/html; charset=utf-8")
        case ("POST", "/login") => handleLogin(ex)
        // same exchange behind the reference's callback route shape
        // (GET /oauth/{provider}/callback — auth.go:146-193): the
        // provider is a PATH PARAMETER resolved against the configured
        // map, exactly the reference's router shape
        case ("GET", "/oauth/local/callback") => handleOauthCallback(ex)
        case ("GET", p) if p.startsWith("/oauth/") && p.endsWith("/callback") =>
          val name = p.stripPrefix("/oauth/").stripSuffix("/callback")
          providerSeq.collectFirst { case (`name`, c) => c } match {
            case Some(client) => handleProviderCallback(ex, client)
            case None => respond(ex, 404, "unknown oauth provider", "text/plain")
          }
        case ("GET", "/logout") =>
          // reference Logout (auth.go:137-144): expire every cookie,
          // redirect to the login page
          ex.getResponseHeaders.add("Set-Cookie",
            "jwt=; HttpOnly; Path=/; Max-Age=0")
          redirect(ex, 303, "/login")
        case (_, p) if p.startsWith("/share/") => handleShareData(ex, p)
        // the one-time token IS the auth on the upsert leg (the
        // reference's connection-request link works unauthenticated:
        // pkg/connections/upsert.go)
        case ("POST", p) if p.startsWith("/connections/upsert/") =>
          handleConnUpsert(ex, p.stripPrefix("/connections/upsert/"))
        case (_, p) if p.startsWith("/api/") =>
          authed(ex) { (db, isAdmin) => route(ex, db, isAdmin, p) }
        case _ => respond(ex, 404, "not found", "text/plain")
      }
    } catch {
      case e: Exception =>
        // If the failure hit mid-stream the chunked 200 headers are
        // already on the wire — closing the exchange truncates the
        // body, which is all that can be signalled at that point.
        try respond(ex, 500, s"internal error: ${e.getMessage}", "text/plain")
        catch { case _: Exception => () }
    } finally {
      metrics.record(Metrics.routeOf(path), ex.getResponseCode,
        (System.nanoTime() - t0) / 1e9)
      ex.close()
    }
  }

  private def route(ex: HttpExchange, db: String, isAdmin: Boolean, path: String): Unit = {
    val method = ex.getRequestMethod
    (method, path) match {
      case ("POST", p) if p.startsWith("/api/data/insert/") =>
        handleInsert(ex, db, p.stripPrefix("/api/data/insert/"))
      case ("GET" | "POST", "/api/data/query") => handleQuery(ex, db, isAdmin)
      case ("POST", "/api/data/copy") => handleCopy(ex, db, isAdmin)
      case ("POST", "/api/data/query/share") => handleCreateShare(ex, db)
      // Destination management is an admin surface: the reference binds
      // destination creation to a logged-in user and key creation to the
      // caller's own destination (pkg/api/router.go:74-88); a tenant key
      // must never mint keys for other tenants' databases.
      case (_, p) if p.startsWith("/api/destinations") && !isAdmin =>
        respond(ex, 403, "admin key required", "text/plain")
      case ("GET", "/api/destinations") =>
        val names = meta.listDestinations().map(n => "\"" + n + "\"")
        respond(ex, 200, names.mkString("[", ",", "]"), "application/json")
      case ("POST", "/api/destinations") =>
        val body = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
        val obj = try JValue.parseObject(body) catch {
          case _: Exception => JObj(Vector.empty)
        }
        def str(k: String) = obj.get(k).collect { case JStr(s) => s }.getOrElse("")
        val name = str("name")
        val dtype = if (str("type").isEmpty) "spark" else str("type")
        val url = str("url")
        if (!validIdent(name)) respond(ex, 400, "valid name required", "text/plain")
        else if (dtype != "spark" && dtype != "jdbc")
          respond(ex, 400, s"unknown destination type: $dtype", "text/plain")
        else if (dtype == "jdbc" && !url.startsWith("jdbc:"))
          respond(ex, 400, "jdbc destinations require a jdbc: url", "text/plain")
        else { meta.addDestination(name, dtype, url)
          respond(ex, 200, s"""{"name":"$name","type":"$dtype"}""", "application/json") }
      case ("POST", p) if p.startsWith("/api/destinations/") && p.endsWith("/keys") =>
        val dest = p.stripPrefix("/api/destinations/").stripSuffix("/keys")
        val body = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
        val key = (try JValue.parseObject(body).get("api_key") catch { case _: Exception => None })
          .collect { case JStr(s) => s }.getOrElse("")
        if (key.isEmpty) respond(ex, 400, "api_key required", "text/plain")
        else if (!meta.hasDestination(dest))
          respond(ex, 404, "unknown destination", "text/plain")
        else { addApiKey(key, dest); respond(ex, 200, """{"ok":true}""", "application/json") }
      // connection-request links are minted by admins (reference:
      // pkg/connections/service.go — requests carry an expiry)
      case ("POST", "/api/connections/request") if !isAdmin =>
        respond(ex, 403, "admin key required", "text/plain")
      case ("POST", "/api/connections/request") =>
        val token = UUID.randomUUID().toString
        val ttlMs = 60 * 60 * 1000L
        meta.putConnRequest(token, System.currentTimeMillis() + ttlMs)
        respond(ex, 200,
          s"""{"token":"$token","upsert_url":"/connections/upsert/$token","expires_in_sec":3600}""",
          "application/json")
      case ("GET", "/api/tables") =>
        val tables = destInfo(db) match {
          case ("jdbc", url) => new JdbcDestination(spark, url).tables()
          case _ => catalog.listTables(db)
        }
        respond(ex, 200, tables.map(n => "\"" + n + "\"").mkString("[", ",", "]"),
          "application/json")
      case ("GET", p) if p.startsWith("/api/tables/") && p.endsWith("/columns") =>
        val table = p.stripPrefix("/api/tables/").stripSuffix("/columns")
        val cols = destInfo(db) match {
          case ("jdbc", url) =>
            val jd = new JdbcDestination(spark, url)
            if (validIdent(table) && jd.tableExists(table)) Some(jd.columns(table))
            else None
          case _ =>
            if (validIdent(table) && catalog.tableExists(db, table))
              Some(catalog.columns(db, table))
            else None
        }
        cols match {
          case None => respond(ex, 404, "table not found", "text/plain")
          case Some(cs) => respond(ex, 200,
            cs.map { case (n, t) => s"""{"name":"$n","type":"$t"}""" }
              .mkString("[", ",", "]"), "application/json")
        }
      // Per-table ingest dedup policy (the effectively-once upgrade of
      // the at-least-once insert path). Tenant-scoped: a key can only
      // configure tables of its own database; jdbc destinations load
      // engine-side and don't run the probe.
      case ("POST", p) if p.startsWith("/api/tables/") && p.endsWith("/dedup") =>
        val table = p.stripPrefix("/api/tables/").stripSuffix("/dedup")
        val body = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
        val obj = try JValue.parseObject(body) catch {
          case _: Exception => JObj(Vector.empty)
        }
        def str(k: String, dflt: String) =
          obj.get(k).collect { case JStr(s) => s }.getOrElse(dflt)
        val textCol = str("text_col", "")
        val mode = str("mode", "tag")
        val threshold = obj.get("threshold")
          .collect { case graft.functions.JValue.JNum(n) => n.toDouble }.getOrElse(0.7)
        def num(k: String, dflt: Long) = obj.get(k)
          .collect { case graft.functions.JValue.JNum(n) => n.toLong }.getOrElse(dflt)
        def bool(k: String, dflt: Boolean) = obj.get(k)
          .collect { case graft.functions.JValue.JBool(b) => b }.getOrElse(dflt)
        val params = graft.sources.GraftCatalog.DedupParams(
          num("shingle_k", 5).toInt, num("num_hashes", 128).toInt,
          num("bands", 32).toInt, num("seed", 42L),
          bool("use_md5", false), bool("oph", true),
          str("method", "minhash"))
        // the declared-schema check: a typo'd text_col would make every
        // batch silently take the plain-append path (the table only
        // has its seed column before first ingest — accept then, the
        // column arrives with the data)
        def schemaRejects: Boolean = {
          val declared = catalog.schemaOf(db, table).keySet - catalog.RowIdColumn
          declared.nonEmpty && !declared.contains(textCol)
        }
        if (!validIdent(table)) respond(ex, 400, "valid table name required", "text/plain")
        else if (destInfo(db)._1 == "jdbc")
          respond(ex, 400, "dedup policy applies to spark destinations only", "text/plain")
        else if (!validIdent(textCol))
          respond(ex, 400, "text_col required", "text/plain")
        else if (mode != "tag" && mode != "drop")
          respond(ex, 400, "mode must be tag|drop", "text/plain")
        else if (threshold <= 0.0 || threshold > 1.0)
          respond(ex, 400, "threshold must be in (0, 1]", "text/plain")
        else if (params.numHashes % params.bands != 0)
          respond(ex, 400, "bands must divide num_hashes", "text/plain")
        else if (params.method != "minhash" && params.method != "semantic")
          respond(ex, 400, "method must be minhash|semantic", "text/plain")
        else if (schemaRejects)
          respond(ex, 400, s"text_col '$textCol' is not a column of $table", "text/plain")
        else try {
          catalog.setDedupPolicy(db, table,
            graft.sources.GraftCatalog.DedupPolicy(textCol, mode, threshold, params))
          respond(ex, 200,
            s"""{"table":"$table","text_col":"$textCol","mode":"$mode","threshold":$threshold,${params.json}}""",
            "application/json")
        } catch {
          // convention change under a live index: refuse, don't corrupt
          case e: IllegalStateException =>
            respond(ex, 409, e.getMessage, "text/plain")
        }
      case ("GET", p) if p.startsWith("/api/tables/") && p.endsWith("/dedup") =>
        val table = p.stripPrefix("/api/tables/").stripSuffix("/dedup")
        if (!validIdent(table)) respond(ex, 400, "valid table name required", "text/plain")
        else catalog.dedupPolicyOf(db, table) match {
          case None => respond(ex, 404, "no dedup policy", "text/plain")
          case Some(pol) => respond(ex, 200,
            s"""{"table":"$table","text_col":"${pol.textCol}","mode":"${pol.mode}","threshold":${pol.threshold},${pol.params.json}}""",
            "application/json")
        }
      case _ => respond(ex, 404, "not found", "text/plain")
    }
  }

  // ---- handlers ---------------------------------------------------
  private def authed(ex: HttpExchange)(f: (String, Boolean) => Unit): Unit = {
    val params = queryParams(ex)
    val hashed = hash(params.getOrElse("api_key", ""))
    meta.lookupKey(hashed) match {
      case Some((_, true)) =>
        val db = params.getOrElse("destination_id", "default")
        if (!validIdent(db)) respond(ex, 400, "invalid destination_id", "text/plain")
        else f(db, true)
      case Some((db, false)) => f(db, false)
      case None => respond(ex, 401, "Unauthorized", "text/plain")
    }
  }

  private def handleInsert(ex: HttpExchange, db: String, table: String): Unit = {
    if (!validIdent(table)) { respond(ex, 400, "valid table name required", "text/plain"); return }
    val body = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
    val mode = Ingest.FlattenMode.fromParam(queryParams(ex).getOrElse("flatten", ""))
    val r = ingest.insert(db, table, body, mode)
    if (r.fullySucceeded) respond(ex, 200, s"""{"inserted":${r.inserted}}""", "application/json")
    else if (r.inserted > 0)
      respond(ex, 400, s"Partially inserted data: ${r.errors.mkString("; ")}", "text/plain")
    else respond(ex, 400, r.errors.mkString("; "), "text/plain")
  }

  private def handleQuery(ex: HttpExchange, db: String, isAdmin: Boolean): Unit = {
    val params = queryParams(ex)
    val fromBody =
      if (ex.getRequestMethod == "POST")
        new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
      else ""
    val query = if (fromBody.nonEmpty) fromBody else params.getOrElse("query", "")
    if (query.trim.isEmpty) { respond(ex, 400, "Query cannot be blank", "text/plain"); return }
    streamQuery(ex, db, query, params.getOrElse("format", "json"), restricted = !isAdmin)
  }

  /** Tenant queries (and share replays, which are tenant-authored) run
    * through the sandbox: read-only statements, file scans confined to
    * the tenant's warehouse dir. Admin keys get raw passthrough —
    * parity with DuckDB's unrestricted `read_ndjson_auto`. */
  private def streamQuery(ex: HttpExchange, db: String, query: String, format: String,
                          restricted: Boolean = true): Unit = {
    val dbCatalog = catalogFor(db)
    val dest = destInfo(db)
    // Outside the try: a storage fault while building the views is the
    // server's (500), not a bad query.
    if (dest._1 != "jdbc") dbCatalog.registerViews(db)
    val df =
      try {
        dest match {
          // Federated destination: the external engine executes the SQL
          // against ITS OWN database (the reference's per-destination
          // isolation) — and the JDBC query option wraps it in a SELECT
          // subquery, so tenant passthrough is read-only by construction.
          case ("jdbc", url) => new JdbcDestination(dbCatalog.spark, url).query(query)
          case _ =>
            if (restricted)
              QueryService.tenantQuery(dbCatalog.spark, query, Seq(s"$root/warehouse/$db"))
            else QueryService.query(dbCatalog.spark, query)
        }
      } catch {
        case e: QueryService.QueryRejected =>
          respond(ex, 403, e.getMessage, "text/plain"); return
        case e: AnalysisException =>
          respond(ex, 400, s"bad query: ${e.getMessage}", "text/plain"); return
      }
    val contentType = format.toLowerCase match {
      case "csv"    => "text/csv"
      case "ndjson" => "text/plain"
      case _        => "application/json"
    }
    ex.getResponseHeaders.set("Content-Type", contentType)
    ex.sendResponseHeaders(200, 0) // chunked: stream rows as they come
    val out = ex.getResponseBody
    val bytes = format.toLowerCase match {
      case "csv"    => QueryService.writeCsv(df, out)
      case "ndjson" => QueryService.writeNdjson(df, out)
      case _        => QueryService.writeJson(df, out)
    }
    metrics.returned(Metrics.routeOf(ex.getRequestURI.getPath), bytes)
  }

  private def handleCopy(ex: HttpExchange, db: String, isAdmin: Boolean): Unit = {
    val body = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
    val obj = try JValue.parseObject(body) catch {
      case e: Exception => respond(ex, 400, s"bad body: ${e.getMessage}", "text/plain"); return
    }
    val query = obj.get("query").collect { case JStr(s) => s }.getOrElse("")
    val destDb = obj.get("destination_id").collect {
      case JStr(s) => s
      case JNum(raw) => raw
    }.getOrElse("")
    val destTable = obj.get("destination_table").collect { case JStr(s) => s }.getOrElse("")
    if (query.isEmpty || destDb.isEmpty || destTable.isEmpty) {
      respond(ex, 400, "query, destination_id, destination_table required", "text/plain"); return
    }
    if (!validIdent(destDb) || !validIdent(destTable)) {
      respond(ex, 400, "invalid destination identifier", "text/plain"); return
    }
    // Ownership: a tenant may only copy into its own database (the
    // reference verifies the destination belongs to the caller's team,
    // pkg/api/data.go Copy → GetDestination(teamId, id)); only admin
    // keys may target arbitrary databases.
    if (!isAdmin && destDb != db) {
      respond(ex, 403, "destination not owned by caller", "text/plain"); return
    }
    // Sandbox the SOURCE query too (analysis only, nothing executes):
    // a tenant copy must not read other tenants' files or run commands.
    // A jdbc source needs no spark-side sandbox — the engine executes
    // the SQL inside its own database, wrapped read-only.
    if (!isAdmin && destInfo(db)._1 != "jdbc") {
      val cat = catalogFor(db)
      cat.registerViews(db)
      try QueryService.tenantQuery(cat.spark, query, Seq(s"$root/warehouse/$db"))
      catch {
        case e: QueryService.QueryRejected =>
          respond(ex, 403, e.getMessage, "text/plain"); return
        case e: Exception =>
          respond(ex, 400, s"bad query: ${e.getMessage}", "text/plain"); return
      }
    }
    val id = queue.enqueue(JobMessage.CopyData(db, query, destDb, destTable))
    respond(ex, 200, s"""{"job_id":$id}""", "application/json")
  }

  private def handleCreateShare(ex: HttpExchange, db: String): Unit = {
    val body = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
    val obj = try JValue.parseObject(body) catch {
      case _: Exception => respond(ex, 400, "Invalid request body", "text/plain"); return
    }
    val query = obj.get("query").collect { case JStr(s) => s }.getOrElse("")
    val name = obj.get("name").collect { case JStr(s) => s }.getOrElse("")
    val duration = obj.get("duration").collect { case JNum(raw) => raw.toLong }.getOrElse(0L)
    if (query.isEmpty) { respond(ex, 400, "Query cannot be empty", "text/plain"); return }
    if (name.isEmpty) { respond(ex, 400, "Name cannot be empty", "text/plain"); return }
    val id = UUID.randomUUID().toString
    meta.putShare(id, db, query, name,
      System.currentTimeMillis() + duration * 1000)
    respond(ex, 200, s"""{"id":"$id"}""", "application/json")
  }

  // ---- login sessions ---------------------------------------------
  /** Some(userId) iff the jwt cookie verifies AND the user still
    * exists (the reference re-fetches the user on every request —
    * auth.go:107-113). */
  private def sessionUser(ex: HttpExchange): Option[Long] =
    cookieValue(ex, "jwt")
      .flatMap(webSessions.verify(_, System.currentTimeMillis()))
      .filter(uid => meta.getUser(uid).isDefined)

  private def cookieValue(ex: HttpExchange, name: String): Option[String] = {
    val cookies = Option(ex.getRequestHeaders.getFirst("Cookie")).getOrElse("")
    cookies.split(";").iterator.map(_.trim.split("=", 2))
      .collectFirst { case Array(`name`, v) => v }
  }

  /** Local identity exchange: email + a valid API key for this server
    * stands in for the reference's OAuth code↔email exchange (zero
    * egress). Downstream is identical: get-or-create the user row,
    * mint the 7-day user_id JWT, set the HttpOnly cookie, redirect
    * to /dashboard (auth.go:146-193). */
  private def loginWith(ex: HttpExchange, email: String, apiKey: String): Unit = {
    val emailOk = email.nonEmpty && email.length <= 256 &&
      email.contains("@") && !email.exists(c => c.isWhitespace || c.isControl)
    if (!emailOk || meta.lookupKey(hash(apiKey)).isEmpty) {
      respond(ex, 401,
        Sessions.loginHtml.replace("__FLASH__", "Invalid email or API key."),
        "text/html; charset=utf-8")
      return
    }
    val uid = meta.createUser(email, "local", s"""{"email":"$email"}""")
    val token = webSessions.mint(uid, System.currentTimeMillis())
    ex.getResponseHeaders.add("Set-Cookie", s"jwt=$token; HttpOnly; Path=/")
    redirect(ex, 303, "/dashboard")
  }

  private def handleLogin(ex: HttpExchange): Unit = {
    val body = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
    val form = parseUrlEncoded(body)
    loginWith(ex, form.getOrElse("email", ""), form.getOrElse("api_key", ""))
  }

  private def handleOauthCallback(ex: HttpExchange): Unit = {
    val params = queryParams(ex)
    loginWith(ex, params.getOrElse("email", ""), params.getOrElse("code", ""))
  }

  /** The reference's OAuthCallback (auth.go:146-193) against a REAL
    * provider: exchange the code at the token endpoint, fetch the
    * userinfo email with the bearer token, get-or-create the user row
    * (source "google", raw userinfo persisted as details), mint the
    * 7-day user_id JWT, set the HttpOnly cookie, land on /dashboard.
    * Any failure in the exchange is a failed login — back to /login,
    * no cookie, never a 500 (the provider is an external system). */
  private def handleProviderCallback(ex: HttpExchange, client: OAuthClient): Unit = {
    val params = queryParams(ex)
    // state check FIRST, before any provider round-trip: the returned
    // `state` must equal the nonce /login stored in the browser's
    // short-TTL cookie. Absent or mismatched → fail closed with no
    // exchange attempted — a cross-site-delivered code (login CSRF)
    // never reaches the token endpoint. The reference skips this
    // (auth.go:149 is commented out); we gate real sessions behind
    // this login, so the ~10-line check is taken.
    val returned = params.getOrElse("state", "")
    val expected = cookieValue(ex, "oauth_state").getOrElse("")
    // the nonce is single-use either way: expire the cookie now
    ex.getResponseHeaders.add("Set-Cookie",
      "oauth_state=; HttpOnly; Path=/; Max-Age=0")
    if (returned.isEmpty || expected.isEmpty || returned != expected) {
      respond(ex, 401, """{"error": "state mismatch"}""", "application/json")
      return
    }
    val code = params.getOrElse("code", "")
    val session = for {
      token <- client.exchange(code)
      (email, raw) <- client.userEmail(token)
    } yield meta.createUser(email, "google", raw)
    session match {
      case Some(uid) =>
        val token = webSessions.mint(uid, System.currentTimeMillis())
        ex.getResponseHeaders.add("Set-Cookie", s"jwt=$token; HttpOnly; Path=/")
        redirect(ex, 303, "/dashboard")
      case None =>
        // NOT a /login redirect: with a provider configured /login
        // bounces straight back to the consent URL and a persistently
        // bad code would loop the browser
        respond(ex, 401, """{"error": "login failed"}""", "application/json")
    }
  }

  private def redirect(ex: HttpExchange, code: Int, to: String): Unit = {
    ex.getResponseHeaders.set("Location", to)
    ex.sendResponseHeaders(code, -1)
  }

  /** Session-gated connection pages (reference: ConnRoutes/
    * RequestRoutes in pkg/view/controller.go — list, new-connection
    * form, one-time request link). Form POSTs mirror the API
    * validations; the session user is the authority, as in the
    * reference's JWT-gated dashboard. */
  private def handleConnPages(ex: HttpExchange, method: String, path: String): Unit =
    (method, path) match {
      case ("GET", "/dashboard/connections") =>
        respond(ex, 200, Dashboard.connectionsHtml(meta.listDestinationsTyped()),
          "text/html; charset=utf-8")
      case ("GET", "/dashboard/connections/new") =>
        respond(ex, 200, Dashboard.newConnectionHtml(""), "text/html; charset=utf-8")
      case ("POST", "/dashboard/connections/new") =>
        val form = parseUrlEncoded(
          new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8))
        val name = form.getOrElse("name", "")
        val dtype = form.getOrElse("type", "spark")
        val url = form.getOrElse("url", "")
        val apiKey = form.getOrElse("api_key", "")
        val err =
          if (!validIdent(name)) "valid name required"
          else if (dtype != "spark" && dtype != "jdbc") s"unknown destination type: $dtype"
          else if (dtype == "jdbc" && !url.startsWith("jdbc:")) "jdbc destinations require a jdbc: url"
          else if (apiKey.length < 8) "api_key of 8+ chars required"
          else ""
        if (err.nonEmpty)
          respond(ex, 400, Dashboard.newConnectionHtml(err), "text/html; charset=utf-8")
        else {
          meta.addDestination(name, dtype, url)
          addApiKey(apiKey, name)
          redirect(ex, 303, "/dashboard/connections")
        }
      case ("POST", "/dashboard/connections/key") =>
        // reference NewKey: mint an additional key for an existing
        // destination
        val form = parseUrlEncoded(
          new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8))
        val name = form.getOrElse("name", "")
        val apiKey = form.getOrElse("api_key", "")
        if (!meta.hasDestination(name))
          respond(ex, 404, "unknown destination", "text/plain")
        else if (apiKey.length < 8)
          respond(ex, 400, "api_key of 8+ chars required", "text/plain")
        else { addApiKey(apiKey, name); redirect(ex, 303, "/dashboard/connections") }
      case ("POST", "/dashboard/connections/delete") =>
        // reference DeleteConn: destination and its keys go together
        val form = parseUrlEncoded(
          new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8))
        meta.deleteDestination(form.getOrElse("name", ""))
        redirect(ex, 303, "/dashboard/connections")
      case ("POST", "/dashboard/request") =>
        val token = UUID.randomUUID().toString
        meta.putConnRequest(token, System.currentTimeMillis() + 60 * 60 * 1000L)
        val host = Option(ex.getRequestHeaders.getFirst("Host")).getOrElse("localhost")
        respond(ex, 200,
          Dashboard.requestLinkHtml(s"http://$host/connections/upsert/$token"),
          "text/html; charset=utf-8")
      case _ => respond(ex, 404, "not found", "text/plain")
    }

  /** Typed destination upsert behind a one-time token (reference:
    * pkg/connections/upsert.go:1-140 — validate the form, register the
    * destination, mint its first API key, consume the request). The
    * only destination type this engine hosts is `spark`. */
  private def handleConnUpsert(ex: HttpExchange, token: String): Unit = {
    val body = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
    val obj = try JValue.parseObject(body) catch {
      case _: Exception => respond(ex, 400, "Invalid request body", "text/plain"); return
    }
    def str(k: String) = obj.get(k).collect { case JStr(s) => s }.getOrElse("")
    val (name, dtype, apiKey, url) = (str("name"), str("type"), str("api_key"), str("url"))
    if (!validIdent(name)) { respond(ex, 400, "valid name required", "text/plain"); return }
    if (dtype != "spark" && dtype != "jdbc") {
      respond(ex, 400, s"unknown destination type: $dtype", "text/plain"); return }
    if (dtype == "jdbc" && !url.startsWith("jdbc:")) {
      respond(ex, 400, "jdbc destinations require a jdbc: url", "text/plain"); return }
    if (apiKey.length < 8) { respond(ex, 400, "api_key of 8+ chars required", "text/plain"); return }
    // consume LAST, once the form is valid — a rejected form must not
    // burn the one-time link
    if (!meta.consumeConnRequest(token, System.currentTimeMillis())) {
      respond(ex, 404, "connection request not found or expired", "text/plain"); return
    }
    meta.addDestination(name, dtype, url)
    addApiKey(apiKey, name)
    respond(ex, 200, s"""{"name":"$name","type":"$dtype"}""", "application/json")
  }

  private def handleShareData(ex: HttpExchange, path: String): Unit = {
    // /share/{uuid} (HTML viewer) or /share/{uuid}/data.{format}
    val parts = path.stripPrefix("/share/").split("/")
    if (parts.length == 1 && parts(0).nonEmpty) {
      // the reference serves an HTML page for a bare share link
      // (pkg/view/router.go:43-76: name + expiry + the data URL)
      meta.getShare(parts(0), System.currentTimeMillis()) match {
        case None => respond(ex, 404, "Query not found", "text/plain")
        case Some((_, _, name)) =>
          respond(ex, 200, Dashboard.shareHtml(parts(0), name),
            "text/html; charset=utf-8")
      }
      return
    }
    if (parts.length != 2 || !parts(1).startsWith("data.")) {
      respond(ex, 400, "bad share path", "text/plain"); return
    }
    val (uuid, format) = (parts(0), parts(1).stripPrefix("data."))
    meta.getShare(uuid, System.currentTimeMillis()) match {
      case None => respond(ex, 404, "Query not found", "text/plain")
      case Some((db, query, _)) => streamQuery(ex, db, query, format)
    }
  }

  // ---- plumbing ---------------------------------------------------
  private def queryParams(ex: HttpExchange): Map[String, String] =
    parseUrlEncoded(ex.getRequestURI.getRawQuery)

  private def parseUrlEncoded(q: String): Map[String, String] = {
    if (q == null) Map.empty
    else q.split("&").toSeq.flatMap { kv =>
      kv.split("=", 2) match {
        case Array(k, v) => Some(java.net.URLDecoder.decode(k, "UTF-8") ->
          java.net.URLDecoder.decode(v, "UTF-8"))
        case Array(k) => Some(java.net.URLDecoder.decode(k, "UTF-8") -> "")
        case _ => None
      }
    }.toMap
  }

  private def respond(ex: HttpExchange, code: Int, body: String, contentType: String): Unit = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.set("Content-Type", contentType)
    ex.sendResponseHeaders(code, bytes.length)
    ex.getResponseBody.write(bytes)
  }
}

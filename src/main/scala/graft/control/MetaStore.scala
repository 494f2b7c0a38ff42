package graft.control

import graft.functions.JValue
import graft.functions.JValue._
import java.sql.{Connection, DriverManager, SQLException}

/** Persistent control-plane store: API keys, destinations, share links
  * and the job queue live in an embedded Derby database (ships with
  * Spark — zero new dependencies), mirroring the reference's GORM
  * metadata DB (/root/reference/pkg/storage/database/gorm/gorm.go:
  * 101-136 hashed-key lookup, 258-261 share expiry) and its DB-backed
  * queue (pkg/storage/database/gorm/queue.go:15-91 — claim via
  * FOR UPDATE SKIP LOCKED, delete on ack, redeliver on nack). Derby
  * lacks SKIP LOCKED; the claim is an optimistic
  * `UPDATE ... WHERE id=? AND status='pending'` whose update-count
  * decides the winner — same at-least-once contract.
  *
  * A server restart (new MetaStore on the same dir) sees every key,
  * destination, share and un-acked job: claimed-but-unacked jobs are
  * reset to pending at boot (crash redelivery).
  *
  * Single shared connection, synchronized — the control plane is
  * low-QPS by design (the data plane never touches this store).
  */
/** Named exclusive leases with fencing tokens — the cross-driver
  * mutual-exclusion primitive (the JVM `synchronized` a single driver
  * uses does not exist between drivers). `acquireLease` returns a
  * monotone fencing token on success; a holder re-acquiring its own
  * live lease extends the TTL (and bumps the token). A crashed holder
  * blocks nobody past the TTL: the next acquirer takes over the
  * expired row with a HIGHER token, so stale writers can be fenced. */
trait LeaseStore {
  /** Some(fencingToken) when this holder now owns the lease. */
  def acquireLease(name: String, holder: String, ttlMs: Long,
                   nowMs: Long = System.currentTimeMillis()): Option[Long]
  /** Release if (and only if) this holder still owns it. */
  def releaseLease(name: String, holder: String): Unit
}

final class MetaStore(dir: String) extends JobQueue with LeaseStore with AutoCloseable {
  MetaStore.quietDerby()
  private val conn: Connection =
    DriverManager.getConnection(s"jdbc:derby:$dir;create=true")
  conn.setAutoCommit(true)

  private def exec(ddl: String): Unit = {
    val st = conn.createStatement()
    try st.executeUpdate(ddl)
    catch { case e: SQLException if e.getSQLState == "X0Y32" => () } // exists
    finally st.close()
  }

  exec("""CREATE TABLE api_keys(
           key_hash VARCHAR(64) PRIMARY KEY,
           db VARCHAR(128),
           is_admin BOOLEAN NOT NULL)""")
  exec("""CREATE TABLE destinations(
           name VARCHAR(128) PRIMARY KEY,
           dest_type VARCHAR(32) DEFAULT 'spark' NOT NULL,
           url VARCHAR(1024) DEFAULT '' NOT NULL)""")
  // upgrade pre-typed-destination stores in place (column-exists swallowed)
  exec("ALTER TABLE destinations ADD COLUMN dest_type VARCHAR(32) DEFAULT 'spark' NOT NULL")
  exec("ALTER TABLE destinations ADD COLUMN url VARCHAR(1024) DEFAULT '' NOT NULL")
  exec("""CREATE TABLE shares(
           id VARCHAR(36) PRIMARY KEY,
           db VARCHAR(128) NOT NULL,
           query CLOB NOT NULL,
           name VARCHAR(256) NOT NULL,
           expires_at_ms BIGINT NOT NULL)""")
  exec("""CREATE TABLE conn_requests(
           token VARCHAR(36) PRIMARY KEY,
           expires_at_ms BIGINT NOT NULL)""")
  exec("""CREATE TABLE queue(
           id BIGINT GENERATED ALWAYS AS IDENTITY PRIMARY KEY,
           status VARCHAR(8) NOT NULL,
           payload VARCHAR(30000) NOT NULL)""")
  exec("""CREATE TABLE users(
           id BIGINT GENERATED ALWAYS AS IDENTITY PRIMARY KEY,
           email VARCHAR(256) NOT NULL UNIQUE,
           source VARCHAR(32) NOT NULL,
           details VARCHAR(4000) NOT NULL,
           created_ms BIGINT NOT NULL)""")
  exec("""CREATE TABLE settings(
           k VARCHAR(64) PRIMARY KEY,
           v VARCHAR(256) NOT NULL)""")
  exec("""CREATE TABLE leases(
           name VARCHAR(256) PRIMARY KEY,
           holder VARCHAR(128) NOT NULL,
           fence BIGINT NOT NULL,
           expires_at_ms BIGINT NOT NULL)""")
  // crash recovery: jobs claimed by a dead process are redelivered
  synchronized {
    val st = conn.createStatement()
    try st.executeUpdate("UPDATE queue SET status='pending' WHERE status='claimed'")
    finally st.close()
  }

  // ---- api keys ----------------------------------------------------
  def putKey(keyHash: String, database: String, isAdmin: Boolean): Unit = synchronized {
    val del = conn.prepareStatement("DELETE FROM api_keys WHERE key_hash=?")
    try { del.setString(1, keyHash); del.executeUpdate() } finally del.close()
    val ps = conn.prepareStatement(
      "INSERT INTO api_keys(key_hash, db, is_admin) VALUES(?,?,?)")
    try {
      ps.setString(1, keyHash); ps.setString(2, database); ps.setBoolean(3, isAdmin)
      ps.executeUpdate()
    } finally ps.close()
  }

  /** sha256(key) -> (database, isAdmin), like the reference's
    * GetAPIKeyDetails(hashedKey). */
  def lookupKey(keyHash: String): Option[(String, Boolean)] = synchronized {
    val ps = conn.prepareStatement("SELECT db, is_admin FROM api_keys WHERE key_hash=?")
    try {
      ps.setString(1, keyHash)
      val rs = ps.executeQuery()
      if (rs.next()) Some((rs.getString(1), rs.getBoolean(2))) else None
    } finally ps.close()
  }

  // ---- destinations -------------------------------------------------
  /** Typed destination registry (reference: destination rows carry a
    * type + connection settings — pkg/destinations/destinations.go).
    * `spark` rows live in this server's warehouse; `jdbc` rows
    * delegate to an external engine at `url`. */
  def addDestination(name: String, destType: String = "spark",
                     url: String = ""): Unit = synchronized {
    val ps = conn.prepareStatement(
      "INSERT INTO destinations(name, dest_type, url) VALUES(?,?,?)")
    try { ps.setString(1, name); ps.setString(2, destType); ps.setString(3, url)
      ps.executeUpdate() }
    catch { case e: SQLException if e.getSQLState == "23505" => () } // dup
    finally ps.close()
  }

  def hasDestination(name: String): Boolean = synchronized {
    val ps = conn.prepareStatement("SELECT 1 FROM destinations WHERE name=?")
    try { ps.setString(1, name); ps.executeQuery().next() } finally ps.close()
  }

  /** Remove a destination and every API key scoped to it (the
    * reference's DeleteConn — a deleted connection's keys must stop
    * authenticating). */
  def deleteDestination(name: String): Unit = synchronized {
    val keys = conn.prepareStatement("DELETE FROM api_keys WHERE db=?")
    try { keys.setString(1, name); keys.executeUpdate() } finally keys.close()
    val ps = conn.prepareStatement("DELETE FROM destinations WHERE name=?")
    try { ps.setString(1, name); ps.executeUpdate() } finally ps.close()
  }

  /** (dest_type, url) for a registered destination. Unregistered names
    * default to ("spark", "") — ad-hoc tenant dbs predate the registry. */
  def getDestination(name: String): Option[(String, String)] = synchronized {
    val ps = conn.prepareStatement(
      "SELECT dest_type, url FROM destinations WHERE name=?")
    try {
      ps.setString(1, name)
      val rs = ps.executeQuery()
      if (rs.next()) Some((rs.getString(1), rs.getString(2))) else None
    } finally ps.close()
  }

  def listDestinations(): Seq[String] = listDestinationsTyped().map(_._1)

  def listDestinationsTyped(): Seq[(String, String)] = synchronized {
    val st = conn.createStatement()
    try {
      val rs = st.executeQuery(
        "SELECT name, dest_type FROM destinations ORDER BY name")
      val b = Seq.newBuilder[(String, String)]
      while (rs.next()) b += rs.getString(1) -> rs.getString(2)
      b.result()
    } finally st.close()
  }

  // ---- shares --------------------------------------------------------
  def putShare(id: String, db: String, query: String, name: String,
               expiresAtMs: Long): Unit = synchronized {
    val ps = conn.prepareStatement(
      "INSERT INTO shares(id, db, query, name, expires_at_ms) VALUES(?,?,?,?,?)")
    try {
      ps.setString(1, id); ps.setString(2, db); ps.setString(3, query)
      ps.setString(4, name); ps.setLong(5, expiresAtMs)
      ps.executeUpdate()
    } finally ps.close()
  }

  /** Live shares only; expired rows are reaped on read (the reference
    * filters `expires_at > now()` in the lookup). */
  def getShare(id: String, nowMs: Long): Option[(String, String, String)] = synchronized {
    val ps = conn.prepareStatement(
      "SELECT db, query, name, expires_at_ms FROM shares WHERE id=?")
    try {
      ps.setString(1, id)
      val rs = ps.executeQuery()
      if (!rs.next()) None
      else if (rs.getLong(4) < nowMs) {
        val del = conn.prepareStatement("DELETE FROM shares WHERE id=?")
        try { del.setString(1, id); del.executeUpdate() } finally del.close()
        None
      } else Some((rs.getString(1), rs.getString(2), rs.getString(3)))
    } finally ps.close()
  }

  // ---- one-time connection requests ----------------------------------
  // (reference: pkg/connections/service.go — an admin mints a link a
  // teammate opens once to register a destination; expired or reused
  // tokens are rejected)
  def putConnRequest(token: String, expiresAtMs: Long): Unit = synchronized {
    val ps = conn.prepareStatement(
      "INSERT INTO conn_requests(token, expires_at_ms) VALUES(?,?)")
    try { ps.setString(1, token); ps.setLong(2, expiresAtMs); ps.executeUpdate() }
    finally ps.close()
  }

  /** Atomically consume the token: true exactly once, and only before
    * expiry. The DELETE's update-count is the race arbiter. */
  def consumeConnRequest(token: String, nowMs: Long): Boolean = synchronized {
    val ps = conn.prepareStatement(
      "DELETE FROM conn_requests WHERE token=? AND expires_at_ms >= ?")
    try { ps.setString(1, token); ps.setLong(2, nowMs); ps.executeUpdate() == 1 }
    finally ps.close()
  }

  // ---- users (login sessions) ----------------------------------------
  // (reference: gorm.go CreateUser — get-or-create by email, the OAuth
  //  callback calls it on every login; GetUser backs the session check)
  def createUser(email: String, source: String, details: String): Long = synchronized {
    getUserByEmail(email) match {
      case Some((id, _)) => id
      case None =>
        val ps = conn.prepareStatement(
          "INSERT INTO users(email, source, details, created_ms) VALUES(?,?,?,?)",
          java.sql.Statement.RETURN_GENERATED_KEYS)
        try {
          ps.setString(1, email); ps.setString(2, source)
          ps.setString(3, details.take(4000))
          ps.setLong(4, System.currentTimeMillis())
          ps.executeUpdate()
          val rs = ps.getGeneratedKeys
          rs.next(); rs.getLong(1)
        } finally ps.close()
    }
  }

  def getUser(id: Long): Option[(Long, String)] = synchronized {
    val ps = conn.prepareStatement("SELECT id, email FROM users WHERE id=?")
    try {
      ps.setLong(1, id)
      val rs = ps.executeQuery()
      if (rs.next()) Some((rs.getLong(1), rs.getString(2))) else None
    } finally ps.close()
  }

  def getUserByEmail(email: String): Option[(Long, String)] = synchronized {
    val ps = conn.prepareStatement("SELECT id, email FROM users WHERE email=?")
    try {
      ps.setString(1, email)
      val rs = ps.executeQuery()
      if (rs.next()) Some((rs.getLong(1), rs.getString(2))) else None
    } finally ps.close()
  }

  /** Settings k/v; the JWT signing secret lives here so sessions
    * survive a server restart (the reference reads its JWT secret from
    * durable config for the same reason). */
  def getOrPutSetting(key: String, mint: => String): String = synchronized {
    val get = conn.prepareStatement("SELECT v FROM settings WHERE k=?")
    val existing = try {
      get.setString(1, key)
      val rs = get.executeQuery()
      if (rs.next()) Some(rs.getString(1)) else None
    } finally get.close()
    existing.getOrElse {
      val v = mint
      val ps = conn.prepareStatement("INSERT INTO settings(k, v) VALUES(?,?)")
      try { ps.setString(1, key); ps.setString(2, v); ps.executeUpdate(); v }
      finally ps.close()
    }
  }

  // ---- leases (LeaseStore impl) ---------------------------------------
  // The update-count of a guarded UPDATE is the race arbiter, same
  // pattern as the queue claim: take over a row we hold OR one whose
  // TTL lapsed; insert only when the name has never been leased.
  override def acquireLease(name: String, holder: String, ttlMs: Long,
                            nowMs: Long): Option[Long] = synchronized {
    val up = conn.prepareStatement(
      "UPDATE leases SET holder=?, fence=fence+1, expires_at_ms=? " +
        "WHERE name=? AND (holder=? OR expires_at_ms < ?)")
    val won = try {
      up.setString(1, holder); up.setLong(2, nowMs + ttlMs)
      up.setString(3, name); up.setString(4, holder); up.setLong(5, nowMs)
      up.executeUpdate() == 1
    } finally up.close()
    if (won) currentFence(name)
    else {
      val ins = conn.prepareStatement(
        "INSERT INTO leases(name, holder, fence, expires_at_ms) VALUES(?,?,1,?)")
      try {
        ins.setString(1, name); ins.setString(2, holder)
        ins.setLong(3, nowMs + ttlMs)
        ins.executeUpdate(); Some(1L)
      } catch {
        case e: SQLException if e.getSQLState == "23505" => None // live holder
      } finally ins.close()
    }
  }

  private def currentFence(name: String): Option[Long] = {
    val ps = conn.prepareStatement("SELECT fence FROM leases WHERE name=?")
    try {
      ps.setString(1, name)
      val rs = ps.executeQuery()
      if (rs.next()) Some(rs.getLong(1)) else None
    } finally ps.close()
  }

  // Release EXPIRES the row rather than deleting it: the fence column
  // must stay monotone across release/re-acquire cycles, or a fenced
  // stale writer could outrank a fresh holder.
  override def releaseLease(name: String, holder: String): Unit = synchronized {
    val ps = conn.prepareStatement(
      "UPDATE leases SET expires_at_ms=0 WHERE name=? AND holder=?")
    try { ps.setString(1, name); ps.setString(2, holder); ps.executeUpdate() }
    finally ps.close()
  }

  // ---- job queue (JobQueue impl) --------------------------------------
  private def encode(msg: JobMessage): String = JValue.render(msg match {
    case JobMessage.InsertFile(db, table, path) => JObj(Vector(
      "type" -> JStr("insert_data"), "db" -> JStr(db),
      "table" -> JStr(table), "path" -> JStr(path)))
    case JobMessage.CopyData(srcDb, query, destDb, destTable) => JObj(Vector(
      "type" -> JStr("copy_data"), "source_db" -> JStr(srcDb),
      "query" -> JStr(query), "dest_db" -> JStr(destDb),
      "dest_table" -> JStr(destTable)))
  })

  private def decode(s: String): JobMessage = {
    val o = JValue.parseObject(s)
    def str(k: String) = o.get(k).collect { case JStr(v) => v }.getOrElse("")
    str("type") match {
      case "insert_data" => JobMessage.InsertFile(str("db"), str("table"), str("path"))
      case "copy_data" =>
        JobMessage.CopyData(str("source_db"), str("query"), str("dest_db"), str("dest_table"))
      case t => throw new IllegalArgumentException(s"unknown job type: $t")
    }
  }

  override def enqueue(msg: JobMessage): Long = synchronized {
    val ps = conn.prepareStatement(
      "INSERT INTO queue(status, payload) VALUES('pending', ?)",
      java.sql.Statement.RETURN_GENERATED_KEYS)
    try {
      ps.setString(1, encode(msg))
      ps.executeUpdate()
      val rs = ps.getGeneratedKeys
      rs.next(); rs.getLong(1)
    } finally { ps.close(); notifyAll() }
  }

  /** One optimistic claim attempt; None when no pending row won. */
  private def tryClaim(): Option[(Long, JobMessage)] = synchronized {
    val st = conn.createStatement()
    val candidate = try {
      val rs = st.executeQuery(
        "SELECT id, payload FROM queue WHERE status='pending' ORDER BY id " +
          "FETCH FIRST 1 ROWS ONLY")
      if (rs.next()) Some((rs.getLong(1), rs.getString(2))) else None
    } finally st.close()
    candidate.flatMap { case (id, payload) =>
      val up = conn.prepareStatement(
        "UPDATE queue SET status='claimed' WHERE id=? AND status='pending'")
      val won = try { up.setLong(1, id); up.executeUpdate() == 1 } finally up.close()
      if (won) Some((id, decode(payload))) else None
    }
  }

  /** Claim the next pending job, waiting up to `timeoutMs`. The wait is
    * on this store's monitor, which [[enqueue]] and [[nack]] signal: a
    * new job wakes an idle worker at once, and an idle worker queries
    * Derby once per timeout. A job that another process enqueued into
    * the same store is seen at the timeout. */
  override def dequeue(timeoutMs: Long): Option[(Long, JobMessage)] = synchronized {
    val deadline = System.nanoTime() + timeoutMs * 1000000L
    var claimed = tryClaim()
    var leftMs = timeoutMs
    while (claimed.isEmpty && leftMs > 0) {
      wait(leftMs)
      claimed = tryClaim()
      leftMs = (deadline - System.nanoTime()) / 1000000L
    }
    claimed
  }

  override def ack(id: Long): Unit = synchronized {
    val ps = conn.prepareStatement("DELETE FROM queue WHERE id=?")
    try { ps.setLong(1, id); ps.executeUpdate() } finally ps.close()
  }

  override def nack(id: Long): Unit = synchronized {
    val ps = conn.prepareStatement(
      "UPDATE queue SET status='pending' WHERE id=? AND status='claimed'")
    try { ps.setLong(1, id); ps.executeUpdate() } finally { ps.close(); notifyAll() }
  }

  override def isEmpty: Boolean = size == 0

  override def size: Int = synchronized {
    val st = conn.createStatement()
    try {
      val rs = st.executeQuery("SELECT COUNT(*) FROM queue")
      rs.next(); rs.getInt(1)
    } finally st.close()
  }

  override def close(): Unit = synchronized {
    try conn.close() catch { case _: SQLException => () }
    // Derby per-database shutdown always signals via SQLState 08006.
    try DriverManager.getConnection(s"jdbc:derby:$dir;shutdown=true")
    catch { case e: SQLException if e.getSQLState == "08006" => () }
  }
}

object MetaStore {
  /** Keep Derby's boot log out of the repo root (derby.log). */
  private def quietDerby(): Unit =
    if (System.getProperty("derby.stream.error.file") == null)
      System.setProperty("derby.stream.error.file",
        s"${System.getProperty("java.io.tmpdir")}/derby.log")
}

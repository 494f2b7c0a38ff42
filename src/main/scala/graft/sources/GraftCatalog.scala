package graft.sources

import graft.functions.TypeLattice
import graft.util.GraftConf
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{coalesce, col, lit, when}
import org.apache.spark.sql.types._
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path => HPath}

/** Parquet-backed table catalog with the reference's additive-only
  * schema evolution (SURVEY §2A A5): every table is a directory of
  * parquet part-files plus a JSON schema sidecar; `addColumns` is
  * ALTER TABLE ADD COLUMN IF NOT EXISTS — existing columns never change
  * type or disappear (/root/reference/pkg/destinations/duckdb/insert.go:12-26).
  *
  * Reads apply the sidecar schema over the whole directory: part files
  * written before a column existed simply yield NULL for it (Spark's
  * by-name parquet schema evolution), exactly matching the backend
  * behavior the reference relies on.
  *
  * == Storage: Hadoop FileSystem throughout ==
  *
  * Every byte of catalog I/O — sidecars, staging, publish, compaction
  * — goes through the Hadoop `FileSystem` API resolved from the root's
  * scheme, so the SAME warehouse code runs on `file://` (tests, single
  * box), HDFS, and object stores (`s3a://`, `gs://`) — matching the
  * reference's blob-store reach (pkg/storage/blobstore/s3/s3.go). A
  * schemeless root resolves against `fs.defaultFS`, exactly like any
  * other Spark path. At 100 TB the warehouse IS the object store; a
  * catalog built on `java.nio` (rounds ≤13) could never leave local
  * disk.
  *
  * == Commit story where rename is not atomic ==
  *
  * Object stores give you ONE atomic primitive: single-object PUT
  * (visible in full at close, never partially). Directory rename is a
  * client-side copy+delete. The catalog therefore never relies on a
  * multi-file rename for correctness:
  *
  *  - '''Table rewrites ([[compact]]) commit via a generation
  *    pointer''', not a directory swap: the rewrite job writes a
  *    complete new `data-<n+1>` directory, then commits by rewriting
  *    the single `gen.json` object to name it — one atomic PUT. There
  *    is NO window where the table resolves to a missing or
  *    half-renamed directory (the rounds-≤13 rename-swap had one).
  *    The old generation is deleted after the flip (readers mid-scan
  *    on a pre-flip plan can race that delete — same caveat as every
  *    non-snapshot warehouse).
  *  - '''Appends publish per-file + a commit marker''': each staged
  *    part file appears atomically under its final
  *    `<key>-<n>.parquet` name (single-object rename on HDFS/file://,
  *    copy+PUT on S3 — either way per-FILE atomic), then one
  *    `commits/<key>.json` marker (atomic PUT) commits the batch as a
  *    whole. Every [[read]] is batch-atomic: it lists the data files
  *    and keeps only (a) rewrite output (`part-*`, committed
  *    atomically by the generation flip) and (b) append files whose
  *    key has a published marker. A crash between file publish and
  *    marker PUT leaves the partial batch invisible — to queries and
  *    to the [[compact]] rewrite, which reads through
  *    [[read]] — until the queue redelivers and the idempotent
  *    republish completes it; a dead-lettered batch stays invisible.
  *
  * Layout: a table is one flat parquet dir per generation; nothing here
  * assumes a single file or a single node.
  */
final class GraftCatalog(val spark: SparkSession, val root: String) {

  private val hconf = spark.sessionState.newHadoopConf()
  private def fsOf(p: HPath): FileSystem = p.getFileSystem(hconf)

  private def tableDir(db: String, table: String): HPath =
    new HPath(new HPath(new HPath(root), db), table)
  private def schemaFile(db: String, table: String): HPath =
    new HPath(tableDir(db, table), "schema.json")
  private def genFile(db: String, table: String): HPath =
    new HPath(tableDir(db, table), "gen.json")
  private def statsFile(db: String, table: String): HPath =
    new HPath(tableDir(db, table), "stats.json")
  private def commitsDir(db: String, table: String): HPath =
    new HPath(tableDir(db, table), "commits")

  // ---- tiny FS helpers (driver-side metadata ops) ------------------

  private def exists(p: HPath): Boolean = fsOf(p).exists(p)

  /** Whole-object write with a per-store atomic-replace commit.
    *
    * The r14 code committed every sidecar with `fs.create(p, true)` —
    * truncate-in-place. That is atomic on object stores (PUT at close)
    * but on `file://` a concurrent reader can see a truncated sidecar,
    * and Hadoop's ChecksumFileSystem will happily SERVE the torn bytes
    * with no exception when the `.crc` is gone mid-rewrite — observed
    * as a dead-lettered copy job in the r14 full suite. The obvious
    * temp+`fs.rename` fix does NOT exist in the FileSystem API: its
    * rename contract refuses an existing destination (measured: this
    * classpath's local FS returns false, as do HDFS and S3A), and
    * delete-then-rename swaps the torn window for a MISSING one that
    * poisons every `exists()` guard. So the commit primitive is chosen
    * per scheme, best available first:
    *
    *  - `file://`: write a unique temp in the same directory, then
    *    `java.nio` ATOMIC_MOVE — the POSIX atomic replace the Hadoop
    *    API refuses to expose. Readers see the old object or the new,
    *    never a prefix, never absence; a crash leaves the old sidecar
    *    intact. The destination's stale `.crc` is deleted FIRST (and
    *    none is written for the new content): sidecar integrity is
    *    enforced by [[readJson]]'s whole-document parse, not by
    *    block checksums that can't span a swap.
    *  - `hdfs://`: temp + FileContext rename with OVERWRITE — an
    *    atomic NameNode op.
    *  - everything else (object stores): direct create — the PUT at
    *    close IS the atomic replace.
    *
    * [[readJson]]'s parse-inside-retry backstops all three: any
    * store that still manages to surface a torn prefix fails the
    * parse (a proper prefix of a JSON document is never valid JSON)
    * and is re-read. */
  private def writeString(p: HPath, s: String): Unit = {
    val fs = fsOf(p)
    val scheme = Option(fs.getUri.getScheme).getOrElse("file")
    val bytes = s.getBytes("UTF-8")
    if (scheme == "file") {
      import java.nio.file.{Files, Paths, StandardCopyOption}
      val dir = Paths.get(p.getParent.toUri.getPath)
      Files.createDirectories(dir)
      val dst = dir.resolve(p.getName)
      val tmp = dir.resolve(
        s".${p.getName}.tmp-${java.util.UUID.randomUUID().toString.take(8)}")
      Files.write(tmp, bytes)
      // drop the stale checksum before the swap: ChecksumFileSystem
      // would otherwise verify NEW bytes against the OLD .crc forever
      Files.deleteIfExists(dir.resolve(s".${p.getName}.crc"))
      Files.move(tmp, dst, StandardCopyOption.ATOMIC_MOVE,
        StandardCopyOption.REPLACE_EXISTING)
    } else if (scheme == "hdfs") {
      val tmp = new HPath(p.getParent,
        s".${p.getName}.tmp-${java.util.UUID.randomUUID().toString.take(8)}")
      val out = fs.create(tmp, true)
      try out.write(bytes) finally out.close()
      org.apache.hadoop.fs.FileContext.getFileContext(p.toUri, hconf)
        .rename(tmp, p, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
    } else {
      val out = fs.create(p, true)
      try out.write(bytes) finally out.close()
    }
  }

  /** Whole-object read with a bounded retry: a checksummed local FS
    * can race a sidecar swap into an EOF/ChecksumException for a few
    * ms (old `.crc` against new bytes). Sidecar writes are small and
    * serialized, so short retries absorb the window; a genuinely
    * corrupt object still fails after the final read. */
  private def readString(p: HPath): String = {
    var attempt = 0
    while (true) {
      try {
        val in = fsOf(p).open(p)
        try return new String(in.readAllBytes(), "UTF-8") finally in.close()
      } catch {
        case e @ (_: java.io.EOFException | _: org.apache.hadoop.fs.ChecksumException) =>
          attempt += 1
          if (attempt >= 4) throw e
          Thread.sleep(25L * attempt)
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Sidecar read+parse with the PARSE inside the bounded retry:
    * ChecksumFileSystem can serve a torn file with NO read exception
    * (it logs "Ignoring exception" when the `.crc` fails to open and
    * falls back to the raw stream), so JSON well-formedness is the
    * only reliable torn-read detector on `file://`. Every sidecar is
    * a complete JSON document, so a clean parse proves a clean read;
    * a parse failure within the retry budget is treated as a torn
    * read and re-fetched with backoff. */
  private def readJson(p: HPath): graft.functions.JValue = {
    var attempt = 0
    while (true) {
      val s = readString(p)
      try return graft.functions.JValue.parse(s)
      catch {
        case e: Exception =>
          attempt += 1
          if (attempt >= 4) throw new java.io.IOException(
            s"sidecar $p unparseable after $attempt reads: ${e.getMessage}", e)
          Thread.sleep(30L * attempt)
      }
    }
    throw new IllegalStateException("unreachable")
  }


  /** The dir's .parquet files (tables are flat), listed with one
    * `listStatus`. The located-status iterator builds a
    * `LocatedFileStatus` per file, which copies its permissions — on a
    * local FS without native Hadoop IO that forks one `stat` process per
    * file (measured: 300 files 894 ms, against 7 ms for a plain list). */
  private def parquetStatuses(dir: HPath): Seq[FileStatus] = {
    val fs = fsOf(dir)
    if (!fs.exists(dir)) Nil
    else fs.listStatus(dir).toSeq
      .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
  }

  private def parquetFiles(dir: HPath): Seq[HPath] = parquetStatuses(dir).map(_.getPath)

  /** Seed column the reference creates every table with
    * (pkg/destinations/duckdb/insert.go:72-76). */
  val RowIdColumn = "__row_id"

  def tableExists(db: String, table: String): Boolean = exists(schemaFile(db, table))

  def listTables(db: String): Seq[String] = {
    val d = new HPath(new HPath(root), db)
    val fs = fsOf(d)
    if (!fs.exists(d)) Nil
    else fs.listStatus(d).toSeq
      .filter(st => st.isDirectory && fs.exists(new HPath(st.getPath, "schema.json")))
      .map(_.getPath.getName).sorted
  }

  /** CREATE TABLE IF NOT EXISTS with the __row_id seed column. */
  def ensureTable(db: String, table: String): Unit = synchronized {
    if (!tableExists(db, table)) {
      fsOf(tableDir(db, table)).mkdirs(dataDir(db, table))
      writeSchema(db, table, Vector(RowIdColumn -> TypeLattice.Int))
    }
  }

  /** ALTER TABLE ADD COLUMN IF NOT EXISTS, per column. Conflicting
    * re-adds keep the existing type (backend semantics). */
  def addColumns(db: String, table: String, types: Map[String, String]): Unit = synchronized {
    ensureTable(db, table)
    // fail loud on a type outside the lattice — the sidecar reader
    // would otherwise silently coerce it to string (and e.g. compare
    // numerically-intended values in lexicographic order)
    val bad = types.collect {
      case (n, t) if !Set(TypeLattice.String, TypeLattice.Int,
        TypeLattice.Float, TypeLattice.Bool).contains(t) => s"$n: $t"
    }
    require(bad.isEmpty, s"unknown lattice type(s): ${bad.mkString(", ")} " +
      "(valid: string, int, float, bool)")
    val existing = readSchemaSeq(db, table)
    val have = existing.map(_._1).toSet
    val added = types.toSeq.sortBy(_._1).filterNot { case (n, _) => have.contains(n) }
    if (added.nonEmpty) writeSchema(db, table, existing ++ added)
  }

  def schemaOf(db: String, table: String): Map[String, String] = readSchemaSeq(db, table).toMap

  def structOf(db: String, table: String): StructType =
    StructType(readSchemaSeq(db, table).map { case (n, t) =>
      StructField(n, TypeLattice.toSparkType(t), nullable = true)
    })

  // ---- data generations (the rewrite commit point) -----------------

  /** The table's CURRENT data directory: `data` until the first
    * rewrite, then whatever generation `gen.json` names. Reading the
    * pointer is one small GET per metadata op — noise next to any
    * actual scan, and what makes the rewrite commit a single atomic
    * object write. */
  private def dataDir(db: String, table: String): HPath = {
    import graft.functions.JValue, graft.functions.JValue._
    val gf = genFile(db, table)
    val name =
      if (!exists(gf)) "data"
      else readJson(gf) match {
        case o: JObj => o.get("dir").collect { case JStr(s) => s }.getOrElse("data")
        case other => throw new IllegalStateException(s"bad gen sidecar: $other")
      }
    new HPath(tableDir(db, table), name)
  }

  private def genNumber(dirName: String): Int =
    if (dirName == "data") 0 else dirName.stripPrefix("data-").toInt

  // ---- per-table ingest dedup policy ------------------------------

  private def dedupFile(db: String, table: String): HPath =
    new HPath(tableDir(db, table), "dedup.json")

  /** Where the table's dedup index lives: two raw parquet dirs (bands,
    * sigs) under the table dir — internal state, not user tables. */
  def dedupIndexDir(db: String, table: String): HPath =
    new HPath(tableDir(db, table), "dedup_index")

  def setDedupPolicy(db: String, table: String,
                     policy: GraftCatalog.DedupPolicy): Unit = synchronized {
    ensureTable(db, table)
    require(policy.mode == "tag" || policy.mode == "drop",
      s"dedup mode must be tag|drop: ${policy.mode}")
    require(policy.params.method == "minhash" || policy.params.method == "semantic",
      s"dedup method must be minhash|semantic: ${policy.params.method}")
    // fail FAST on a convention change under a live index: signatures
    // from different kernels/params are not mutually comparable — a
    // mismatched probe would silently pass every duplicate as novel
    storedIndexParams(db, table).foreach { stored =>
      val want = policy.params
      if (stored != want) throw new IllegalStateException(
        s"dedup index for $db.$table was built under $stored; new policy " +
          s"wants $want — clear or rebuild the index before changing the convention")
    }
    writeString(dedupFile(db, table),
      s"""{"textCol":${quote(policy.textCol)},"mode":${quote(policy.mode)},""" +
        s""""threshold":${policy.threshold},""" + policy.params.json + "}")
  }

  def dedupPolicyOf(db: String, table: String): Option[GraftCatalog.DedupPolicy] = {
    import graft.functions.JValue, graft.functions.JValue._
    if (!exists(dedupFile(db, table))) None
    else readJson(dedupFile(db, table)) match {
      case o: JObj =>
        Some(GraftCatalog.DedupPolicy(
          o.get("textCol").collect { case JStr(s) => s }.get,
          o.get("mode").collect { case JStr(s) => s }.getOrElse("tag"),
          o.get("threshold").collect { case JNum(n) => n.toDouble }.getOrElse(0.7),
          GraftCatalog.DedupParams.fromJson(o)))
      case other => throw new IllegalStateException(s"bad dedup sidecar: $other")
    }
  }

  /** The convention the table's stored index was BUILT under —
    * persisted in `dedup_index/params.json` when the index is first
    * written and required to match the policy at every probe. None
    * when the index has no sidecar yet. */
  def storedIndexParams(db: String, table: String): Option[GraftCatalog.DedupParams] = {
    import graft.functions.JValue, graft.functions.JValue._
    val f = new HPath(dedupIndexDir(db, table), "params.json")
    if (!exists(f)) None
    else readJson(f) match {
      case o: JObj => Some(GraftCatalog.DedupParams.fromJson(o))
      case other => throw new IllegalStateException(s"bad index params sidecar: $other")
    }
  }

  /** Append via a per-call staging directory + rename publish.
    *
    * A plain `mode("append")` into the shared data dir is unsafe under
    * the worker pool: concurrent Spark write jobs share the
    * committer's `_temporary/0` under the output path, so one job's
    * commit sweeps the other's finished task files into the table and
    * its cleanup deletes the rival's in-flight staging. The
    * sustained-ingest probe that motivated this (BENCH_LOCAL.md,
    * "IngestProbe: sustained HTTP→queryable rate + the committer
    * race") surfaced both faces at once — racing loads dying with
    * "_temporary/0 does not exist" AND ~15k duplicate rows published
    * by the winners' commits before the losers retried.
    *
    * Each call therefore writes (mode=overwrite) into its own
    * `.stage/<key>` directory — committer isolation — then renames the
    * part files into the current data generation as
    * `<key>-<n>.parquet` and commits the batch with a
    * `commits/<key>.json` marker (see class doc). With
    * the default random key, concurrent appends can never collide.
    * Queue-driven callers pass their QUEUE JOB ID as `jobKey`: the
    * publish step first deletes any `<key>-*` files an earlier attempt
    * of the same job landed, so an at-least-once redelivery converges
    * to exactly-once publication instead of duplicating rows.
    *
    * The Spark write job runs unsynchronized (concurrent loads are the
    * point); only the driver-side publish takes the per-table lock, so
    * a publish can never interleave with a [[compact]] rewrite IN
    * THIS DRIVER — the publish resolves the generation
    * under the lock and lands in whichever generation is current
    * after any concurrent rewrite commits. Cross-driver, serialize
    * rewrites against ingest through the control-plane queue (same
    * rule as the reference's backends).
    *
    * Returns the appended row count, summed from the published files'
    * parquet footers (which the stats update reads anyway); only when
    * that footer read fails is `df` counted, a second pass over the
    * input. */
  def append(db: String, table: String, df: DataFrame,
             jobKey: Option[String] = None): Long = {
    val target = structOf(db, table)
    val present = df.columns.toSet
    val projected = df.select(target.fields.toIndexedSeq.map { f =>
      if (present.contains(f.name)) col(f.name).cast(f.dataType).as(f.name)
      else lit(null).cast(f.dataType).as(f.name)
    }: _*)
    // arbitrary caller keys (queue ids, file paths) → fixed-width hex
    val key = jobKey match {
      case Some(k) =>
        val md = java.security.MessageDigest.getInstance("SHA-256")
        md.digest(k.getBytes("UTF-8")).take(16).map("%02x".format(_)).mkString
      case None => java.util.UUID.randomUUID().toString.replace("-", "")
    }
    val stage = new HPath(new HPath(tableDir(db, table), ".stage"), key)
    projected.write.mode("overwrite").parquet(stage.toString)
    val footerRows = lockFor(db, table).synchronized {
      publishStage(stage, dataDir(db, table), db, table, key)
    }
    footerRows.getOrElse(df.count())
  }

  /** Rename-publish a staged write into the data dir (see [[append]]):
    * idempotent per key — the previous attempt's marker and published
    * files are removed first, then the staged part files move in under
    * deterministic `<key>-<n>.parquet` names (each move is per-FILE
    * atomic: rename on HDFS/file://, copy+PUT on object stores), and
    * the batch COMMITS with one atomic marker write. Crash anywhere
    * before the marker → readers never saw the batch and the
    * redelivered job republishes from scratch. Returns the batch's
    * footer row count, None when the footers could not be read. */
  private def publishStage(stage: HPath, data: HPath, db: String,
                           table: String, key: String): Option[Long] = {
    val fs = fsOf(data)
    fs.mkdirs(data)
    val marker = new HPath(commitsDir(db, table), s"$key.json")
    // retry of a COMPLETED earlier attempt: the old marker's stats
    // contribution is NOT arithmetically backed out — the stats update
    // below goes through the recompute-from-markers arm whenever the
    // key set changed in any way this driver didn't witness, and a
    // same-key republish is exactly that case
    val isRetry = exists(marker)
    fs.delete(marker, false) // retry: uncommit before touching files
    committedCache.remove(db + "/" + table)
    val prefix = key + "-"
    parquetFiles(data).filter(_.getName.startsWith(prefix))
      .foreach(p => fs.delete(p, false))
    val staged = parquetFiles(stage).sortBy(_.toString)
    val published = staged.zipWithIndex.map { case (src, i) =>
      val dest = new HPath(data, s"$key-$i.parquet")
      fs.delete(dest, false)
      if (!fs.rename(src, dest))
        throw new java.io.IOException(s"publish rename failed: $src -> $dest")
      dest.getName
    }
    fs.mkdirs(commitsDir(db, table))
    // Measured stats: the batch's footer totals ride IN the marker, so
    // the marker set is always a complete ledger of post-rewrite
    // contributions — stats.json is DERIVED state the update below
    // (and any reader) can recompute from it.
    val footers = try Some(footerStats(published.map(new HPath(data, _))))
    catch { case _: Exception => None } // stats are advisory
    val (bRows, bBytes) = footers.getOrElse((0L, 0L))
    writeString(marker,
      published.map(quote).mkString("""{"files":[""", ",", """],""") +
        s""""rows":$bRows,"bytes":$bBytes}""")
    committedCache.remove(db + "/" + table)
    // stats AFTER the commit marker: the marker is the ground truth
    // the ksum check below verifies against, so it must be listable
    // before stats claim to cover it
    try updateStatsAfterPublish(db, table, key, bRows, bBytes, isRetry)
    catch { case _: Exception => () } // stats are advisory
    // best-effort staging cleanup (stray _SUCCESS/_temporary markers)
    try fs.delete(stage, true) catch { case _: Exception => () }
    footers.map(_._1)
  }

  // ---- measured table statistics -----------------------------------
  //
  // A parquet scan's planner estimate is the COMPRESSED file size —
  // for text/array tables a 10–100× undercount that lets the static
  // planner broadcast a "small" warehouse table whose decoded form is
  // hundreds of MB PER EXECUTOR (the same failure the r14 pin-stats
  // work killed for checkpoints). The catalog is the one component
  // that sees every byte it publishes, so it keeps a `stats.json`
  // sidecar of (row count, decoded byte size) summed from the parquet
  // FOOTERS of committed files — driver-side metadata reads, a few ms
  // per batch — and [[read]] installs them as table-level statistics.
  // The numbers are exact under normal operation (footers are the
  // ground truth for what was published). stats.json is DERIVED
  // state over two primaries — the last rewrite's base totals and
  // the commit markers' per-batch (rows, bytes) — and records the
  // XOR fingerprint (`ksum`) of the marker keys it covers, so a read
  // that finds the fingerprint stale (another DRIVER appended; a
  // crash landed between marker and stats; a concurrent write lost an
  // increment) recomputes from the markers and heals the sidecar in
  // place. A rewrite ([[compact]]) resets a clean base
  // from the new generation's footers from scratch.

  /** (rows, decodedBytes) summed over the files' parquet footers.
    * `getTotalByteSize` is the encoded-uncompressed block size — not
    * Spark's in-memory row width, but within small factors of it,
    * versus the 10–100× compression undercount it replaces. */
  private def footerStats(files: Seq[HPath]): (Long, Long) = {
    import scala.jdk.CollectionConverters._
    var rows = 0L; var bytes = 0L
    files.foreach { f =>
      val rd = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(f, hconf))
      try rd.getFooter.getBlocks.asScala.foreach { b =>
        rows += b.getRowCount; bytes += b.getTotalByteSize
      } finally rd.close()
    }
    (rows, bytes)
  }

  /** Measured (rows, decodedBytes) of the table, if the catalog has
    * published stats for it (tables written before r15 have none
    * until their next rewrite).
    *
    * CROSS-DRIVER SAFE since r16: stats.json records the XOR-hash
    * (`ksum`) of the marker-key set it covers, plus the last rewrite's
    * base totals. The read verifies the stored ksum against the LIVE
    * committed-key set (O(1) via the mtime-cached [[committedKeys]]);
    * a mismatch — another driver published, a lost RMW increment, a
    * crash between marker and stats, a file without a ksum — triggers
    * a recompute from the markers' own per-batch (rows, bytes) ledger
    * and a heal-write. */
  def tableStats(db: String, table: String): Option[(Long, Long)] =
    tableStats(db, table, committedKeys(db, table))

  /** `keys`: the committed-key set the totals must cover — the one the
    * caller's read just listed. */
  private def tableStats(db: String, table: String,
                         keys: Set[String]): Option[(Long, Long)] =
    readStatsFile(db, table).map { case (rows, bytes, baseR, baseB, ks) =>
      if (ks.contains(ksumOf(keys))) (rows, bytes)
      else {
        val (mr, mb) = sumMarkers(db, table, keys)
        val healed = (math.max(0L, baseR + mr), math.max(0L, baseB + mb))
        try writeStats(db, table, healed._1, healed._2, baseR, baseB, ksumOf(keys))
        catch { case _: Exception => () } // advisory — serve it anyway
        healed
      }
    }

  /** Raw stats sidecar: (rows, bytes, baseRows, baseBytes, ksum).
    * `base*` are the last rewrite's footer totals — the contribution
    * NOT represented by any commit marker; `ksum` is the XOR of
    * [[keyHash]] over the marker keys the totals cover (None when the
    * file has none, which verifies against no key set). */
  private def readStatsFile(db: String, table: String)
      : Option[(Long, Long, Long, Long, Option[Long])] = {
    import graft.functions.JValue._
    val f = statsFile(db, table)
    if (!exists(f)) None
    else readJson(f) match {
      case o: JObj =>
        def num(k: String) = o.get(k).collect { case JNum(raw) => raw.toLong }.getOrElse(0L)
        val ksum = o.get("ksum").collect { case JStr(h) =>
          java.lang.Long.parseUnsignedLong(h, 16) }
        Some((num("rows"), num("bytes"), num("base_rows"), num("base_bytes"), ksum))
      case _ => None
    }
  }

  private def writeStats(db: String, table: String, rows: Long, bytes: Long,
                         baseRows: Long, baseBytes: Long, ksum: Long): Unit =
    writeString(statsFile(db, table),
      s"""{"rows":${math.max(0L, rows)},"bytes":${math.max(0L, bytes)},""" +
        s""""base_rows":${math.max(0L, baseRows)},"base_bytes":${math.max(0L, baseBytes)},""" +
        s""""ksum":"${java.lang.Long.toHexString(ksum)}"}""")

  /** FNV-1a 64 over the key string — stable across JVMs (stats files
    * outlive drivers), unlike String.hashCode's 32 bits. */
  private def keyHash(s: String): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < s.length) { h ^= s.charAt(i).toLong; h *= 0x100000001b3L; i += 1 }
    h
  }

  /** Order-independent set fingerprint: XOR of key hashes (empty set
    * → 0, matching a fresh-rewrite stats file with no markers). */
  private def ksumOf(keys: Set[String]): Long =
    keys.foldLeft(0L)((acc, k) => acc ^ keyHash(k))

  /** Σ (rows, bytes) over the given markers' recorded footer totals —
    * the O(|markers|) recompute arm; only runs on retry or when
    * another driver's publish made the incremental value stale. */
  private def sumMarkers(db: String, table: String,
                         keys: Set[String]): (Long, Long) = {
    import graft.functions.JValue._
    var rows = 0L; var bytes = 0L
    keys.foreach { k =>
      try readJson(new HPath(commitsDir(db, table), s"$k.json")) match {
        case o: JObj =>
          def num(f: String) = o.get(f).collect { case JNum(raw) => raw.toLong }.getOrElse(0L)
          rows += num("rows"); bytes += num("bytes")
        case _ => ()
      } catch { case _: Exception => () } // marker raced away: advisory
    }
    (rows, bytes)
  }

  /** The publish-side stats update (called AFTER the marker commit,
    * under this driver's table lock). Fast path: if the prior stats
    * file covered exactly the pre-publish key set (ksum check) and
    * this is not a same-key retry, increment. Anything else — another
    * driver's marker landed, a retry replaced a key's contribution, a
    * missing file or one without a ksum — recomputes from the marker
    * ledger, which by construction includes every concurrent
    * publisher's committed batch. Two drivers racing this write can
    * still last-writer-win a stale VALUE, but never a stale value with
    * a CURRENT ksum, so the next [[tableStats]] read detects and heals
    * it. */
  private def updateStatsAfterPublish(db: String, table: String, key: String,
                                      bRows: Long, bBytes: Long,
                                      isRetry: Boolean): Unit = {
    val keys = committedKeys(db, table)
    readStatsFile(db, table) match {
      case Some((r, b, baseR, baseB, Some(ks)))
          if !isRetry && ks == (ksumOf(keys) ^ keyHash(key)) =>
        writeStats(db, table, r + bRows, b + bBytes, baseR, baseB, ksumOf(keys))
      case other =>
        val (baseR, baseB) = other.map(t => (t._3, t._4)).getOrElse((0L, 0L))
        val (mr, mb) = sumMarkers(db, table, keys)
        writeStats(db, table, baseR + mr, baseB + mb, baseR, baseB, ksumOf(keys))
    }
  }

  /** Committed-key cache for reads: (dir mtime, time the list ran,
    * keys). A `read` at 10⁵ accumulated batches would
    * otherwise pay a full LIST of `commits/` per query — on an object
    * store that is the read path's dominant metadata cost. One
    * `getFileStatus` mtime probe replaces the LIST when nothing
    * changed. Invalidation is belt-and-braces: driver-local writers
    * ([[publishStage]], [[compact]]) drop the entry directly;
    * cross-driver writers are caught by the mtime probe. The cache is
    * only SERVED when the recorded mtime is older than the moment we
    * listed by at least `graft.commits.mtimeSlackMs` (default 2000 ms)
    * — a marker landing in the same mtime GRANULE as the list would
    * leave the mtime unchanged, and granularity is a property of the
    * store (ms on ext4, a full second on some filesystems, plus NN
    * clock skew on HDFS), so "strictly older" with this driver's ms
    * clock is not enough: such entries re-list until the granule
    * passes. Stores whose directory mtime is synthetic (S3A reports 0)
    * never hit the cache — there `compact` (which clears all markers)
    * is the lever that bounds marker count. */
  private val committedCache =
    new java.util.concurrent.ConcurrentHashMap[String, (Long, Long, Set[String])]()
  /** Test seam: count of full `commits/` LISTs actually performed. */
  private[graft] val commitListCalls = new java.util.concurrent.atomic.AtomicLong()

  /** The batch keys with a published commit marker. */
  def committedKeys(db: String, table: String): Set[String] = {
    val d = commitsDir(db, table)
    val fs = fsOf(d)
    val st = try fs.getFileStatus(d)
             catch { case _: java.io.FileNotFoundException => return Set.empty }
    val ck = db + "/" + table
    val mtime = st.getModificationTime
    val slackMs = GraftConf.long(spark, "graft.commits.mtimeSlackMs", 2000L)
    val cached = committedCache.get(ck)
    if (cached != null && mtime > 0 && cached._1 == mtime &&
        cached._2 - cached._1 > slackMs)
      return cached._3
    commitListCalls.incrementAndGet()
    val listedAt = System.currentTimeMillis()
    val keys = fs.listStatus(d).iterator
      .map(_.getPath.getName).filter(_.endsWith(".json"))
      .map(_.stripSuffix(".json")).toSet
    if (mtime > 0) committedCache.put(ck, (mtime, listedAt, keys))
    keys
  }

  /** Read the table under its full sidecar schema. Batch-atomic: rewrite
    * output (`part-*`, committed wholesale by the generation flip) plus
    * only marker-committed append batches (class doc). */
  def read(db: String, table: String): DataFrame = read(db, table, snapshot(db, table))

  private def read(db: String, table: String, snap: GraftCatalog.Snapshot): DataFrame = {
    val struct = structOf(db, table)
    if (snap.files.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], struct)
    else {
      val df = spark.read.schema(struct).option("basePath", snap.data.toString)
        .parquet(snap.files.map(_.getPath.toString): _*)
      // install measured statistics (decoded bytes + row count from the
      // publish-time footers) so size-based planning — broadcast above
      // all — decides on true bytes, not the compressed file size
      tableStats(db, table, snap.committed) match {
        case Some((rows, bytes)) if bytes > 0 =>
          scala.util.Try(org.apache.spark.sql.graft.Bridge.withTableStats(
            df, db, table, BigInt(bytes), Some(BigInt(rows)))).getOrElse(df)
        case _ => df
      }
    }
  }

  /** One listing of what a [[read]] scans: the current generation, its
    * committed keys, and the generation's files less the append files
    * whose batch has no marker. Append batches publish as
    * `<32-hex-key>-<n>.parquet`; anything else in the generation came
    * from a rewrite job and was committed by the `gen.json` flip. */
  private def snapshot(db: String, table: String): GraftCatalog.Snapshot = {
    val data = dataDir(db, table)
    val committed = committedKeys(db, table)
    GraftCatalog.Snapshot(data, committed, parquetStatuses(data).filter { st =>
      st.getPath.getName match {
        case GraftCatalog.KeyedName(k) => committed.contains(k)
        case _ => true
      }
    })
  }

  /** Small-file compaction (maintenance op). The rotation-based ingest
    * path writes one parquet part per NDJSON batch — at warehouse scale
    * that accretes tiny files until scan PLANNING (listing + footer
    * reads) dominates query time. One distributed job rewrites the
    * data into a NEW generation directory, then commits it with one
    * atomic `gen.json` write (class doc) — no rename window on any
    * store. Holds the per-table lock for the whole rewrite so no
    * publish in this driver can land in the old generation after the
    * rewrite job has planned its input (such rows would vanish with the
    * old generation's cleanup). Returns (files before, files after). */
  def compact(db: String, table: String,
              targetFileBytes: Long = 128L << 20): (Int, Int) =
    lockFor(db, table).synchronized {
      val tdir = tableDir(db, table)
      val fs = fsOf(tdir)
      val cur = dataDir(db, table)
      val parts = parquetStatuses(cur)
      if (parts.length <= 1) return (parts.length, parts.length)
      val totalBytes = parts.map(_.getLen).sum
      val nOut = math.max(1, math.ceil(totalBytes.toDouble / targetFileBytes).toInt)
      val nextName = s"data-${genNumber(cur.getName) + 1}"
      val next = new HPath(tdir, nextName)
      fs.delete(next, true)
      read(db, table).repartition(nOut).write.mode("overwrite").parquet(next.toString)
      // COMMIT: one atomic object write flips every future read to the
      // new generation
      writeString(genFile(db, table), s"""{"dir":${quote(nextName)}}""")
      // the rewrite output is committed by the flip; the old
      // generation's per-batch markers no longer describe live files
      val cd = commitsDir(db, table)
      if (fs.exists(cd)) fs.listStatus(cd).foreach(st => fs.delete(st.getPath, false))
      committedCache.remove(db + "/" + table)
      fs.delete(cur, true)
      // any other generation dir is left over from a rewrite that died
      // after its flip but before this delete, and no reader resolves it
      val GenName = "data(-\\d+)?".r
      fs.listStatus(tdir).foreach { st =>
        val n = st.getPath.getName
        if (st.isDirectory && GenName.matches(n) && n != nextName)
          fs.delete(st.getPath, true)
      }
      val nextFiles = parquetFiles(next)
      // stats heal-point: recompute from the new generation's footers
      // from scratch (crash-skewed increments from past appends die here)
      // markers were just cleared → the new base covers everything and
      // the covered-key fingerprint is the empty set's (0)
      try { val (r, b) = footerStats(nextFiles)
            writeStats(db, table, r, b, r, b, 0L) }
      catch { case _: Exception => () } // advisory
      (parts.length, nextFiles.length)
    }

  /** Append honoring the table's [[GraftCatalog.DedupPolicy]] — the
    * ONE policy-aware entry of the ingest path (every load goes through
    * Loader): no policy, or a batch without the text column,
    * is a plain [[append]]; otherwise the batch probes the table's
    * stored MinHash band index (batch-sized work, never corpus-sized
    * — [[graft.operators.Dedup.minhashIncrementalAgainst]]), near-dups
    * are tagged `__is_dup`/`__dup_of` or dropped, and ONLY survivors'
    * band/sig rows join the index — re-ingesting a document any
    * number of times grows the index once, upgrading at-least-once
    * delivery to effectively-once. Returns appended row count.
    *
    * `jobKey` (the queue job id for worker-driven loads) keys the
    * PLAIN append paths' idempotent publish (see [[append]]). The
    * dedup paths stay keyless on purpose: a retried job's survivor set
    * is NOT the original batch (the index now knows attempt 1's
    * survivors, so the retry's survivors are empty) — a key-based
    * republish there would delete attempt 1's published rows and
    * replace them with nothing. Their retry convergence is the
    * content-level index probe itself. */
  def appendWithPolicy(db: String, table: String, df: DataFrame,
                       jobKey: Option[String] = None): Long =
    dedupPolicyOf(db, table) match {
      case Some(p) if df.columns.contains(p.textCol) =>
        if (p.params.method == "semantic") appendDedupedSemantic(db, table, df, p)
        else appendDeduped(db, table, df, p)
      case Some(p) =>
        // policy-bearing table taking the PLAIN append path (batch
        // lacks the text column — usually a typo'd text_col): count
        // it so the downgrade from effectively-once is observable
        policyBypassCount.incrementAndGet()
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          s"table $db.$table has a dedup policy on '${p.textCol}' but the " +
            "batch lacks that column; appending WITHOUT dedup")
        append(db, table, df, jobKey)
      case None =>
        append(db, table, df, jobKey)
    }

  /** Batches appended to a policy-bearing table WITHOUT the probe
    * because the text column was absent (see [[appendWithPolicy]]). */
  val policyBypassCount = new java.util.concurrent.atomic.AtomicLong(0)

  // appendDeduped and compactDedupIndex serialize per (db, table):
  // two concurrent batches would otherwise both probe before either
  // appends its survivors (concurrent near-dups all surviving), and a
  // batch racing the compactor's non-atomic dir swap would find no
  // index and skip the probe entirely
  private val tableLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private def lockFor(db: String, table: String): Object =
    tableLocks.computeIfAbsent(s"$db/$table", _ => new Object)

  /** Cross-driver lease store. The JVM lock above only serializes
    * batches INSIDE this driver; a warehouse shared by several drivers
    * (or several GraftCatalog instances) needs a metastore lease or
    * two drivers' batches can both probe before either appends — every
    * concurrent near-dup survives. GraftServer wires its MetaStore in;
    * embedders running a single catalog instance may leave it None. */
  @volatile var leaseStore: Option[graft.control.LeaseStore] = None
  /** This driver's lease identity (stable for the catalog's lifetime). */
  val leaseHolder: String = java.util.UUID.randomUUID().toString
  /** Lease TTL: generous — it only bounds how long a CRASHED driver
    * can block the table, not how long a healthy append may run
    * (healthy holders keep the row until release). */
  @volatile var leaseTtlMs: Long = 10 * 60 * 1000L
  /** How long an append waits for a contended lease before failing the
    * batch back to the (at-least-once) queue for redelivery. */
  @volatile var leaseWaitMs: Long = 5 * 60 * 1000L

  /** Per-(db, table) critical section: JVM lock always; metastore
    * lease additionally when wired. Lock order (JVM then lease) is
    * deadlock-free — the lease is only ever taken while holding the
    * JVM lock for the same key. */
  private def withTableLease[T](db: String, table: String)(body: => T): T =
    lockFor(db, table).synchronized {
      leaseStore match {
        case None => body
        case Some(ls) =>
          val name = s"dedup/$db/$table"
          val deadline = System.currentTimeMillis() + leaseWaitMs
          var tok = ls.acquireLease(name, leaseHolder, leaseTtlMs)
          while (tok.isEmpty && System.currentTimeMillis() < deadline) {
            Thread.sleep(50)
            tok = ls.acquireLease(name, leaseHolder, leaseTtlMs)
          }
          if (tok.isEmpty) throw new IllegalStateException(
            s"could not acquire ingest-dedup lease '$name' within ${leaseWaitMs} ms " +
              "— another driver holds it; nack the batch for redelivery")
          try body finally ls.releaseLease(name, leaseHolder)
      }
    }

  /** The policy-gated append. The id-stamped batch is pinned
    * (localCheckpoint) before probing: snowflake ids are time-derived,
    * so an unpinned plan recomputed between the probe and the append
    * could re-stamp rows. */
  private def appendDeduped(db: String, table: String, df: DataFrame,
                            policy: GraftCatalog.DedupPolicy): Long = withTableLease(db, table) {
    val idCol = RowIdColumn
    val pr = policy.params
    // streaming batches arrive without row ids; batch loads pre-stamp
    val stamped =
      if (df.columns.contains(idCol)) df
      else df.withColumn(idCol, graft.functions.NativeExpressions.snowflake_id())
    val batch = stamped.transform(graft.util.Checkpoints.pin)
    val dir = dedupIndexDir(db, table)
    val (bandsPath, sigsPath) = (new HPath(dir, "bands"), new HPath(dir, "sigs"))
    val haveIndex = exists(bandsPath)
    // refuse a probe under a convention the index was not built with:
    // cross-kernel signatures share no buckets, so the mismatch would
    // not error — it would pass EVERY duplicate as novel
    storedIndexParams(db, table).foreach { stored =>
      if (stored != pr) throw new IllegalStateException(
        s"dedup index for $db.$table was built under $stored but the policy " +
          s"probes with $pr — rebuild the index or restore the original params")
    }

    val indexVerdicts =
      if (!haveIndex)
        batch.select(col(idCol), lit(false).as("__ix_dup"),
          lit(null).cast("long").as("__ix_of"))
      else {
        val index = graft.operators.Dedup.MinhashIndex(
          spark.read.parquet(bandsPath.toString),
          spark.read.parquet(sigsPath.toString))
        graft.operators.Dedup.minhashIncrementalAgainst(
          index, batch, idCol, policy.textCol,
          shingleK = pr.shingleK, numHashes = pr.numHashes, bands = pr.bands,
          threshold = policy.threshold, seed = pr.seed, useMd5 = pr.useMd5,
          oph = pr.oph)
          .select(col(idCol), col("is_dup").as("__ix_dup"),
            col("dup_of").as("__ix_of"))
      }
    // WITHIN-batch near-dups (a redelivered row often lands in the
    // same rotation file — the index can't see those): one-hop group
    // rep per batch doc, the group min keeps, the rest tag/drop. An
    // index match wins precedence (the corpus row is the original).
    val batchGroups = graft.operators.Dedup.minhashDedup(
      batch, idCol, policy.textCol,
      shingleK = pr.shingleK, numHashes = pr.numHashes, bands = pr.bands,
      threshold = policy.threshold, seed = pr.seed, useMd5 = pr.useMd5,
      oph = pr.oph)
      .select(col(idCol), col("dup_group").as("__bg"))
    val verdicts = indexVerdicts.join(batchGroups, Seq(idCol))
      .select(col(idCol),
        (col("__ix_dup") || col("__bg") =!= col(idCol)).as("__is_dup"),
        coalesce(col("__ix_of"),
          when(col("__bg") =!= col(idCol), col("__bg"))).as("__dup_of"))
    val tagged = batch.join(verdicts, Seq(idCol)).transform(graft.util.Checkpoints.pin)
    val survivors = tagged.filter(!col("__is_dup"))

    // TABLE append happens BEFORE the index append: if the worker dies
    // between the two, the retry re-probes an index that does not yet
    // know the batch, re-appends, and converges (a duplicate table row
    // at worst — the at-least-once baseline). The reverse order could
    // tag the retry as a dup of an index entry whose table row never
    // landed, silently losing the document.
    val appended =
      if (policy.mode == "drop") append(db, table, survivors.drop("__is_dup", "__dup_of"))
      else {
        addColumns(db, table, Map(
          "__is_dup" -> TypeLattice.Bool, "__dup_of" -> TypeLattice.Int))
        append(db, table, tagged)
      }
    val survivorIndex = graft.operators.Dedup.buildMinhashIndex(
      survivors, idCol, policy.textCol,
      shingleK = pr.shingleK, numHashes = pr.numHashes, bands = pr.bands,
      seed = pr.seed, useMd5 = pr.useMd5, oph = pr.oph)
    // record the convention the index is built under before its first
    // rows land, so every future probe (and setDedupPolicy) can verify
    // against it
    val paramsFile = new HPath(dir, "params.json")
    if (!exists(paramsFile))
      writeString(paramsFile, "{" + pr.json + "}")
    survivorIndex.bands.write.mode("append").parquet(bandsPath.toString)
    survivorIndex.sigs.write.mode("append").parquet(sigsPath.toString)
    appended
  }

  /** The SEMANTIC sibling of [[appendDeduped]] — dedup by MEANING, not
    * surface: the policy's column carries the document's embedding as
    * a JSON array string (the shape the 4-type ingest lattice
    * transports — horizontal flattening would shred a raw JSON array
    * into indexed columns), and batches probe a stored IVF index
    * ([[graft.operators.Similarity]]'s cells) instead of minhash
    * bands: centroids are seeded from the FIRST batch and pinned (the
    * standard IVF contract — re-cluster by rebuilding the index),
    * each incoming row routes to its nProbe nearest cells, candidates
    * within those cells verify by cosine ≥ threshold, and only
    * survivors' (doc, cell, vec) rows join the index. Paraphrase
    * pairs whose embeddings land beyond nProbe cells are the standard
    * ANN recall trade, same as band misses on the minhash path.
    * Unparseable embeddings pass as novel and stay OUT of the index. */
  private def appendDedupedSemantic(db: String, table: String, df: DataFrame,
                                    policy: GraftCatalog.DedupPolicy): Long = withTableLease(db, table) {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.{broadcast, coalesce, from_json, least, min, row_number, when}
    val idCol = RowIdColumn
    val nProbe = 2
    val centroidCap = 64
    val stamped =
      if (df.columns.contains(idCol)) df
      else df.withColumn(idCol, graft.functions.NativeExpressions.snowflake_id())
    val batch = stamped.transform(graft.util.Checkpoints.pin)
    val dir = dedupIndexDir(db, table)
    val (vecsPath, centsPath) = (new HPath(dir, "vecs"), new HPath(dir, "centroids"))
    val haveIndex = exists(centsPath)
    storedIndexParams(db, table).foreach { stored =>
      if (stored != policy.params) throw new IllegalStateException(
        s"dedup index for $db.$table was built under $stored but the policy " +
          s"probes with ${policy.params} — rebuild the index or restore the original params")
    }
    val parsed = batch
      .select(col(idCol), from_json(col(policy.textCol),
        ArrayType(DoubleType)).as("__vec"))
      .filter(col("__vec").isNotNull)
    val cents =
      if (haveIndex) spark.read.parquet(centsPath.toString)
      else parsed.orderBy(idCol).limit(centroidCap)
        .select(col(idCol).as("centroid_id"), col("__vec").as("centroid_vec"))
        .transform(graft.util.Checkpoints.pin)
    val cos = graft.operators.Similarity.cosine(_, _)

    val indexVerdicts =
      if (!haveIndex)
        batch.select(col(idCol), lit(false).as("__ix_dup"),
          lit(null).cast("long").as("__ix_of"))
      else {
        val qCells = parsed.crossJoin(broadcast(cents))
          .select(col(idCol), col("__vec"), col("centroid_id"),
            cos(col("__vec"), col("centroid_vec")).as("__sim"))
          .withColumn("__r", row_number().over(Window.partitionBy(idCol)
            .orderBy(col("__sim").desc, col("centroid_id"))))
          .filter(col("__r") <= nProbe)
          .select(col(idCol).as("__in"), col("__vec"), col("centroid_id").as("cell"))
        val matched = spark.read.parquet(vecsPath.toString)
          .join(qCells, Seq("cell"))
          .filter(cos(col("vec"), col("__vec")) >= policy.threshold)
          .groupBy("__in").agg(min("doc").as("__ix_of"))
        batch.select(col(idCol))
          .join(matched.withColumnRenamed("__in", idCol), Seq(idCol), "left_outer")
          .select(col(idCol), col("__ix_of").isNotNull.as("__ix_dup"), col("__ix_of"))
      }
    // within-batch near-dups: cell-bucketed self-join, one-hop group min
    val assigned = graft.operators.Similarity.ivfAssign(parsed, idCol, "__vec", cents)
    val a = assigned.select(col("cell"), col(idCol).as("__a"), col("__vec").as("__va"))
    val b = assigned.select(col("cell"), col(idCol).as("__b"), col("__vec").as("__vb"))
    val nb = a.join(b, Seq("cell")).filter(col("__a") < col("__b"))
      .filter(cos(col("__va"), col("__vb")) >= policy.threshold)
      .groupBy(col("__b").as(idCol)).agg(min("__a").as("__nbm"))
    val batchGroups = batch.select(col(idCol))
      .join(nb, Seq(idCol), "left_outer")
      .select(col(idCol),
        least(col(idCol), coalesce(col("__nbm"), col(idCol))).as("__bg"))
    val verdicts = indexVerdicts.join(batchGroups, Seq(idCol))
      .select(col(idCol),
        (col("__ix_dup") || col("__bg") =!= col(idCol)).as("__is_dup"),
        coalesce(col("__ix_of"),
          when(col("__bg") =!= col(idCol), col("__bg"))).as("__dup_of"))
    val tagged = batch.join(verdicts, Seq(idCol)).transform(graft.util.Checkpoints.pin)
    val survivors = tagged.filter(!col("__is_dup"))

    // same crash-ordering rule as the minhash path: table first, index
    // second — a retry re-probes an index that missed the batch and
    // converges on at-least-once
    val appended =
      if (policy.mode == "drop") append(db, table, survivors.drop("__is_dup", "__dup_of"))
      else {
        addColumns(db, table, Map(
          "__is_dup" -> TypeLattice.Bool, "__dup_of" -> TypeLattice.Int))
        append(db, table, tagged)
      }
    val survivorVecs = assigned
      .join(survivors.select(col(idCol)), Seq(idCol))
      .select(col(idCol).as("doc"), col("cell"), col("__vec").as("vec"))
    survivorVecs.write.mode("append").parquet(vecsPath.toString)
    if (!haveIndex) {
      cents.write.mode("overwrite").parquet(centsPath.toString)
      writeString(new HPath(dir, "params.json"), "{" + policy.params.json + "}")
    }
    appended
  }

  /** Compact the table's dedup-index dirs (bands, sigs): the ingest
    * path appends one parquet part per batch, so at a
    * batch-every-few-seconds rate the index accretes tiny files until
    * probe PLANNING (listing + footers) dominates probe time — the
    * same disease [[compact]] cures for tables, applied to the raw
    * index dirs. Takes the same per-(db, table) lock as
    * [[appendWithPolicy]]'s dedup path, so an ingesting batch can
    * never race the non-atomic dir swap (during the rename window the
    * index transiently looks absent and a probe would be skipped —
    * which is exactly why this swap stays lock-serialized rather than
    * gen-pointer-committed: no reader ever sees it unlocked).
    * Returns (files before, files after) summed over both dirs. */
  def compactDedupIndex(db: String, table: String,
                        targetFileBytes: Long = 128L << 20): (Int, Int) = withTableLease(db, table) {
    var (before, after) = (0, 0)
    for (part <- Seq("bands", "sigs")) {
      val dir = new HPath(dedupIndexDir(db, table), part)
      val fs = fsOf(dir)
      if (fs.exists(dir)) {
        def parts(p: HPath): Seq[FileStatus] = fs.listStatus(p).toSeq
          .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
        val in = parts(dir)
        before += in.length
        if (in.length <= 1) after += in.length
        else {
          val bytes = in.map(_.getLen).sum
          val nOut = math.max(1, math.ceil(bytes.toDouble / targetFileBytes).toInt)
          val tmp = new HPath(dedupIndexDir(db, table), s"$part.compacting")
          val old = new HPath(dedupIndexDir(db, table), s"$part.old")
          fs.delete(tmp, true); fs.delete(old, true)
          spark.read.parquet(dir.toString).repartition(nOut)
            .write.mode("overwrite").parquet(tmp.toString)
          fs.rename(dir, old)
          fs.rename(tmp, dir)
          fs.delete(old, true)
          after += parts(dir).length
        }
      }
    }
    (before, after)
  }

  /** The table's stamp and the snapshot it pins. The sidecars are read
    * before the listing, so a change racing either only costs one more
    * rebuild. */
  private def viewStamp(db: String, table: String)
      : (GraftCatalog.ViewStamp, GraftCatalog.Snapshot) = {
    def text(p: HPath) = if (exists(p)) Some(readString(p)) else None
    val sidecars =
      Seq(schemaFile _, genFile _, statsFile _).map(f => text(f(db, table)))
    val snap = snapshot(db, table)
    (GraftCatalog.ViewStamp(db, sidecars, snap.committed, snap.files.map(st =>
      (st.getPath.toString, st.getLen, st.getModificationTime))), snap)
  }

  /** View name → (stamp it was built under, the session's view object
    * registered then). Guarded by its own monitor. */
  private val registered =
    scala.collection.mutable.HashMap.empty[String, (GraftCatalog.ViewStamp, AnyRef)]

  /** Register all tables of a db as temp views for SQL passthrough.
    * A table's view is rebuilt only when its [[GraftCatalog.ViewStamp]]
    * changed, or when the session's view is no longer the one
    * registered here (an admin's `CREATE OR REPLACE TEMP VIEW`, a `DROP
    * VIEW`, another catalog on the same session). A rebuilt view reads
    * exactly the files its stamp listed. */
  def registerViews(db: String): Unit = registered.synchronized {
    val views = spark.sessionState.catalog
    listTables(db).foreach { t =>
      val (stamp, snap) = viewStamp(db, t)
      val current = registered.get(t).exists { case (s, view) =>
        s == stamp && views.getRawTempView(t).exists(_ eq view) }
      if (!current) {
        read(db, t, snap).createOrReplaceTempView(t)
        views.getRawTempView(t).foreach(v => registered(t) = (stamp, v))
      }
    }
  }

  def columns(db: String, table: String): Seq[(String, String)] = readSchemaSeq(db, table)

  // sidecar format: JSON array of {"name":..,"type":..} preserving order
  private def writeSchema(db: String, table: String, cols: Seq[(String, String)]): Unit = {
    val json = cols.map { case (n, t) =>
      s"""{"name":${quote(n)},"type":${quote(t)}}"""
    }.mkString("[", ",", "]")
    writeString(schemaFile(db, table), json)
  }

  private def readSchemaSeq(db: String, table: String): Vector[(String, String)] = {
    import graft.functions.JValue, graft.functions.JValue._
    if (!tableExists(db, table)) return Vector.empty
    readJson(schemaFile(db, table)) match {
      case JArr(items) => items.map {
        case o: JObj =>
          val n = o.get("name").collect { case JStr(s) => s }.get
          val t = o.get("type").collect { case JStr(s) => s }.get
          n -> t
        case other => throw new IllegalStateException(s"bad schema entry: $other")
      }
      case other => throw new IllegalStateException(s"bad schema sidecar: $other")
    }
  }

  private def quote(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
}

object GraftCatalog {
  /** An append batch's published file name: `<32-hex-key>-<n>.parquet`. */
  private val KeyedName = "([0-9a-f]{32})-\\d+\\.parquet".r

  /** What one [[GraftCatalog.read]] scans: the data generation, the
    * committed keys listed with it, and the files it keeps. */
  private final case class Snapshot(data: HPath,
                                    committed: Set[String], files: Seq[FileStatus])

  /** Everything [[GraftCatalog.read]] of one table depends on: its
    * sidecars (schema, generation pointer, stats), the
    * committed keys and the files the read keeps. Published files are
    * never rewritten in place (a retry republishes under a fresh
    * mtime), so (path, length, mtime) pins the listing. Equal stamps
    * mean a fresh `read` would build the same DataFrame. */
  private final case class ViewStamp(db: String, sidecars: Seq[Option[String]],
                                     committed: Set[String],
                                     files: Seq[(String, Long, Long)])

  /** The signature CONVENTION of a minhash dedup index — everything
    * that decides whether two sketches are comparable. Persisted in
    * the policy sidecar AND next to the index it built; a probe whose
    * params disagree with the stored index's refuses loudly instead
    * of silently declaring every duplicate novel. */
  final case class DedupParams(shingleK: Int = 5, numHashes: Int = 128,
                               bands: Int = 32, seed: Long = 42L,
                               useMd5: Boolean = false, oph: Boolean = true,
                               method: String = "minhash") {
    def json: String =
      s""""shingleK":$shingleK,"numHashes":$numHashes,"bands":$bands,""" +
        s""""seed":$seed,"useMd5":$useMd5,"oph":$oph,"method":${
          "\"" + method + "\""}"""
  }
  object DedupParams {
    def fromJson(o: graft.functions.JValue.JObj): DedupParams = {
      import graft.functions.JValue._
      def num(k: String, dflt: Long) =
        o.get(k).collect { case JNum(n) => n.toLong }.getOrElse(dflt)
      def bool(k: String, dflt: Boolean) =
        o.get(k).collect { case JBool(b) => b }.getOrElse(dflt)
      DedupParams(num("shingleK", 5).toInt, num("numHashes", 128).toInt,
        num("bands", 32).toInt, num("seed", 42L),
        bool("useMd5", false), bool("oph", true),
        o.get("method").collect { case JStr(s) => s }.getOrElse("minhash"))
    }
  }

  /** Opt-in near-dup policy for the ingest path: batches probe the
    * table's stored MinHash band index before appending. mode "tag"
    * appends every row with (__is_dup, __dup_of) columns; mode "drop"
    * appends survivors only. Either way only non-dup rows join the
    * index, so re-ingesting the same document any number of times
    * grows the index once — the reference's at-least-once-with-
    * duplicates ingest upgraded to effectively-once. Carries the full
    * signature convention ([[DedupParams]]) so an index built under
    * any kernel family (e.g. the md5 family `dedup_incremental`
    * uses) is probed with matching signatures. */
  final case class DedupPolicy(textCol: String, mode: String = "tag",
                               threshold: Double = 0.7,
                               params: DedupParams = DedupParams())
}

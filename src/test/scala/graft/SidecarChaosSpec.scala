package graft

import graft.sources.GraftCatalog
import java.nio.file.Files
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger, AtomicReference}

/** Chaos probe for the sidecar commit path (VERDICT r14 #1): the r14
  * full suite intermittently dead-lettered a copy job because
  * `writeString` committed sidecars by truncate-in-place and a
  * concurrent reader parsed the torn prefix — worse, Hadoop's
  * ChecksumFileSystem SERVES torn bytes with no exception when the
  * `.crc` is mid-replace, so the failure surfaced as a JSON parse
  * error outside the read retry. The fix is temp-file + rename commit
  * plus parse-inside-retry ([[GraftCatalog.readJson]]); this spec
  * hammers the exact interleaving (many rewrites of one sidecar vs
  * many concurrent readers) long enough that the pre-fix code fails
  * every run, and asserts the committed invariant: every read returns
  * a COMPLETE historical value, never a prefix, never an exception. */
class SidecarChaosSpec extends SparkTestBase {

  private def newCatalog() = {
    val tmp = Files.createTempDirectory("sidecar-chaos").toString
    new GraftCatalog(spark, s"$tmp/warehouse")
  }

  /** Run `writer` and `readers` concurrently for ~durationMs; any
    * exception on any thread fails the test with its message. */
  private def hammer(durationMs: Long, readerThreads: Int)
                    (writer: () => Unit)(reader: () => Unit): Unit = {
    val stop = new AtomicBoolean(false)
    val failure = new AtomicReference[Throwable](null)
    def spin(body: () => Unit) = new Thread(() => {
      try while (!stop.get() && failure.get() == null) body()
      catch { case t: Throwable => failure.compareAndSet(null, t) }
    })
    val ts = spin(writer) +: Seq.fill(readerThreads)(spin(reader))
    ts.foreach(_.start())
    Thread.sleep(durationMs)
    stop.set(true)
    ts.foreach(_.join(10000))
    val f = failure.get()
    if (f != null) fail(s"concurrent sidecar access failed: ${f.getClass.getSimpleName}: ${f.getMessage}")
  }

  test("schema sidecar: concurrent evolution vs readers never tears") {
    val cat = newCatalog()
    cat.ensureTable("db", "t")
    cat.addColumns("db", "t", Map("k" -> "int"))
    val n = new AtomicInteger(0)
    hammer(2000, 4) { () =>
      // each call rewrites schema.json (a genuinely new column every time)
      cat.addColumns("db", "t", Map(s"c${n.incrementAndGet()}" -> "string"))
    } { () =>
      val cols = cat.columns("db", "t")
      // a torn read would parse to a prefix (or throw); every complete
      // snapshot contains the seed + k and only well-formed names
      assert(cols.nonEmpty && cols.exists(_._1 == "k"),
        s"schema snapshot lost columns: $cols")
      assert(cols.forall { case (name, tpe) => name.nonEmpty && tpe.nonEmpty })
    }
    // converged: every column the writer added is present exactly once
    val names = cat.columns("db", "t").map(_._1)
    assert(names.distinct.length == names.length)
    assert((1 to n.get()).forall(i => names.contains(s"c$i")))
  }

  test("single-sidecar rewrite loop vs readers: old-or-new, never a prefix, no stray temps") {
    val cat = newCatalog()
    cat.ensureTable("db", "t")
    cat.addColumns("db", "t", Map("k" -> "int", "v" -> "string"))
    // the dedup policy rewrites the SAME small file on every call — the
    // hottest torn-read shape (the r14 failure hit the dedup sidecar
    // through this same writeString path); the table has no index, so
    // nothing pins the policy's params
    def policy(mode: String) = GraftCatalog.DedupPolicy(textCol = "v", mode = mode)
    val flip = new AtomicInteger(0)
    hammer(2000, 4) { () =>
      cat.setDedupPolicy("db", "t",
        policy(if (flip.incrementAndGet() % 2 == 0) "tag" else "drop"))
    } { () =>
      val p = cat.dedupPolicyOf("db", "t")
      assert(p.isEmpty || p.contains(policy("tag")) || p.contains(policy("drop")),
        s"torn dedup sidecar: $p")
    }
    // the rename commit must not leak temp files into the table dir
    import org.apache.hadoop.fs.{Path => HPath}
    val tdir = new HPath(s"${cat.root}/db/t")
    val fs = tdir.getFileSystem(spark.sessionState.newHadoopConf())
    val stray = fs.listStatus(tdir).map(_.getPath.getName).filter(_.contains(".tmp-"))
    assert(stray.isEmpty, s"leaked sidecar temps: ${stray.mkString(",")}")
  }

  test("strict read lists commits/ once per change, not once per read") {
    val cat = newCatalog()
    cat.ensureTable("db", "t")
    cat.addColumns("db", "t", Map("k" -> "int"))
    import spark.implicits._
    cat.append("db", "t", Seq(1, 2, 3).toDF("k"))
    // local fs mtime is ms-granular, so a 1 ms slack is sound HERE and
    // lets the test settle fast; production keeps the 2 s default for
    // coarse-mtime stores (see the granularity test below)
    spark.conf.set("graft.commits.mtimeSlackMs", "1")
    try {
      cat.read("db", "t").count() // first strict read: lists and caches
      // the same-granule guard can force extra lists while the list
      // time sits within one slack window of the dir mtime — settle
      Thread.sleep(20)
      cat.read("db", "t").count()
      val settled = cat.commitListCalls.get()
      (1 to 10).foreach(_ => assert(cat.read("db", "t").count() == 3))
      assert(cat.commitListCalls.get() == settled,
        "steady-state strict reads must serve committed keys from cache")
      cat.append("db", "t", Seq(4).toDF("k")) // invalidates
      Thread.sleep(20)
      assert(cat.read("db", "t").count() == 4)
      assert(cat.commitListCalls.get() > settled,
        "a publish must force a fresh commits/ list")
    } finally spark.conf.unset("graft.commits.mtimeSlackMs")
  }

  test("commits cache is never served inside the mtime-granularity window") {
    // On a store with 1 s mtime granularity (or a skewed NameNode
    // clock) a marker can land AFTER a list yet leave the directory
    // mtime unchanged — the cache may only be trusted once the list
    // time clears the mtime by the configured slack. With the default
    // 2 s slack, every read in the first ~2 s after a publish must
    // RE-LIST (and therefore see a marker that slipped in mtime-
    // invisibly), not serve the cached key set.
    val cat = newCatalog()
    cat.ensureTable("db", "g")
    cat.addColumns("db", "g", Map("k" -> "int"))
    import spark.implicits._
    cat.append("db", "g", Seq(1).toDF("k"))
    cat.read("db", "g").count() // lists, caches (listedAt ≈ mtime)
    val before = cat.commitListCalls.get()
    (1 to 3).foreach(_ => cat.read("db", "g").count())
    assert(cat.commitListCalls.get() == before + 3,
      "reads within the slack window must re-list, not trust the cache")
  }
}

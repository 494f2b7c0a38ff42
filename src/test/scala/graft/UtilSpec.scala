package graft

import graft.functions.{NativeExpressions, Snowflake, Ulid}
import graft.query.QueryService

/** Query cleaning, id generators, and the distributed snowflake
  * expression. */
class UtilSpec extends SparkTestBase {

  test("cleanQuery trims whitespace and one trailing semicolon") {
    assert(QueryService.cleanQuery("  select 1 ;  ") == "select 1")
    assert(QueryService.cleanQuery("select 1;;") == "select 1;")
  }

  test("snowflake generator: unique, increasing, node id embedded") {
    val gen = new Snowflake(5)
    val ids = (1 to 5000).map(_ => gen.next())
    assert(ids.distinct.size == ids.size)
    assert(ids == ids.sorted)
    assert(ids.forall(id => ((id >> 12) & 0x3ff) == 5))
  }

  test("ulid: 26 chars, time-ordered prefix, deterministic with fixed input") {
    val u = Ulid.make()
    assert(u.length == 26)
    assert(u.matches("[0-9A-HJKMNP-TV-Z]{26}"))
    val fixed = Ulid.make(1000000L, Array.fill[Byte](10)(0))
    assert(fixed == Ulid.make(1000000L, Array.fill[Byte](10)(0)))
    assert(Ulid.make(1L, Array.fill[Byte](10)(0)) <
      Ulid.make(2L, Array.fill[Byte](10)(0)))
  }

  /** Run `body` on a new session over the shared SparkContext with
    * graft's functions registered, as `QueryService` registers them on
    * the session it plans on. */
  private def withGraftFunctions(body: org.apache.spark.sql.SparkSession => Unit): Unit = {
    val extended = spark.newSession()
    graft.functions.GraftExtensions.register(extended)
    body(extended)
  }

  test("registered SQL functions: cosine_sim / simhash64 / rolling_fingerprint") {
    withGraftFunctions { ext =>
      val cos = ext.sql(
        "select cosine_sim(array(1.0D, 0.0D, 1.0D), array(1.0D, 1.0D, 0.0D)) as c")
        .collect().head.getDouble(0)
      assert(math.abs(cos - 0.5) < 1e-12)
      val sh = ext.sql("select simhash64(array('a','b','c')) as s").collect().head.getLong(0)
      assert(sh == ext.sql("select simhash64(array('a','b','c')) as s").collect().head.getLong(0))
      // native fingerprint must equal the SQL transform+array_min form
      val sqlForm = ext.sql(
        "select array_min(transform(sequence(1, greatest(length('hello world hello spark') - 15, 1)), " +
          "i -> md5(substring('hello world hello spark', i, 16)))) as fp").collect().head.getString(0)
      val native = ext.sql("select rolling_fingerprint('hello world hello spark') as fp")
        .collect().head.getString(0)
      assert(native == sqlForm)
    }
  }

  test("snowflake_id expression: unique across partitions and rows") {
    val df = spark.range(0, 20000, 1, 8)
      .withColumn("id2", NativeExpressions.snowflake_id())
    val ids = df.select("id2").collect().map(_.getLong(0))
    assert(ids.distinct.length == ids.length, "distributed ids must be unique")
  }

  test("cosine_sim and snowflake_id generate real code (no fallback)") {
    import org.apache.spark.sql.functions._
    // fallback=false makes a broken doGenCode THROW instead of
    // silently degrading to the interpreted path
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      val df = spark.range(0, 1000, 1, 4)
        .withColumn("a", array(col("id").cast("double"), lit(1.0)))
        .withColumn("b", array(lit(2.0), col("id").cast("double")))
        .withColumn("zero", array(lit(0.0), lit(0.0)))
        .select(col("id"),
          NativeExpressions.cosine_sim(col("a"), col("b")).as("cos"),
          NativeExpressions.cosine_sim(col("a"), col("zero")).as("coz"),
          NativeExpressions.snowflake_id().as("sid"))
      // both expressions stay inside one whole-stage-codegen span
      // (the `*(1)` star marks WholeStageCodegen in treeString; with
      // fallback=false a broken doGenCode would have thrown instead)
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("*(1) Project"), plan)
      val rows = df.collect()
      rows.foreach { r =>
        val id = r.getLong(0)
        val expect = (2.0 * id + id) /
          (math.sqrt(id * id + 1) * math.sqrt(4 + id * id))
        assert(math.abs(r.getDouble(1) - expect) < 1e-12, s"id=$id")
        assert(r.isNullAt(2), "zero-norm input must yield null")
      }
      val sids = rows.map(_.getLong(3))
      assert(sids.distinct.length == sids.length, "codegen'd ids unique")
    } finally spark.conf.set("spark.sql.codegen.fallback", "true")
  }

  test("GraftExtensions injects native functions into a fresh session") {
    withGraftFunctions { ext =>
      val c = ext.sql(
        "select cosine_sim(array(3.0d, 4.0d), array(3.0d, 4.0d)) as c")
        .head.getDouble(0)
      assert(math.abs(c - 1.0) < 1e-12)
      assert(ext.sql("select simhash64(array('a', 'b')) as h")
        .head.getLong(0) != 0L)
      assert(ext.sql("select hyperplane_buckets(array(1.0d)) as b")
        .head.getSeq[Long](0).length == 4)
      assert(ext.sql("select minhash_signature(array('a', 'b')) as m")
        .head.getSeq[Long](0).length == 128)
    }
  }

  test("session JWTs: round-trip, expiry, tamper, wrong key") {
    val s = new graft.api.Sessions("secret-a", ttlSeconds = 3600)
    val now = 1700000000000L
    val tok = s.mint(42L, now)
    assert(tok.count(_ == '.') == 2)
    assert(s.verify(tok, now) == Some(42L))
    assert(s.verify(tok, now + 3599 * 1000L) == Some(42L), "valid until ttl")
    assert(s.verify(tok, now + 3601 * 1000L) == None, "expired")
    assert(s.verify(tok.dropRight(2) + "zz", now) == None, "tampered signature")
    val Array(h, p, sig) = tok.split("\\.")
    val forgedPayload = java.util.Base64.getUrlEncoder.withoutPadding
      .encodeToString(s"""{"user_id":1,"exp":${now / 1000 + 3600}}""".getBytes)
    assert(s.verify(s"$h.$forgedPayload.$sig", now) == None, "forged claims")
    assert(new graft.api.Sessions("secret-b").verify(tok, now) == None, "wrong key")
    assert(s.verify("garbage", now) == None)
  }

  test("LongLongMap matches java.util.HashMap through growth (random + sequential keys)") {
    val m = new graft.util.LongLongMap(16)
    val ref = new java.util.HashMap[Long, Long]()
    val rnd = new scala.util.Random(7)
    // sequential ids (the union-find workload) + random, with overwrites
    val keys = (0L until 50000L) ++ Seq.fill(50000)(rnd.nextLong().abs)
    keys.foreach { k =>
      val v = rnd.nextLong()
      m.put(k, v); ref.put(k, v)
    }
    assert(m.size == ref.size)
    ref.forEach((k, v) => assert(m.getOrDefault(k, Long.MaxValue) == v))
    // absent keys fall through to the default
    assert(m.getOrDefault(-12345L, 99L) == 99L)
    assert(m.get(-12345L) == -12345L, "get defaults to identity (union-find root)")
  }

  test("ScanParallelism: spreads single-row-group files, no-ops on healthy or non-file plans") {
    import graft.util.ScanParallelism
    val par = spark.sparkContext.defaultParallelism
    // testdata embeddings are written as ONE row group (verified via
    // footer) — the degenerate layout the guard exists for
    val emb = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
      .select(org.apache.spark.sql.functions.col("embedding"))
    assert(ScanParallelism.rowGroupCount(emb, 1000).contains(1))
    val embBytes = new java.io.File(
      "/root/testdata/sf0.001/embeddings.parquet").length
    // default 1 MiB size floor: the sf0.001 file is far below it, so
    // its degenerate layout is left alone (the r12 CPU-doubling
    // misfire inputs were 594-799 KB)
    assert(embBytes < (1L << 20), "fixture must sit below the default floor")
    assert(ScanParallelism.spreadIfNarrow(emb) eq emb,
      "sub-floor input must not be spread")
    try {
      // positive path UNDER an explicit floor the fixture clears:
      // just-above-floor single-row-group file must be spread...
      spark.conf.set("graft.spread.minBytes", (embBytes - 1).toString)
      val spread = ScanParallelism.spreadIfNarrow(emb)
      assert(spread.queryExecution.executedPlan.toString.contains("Exchange"),
        "single-row-group layout above the floor must gain a repartition")
      assert(spread.rdd.getNumPartitions == par)
      assert(spread.count() == emb.count(), "spread must not change rows")
      // idempotence: guards sit at the table helper AND inside CPU-dense
      // operators — a second guard over an already-spread input must not
      // stack another exchange (inputFiles still sees the narrow leaf
      // scan, so only the partition-count precheck can stop it)
      assert(ScanParallelism.spreadIfNarrow(spread) eq spread,
        "an already-spread input must not be re-spread")
      // ...and a just-below-floor one must not
      spark.conf.set("graft.spread.minBytes", (embBytes + 1).toString)
      assert(ScanParallelism.spreadIfNarrow(emb) eq emb,
        "just-below-floor input must not be spread")
      // a malformed floor value falls back to the 1 MiB default (no
      // throw out of query planning), under which the fixture is tiny
      spark.conf.set("graft.spread.minBytes", "64 megs")
      assert(ScanParallelism.spreadIfNarrow(emb) eq emb,
        "malformed floor must fail safe to the default")
      spark.conf.set("graft.spread.minBytes", "0")
      // an in-memory frame has no input files -> untouched plan
      import spark.implicits._
      val mem = Seq(1, 2, 3).toDF("x")
      assert(ScanParallelism.spreadIfNarrow(mem) eq mem)
      // a layout with >= par row groups is healthy -> untouched. Write
      // one file per row via repartition to get many tiny row groups.
      val dir = java.nio.file.Files.createTempDirectory("spread").toString
      spark.range(par * 2L).repartition(par * 2).write.mode("overwrite").parquet(dir)
      val many = spark.read.parquet(dir)
      assert(ScanParallelism.spreadIfNarrow(many) eq many)
    } finally spark.conf.unset("graft.spread.minBytes")
  }

  test("PPJoin arm memo: bounded LRU evicts only the coldest entry") {
    import graft.operators.Dedup
    val memo = Dedup.ppjoinArmCache
    val cap = Dedup.PpjoinMemoCapacity
    memo.clear()
    (0 until cap).foreach(i => memo.put(s"k$i", "full"))
    assert(memo.size == cap)
    memo.get("k0") // touch: k0 becomes most-recent, k1 is now eldest
    memo.put("overflow", "length")
    assert(memo.size == cap, "insert past capacity evicts exactly one")
    assert(memo.containsKey("k0"), "recently-read entry survives")
    assert(!memo.containsKey("k1"), "coldest entry is the one evicted")
    assert(memo.containsKey("overflow"))
    memo.clear()
  }
}

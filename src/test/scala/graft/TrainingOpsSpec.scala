package graft

import graft.functions.TextFunctions
import graft.multimodal.Multimodal
import graft.operators.{Dedup, Similarity}
import org.apache.spark.sql.functions._

/** Behavioral tests for the training-data operators: the fuzzy ones
  * must actually FIND planted duplicates / neighbors, not merely run. */
class TrainingOpsSpec extends SparkTestBase {

  import spark.implicits._

  private def docsDf(rows: (Long, String)*) =
    rows.toDF("doc_id", "text")

  test("minhash finds planted near-duplicates and skips unrelated docs") {
    val base = (0 until 60).map(i => s"tok$i").mkString(" ")
    val nearDup = (0 until 60).map(i => if (i == 30) "CHANGED" else s"tok$i").mkString(" ")
    val other = (0 until 60).map(i => s"zzz$i").mkString(" ")
    val df = docsDf(10L -> base, 20L -> nearDup, 30L -> other)
    val pairs = Dedup.minhashPairs(df, "doc_id", "text",
      shingleK = 5, numHashes = 128, bands = 32, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSeq == Seq((10L, 20L)))

    val groups = Dedup.minhashDedup(df, "doc_id", "text",
      shingleK = 5, numHashes = 128, bands = 32, threshold = 0.5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(groups == Map(10L -> 10L, 20L -> 10L, 30L -> 30L))
  }

  test("connected components collapse chains, stars and cycles to the min id") {
    // chain 1-2-3 (1~2 and 2~3 near-dup, 1~3 NOT directly similar),
    // star 10-(11,12), cycle 20-21-22-20, isolated pair 30-31
    val pairs = Seq((2L, 1L), (3L, 2L), (10L, 11L), (12L, 10L),
      (20L, 21L), (21L, 22L), (22L, 20L), (31L, 30L)).toDF("doc_a", "doc_b")
    val expected = Map(2L -> 1L, 3L -> 1L, 11L -> 10L, 12L -> 10L,
      21L -> 20L, 22L -> 20L, 31L -> 30L)
    // both physical paths: driver union-find and the distributed loop
    for (limit <- Seq(5000000L, 0L)) {
      val comp = Dedup.connectedComponents(pairs, "doc_a", "doc_b",
        localEdgeLimit = limit)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(comp == expected, s"limit=$limit got $comp")
    }
  }

  test("connected components: both physical paths agree on random graphs") {
    val rnd = new scala.util.Random(7)
    for (trial <- 0 until 3) {
      val n = 40 + trial * 30
      val edges = Seq.fill(n)((rnd.nextInt(25).toLong, rnd.nextInt(25).toLong))
        .filter(e => e._1 != e._2)
      val df = edges.toDF("doc_a", "doc_b")
      val local = Dedup.connectedComponents(df, "doc_a", "doc_b")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val dist = Dedup.connectedComponents(df, "doc_a", "doc_b", localEdgeLimit = 0L)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(local == dist, s"trial=$trial local=$local dist=$dist")
    }
  }

  test("connected components: sharded contraction arm agrees with both siblings") {
    // dup-cluster-dense graph (edges >> nodes — the shape the
    // contraction arm exists for): 8 six-node cliques, a chain linking
    // every other clique, 48 nodes / 125 edges
    val cliques = (0 until 8).flatMap { c =>
      val ids = (0 until 6).map(i => (c * 6 + i).toLong)
      for (a <- ids; b <- ids if a < b) yield (b, a)
    }
    val chain = (0 until 3).map(i => ((i * 12 + 12).toLong, (i * 12).toLong))
    val df = (cliques ++ chain).toDF("doc_a", "doc_b")
    def run(): Map[Long, Long] =
      Dedup.connectedComponents(df, "doc_a", "doc_b")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val base = run() // 125 edges < default limit: plain driver arm
    try {
      // contraction → driver handoff: limit below the 125 edges but
      // above the ≤44 star-forest edges one round contracts to
      spark.conf.set("graft.cc.localEdgeLimit", "60")
      assert(run() == base, "contract->driver arm diverged")
      // contraction → star-loop fallthrough: nothing fits the driver
      spark.conf.set("graft.cc.localEdgeLimit", "0")
      assert(run() == base, "contract->star arm diverged")
      // contraction disabled: pure star loop (the pre-existing arm)
      spark.conf.set("graft.cc.contractRounds", "0")
      assert(run() == base, "pure star arm diverged")
    } finally {
      spark.conf.unset("graft.cc.localEdgeLimit")
      spark.conf.unset("graft.cc.contractRounds")
    }
  }

  test("minhash est_jaccard approximates exact shingle jaccard") {
    val base = (0 until 100).map(i => s"w$i").mkString(" ")
    val mod = ((0 until 50).map(i => s"w$i") ++ (0 until 50).map(i => s"x$i")).mkString(" ")
    val df = docsDf(1L -> base, 2L -> mod)
    val exact = Dedup.ngramJaccardPairs(df, "doc_id", "text",
      shingleK = 5, threshold = 0.0, maxShingleFreq = 1000)
      .select("jaccard").collect().head.getDouble(0)
    // r=2 rows/band: detection prob at j≈0.3 is ~1-(1-0.3^2)^128 ≈ 1
    val est = Dedup.minhashPairs(df, "doc_id", "text",
      shingleK = 5, numHashes = 256, bands = 128, threshold = 0.0)
      .select("est_jaccard").collect().headOption.map(_.getDouble(0))
    assert(est.isDefined, "LSH should surface the half-overlapping pair")
    assert(math.abs(est.get - exact) < 0.15,
      s"estimate ${est.get} too far from exact $exact")
  }

  test("minhash signature pre-collapse is bit-identical to the uncollapsed plan") {
    import org.apache.spark.sql.DataFrame
    // The uncollapsed reference plan (band every DOC, count buckets
    // in doc rows, drop oversized, self-join, verify per doc pair —
    // the shape minhashPairs had before the distinct-signature
    // pre-collapse) lives in ReferencePlans; its timing against the
    // collapsed plan is in BENCH_LOCAL.md, "MinHash distinct-signature
    // pre-collapse (DupDenseProbe)".
    def uncollapsed(df: org.apache.spark.sql.DataFrame, shingleK: Int,
                    numHashes: Int, bands: Int, threshold: Double,
                    maxBucketSize: Int, useMd5: Boolean, oph: Boolean) =
      graft.tools.ReferencePlans.uncollapsedMinhashPairs(df, "doc_id", "text",
        shingleK, numHashes, bands, threshold, 42L, maxBucketSize, useMd5, oph)
    // Dup-dense corpus: 4 boilerplate groups replicated 5-9x (IDENTICAL
    // signatures), one planted near-dup, two unrelated docs.
    val texts = (0 until 4).map { g =>
      (0 until 60).map(i => s"grp${g}tok$i").mkString(" ")
    }
    val near = (0 until 60).map(i => if (i == 30) "CHANGED" else "grp0tok" + i).mkString(" ")
    var id = 0L
    val rows = scala.collection.mutable.ArrayBuffer[(Long, String)]()
    texts.zipWithIndex.foreach { case (t, g) =>
      (0 until (5 + g)).foreach { _ => rows += ((id, t)); id += 1 } }
    rows += ((id, near)); id += 1
    rows += ((id, (0 until 60).map(i => s"uniq${id}w$i").mkString(" "))); id += 1
    rows += ((id, (0 until 60).map(i => s"uniq${id}w$i").mkString(" ")))
    val df = docsDf(rows.toSeq: _*)

    def canon(p: DataFrame) = p.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // maxBucketSize = 6 trips the weighted cap on the size-7/8/9 groups
    // (their 32 identical-signature buckets all oversize); 10000 never
    // trips it. (useMd5, oph) is a FULL cross product — the collapse
    // is kernel-agnostic, and coupling oph = !useMd5 (the pre-r11
    // matrix) left the two off-diagonal kernel combos untested.
    for (useMd5 <- Seq(false, true); oph <- Seq(false, true);
         cap <- Seq(6, 10000); th <- Seq(0.5, 0.0)) {
      val got = canon(Dedup.minhashPairs(df, "doc_id", "text",
        shingleK = 5, numHashes = 128, bands = 32, threshold = th,
        maxBucketSize = cap, useMd5 = useMd5, oph = oph))
      val want = canon(uncollapsed(df, 5, 128, 32, th, cap, useMd5, oph = oph))
      assert(got == want,
        s"md5=$useMd5 oph=$oph cap=$cap th=$th: got ${got.size} pairs, want ${want.size}; " +
          s"extra=${(got -- want).take(5)} missing=${(want -- got).take(5)}")
      if (cap == 10000 && th == 0.5)
        assert(want.exists(p => p._3 == 1.0) && want.size > 20,
          "corpus should be dup-dense with within-group 1.0 pairs")
    }
  }

  test("incremental + fuzzy-decontamination probe-side collapse match uncollapsed plans") {
    import org.apache.spark.sql.DataFrame
    // corpus: two boilerplate groups + uniques; batch: replicas of one
    // boilerplate text (collapse fires), a near-dup, and a fresh doc
    val boiler = (0 until 60).map(i => s"b0tok$i").mkString(" ")
    val boiler2 = (0 until 60).map(i => s"b1tok$i").mkString(" ")
    val near = (0 until 60).map(i => if (i == 30) "CHANGED" else s"b0tok$i").mkString(" ")
    val corpus = docsDf((0L -> boiler) +: (1L -> boiler2) +: (2L -> boiler) +:
      (3 until 8).map(i => i.toLong -> (0 until 60).map(j => s"c${i}w$j").mkString(" ")): _*)
    val batch = docsDf(100L -> boiler, 101L -> boiler, 102L -> boiler,
      103L -> near, 104L -> (0 until 60).map(j => s"new$j").mkString(" "))

    // uncollapsed incremental reference: verdict per incoming doc via
    // the pre-collapse per-doc band probe
    def uncollapsedIncr(index: Dedup.MinhashIndex, incoming: DataFrame,
                        threshold: Double, useMd5: Boolean,
                        oph: Boolean): Map[Long, (Boolean, Option[Long])] = {
      val inSigs = Dedup.minhashSignatures(incoming, "doc_id", "text", 5, 128, 42L, useMd5, oph)
      val sigMap = inSigs.collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
      val idxSigs = index.sigs.collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
      incoming.select("doc_id").collect().map(_.getLong(0)).map { id =>
        val sa = sigMap(id)
        val hits = idxSigs.filter { case (_, sb) =>
          // candidate iff some 4-hash band matches exactly, then verify
          (0 until 32).exists(b => sa.slice(b * 4, b * 4 + 4) == sb.slice(b * 4, b * 4 + 4)) &&
            sa.zip(sb).count { case (x, y) => x == y }.toDouble / 128 >= threshold
        }.keys
        id -> (hits.nonEmpty, if (hits.nonEmpty) Some(hits.min) else None)
      }.toMap
    }

    // FULL (useMd5, oph) cross product — the probe-side collapse is
    // kernel-agnostic and each kernel pair builds a distinct index, so
    // no combination may ride on another's coverage.
    for (useMd5 <- Seq(false, true); oph <- Seq(false, true)) {
      val index = Dedup.buildMinhashIndex(corpus, "doc_id", "text",
        useMd5 = useMd5, oph = oph)
      val got = Dedup.minhashIncrementalAgainst(index, batch, "doc_id", "text",
        threshold = 0.5, useMd5 = useMd5, oph = oph)
        .collect().map(r => r.getLong(0) ->
          (r.getBoolean(1), if (r.isNullAt(2)) None else Some(r.getLong(2)))).toMap
      val want = uncollapsedIncr(index, batch, 0.5, useMd5, oph)
      assert(got == want, s"md5=$useMd5 oph=$oph: got $got want $want")
      assert(got(100L) == (true, Some(0L)) && got(101L) == got(100L) && got(104L)._1 == false,
        s"md5=$useMd5 oph=$oph: $got")
    }

    // fuzzy decontamination: replicated contaminated train docs must
    // all surface with the SAME worst hit as their unreplicated twin —
    // checked under both kernel diagonals (md5 and the cheap
    // xxhash+OPH path take different signature codepaths)
    val evalSet = docsDf(900L -> boiler, 901L -> boiler2)
    for ((useMd5, oph) <- Seq((false, true), (true, false))) {
      val hits = Dedup.fuzzyContaminationHits(corpus, evalSet, "doc_id", "text",
        threshold = 0.5, useMd5 = useMd5, oph = oph)
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
      assert(hits.contains(0L) && hits(0L) == hits(2L),
        s"md5=$useMd5 oph=$oph: replicated contaminated docs must share the worst hit: $hits")
      assert(hits(0L)._1 == 900L && hits(1L)._1 == 901L, s"md5=$useMd5 oph=$oph: $hits")
      assert(!(3 until 8).exists(i => hits.contains(i.toLong)),
        s"md5=$useMd5 oph=$oph: clean docs flagged: $hits")
    }
  }

  test("simhash: identical docs collide, near-dups within hamming 3, unrelated far") {
    val base = (0 until 80).map(i => s"tok$i").mkString(" ")
    val near = (0 until 80).map(i => if (i == 40) "CHANGED" else s"tok$i").mkString(" ")
    val far = (0 until 80).map(i => s"qqq$i").mkString(" ")
    val df = docsDf(1L -> base, 2L -> base, 3L -> near, 4L -> far)
    val pairs = Dedup.simhashPairs(df, "doc_id", "text", maxHamming = 3)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    assert(pairs.get((1L, 2L)).contains(0L), "identical docs must have hamming 0")
    assert(pairs.contains((1L, 3L)) && pairs.contains((2L, 3L)),
      "one-token change should stay within hamming 3")
    assert(!pairs.exists(p => p._1._2 == 4L), "unrelated doc must not pair")
  }

  test("r17 size-adaptive kernel floors: row and kernel routes agree exactly") {
    val dir = "/root/testdata/sf0.01"
    // cellMatePairs: a tiny corpus routes the row form by default
    // (stats under graft.neardup.rowFormMaxBytes); forcing the packed
    // kernel must yield the identical pair set.
    val e = Tables.load(spark, dir, "embeddings")
    val centroids = Similarity.seedCentroids(e, "vec_id", "embedding", 50)
    val assigned = Similarity.ivfAssign(e, "vec_id", "embedding", centroids)
    val rowPairs = Similarity.cellMatePairs(assigned, "vec_id", "embedding", 0.2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val kernelPairs =
      try {
        spark.conf.set("graft.neardup.rowFormMaxBytes", "0")
        Similarity.cellMatePairs(assigned, "vec_id", "embedding", 0.2)
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      } finally spark.conf.unset("graft.neardup.rowFormMaxBytes")
    assert(rowPairs.nonEmpty, "fixture must produce cell-mate pairs")
    assert(rowPairs == kernelPairs,
      s"cellMatePairs routes diverged: ${rowPairs.size} vs ${kernelPairs.size}")

    // incremental dedup: skipping the __rep layout exchange on a tiny
    // batch must not change a single verdict.
    val d = Tables.load(spark, dir, "documents")
    val bucket = TextFunctions.splitBucket(col("doc_id"))
    def verdicts(): Set[(Long, Boolean, Long)] =
      Dedup.minhashIncremental(
        d.filter(bucket < 80), d.filter(bucket >= 80), "doc_id", "text",
        useMd5 = true, oph = false)
        .collect().map(r => (r.getLong(0), r.getBoolean(1),
          if (r.isNullAt(2)) -1L else r.getLong(2))).toSet
    val noPin = verdicts() // default floor: tiny batch skips the exchange
    val withPin =
      try {
        spark.conf.set("graft.incremental.layoutPinMinBytes", "0")
        verdicts()
      } finally spark.conf.unset("graft.incremental.layoutPinMinBytes")
    assert(noPin.nonEmpty && noPin == withPin,
      "incremental layout-pin routes diverged")
  }

  test("IVF top-k achieves high recall against brute force") {
    val dir = "/root/testdata/sf0.01"
    val e = Tables.load(spark, dir, "embeddings")
    val q = e.filter(col("vec_id") < 10).select(
      col("vec_id").as("qid"), col("embedding").as("qvec"))
    val brute = Similarity.bruteForceTopK(e, "vec_id", "embedding", q, "qid", "qvec", 10)
      .select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val centroids = Similarity.seedCentroids(e, "vec_id", "embedding", 50)
    val assigned = Similarity.ivfAssign(e, "vec_id", "embedding", centroids)
    val ivf = Similarity.ivfTopK(assigned, "vec_id", "embedding", centroids,
      q, "qid", "qvec", 10, nProbe = 3)
      .select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (brute intersect ivf).size.toDouble / brute.size
    assert(recall >= 0.5, s"IVF recall $recall too low (nProbe=3 of 10 cells)")
    assert(ivf.size == brute.size, "IVF must still return k rows per query")
  }

  test("hardNegatives: every mined negative differs in label; IVF full-probe equals brute") {
    val dir = "/root/testdata/sf0.01"
    val e = Tables.load(spark, dir, "embeddings")
    val q = e.filter(col("vec_id") < 8).select(
      col("vec_id").as("qid"), col("embedding").as("qvec"), col("label").as("qlab"))
    val brute = Similarity.hardNegatives(e, "vec_id", "embedding", "label",
      q, "qid", "qvec", "qlab", k = 10)
    val labels = e.select(col("vec_id"), col("label").cast("long")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val rows = brute.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(4)))
    assert(rows.nonEmpty)
    rows.foreach { case (qid, nid, negLab, _) =>
      assert(negLab == labels(nid), "neg_label must be the neighbor's label")
      assert(negLab != labels(qid), s"anchor $qid mined a same-label negative $nid")
    }
    // per-anchor ranks are dense 1..k
    rows.groupBy(_._1).foreach { case (qid, rs) =>
      assert(rs.map(_._4).sorted.toSeq == (1L to rs.length), s"ranks not dense for $qid")
    }
    // with nProbe >= |cells| the IVF route scans everything → identical
    val centroids = Similarity.seedCentroids(e, "vec_id", "embedding", 50)
    val nCells = centroids.count().toInt
    val assigned = Similarity.ivfAssign(e, "vec_id", "embedding", centroids)
    val ivf = Similarity.hardNegativesIvf(assigned, "vec_id", "embedding", e,
      "label", centroids, q, "qid", "qvec", "qlab", k = 10, nProbe = nCells)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(4))).toSet
    assert(ivf == rows.toSet, "full-probe IVF must equal brute force")
  }

  test("IVF-PQ: exhaustive codebook reproduces exact L2 ranking; real codebook keeps recall") {
    val dir = "/root/testdata/sf0.01"
    val e = Tables.load(spark, dir, "embeddings")
    val q = e.filter(col("vec_id") < 5).select(
      col("vec_id").as("qid"), col("embedding").as("qvec"))
    // exact L2 top-10 per query, computed driver-side at fixed seeds
    val vecs = e.select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    def l2(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
      s
    }
    val exact = (0L until 5L).map { qid =>
      qid -> vecs.keys.filter(_ != qid).toSeq
        .sortBy(v => (l2(vecs(qid), vecs(v)), v)).take(10).toSet
    }.toMap

    val centroids = Similarity.seedCentroids(e, "vec_id", "embedding", 50)
    val assigned = Similarity.ivfAssign(e, "vec_id", "embedding", centroids)
    def pq(stride: Int, nProbe: Int): Map[Long, Set[Long]] = {
      // uncapped pool: the spec wants stride=1 to mean EVERY vector
      val cb = Similarity.pqCodebooks(e, "vec_id", "embedding", stride,
        maxCodewords = Int.MaxValue)
      val codes = Similarity.pqEncode(e, "vec_id", "embedding", cb, m = 8, dim = 64)
      Similarity.ivfpqTopK(assigned, "vec_id", centroids, codes, cb,
        q, "qid", "qvec", k = 10, nProbe = nProbe, m = 8, dim = 64)
        .select("query_id", "neighbor_id")
        .collect().groupBy(_.getLong(0))
        .map { case (k2, rs) => k2 -> rs.map(_.getLong(1)).toSet }
    }

    // stride 1 = every vector is a codeword: each vector encodes to
    // itself (d = 0 argmin), so ADC IS exact L2 up to per-subspace
    // micro-rounding; probing every cell must reproduce the exact set
    val exhaustive = pq(stride = 1, nProbe = 100)
    val exactRecall = (0L until 5L).map(qid =>
      (exhaustive(qid) intersect exact(qid)).size).sum / 50.0
    assert(exactRecall >= 0.9, s"exhaustive-codebook recall $exactRecall")

    // realistic codebook (|corpus|/8 codewords), all cells probed:
    // isolates PQ quantization loss from IVF routing loss. The test
    // embeddings are near-random — PQ's worst case (no cluster
    // structure for codewords to exploit) — so the measured recall
    // (0.32 at these fixed seeds, identical with and without routing:
    // the coarse cells lose nothing) is the honest bound, not the
    // 0.9+ a clustered real corpus would give.
    val pqOnly = pq(stride = 8, nProbe = 100)
    val pqRecall = (0L until 5L).map(qid =>
      (pqOnly(qid) intersect exact(qid)).size).sum / 50.0
    assert(pqRecall >= 0.3, s"PQ-only recall $pqRecall too low")

    // full IVF-PQ (nProbe 3 of 10): compounded routing + PQ loss
    val real = pq(stride = 8, nProbe = 3)
    val recall = (0L until 5L).map(qid =>
      (real(qid) intersect exact(qid)).size).sum / 50.0
    assert(recall >= 0.25, s"IVF-PQ recall $recall too low")
    assert(real.values.forall(_.size == 10), "k rows per query")
  }

  test("hyperplane LSH near-dup finds planted duplicates, skips orthogonal vectors") {
    val base = Array.tabulate(16)(i => math.sin(i * 1.7).toFloat)
    val nearDup = base.clone(); nearDup(3) = nearDup(3) + 0.001f
    val orthogonal = Array.tabulate(16)(i => if (i == 0) 1.0f else 0.0f)
    val df = Seq((1L, base), (2L, nearDup), (3L, orthogonal))
      .toDF("vec_id", "embedding")
    val pairs = Similarity.embeddingNearDupPairsLsh(df, "vec_id", "embedding",
      threshold = 0.95, dim = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSeq == Seq((1L, 2L)), s"got ${pairs.toSeq}")
    // and LSH finds a subset of (here: exactly) what brute force finds
    val bruteP = Similarity.embeddingNearDupPairs(df, "vec_id", "embedding", 0.95)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.toSet.subsetOf(bruteP) && bruteP == pairs.toSet)
  }

  test("LSH near-dup plan is bucket-blocked — no cartesian product anywhere") {
    val dir = "/root/testdata/sf0.001"
    val e = Tables.load(spark, dir, "embeddings")
    val plan = Similarity.embeddingNearDupPairsLsh(e, "vec_id", "embedding",
      threshold = 0.35, dim = 64).queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"LSH plan must not contain a cross join:\n$plan")
    // Exchange budget of the SCALE-shaped plan (auto-broadcast off, as
    // stats force at real size; at sf0.001 the packed side broadcasts,
    // which duplicates the cheap pipeline instead): the vector stream
    // must cross exactly ONE materialized shuffle — the pinned
    // pre-pack layout, which the pack aggregation runs on without an
    // exchange of its own ((table, bucket) hash layout satisfies the
    // (table, bucket, chunk) clustering) and the self-join consumes
    // from both sides via runtime stage REUSE. The other two shuffles
    // are scalar-sized (bucket-size aggregate, final distinct). A 4th
    // materialized shuffle means the pack or the join stopped reusing
    // the layout — the shape that doubled the query cross-JVM.
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val scaleDf = Similarity.embeddingNearDupPairsLsh(e, "vec_id", "embedding",
        threshold = 0.35, dim = 64)
      scaleDf.collect()
      // final adaptive section only — AQE appends an "Initial Plan"
      // echo whose pre-reuse exchanges must not be counted
      val fin = scaleDf.queryExecution.executedPlan.toString
        .split("== Initial Plan ==")(0)
      assert(fin.contains("ReusedExchange"),
        s"self-join sides must reuse the pinned pack exchange:\n$fin")
      val nShuffles = fin.linesIterator.count(l =>
        l.contains("Exchange hashpartitioning") && !l.contains("ReusedExchange"))
      assert(nShuffles == 3,
        s"expected 3 materialized shuffles (sizes agg, pinned pack layout, distinct), got $nShuffles:\n$fin")

      // r17 multi-executor route (forced via conf here — the default
      // engages off-local, where each join side would otherwise FETCH
      // the packed vectors cross-process and re-run the pack): the
      // pack is pinned once, its hash layout declared, and the
      // self-join consumes pinned blocks with zero exchange — the
      // only materialized shuffle left in the visible plan is the
      // final distinct. Output must be identical to the local shape.
      val baseline = scaleDf.collect().map(_.toSeq).toSet
      spark.conf.set("graft.neardup.packPin", "true")
      val pinDf = Similarity.embeddingNearDupPairsLsh(e, "vec_id", "embedding",
        threshold = 0.35, dim = 64)
      val got = pinDf.collect().map(_.toSeq).toSet
      val finPin = pinDf.queryExecution.executedPlan.toString
        .split("== Initial Plan ==")(0)
      assert(finPin.contains("ExistingRDD"),
        s"pinned route must scan the pack pin:\n$finPin")
      val nShufflesPin = finPin.linesIterator.count(l =>
        l.contains("Exchange hashpartitioning") && !l.contains("ReusedExchange"))
      assert(nShufflesPin == 1,
        s"pinned route: expected 1 materialized shuffle (final distinct), got $nShufflesPin:\n$finPin")
      assert(got == baseline, "packPin route changed the pair set")
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.unset("graft.neardup.packPin")
    }
  }

  test("LSH near-dup is invariant to bucket chunking") {
    val dir = "/root/testdata/sf0.001"
    val e = Tables.load(spark, dir, "embeddings")
    def pairs(): Set[(Long, Long, Double)] =
      Similarity.embeddingNearDupPairsLsh(e, "vec_id", "embedding",
        threshold = 0.35, dim = 64)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val oneChunk = pairs() // default 4096 rows/chunk: every bucket is one chunk here
    try {
      // 7 rows/chunk: every bucket splits into many chunks, so cross-
      // chunk, same-chunk and mirrored join rows all carry pairs
      spark.conf.set("graft.neardup.lshChunkRows", "7")
      val manyChunks = pairs()
      assert(manyChunks == oneChunk,
        s"chunked LSH diverged: only-in-one=${(oneChunk diff manyChunks).take(3)} " +
          s"only-in-many=${(manyChunks diff oneChunk).take(3)}")
      assert(oneChunk.nonEmpty, "vacuous: sf0.001 must contain LSH near-dups")
    } finally spark.conf.unset("graft.neardup.lshChunkRows")
  }

  test("NearDupBlock unpack cache requires full id equality, not first/last") {
    // Two packed sets agree on (length, first id, last id) but differ in
    // the middle — exactly the collision two overlapping LSH buckets can
    // produce. A stale cache would score row 2 against row 1's member 5.
    val ex = Seq(1.0, 0.0)
    val ey = Seq(0.0, 1.0)
    val df = Seq(
      (Seq((1L, ex), (5L, ex), (9L, ey)), Seq((0L, ex))),
      (Seq((1L, ex), (7L, ey), (9L, ey)), Seq((0L, ex)))
    ).toDF("all", "probe").coalesce(1) // one task = one expression instance
    val out = df.select(explode(graft.functions.NativeExpressions.near_dup_block(
        col("all"), col("probe"), 0.5)).as("nd"))
      .select("nd.id_a", "nd.id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    // row 1 pairs probe 0 with 1 and 5 (cos 1.0); row 2 only with 1 —
    // a false cache hit would emit (0,5) twice and never probe id 7.
    assert(out == Seq((0L, 1L), (0L, 1L), (0L, 5L)), s"got $out")
  }

  test("exact near-dup over-limit arm: blocked cartesian matches broadcast arm, no driver-sized row") {
    val dir = "/root/testdata/sf0.001"
    val e = Tables.load(spark, dir, "embeddings")
    def pairs(): Set[(Long, Long, Double)] =
      Similarity.embeddingNearDupPairs(e, "vec_id", "embedding", 0.35)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val viaBroadcast = pairs() // packed corpus well under the 256 MB default
    try {
      // clamp to 1 byte: every corpus trips the over-limit route; tiny
      // chunks so the test actually exercises MANY chunk×chunk pairs
      spark.conf.set("graft.neardup.broadcastBytes", "1")
      spark.conf.set("graft.neardup.chunkBytes", "4096")
      val blocked = Similarity.embeddingNearDupPairs(e, "vec_id", "embedding", 0.35)
      val plan = blocked.queryExecution.executedPlan.toString
      assert(plan.contains("CartesianProduct"),
        s"over-limit arm must be a shuffle-replicate cartesian:\n$plan")
      assert(!plan.contains("BroadcastExchange"),
        s"over-limit arm must not broadcast any packed side:\n$plan")
      assert(pairs() == viaBroadcast, "blocked arm diverged from broadcast arm")
    } finally {
      spark.conf.unset("graft.neardup.broadcastBytes")
      spark.conf.unset("graft.neardup.chunkBytes")
    }
  }

  test("stratified sampling balances classes deterministically") {
    val dir = "/root/testdata/sf0.01"
    val docs = Tables.load(spark, dir, "documents")
    val bySrc = docs.groupBy("source").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // downsample the largest class to ~30%, keep the rest
    val biggest = bySrc.maxBy(_._2)._1
    val fractions = bySrc.keys.map(k => k -> (if (k == biggest) 0.3 else 1.0)).toMap
    val sampled = docs.stat.sampleBy("source", fractions, seed = 42L)
    val after = sampled.groupBy("source").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(after(biggest) < bySrc(biggest) * 0.6, s"downsample ineffective: $after vs $bySrc")
    bySrc.keys.filterNot(_ == biggest).foreach(k => assert(after(k) == bySrc(k)))
    // deterministic under the same seed
    val again = docs.stat.sampleBy("source", fractions, seed = 42L).count()
    assert(again == sampled.count())
  }

  test("heavy hitters sketch: exact when capacity suffices, hitter guaranteed under skew") {
    import graft.functions.HeavyHitters.heavy_hitters
    // exact mode: 3 distinct keys, capacity 8
    val small = Seq("a", "a", "b", "a", "c", "b").toDF("k")
    val exact = small.agg(heavy_hitters(col("k"), 8).as("hh"))
      .select(explode(col("hh"))).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(exact == Map("a" -> 3L, "b" -> 2L, "c" -> 1L))

    // skew mode: 10k rows, one key at 40%, capacity 4 — the hitter
    // must survive with count within n/(k+1) of truth
    val rnd = new scala.util.Random(5)
    val skewed = (1 to 10000).map(_ =>
      if (rnd.nextDouble() < 0.4) "HOT" else s"cold${rnd.nextInt(500)}")
      .toDF("k").repartition(8)
    val hh = skewed.agg(heavy_hitters(col("k"), 4).as("hh"))
      .select(explode(col("hh"))).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(hh.contains("HOT"), s"hitter lost: $hh")
    val trueHot = skewed.filter(col("k") === "HOT").count()
    assert(hh("HOT") <= trueHot && hh("HOT") >= trueHot - 10000 / 5)
  }

  test("cosine matches a hand-computed value") {
    val df = Seq((Array(1.0f, 0.0f, 1.0f), Array(1.0f, 1.0f, 0.0f))).toDF("a", "b")
    val c = df.select(Similarity.cosine(col("a"), col("b")).as("c"))
      .collect().head.getDouble(0)
    assert(math.abs(c - 0.5) < 1e-12) // dot=1, norms=sqrt(2)*sqrt(2)
  }

  test("langId identifies stopword-rich language samples") {
    val samples = Seq(
      1L -> "the cat is on the mat and it was a good day for this thing",
      2L -> "der hund ist nicht mit der katze und das ist auch ein problem",
      3L -> "el perro es un animal que vive en la casa con los gatos",
      4L -> "le chien est dans la maison avec les chats pour le moment")
    val out = samples.toDF("doc_id", "text")
      .select(col("doc_id"), TextFunctions.langId(col("text")).as("lang"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out == Map(1L -> "en", 2L -> "de", 3L -> "es", 4L -> "fr"))
  }

  test("quality signals are sane and bounded") {
    val df = docsDf(1L -> "the quick brown fox jumps over the lazy dog",
      2L -> "@@@ ### !!! $$$")
    val rows = df.select(col("doc_id") +:
      TextFunctions.qualitySignals(col("text")).map { case (n, c) => c.as(n) }: _*)
      .collect().map(r => r.getLong(0) -> r).toMap
    val good = rows(1L); val junk = rows(2L)
    assert(good.getAs[Long]("n_words") == 9)
    assert(good.getAs[Double]("alpha_ratio") > 0.7)
    assert(junk.getAs[Double]("alpha_ratio") == 0.0)
    Seq(good, junk).foreach { r =>
      Seq("alpha_ratio", "stopword_ratio").foreach { n =>
        val v = r.getAs[Double](n); assert(v >= 0.0 && v <= 1.0, s"$n = $v")
      }
    }
  }

  test("fingerprint is stable under prefix edits that keep a shared window") {
    val tail = "0123456789abcdefghijklmnopqrstuvwxyz"
    val df = docsDf(1L -> s"AAA $tail", 2L -> s"BBBBB $tail")
    val fps = df.select(TextFunctions.fingerprintExpr("text").as("fp"))
      .collect().map(_.getString(0))
    assert(fps(0) == fps(1), "shared 16-char window should dominate the min")
  }

  test("pii_scan reproduces the chained-regex policy exactly") {
    import graft.functions.TextFunctions._
    // ground truth: the regexes that DEFINE the policy, applied the
    // way the oracle chains them (counts on original; emails redacted
    // first, then IPs on the email-redacted text)
    val email = emailPattern.r
    val ip = ipv4Pattern.r
    def truth(s: String): (Long, Long, String) = {
      val ne = email.findAllIn(s).length
      val ni = ip.findAllIn(s).length
      (ne.toLong, ni.toLong,
        ip.replaceAllIn(email.replaceAllIn(s, "<EMAIL>"), "<IP>"))
    }
    val cases = Seq(
      "plain text no pii at all",
      "contact user7@example.com at 10.0.7.1",
      "multi a@b.co.uk then c.d+e%f@sub.domain-x.org done",
      "trailing dot a@b.com. and a@b.c (short tld)",
      "digits after email user@dom.com1.2.3.4 tricky",   // IP appears only post-redaction
      "two ips 1.2.3.4 5.6.7.8 and bad 1234.5.6.7 999.999.999.999",
      "overlong octet 12.34.56.7890 no-boundary a1.2.3.4 _1.2.3.4 -1.2.3.4",
      "ip at end 10.20.30.40",
      "1.2.3.4 ip at start and email at end x@y.zz",
      "adjacent@e.com10.0.0.1 weird",
      "a@b@c.com double at",
      "@nolocal.com and local@ and @ alone",
      "dots a@b..com a@.com a@b.c.d.ef",
      "unicode é1.2.3.4 naïve@dom.fr fin",
      "4+octets 1.2.3.4.5 and 1.2.3.4.e.f",
      "")
    // randomized cross-check: glue pii-ish fragments together
    val rnd = new scala.util.Random(11)
    val frags = Seq("a@b.co", " 1.2.3.4", "x", ".", "@", " ", "12", "dom.com",
      "u_%+-@d-x.io", "999", "..", "e@f", ".gh", "_", "1.2.3.4567")
    val random = Seq.fill(200)(
      Seq.fill(3 + rnd.nextInt(8))(frags(rnd.nextInt(frags.size))).mkString)
    val all = (cases ++ random).zipWithIndex.map { case (s, i) => (i.toLong, s) }
    val got = docsDf(all: _*)
      .select(col("doc_id"), col("text"), piiScan(col("text")).as("p"))
      .select(col("text"), col("p.n_emails"), col("p.n_ips"), col("p.redacted"))
      .collect()
    got.foreach { r =>
      val s = r.getString(0)
      val (ne, ni, red) = truth(s)
      assert((r.getLong(1), r.getLong(2), r.getString(3)) == ((ne, ni, red)),
        s"input <$s>: got (${r.getLong(1)},${r.getLong(2)},${r.getString(3)}) want ($ne,$ni,$red)")
    }
  }

  test("video decode is real: mp4 box walk round-trips dims/frames/duration") {
    import spark.implicits._
    val params = Seq((1L, 320, 240, 48), (2L, 33, 17, 9), (3L, 1920, 1080, 125))
      .toDF("id", "w", "h", "frames")
    val mp4s = Multimodal.encodeTestMp4s(params, "id", "w", "h", "frames")
    val dec = Multimodal.decodeVideo(spark, mp4s)
      .collect().map(r => r.getAs[Long]("media_id") -> r).toMap
    Seq((1L, 320L, 240L, 48L), (2L, 33L, 17L, 9L), (3L, 1920L, 1080L, 125L))
      .foreach { case (id, w, h, f) =>
        val r = dec(id)
        assert(r.getAs[String]("fmt") == "mp4")
        assert(r.getAs[Long]("width") == w && r.getAs[Long]("height") == h,
          s"id=$id dims ${r}")
        assert(r.getAs[Long]("n_frames") == f)
        assert(r.getAs[Long]("duration_ms") == f * 40)
      }

    val frames = Multimodal.sampleFrames(Multimodal.decodeVideo(spark, mp4s), 2)
      .filter(col("media_id") === 2L)
      .select("frame_idx").collect().map(_.getLong(0)).toSeq.sorted
    assert(frames == (0L until 9L).by(2).toSeq)
  }

  test("video decode is real: mkv ebml parse; garbage -> nulls") {
    import spark.implicits._
    // handcrafted minimal Matroska: EBML header (DocType) + Segment
    // (Info: TimestampScale 1e6 ns, Duration 12345.0 ticks; Tracks:
    // TrackEntry/Video PixelWidth 320, PixelHeight 240)
    def el(id: Array[Int], body: Array[Byte]): Array[Byte] =
      id.map(_.toByte) ++ Array((0x80 | body.length).toByte) ++ body
    val docType = el(Array(0x42, 0x82), "matroska".getBytes("US-ASCII"))
    val header = el(Array(0x1a, 0x45, 0xdf, 0xa3), docType)
    val scale = el(Array(0x2a, 0xd7, 0xb1), Array(0x0f, 0x42, 0x40).map(_.toByte))
    val durBits = java.lang.Float.floatToIntBits(12345.0f)
    val dur = el(Array(0x44, 0x89), Array(durBits >> 24, durBits >> 16,
      durBits >> 8, durBits).map(_.toByte))
    val info = el(Array(0x15, 0x49, 0xa9, 0x66), scale ++ dur)
    val video = el(Array(0xe0),
      el(Array(0xb0), Array(0x01, 0x40).map(_.toByte)) ++
      el(Array(0xba), Array(0xf0.toByte)))
    val tracks = el(Array(0x16, 0x54, 0xae, 0x6b), el(Array(0xae), video))
    val segment = el(Array(0x18, 0x53, 0x80, 0x67), info ++ tracks)
    val mkv = header ++ segment

    val bin = Seq((10L, mkv), (11L, "not a video at all".getBytes))
      .toDF("media_id", "payload")
    val out = Multimodal.decodeVideo(spark, bin)
      .collect().map(r => r.getAs[Long]("media_id") -> r).toMap
    val m = out(10L)
    assert(m.getAs[String]("fmt") == "matroska")
    assert(m.getAs[Long]("width") == 320L && m.getAs[Long]("height") == 240L)
    assert(m.isNullAt(m.fieldIndex("n_frames")))
    assert(m.getAs[Long]("duration_ms") == 12345L)
    val g = out(11L)
    assert(g.isNullAt(g.fieldIndex("fmt")) && g.isNullAt(g.fieldIndex("width")))
  }

  test("image decode is real: png/bmp/gif round-trip dims; garbage -> nulls") {
    import spark.implicits._
    val dims = Seq((1L, 13, 27), (2L, 64, 8), (3L, 100, 1))
      .toDF("id", "w", "h")
    Seq("png", "bmp", "gif").foreach { fmt =>
      val images = Multimodal.encodeTestImages(dims, "id", "w", "h", fmt)
      val out = Multimodal.decodeImages(spark, images)
        .select("media_id", "fmt", "width", "height")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
        .sortBy(_._1)
      assert(out.map(_._2).forall(_ == fmt), s"format detection: ${out.mkString(",")}")
      assert(out.map(t => (t._1, t._3.toInt, t._4.toInt)).toSeq ==
        dims.collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSeq.sortBy(_._1),
        s"$fmt dims round-trip")
    }
    // bytes no reader recognizes must not fail the task
    val junk = Seq((9L, Array[Byte](1, 2, 3, 4, 5))).toDF("media_id", "payload")
      .withColumn("n_bytes", lit(5L)).withColumn("kind", lit("image"))
    val r = Multimodal.decodeImages(spark, junk).collect().head
    assert(r.isNullAt(r.fieldIndex("fmt")) && r.isNullAt(r.fieldIndex("width")))
  }

  test("image dHash: scale-invariant on real rasters, group structure detected") {
    import spark.implicits._
    // same id at three block scales → identical dHash (the exact
    // area-average must undo the upscaling); different group → far
    val h = (for ((id, sx, sy) <- Seq((4L, 1, 1), (4L, 3, 2), (4L, 2, 3), (8L, 1, 1))) yield {
      val one = Seq((id, sx, sy)).toDF("id", "sx", "sy")
      val img = Multimodal.encodeTestPatternImages(one, "id", "sx", "sy")
      val out = Multimodal.dhashImages(spark, img).collect().head
      (id, sx, sy, out.getLong(1))
    })
    val id4 = h.filter(_._1 == 4L).map(_._4).distinct
    assert(id4.size == 1, s"dHash must be invariant to block scale: $h")
    val id8 = h.find(_._1 == 8L).get._4
    assert(java.lang.Long.bitCount(id4.head ^ id8) > 10,
      "different groups must be far in Hamming space")
  }

  test("image dHash near-dup groups: members 0-2 pair up, member 3 escapes") {
    import spark.implicits._
    // one full group (ids 100..103) + one unrelated group (ids 200..203)
    val df = (Seq(100L, 101L, 102L, 103L, 200L, 201L) map (i => (i, 1 + (i % 3).toInt, 1)))
      .toDF("id", "sx", "sy")
    val imgs = Multimodal.encodeTestPatternImages(df, "id", "sx", "sy")
    val pairs = graft.operators.Dedup.hammingPairs64(
      Multimodal.dhashImages(spark, imgs), "media_id", "dhash", maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((100L, 101L)) && pairs.contains((100L, 102L))
      && pairs.contains((101L, 102L)), s"in-group near-dups: $pairs")
    assert(!pairs.exists(p => p._1 == 103L || p._2 == 103L),
      s"member 3 (8 flips) must escape: $pairs")
    assert(pairs.contains((200L, 201L)))
    assert(!pairs.exists(p => p._1 < 200L && p._2 >= 200L),
      s"no cross-group pairs: $pairs")
  }

  test("audio fingerprint: invariant to clip length, group structure detected, garbage null") {
    import spark.implicits._
    // same id at three samples-per-block → identical hash (the exact
    // block means must undo the length change); different group → far
    val h = (for ((id, spb) <- Seq((4L, 20), (4L, 40), (4L, 30), (8L, 20))) yield {
      val one = Seq((id, spb)).toDF("id", "spb")
      val wav = Multimodal.encodeTestPatternWavs(one, "id", "spb")
      (id, spb, Multimodal.ahashAudio(spark, wav).collect().head.getLong(1))
    })
    val id4 = h.filter(_._1 == 4L).map(_._3).distinct
    assert(id4.size == 1, s"audio hash must be invariant to clip length: $h")
    assert(java.lang.Long.bitCount(id4.head ^ h.find(_._1 == 8L).get._3) > 10,
      "different groups must be far in Hamming space")
    // undecodable bytes -> null, not task failure
    val junk = Seq((9L, Array[Byte](9, 9, 9, 9))).toDF("media_id", "payload")
    val r = Multimodal.ahashAudio(spark, junk).collect().head
    assert(r.isNullAt(1))
  }

  test("audio near-dup groups: members 0-2 pair up, member 3 escapes") {
    import spark.implicits._
    val df = Seq(100L, 101L, 102L, 103L, 200L, 201L)
      .map(i => (i, 20 + (i % 3).toInt * 10)).toDF("id", "spb")
    val wavs = Multimodal.encodeTestPatternWavs(df, "id", "spb")
    val pairs = graft.operators.Dedup.hammingPairs64(
      Multimodal.ahashAudio(spark, wavs), "media_id", "ahash", maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((100L, 101L)) && pairs.contains((100L, 102L))
      && pairs.contains((101L, 102L)), s"in-group near-dups: $pairs")
    assert(!pairs.exists(p => p._1 == 103L || p._2 == 103L),
      s"member 3 (8 flips) must escape: $pairs")
    assert(!pairs.exists(p => p._1 < 200L && p._2 >= 200L),
      s"no cross-group pairs: $pairs")
  }

  test("video fingerprint: base-size invariant, container-invariant across mp4/mkv") {
    import spark.implicits._
    // same id at three base sizes → identical vhash (only gradient
    // signs are pinned, absolute sizes vary); different group → far
    val h = (for ((id, base) <- Seq((4L, 2000L), (4L, 2064L), (4L, 2128L), (8L, 2000L))) yield {
      val one = Seq((id, base)).toDF("id", "base")
      val vid = Multimodal.encodeTestPatternVideos(one, "id", "base")
      (id, base, Multimodal.vhashVideo(spark, vid).collect().head.getLong(1))
    })
    val id4 = h.filter(_._1 == 4L).map(_._3).distinct
    assert(id4.size == 1, s"vhash must be invariant to base size: $h")
    assert(java.lang.Long.bitCount(id4.head ^ h.find(_._1 == 8L).get._3) > 10,
      "different groups must be far in Hamming space")
    // garbage and table-less containers (the decode-only MP4 shape
    // writes a count but no stsz table) yield null, not failure
    val mp4NoTable = Seq((7L, 320, 240, 80)).toDF("id", "w", "h", "frames")
    val plain = Multimodal.encodeTestMp4s(mp4NoTable, "id", "w", "h", "frames")
      .select("media_id", "payload")
    assert(Multimodal.vhashVideo(spark, plain).collect().head.isNullAt(1))
    val junk = Seq((9L, Array[Byte](1, 2, 3))).toDF("media_id", "payload")
    assert(Multimodal.vhashVideo(spark, junk).collect().head.isNullAt(1))
  }

  test("video near-dup groups pair ACROSS containers; member 3 escapes") {
    import spark.implicits._
    // members alternate mp4 (even) / mkv (odd): the (100,101) and
    // (101,102) pairs each cross containers
    val df = Seq(100L, 101L, 102L, 103L, 200L, 201L)
      .map(i => (i, 2000L + (i % 3) * 64)).toDF("id", "base")
    val vids = Multimodal.encodeTestPatternVideos(df, "id", "base")
    val pairs = graft.operators.Dedup.hammingPairs64(
      Multimodal.vhashVideo(spark, vids), "media_id", "vhash", maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((100L, 101L)) && pairs.contains((100L, 102L))
      && pairs.contains((101L, 102L)), s"cross-container near-dups: $pairs")
    assert(!pairs.exists(p => p._1 == 103L || p._2 == 103L),
      s"member 3 (8 flips) must escape: $pairs")
    assert(!pairs.exists(p => p._1 < 200L && p._2 >= 200L),
      s"no cross-group pairs: $pairs")
  }

  test("audio decode is real: wav round-trip rate/channels/frames; garbage -> nulls") {
    import spark.implicits._
    val params = Seq((1L, 8000, 1, 120), (2L, 16000, 2, 77), (3L, 44100, 1, 441))
      .toDF("id", "rate", "ch", "frames")
    val wavs = Multimodal.encodeTestWavs(params, "id", "rate", "ch", "frames")
    val out = Multimodal.decodeAudio(spark, wavs)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).sortBy(_._1)
    assert(out.map(_._2).forall(_ == "wave"), out.mkString(","))
    assert(out.map(t => (t._1, t._3.toInt, t._4.toInt, t._6.toInt)).toSeq ==
      params.collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2),
        r.getInt(3))).toSeq.sortBy(_._1), "rate/channels/frames round-trip")
    assert(out.map(_._5).forall(_ == 16L), "PCM-16 bit depth")

    val junk = Seq((9L, Array[Byte](82, 73, 70, 70, 0))).toDF("media_id", "payload")
    val r = Multimodal.decodeAudio(spark, junk).collect().head
    assert(r.isNullAt(r.fieldIndex("fmt")) && r.isNullAt(r.fieldIndex("sample_rate")))
  }

  test("kmeansTrainExact: fixed-point means are exact and stable on planted clusters") {
    // Two planted clusters; stride 3 seeds ids 0 (≈[1,0]) and 3 (≈[0,1]).
    val e = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(0.9f, 0.1f)), (2L, Array(0.8f, 0.2f)),
      (3L, Array(0.0f, 1.0f)), (4L, Array(0.1f, 0.9f)), (5L, Array(0.2f, 0.8f))
    ).toDF("vec_id", "embedding")
    val got = Similarity.kmeansTrainExact(e, "vec_id", "embedding",
        stride = 3, iters = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getSeq[Double](2).toList)).sortBy(_._1).toList
    // Assignment is clean both rounds, so centroids are the exact
    // fixed-point means: ((1+0.9+0.8)/3, (0+0.1+0.2)/3) etc. — every
    // element an exact integer-micro division.
    assert(got.map(t => (t._1, t._2)) == List((0L, 3L), (3L, 3L)))
    def qmean(xs: Seq[Float]): Double = {
      val s = xs.map(x => math.round(x.toDouble * 1e6)).sum
      s.toDouble / xs.size / 1e6
    }
    assert(got(0)._3 == List(qmean(Seq(1.0f, 0.9f, 0.8f)), qmean(Seq(0.0f, 0.1f, 0.2f))))
    assert(got(1)._3 == List(qmean(Seq(0.0f, 0.1f, 0.2f)), qmean(Seq(1.0f, 0.9f, 0.8f))))
    // Bit-for-bit reproducible: a second run returns identical doubles.
    val again = Similarity.kmeansTrainExact(e, "vec_id", "embedding",
        stride = 3, iters = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getSeq[Double](2).toList)).sortBy(_._1).toList
    assert(again == got)
  }
}

package graft

import graft.operators.{Behavioral, Similarity, TextPipeline}
import org.apache.spark.sql.functions._
import java.sql.Timestamp

class PipelineOpsSpec extends SparkTestBase {
  import spark.implicits._

  private def ts(minute: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-01 ${minute / 60}%02d:${minute % 60}%02d:00")

  test("windowFunnel: strict order, window cutoff, per-stage levels") {
    // u1 completes view→click→purchase inside the window → 3
    // u2 reaches click only → 2
    // u3 purchases BEFORE clicking (order violated) → 2
    // u4 completes but the purchase falls outside the window → 2
    // u5 has no view at all → 0
    val events = Seq(
      (1L, ts(0), "view"), (1L, ts(5), "click"), (1L, ts(10), "purchase"),
      (2L, ts(0), "view"), (2L, ts(5), "click"),
      (3L, ts(0), "view"), (3L, ts(4), "purchase"), (3L, ts(8), "click"),
      (4L, ts(0), "view"), (4L, ts(5), "click"), (4L, ts(200), "purchase"),
      (5L, ts(0), "click"), (5L, ts(5), "purchase")
    ).toDF("user_id", "ts", "event_type")
    val got = Behavioral.windowFunnel(events, "user_id", "ts", "event_type",
        Seq("view", "click", "purchase"), windowSeconds = 3600L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 3L, 2L -> 2L, 3L -> 2L, 4L -> 2L, 5L -> 0L))
  }

  test("retentionCohorts: day-1 and day-7 return flags per cohort") {
    def day(d: Int, h: Int = 0): Timestamp =
      Timestamp.valueOf(f"2024-01-${d + 1}%02d $h%02d:00:00")
    // cohort day0: uA returns d1 and d8; uB returns d1 only; uC never
    // cohort day1: uD returns d8 (d7+ relative to its own start)
    val events = Seq(
      (1L, day(0)), (1L, day(1)), (1L, day(8)),
      (2L, day(0)), (2L, day(1, 23)),
      (3L, day(0)),
      (4L, day(1)), (4L, day(8))
    ).toDF("user_id", "ts")
    val got = Behavioral.retentionCohorts(events, "user_id", "ts")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got == Set(
      ("2024-01-01", 3L, 2L, 1L),
      ("2024-01-02", 1L, 0L, 1L)))
  }

  test("topTransitions: successor pairs per user, tie-broken, ranked") {
    // u1: a→b→a; u2: a→b. Transitions: (a,b)×2, (b,a)×1.
    // Equal timestamps for u1's last two events — event_id breaks the tie.
    val events = Seq(
      (1L, ts(0), 100L, "a"), (1L, ts(5), 101L, "b"), (1L, ts(5), 102L, "a"),
      (2L, ts(0), 200L, "a"), (2L, ts(9), 201L, "b")
    ).toDF("user_id", "ts", "event_id", "event_type")
    val got = Behavioral.topTransitions(events, "user_id", "ts", "event_type",
        tieCol = "event_id", k = 10)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == Seq(("a", "b", 2L, 1L), ("b", "a", 1L, 2L)))
  }

  test("contaminationHits: planted 8-gram overlap is found, clean docs report 0") {
    val shared = "alpha beta gamma delta epsilon zeta eta theta"
    val train = Seq(
      (1L, s"prefix words here $shared suffix tail words"),
      (2L, "totally unrelated content with no overlap at all whatsoever")
    ).toDF("doc_id", "text")
    val eval_ = Seq((100L, s"$shared and some trailing context")).toDF("doc_id", "text")
    val got = TextPipeline.contaminationHits(train, eval_, "doc_id", "text", n = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    assert(got.contains((2L, 0L, false)))
    val hit = got.find(_._1 == 1L).get
    assert(hit._3 && hit._2 >= 1L)
  }

  test("bloom static helpers: added keys always hit, absent keys mostly miss") {
    import graft.functions.NativeExpressions
    val bits = new Array[Long](1024) // 65536 bits, 1000 keys → ~65 b/key
    val rnd = new scala.util.Random(11)
    val keys = Array.fill(1000)(rnd.nextLong())
    keys.foreach(NativeExpressions.bloomAdd(bits, 8, _))
    assert(keys.forall(NativeExpressions.bloomContains(bits, 8, _)),
      "bloom filters must never false-negative")
    val absent = Array.fill(10000)(rnd.nextLong()).filterNot(keys.contains)
    val fp = absent.count(NativeExpressions.bloomContains(bits, 8, _))
    assert(fp < 100, s"false-positive rate implausibly high: $fp / ${absent.length}")
  }

  test("contaminationHitsBloom: row-identical to the exact broadcast form") {
    val shared = "alpha beta gamma delta epsilon zeta eta theta"
    val shared2 = "one two three four five six seven eight nine"
    val train = Seq(
      (1L, s"prefix words here $shared suffix tail words"),
      (2L, "totally unrelated content with no overlap at all whatsoever"),
      (3L, s"$shared2 and then some more words"),
      (4L, "short doc"),
      (5L, s"double hit $shared padding $shared2 end")
    ).toDF("doc_id", "text")
    val eval_ = Seq(
      (100L, s"$shared and some trailing context"),
      (101L, s"leading context then $shared2 closing")
    ).toDF("doc_id", "text")
    val exact = TextPipeline.contaminationHits(train, eval_, "doc_id", "text", n = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    val bloom = TextPipeline.contaminationHitsBloom(train, eval_, "doc_id", "text", n = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    assert(bloom == exact)
    assert(exact.exists(t => t._1 == 5L && t._3), "planted double hit missed")
    assert(exact.contains((2L, 0L, false)))
  }

  test("tokenBudgetSample: per-source budgets honored in md5 order, window-form equal") {
    val docs = (1L to 40L).map { i =>
      val src = if (i % 2 == 0) "a" else "b"
      (i, src, Seq.fill((i % 5 + 1).toInt)("w").mkString(" "))
    }.toDF("doc_id", "source", "text")
    val got = TextPipeline.tokenBudgetSample(docs, "doc_id", "source", "text",
      budgets = Map("a" -> 15L), defaultBudget = 25L, numPartitions = 3)
    // reference: the plain (single-task) window form
    docs.createOrReplaceTempView("tbs_docs")
    val expectRows = spark.sql(
      """SELECT doc_id, source, cast(n_tokens AS long) AS n_tokens,
        |  cast(sum(n_tokens) OVER (PARTITION BY source ORDER BY ok, doc_id)
        |    AS long) AS cum_tokens
        |FROM (SELECT doc_id, source,
        |        size(split(text, ' ')) AS n_tokens,
        |        cast(conv(substring(md5(cast(doc_id AS string)), 1, 8), 16, 10)
        |          AS long) AS ok
        |      FROM tbs_docs)
        |""".stripMargin)
      .filter(col("cum_tokens") <= when(col("source") === "a", 15L).otherwise(25L))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
    val gotRows = got.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
    assert(gotRows == expectRows)
    // every kept row is within budget; the kept set is a prefix in hash order
    assert(gotRows.filter(_._2 == "a").forall(_._4 <= 15L))
    assert(gotRows.filter(_._2 == "b").forall(_._4 <= 25L))
    assert(gotRows.nonEmpty)
  }

  test("perplexityBuckets: labels are ordered terciles; short docs get na") {
    val docs = ((1L to 30L).map { i =>
      // vary bigram typicality: low ids repeat the common phrase (high
      // logp), high ids are all-distinct words (low logp)
      val text =
        if (i <= 10) "the cat sat on the mat " * 3
        else if (i <= 20) s"the cat ran doc$i over field$i today maybe"
        else s"zq$i xv$i wk$i jr$i pl$i mn$i"
      (i, text.trim)
    } :+ (99L, "single")).toDF("doc_id", "text")
    val got = TextPipeline.perplexityBuckets(docs, "doc_id", "text").collect()
      .map(r => (r.getLong(0), Option(r.get(1)).map(_.asInstanceOf[Double]), r.getString(2)))
    assert(got.find(_._1 == 99L).get._3 == "na")
    val byBucket = got.filter(_._2.isDefined)
      .groupBy(_._3).view.mapValues(_.map(_._2.get)).toMap
    assert(Set("head", "middle", "tail").subsetOf(byBucket.keySet),
      s"expected all three buckets, got ${byBucket.keySet}")
    assert(byBucket("head").min >= byBucket("middle").max,
      "head scores must dominate middle")
    assert(byBucket("middle").min >= byBucket("tail").max,
      "middle scores must dominate tail")
  }

  test("ngramNovelty: hand-computed df shares, short-doc fallback") {
    val docs = Seq(
      (1L, "a b c d"), // grams: "a b c"(df2), "b c d"(df1)
      (2L, "a b c e"), // grams: "a b c"(df2), "b c e"(df1)
      (3L, "x y")      // short → single whole-text shingle (df1)
    ).toDF("doc_id", "text")
    val got = TextPipeline.ngramNovelty(docs, "doc_id", "text", n = 3).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4))))
      .toMap
    assert(got(1L) == ((2L, 1L, 0.5, 1.5)))
    assert(got(2L) == ((2L, 1L, 0.5, 1.5)))
    assert(got(3L) == ((1L, 1L, 1.0, 1.0)))
  }

  test("repetitionSignals: hand-computed dup and top-bigram fractions") {
    val df = Seq((1L, "a b a b a"), (2L, "x y z")).toDF("doc_id", "text")
    val got = df
      .select(col("doc_id"), TextPipeline.repetitionStats(col("text")).as("r"))
      .select(col("doc_id"), col("r.n_words"), col("r.dup_word_frac"),
        col("r.top_bigram"), col("r.top_bigram_n"), col("r.top_bigram_frac"))
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getDouble(2), r.getString(3), r.getLong(4), r.getDouble(5))).toMap
    // "a b a b a": 5 words, 2 distinct → dup 0.6; bigrams: a b, b a, a b, b a
    // → top is "a b" (count 2, lexicographic tie-break over "b a"), 2/4 = 0.5
    assert(got(1L) == ((5L, 0.6, "a b", 2L, 0.5)))
    assert(got(2L) == ((3L, 0.0, "x y", 1L, 0.5)))

    // single-word doc: no bigrams → null top fields
    val solo = Seq((9L, "solo")).toDF("doc_id", "text")
      .select(TextPipeline.repetitionStats(col("text")).as("r"))
      .select(col("r.n_words"), col("r.top_bigram")).collect().head
    assert(solo.getLong(0) == 1L && solo.isNullAt(1))
  }

  test("bigramLmScore: add-one smoothed probabilities, hand-checked") {
    // corpus: "a b" ×2 docs → c(a)=2, c(b)=2, V=2, c12(a,b)=2
    // each doc: one bigram, lp = ln((2+1)/(2+2)) = ln(0.75)
    val df = Seq((1L, "a b"), (2L, "a b"), (3L, "c")).toDF("doc_id", "text")
    val got = TextPipeline.bigramLmScore(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), Option(r.get(2)).map(_.asInstanceOf[Double]))).toMap
    val expected = BigDecimal(math.log((2 + 1.0) / (2 + 3)))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // V counts 'c' too: vocabulary {a, b, c} → denominator c(a) + 3
    assert(got(1L) == ((1L, Some(expected))))
    assert(got(2L) == ((1L, Some(expected))))
    assert(got(3L) == ((0L, None))) // single word: no bigrams
  }

  test("bm25TopK: heavier term use ranks higher; scores positive") {
    val df = Seq(
      (1L, "scan scan scan filler filler"),
      (2L, "scan filler filler filler filler"),
      (3L, "filler filler filler filler filler")
    ).toDF("doc_id", "text")
    val got = TextPipeline.bm25TopK(df, "doc_id", "text", Seq("scan"), k = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
    assert(got.map(_._1).toSeq == Seq(1L, 2L)) // doc 3 has no term → unscored
    assert(got.forall(_._2 > 0))
    assert(got.map(_._3).toSeq == Seq(1L, 2L))
  }

  test("packSequences: distributed prefix sum equals the window form") {
    val docs = (0 until 200).map(i => (i.toLong, ("w " * (i % 37 + 1)).trim))
      .toDF("doc_id", "text")
    val got = TextPipeline.packSequences(docs, "doc_id", "text",
        seqLen = 128, numPartitions = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    // oracle: single-partition window cumsum
    import org.apache.spark.sql.expressions.Window
    val w = Window.orderBy("doc_id").rowsBetween(Window.unboundedPreceding, -1)
    val expect = docs.select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
      .withColumn("cum", coalesce(sum("n_tokens").over(w), lit(0L)))
      .select(col("doc_id"), col("n_tokens"),
        floor(col("cum") / 128).cast("long").as("seq_id"),
        pmod(col("cum"), lit(128L)).as("seq_offset"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got == expect)
  }

  test("substringSpans: shared runs merge into intervals; clean docs report 0") {
    // docs 1/2 share "a b c d" → doc1 grams "a b c"@0, "b c d"@1 merge
    // to [0,3] = 4 covered words of 5; doc2 the same span at offset 1;
    // doc3 shares nothing; doc4 is shorter than k → zero grams.
    val df = Seq(
      (1L, "a b c d e"),
      (2L, "x a b c d"),
      (3L, "p q r s t"),
      (4L, "u v")
    ).toDF("doc_id", "text")
    val got = operators.Dedup.substringSpans(df, "doc_id", "text", k = 3)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(got(1L) == ((5L, 4L, 0.8)))
    assert(got(2L) == ((5L, 4L, 0.8)))
    assert(got(3L) == ((5L, 0L, 0.0)))
    assert(got(4L) == ((2L, 0L, 0.0)))
  }

  test("substringSpans: disjoint duplicated runs stay separate islands") {
    // doc1 shares "a b c" with doc2 and "x y z" with doc3, far apart:
    // covered [0,2] and [6,8] → 6 words, not 9.
    val df = Seq(
      (1L, "a b c m n o x y z"),
      (2L, "a b c"),
      (3L, "x y z")
    ).toDF("doc_id", "text")
    val got = operators.Dedup.substringSpans(df, "doc_id", "text", k = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(got(1L) == 6L)
  }

  test("substringRuns: island lengths are exact maximal run lengths, thresholded") {
    // doc1 and doc2 share a 6-word run (r1..r6) and, far apart, a
    // 3-word run (s1 s2 s3); with k=3 the anchors merge back to runs
    // of exactly 6 and 3 words -> longest_run 6; minRun=5 counts only
    // the first. doc3 shares nothing.
    val df = Seq(
      (1L, "r1 r2 r3 r4 r5 r6 f1 f2 f3 f4 s1 s2 s3"),
      (2L, "g1 g2 r1 r2 r3 r4 r5 r6 g3 g4 g5 s1 s2 s3"),
      (3L, "p1 p2 p3 p4 p5 p6 p7 p8 p9")
    ).toDF("doc_id", "text")
    val got = operators.Dedup.substringRuns(df, "doc_id", "text", k = 3, minRun = 5)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got(1L) == ((13L, 6L, 1L)), s"doc1: ${got(1L)}")
    assert(got(2L) == ((14L, 6L, 1L)), s"doc2: ${got(2L)}")
    assert(got(3L) == ((9L, 0L, 0L)), s"doc3: ${got(3L)}")
  }

  test("substringRuns: minRun at k counts every island; longest tracks the max") {
    // a 4-word and a 5-word shared run: longest 5, both count at minRun=3
    val df = Seq(
      (1L, "a b c d z1 z2 z3 e f g h i"),
      (2L, "a b c d y1 y2 y3 e f g h i")
    ).toDF("doc_id", "text")
    val got = operators.Dedup.substringRuns(df, "doc_id", "text", k = 3, minRun = 3)
      .collect().map(r => r.getLong(0) -> ((r.getLong(2), r.getLong(3)))).toMap
    assert(got(1L) == ((5L, 2L)), s"doc1: ${got(1L)}")
    assert(got(2L) == ((5L, 2L)), s"doc2: ${got(2L)}")
  }

  test("substringDedupRewrite: covered runs cut everywhere, survivors keep order") {
    // docs 1/2 share "a b c d" → doc1 keeps "e", doc2 keeps "x";
    // doc3 untouched; doc4 (= doc5) is ENTIRELY one duplicated run → ""
    val df = Seq(
      (1L, "a b c d e"),
      (2L, "x a b c d"),
      (3L, "p q r s t"),
      (4L, "m n o m n"),
      (5L, "m n o m n")
    ).toDF("doc_id", "text")
    val got = operators.Dedup.substringDedupRewrite(df, "doc_id", "text", k = 3)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    assert(got(1L) == (("e", 4L)))
    assert(got(2L) == (("x", 4L)))
    assert(got(3L) == (("p q r s t", 0L)))
    assert(got(4L) == (("", 5L)))
    assert(got(5L) == (("", 5L)))
  }

  test("mixtureSample: rates trained from counts honor target weights") {
    // strata: A has 4 docs, B has 2; equal target weights 500/500.
    // T = min(4*1000/500, 2*1000/500) = 4; rate_A = 4*500/4 = 500,
    // rate_B = 4*500/2 = 1000 → every B row survives.
    val df = (0L until 4L).map(i => (i, "A")) ++ Seq((10L, "B"), (11L, "B"))
    val docs = df.toDF("doc_id", "stratum")
    val out = TextPipeline.mixtureSample(docs, "doc_id", "stratum",
      Map("A" -> 500, "B" -> 500))
    val rates = out.select("stratum", "rate_per_mille").distinct()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rates.get("B").contains(1000L))
    assert(rates.getOrElse("A", 1000L) == 500L || !rates.contains("A"))
    val kept = out.select("doc_id").as[Long].collect().toSet
    assert(Set(10L, 11L).subsetOf(kept))
    // deterministic: the kept set is identical across runs
    val again = TextPipeline.mixtureSample(docs, "doc_id", "stratum",
      Map("A" -> 500, "B" -> 500)).select("doc_id").as[Long].collect().toSet
    assert(kept == again)
    // unweighted strata are dropped entirely
    val noW = TextPipeline.mixtureSample(docs, "doc_id", "stratum", Map("B" -> 1000))
      .select("stratum").distinct().as[String].collect().toSet
    assert(noW == Set("B"))
  }

  test("vocabTopK: counts, ranks, cumulative share") {
    val df = Seq((1L, "a a b"), (2L, "b a")).toDF("doc_id", "text")
    val got = TextPipeline.vocabTopK(df, "text", k = 2)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got.toSeq == Seq(("a", 3L, 1L, 0.6), ("b", 2L, 2L, 1.0)))
  }

  test("quantizeInt8: hand-computed scales, exact norms, zero-dim guard") {
    val embs = Seq(
      (1L, Seq(1.0, -2.0, 0.0)),
      (2L, Seq(0.5, 2.0, 0.0))
    ).toDF("vec_id", "embedding")
    val got = Similarity.quantizeInt8(embs, "vec_id", "embedding")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    // dim scales: 1/127, 2/127, 0 (all-zero dim quantizes to 0)
    // vec1 → q = (127, -127, 0): exact reconstruction, err 0
    // vec2 → q = (64, 127, 0): 64·(1/127) − 0.5 ≈ 0.003937
    assert(got(1L) == ((127L * 127 + 127L * 127, 0.0)))
    assert(got(2L) == ((64L * 64 + 127L * 127, 0.003937)))
  }

  test("minhashIncremental: batch finds its near-dup in the index, not in itself") {
    // long NON-repetitive shared body (repetition would collapse the
    // distinct-shingle set and sink jaccard); short distinct tails
    val shared = (1 to 60).map(i => s"w$i").mkString(" ")
    val existing = Seq(
      (1L, shared + " ending one"),
      (2L, (100 to 160).map(i => s"e$i").mkString(" "))
    ).toDF("doc_id", "text")
    val incoming = Seq(
      (10L, shared + " ending two"),                   // near-dup of existing 1
      (11L, (200 to 260).map(i => s"n$i").mkString(" ")),
      (12L, (200 to 260).map(i => s"n$i").mkString(" "))
    ).toDF("doc_id", "text") // 11/12 duplicate EACH OTHER but not the index
    val got = operators.Dedup.minhashIncremental(existing, incoming, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getBoolean(1), if (r.isNullAt(2)) None else Some(r.getLong(2))))).toMap
    assert(got(10L) == ((true, Some(1L))))
    // incremental dedup checks the batch against the INDEX only:
    // intra-batch dups are the batch pipeline's job
    assert(got(11L) == ((false, None)))
    assert(got(12L) == ((false, None)))
  }

  test("classifierScore: HOF sum equals exploded word-weight sum; gate consistent") {
    val df = Seq((1L, "Alpha beta GAMMA alpha"), (2L, "solo")).toDF("doc_id", "text")
    val got = TextPipeline.classifierScore(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getBoolean(3)))).toMap
    val expect = df
      .select(col("doc_id"), explode(split(lower(col("text")), " ")).as("word"))
      .select(col("doc_id"),
        (conv(substring(md5(concat(lit("clf_"), col("word"))), 1, 6), 16, 10)
          .cast("long") % 2001 - 1000).as("w"))
      .groupBy("doc_id").agg(sum("w").as("raw"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got(1L)._1 == 4L && got(2L)._1 == 1L)
    assert(got.forall { case (id, (_, raw, keep)) =>
      raw == expect(id) && keep == (raw > 0) })
  }

  test("minhash index survives a parquet round-trip; probe verdicts identical") {
    val shared = (1 to 60).map(i => s"w$i").mkString(" ")
    val corpus = Seq(
      (1L, shared + " ending one"),
      (2L, (100 to 160).map(i => s"e$i").mkString(" "))
    ).toDF("doc_id", "text")
    val incoming = Seq(
      (10L, shared + " ending two"),
      (11L, (200 to 260).map(i => s"n$i").mkString(" "))
    ).toDF("doc_id", "text")

    val direct = operators.Dedup.minhashIncremental(corpus, incoming, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getBoolean(1))).toSet

    // materialize the index, re-read it from storage, probe from disk
    val tmp = java.nio.file.Files.createTempDirectory("graft-mhidx").toString
    val idx = operators.Dedup.buildMinhashIndex(corpus, "doc_id", "text")
    idx.bands.write.parquet(s"$tmp/bands")
    idx.sigs.write.parquet(s"$tmp/sigs")
    val reloaded = operators.Dedup.MinhashIndex(
      spark.read.parquet(s"$tmp/bands"), spark.read.parquet(s"$tmp/sigs"))
    val fromDisk = operators.Dedup
      .minhashIncrementalAgainst(reloaded, incoming, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getBoolean(1))).toSet

    assert(direct == fromDisk)
    assert(fromDisk == Set((10L, true), (11L, false)))
  }

  test("pageRankFixedPoint: hand-computed integer iterations on a path graph") {
    // path 1—2—3 plus isolated node 4; degrees 1, 2, 1, 0.
    // iter1: c(1)=1M/2=500000, c(2)=1M+1M=2M, c(3)=500000
    //   → pr = 575000, 1850000, 575000; isolated = 150000
    // iter2: c(1)=1850000/2=925000, c(2)=575000·2=1150000
    //   → pr = 936250, 1127500, 936250; isolated = 150000
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 2L)).toDF("a", "b") // dup edge collapses
    val nodes = Seq(1L, 2L, 3L, 4L).toDF("id")
    val got = operators.Graph.pageRankFixedPoint(edges, "a", "b", nodes, "id", iters = 2)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got(1L) == ((1L, 936250L)))
    assert(got(2L) == ((2L, 1127500L)))
    assert(got(3L) == ((1L, 936250L)))
    assert(got(4L) == ((0L, 150000L)))
  }

  test("pageRankFixedPoint: driver arm equals the distributed Pregel loop bit-for-bit") {
    // Random-ish graph with every boundary the arms must agree on:
    // duplicate + self-loop edges, a foreign endpoint (99 appears in
    // edges but not in nodes: degree-carrying rank sink), and isolated
    // nodes (200, 201).
    val rnd = new scala.util.Random(11)
    val raw = Seq.tabulate(400)(_ =>
      (rnd.nextInt(40).toLong, rnd.nextInt(40).toLong)) ++
      Seq((3L, 99L), (99L, 7L), (5L, 5L), (2L, 3L), (3L, 2L))
    val edges = raw.toDF("a", "b")
    val nodes = ((0L until 40L) ++ Seq(200L, 201L)).toDF("id")

    def run(limit: String, broadcastNodes: String = "4000000"): Map[Long, (Long, Long)] = {
      spark.conf.set("graft.pagerank.localEdgeLimit", limit)
      spark.conf.set("graft.pagerank.broadcastNodes", broadcastNodes)
      try operators.Graph.pageRankFixedPoint(edges, "a", "b", nodes, "id", iters = 4)
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      finally {
        spark.conf.unset("graft.pagerank.localEdgeLimit")
        spark.conf.unset("graft.pagerank.broadcastNodes")
      }
    }
    val local = run("1000000")
    val dist = run("0")
    // the distributed loop with the rank side shuffled, not broadcast:
    // the arm a graph past the broadcast node limit runs (automatic
    // broadcast off too, or the planner broadcasts the tiny rank table
    // on its own)
    val threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val shuffled =
      try run("0", broadcastNodes = "0")
      finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
    assert(local.size == 42)
    assert(local == dist)
    assert(local == shuffled)
    assert(local(200L) == ((0L, 150000L)))
    assert(!local.contains(99L)) // foreign endpoint holds no rank row
  }

  test("repeatedNgramFractions: hand-computed coverage, overlaps union, short docs zero") {
    // doc1 "a b a b a b": dup 2-grams "a b"(x3), "b a"(x2) cover all 6
    //   words -> dup2 = 1.0; dup 3-grams "a b a"(x2), "b a b"(x2)
    //   cover all -> dup3 = 1.0; 4-grams "a b a b"(x2 at 0,2),
    //   "b a b a"(x1)... "a b a b" at pos 0 and 2 -> covers [0,5] ->
    //   dup4 = 1.0
    // doc2 "x y z x y q": dup 2-gram "x y" at 0,3 -> covers
    //   [0,1]∪[3,4] = 4 of 6 -> dup2 = 4/6; no repeated 3/4-grams
    // doc3: no repeats at all
    val df = Seq(
      (1L, "a b a b a b"),
      (2L, "x y z x y q"),
      (3L, "p q r s t u")
    ).toDF("doc_id", "text")
    val got = TextPipeline.repeatedNgramFractions(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))).toMap
    assert(got(1L) == ((6L, 1.0, 1.0, 1.0)), s"doc1: ${got(1L)}")
    assert(got(2L) == ((6L, 0.666667, 0.0, 0.0)), s"doc2: ${got(2L)}")
    assert(got(3L) == ((6L, 0.0, 0.0, 0.0)), s"doc3: ${got(3L)}")
  }

  test("bpeTrain: classic merge sequence on a hand-computed corpus") {
    // corpus: "aaab" x3, "ab" x2 (as repeated words in docs)
    // round 1 pairs: (a,a): 2 per "aaab" x3 = 6; (a,b): 3+2 = 5
    //   -> merge (a,a) pc=6; "aaab" -> [aa,a,b], "ab" -> [a,b]
    // round 2 pairs: (aa,a) 3, (a,b) 3+2=5 -> merge (a,b) pc=5
    //   "aaab" -> [aa,ab]... wait: [aa,a,b] has pairs (aa,a),(a,b) ->
    //   merge (a,b): [aa,ab]; "ab" -> [ab]
    // round 3 pairs: (aa,ab) 3 -> merge (aa,ab) pc=3
    val df = Seq(
      (1L, "aaab aaab"),
      (2L, "aaab ab"),
      (3L, "ab")
    ).toDF("doc_id", "text")
    val merges = TextPipeline.bpeTrain(df, "text", numMerges = 3)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
      .sortBy(_._1)
    assert(merges.toSeq == Seq(
      (1L, "a", "a", 6L), (2L, "a", "b", 5L), (3L, "aa", "ab", 3L)), s"got ${merges.toSeq}")
  }

  test("bpeTrain: tie on count breaks to the lexicographically smallest pair") {
    // "xy" x2 and "ab" x2: counts tie at 2, (a,b) < (x,y)
    val df = Seq((1L, "xy ab"), (2L, "ab xy")).toDF("doc_id", "text")
    val merges = TextPipeline.bpeTrain(df, "text", numMerges = 1)
      .collect().map(r => (r.getString(1), r.getString(2)))
    assert(merges.toSeq == Seq(("a", "b")))
  }

  test("bpeTrain stops early when no pairs remain") {
    val df = Seq((1L, "a b c")).toDF("doc_id", "text")
    val merges = TextPipeline.bpeTrain(df, "text", numMerges = 5)
    assert(merges.count() == 0, "single-char words have no pairs to merge")
  }

  test("bpeTrain: batched merge selection is exactly sequential greedy") {
    // a corpus dense in ADJACENT candidate merges: chained pairs
    // (a,b),(b,c),(c,d) share symbols, self-runs create overlap, and
    // near-tied counts stress the bound truncation. The batched
    // selector must defer every conflicting candidate and produce the
    // IDENTICAL merge table, in order, as one-merge-per-round.
    val df = Seq(
      (1L, "abcd abcd abc bcd ab bc cd"),
      (2L, "aaab aaab aabb abab baba"),
      (3L, "xyz xyz xy yz zx quv quv qu uv"),
      (4L, "abcd ab ab bc bc cd cd dd dd aa"),
      (5L, "mnop mnop mno nop mn no op")
    ).toDF("doc_id", "text")
    def table(batch: Int, spillEvery: Int = 50) =
      TextPipeline.bpeTrainCore(df, "text", numMerges = 12, batchSize = batch,
          spillEvery = spillEvery)._2
    val sequential = table(1)
    assert(sequential.length == 12, s"expected 12 merges, got ${sequential.length}")
    assert(table(4) == sequential, "batchSize=4 diverged from sequential")
    assert(table(64) == sequential, "batchSize=64 diverged from sequential")
    // spill path: parquet round-trip every round must not change values
    assert(table(4, spillEvery = 1) == sequential, "spill round-trip diverged")
  }

  test("bpeEncode: token counts match the hand-traced merges") {
    // after 3 merges above: "aaab" -> [aaab] wait round3 merged
    // (aa,ab) -> "aaab" is ONE token; "ab" -> [ab] one token
    val df = Seq(
      (1L, "aaab aaab"),
      (2L, "aaab ab"),
      (3L, "ab"),
      (4L, " ")
    ).toDF("doc_id", "text")
    val out = TextPipeline.bpeEncode(df, "doc_id", "text", numMerges = 3)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(out(1L) == ((2L, 2L)), s"doc1 ${out(1L)}") // two words, one token each
    assert(out(2L) == ((2L, 2L)), s"doc2 ${out(2L)}")
    assert(out(3L) == ((1L, 1L)), s"doc3 ${out(3L)}")
    assert(out(4L) == ((0L, 0L)), s"whitespace-only doc ${out(4L)}")
  }

  test("bpe greedy merge matches the run/alternate semantics on self-pairs") {
    // "aaaa" under merge (a,a): greedy -> [aa,aa]; "aaa" -> [aa,a]
    val df = Seq((1L, "aaaa aaa aaaa aaa aaa")).toDF("doc_id", "text")
    // 1 merge: pairs (a,a): 3x2 + 2x3 = 12 -> merge (a,a)
    val enc = TextPipeline.bpeEncode(df, "doc_id", "text", numMerges = 1)
      .collect().head
    // aaaa -> 2 tokens x2, aaa -> 2 tokens x3 -> 10 tokens, 5 words
    assert((enc.getLong(1), enc.getLong(2)) == ((5L, 10L)), s"got $enc")
  }

  test("containmentPairs: a quoted subset scores 1.0 where jaccard stays low") {
    // doc 2 contains ALL of doc 1's text plus 3x more: containment of
    // 1-in-2 is 1.0, jaccard ~ 0.25 — the asymmetric case the
    // symmetric metric misses. doc 3 shares nothing.
    val quote = (0 until 20).map(i => s"q$i").mkString(" ")
    val long = quote + " " + (100 until 160).map(i => s"f$i").mkString(" ")
    val df = Seq((1L, quote), (2L, long), (3L, (200 until 240).map(i => s"z$i").mkString(" ")))
      .toDF("doc_id", "text")
    val pairs = operators.Dedup.containmentPairs(df, "doc_id", "text",
      shingleK = 5, threshold = 0.9, maxShingleFreq = 100)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), (r.getDouble(3), r.getDouble(4)))).toMap
    assert(pairs.keySet == Set((1L, 2L)), s"got ${pairs.keySet}")
    assert(pairs((1L, 2L))._1 == 1.0, s"containment of the quote: ${pairs((1L, 2L))}")
    assert(pairs((1L, 2L))._2 < 0.5, "the long side is NOT contained")
    val jac = operators.Dedup.ngramJaccardPairs(df, "doc_id", "text",
      shingleK = 5, threshold = 0.9, maxShingleFreq = 100).count()
    assert(jac == 0, "jaccard at the same threshold misses the quote")
  }

  test("duplicatedSentenceStats: cross-doc sentences flagged, within-doc repeats ignored") {
    val shared = "this exact sentence is shared verbatim across documents"
    val df = Seq(
      (1L, s"$shared. unique one here today definitely. short"),
      (2L, s"prefix text for document two goes here. $shared."),
      (3L, s"a self repeated sentence inside one doc. a self repeated sentence inside one doc.")
    ).toDF("doc_id", "text")
    val got = TextPipeline.duplicatedSentenceStats(df, "doc_id", "text", minChars = 20)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(got(1L) == ((2L, 1L, 0.5)), s"doc1: ${got(1L)}")  // 'short' filtered
    assert(got(2L) == ((2L, 1L, 0.5)), s"doc2: ${got(2L)}")
    assert(got(3L) == ((2L, 0L, 0.0)), s"within-doc repeat only: ${got(3L)}")
  }

  test("knnClassify: planted label clusters classify correctly; ties break to smaller label") {
    // two tight direction clusters: label 1 along e0, label 2 along e1;
    // every member's neighbors are its cluster-mates -> perfect accuracy
    def v(axis: Int, jitter: Double): Seq[Double] =
      (0 until 8).map(i => (if (i == axis) 1.0 else 0.0) + (if (i == 7) jitter else 0.0))
    val rows = (0 until 6).map(i => (i.toLong, v(0, 0.01 * i), 1)) ++
      (6 until 12).map(i => (i.toLong, v(1, 0.01 * i), 2))
    val e = rows.toDF("vec_id", "embedding", "label")
    val out = operators.Similarity.knnClassify(e, "vec_id", "embedding", "label",
      e.select(col("vec_id").as("qid"), col("embedding").as("qvec")),
      "qid", "qvec", k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
    assert(out.length == 12)
    assert(out.forall(_._4), s"all queries should classify correctly: ${out.toSeq}")
  }

  test("knnClassifyIvf at full probe width equals the brute path exactly") {
    val dir = "/root/testdata/sf0.001"
    val e = Tables.load(spark, dir, "embeddings")
    val q = e.filter(col("vec_id") < 10).select(
      col("vec_id").as("qid"), col("embedding").as("qvec"))
    val brute = operators.Similarity.knnClassify(
      e, "vec_id", "embedding", "label", q, "qid", "qvec", k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toMap
    val centroids = operators.Similarity.seedCentroids(e, "vec_id", "embedding", 50)
    val assigned = operators.Similarity.ivfAssign(e, "vec_id", "embedding", centroids)
    // probing EVERY cell makes the candidate set identical to brute
    val ivf = operators.Similarity.knnClassifyIvf(assigned, "vec_id", "embedding",
      "label", centroids, e, q, "qid", "qvec", k = 5, nProbe = 1000)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toMap
    assert(ivf == brute, s"full-probe IVF must equal brute: $ivf vs $brute")
  }

  test("knnClassifyAdaptive routes by catalog stats; both routes agree at full probe") {
    val dir = "/root/testdata/sf0.001"
    val e = Tables.load(spark, dir, "embeddings")
    val q = e.filter(col("vec_id") < 10).select(
      col("vec_id").as("qid"), col("embedding").as("qvec"))
    val brute = operators.Similarity.knnClassify(
      e, "vec_id", "embedding", "label", q, "qid", "qvec", k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toMap
    // under the limit: the adaptive entry IS the brute plan
    val small = operators.Similarity.knnClassifyAdaptive(
      e, "vec_id", "embedding", "label", q, "qid", "qvec", k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toMap
    assert(small == brute, "below the limit the adaptive entry must route brute")
    // force the IVF route (limit 1 byte) at full probe width: same verdicts
    val routed = operators.Similarity.knnClassifyAdaptive(
      e, "vec_id", "embedding", "label", q, "qid", "qvec", k = 5,
      nProbe = 1000, singleScanLimitBytes = 1L)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toMap
    assert(routed == brute, s"full-probe IVF route must equal brute: $routed")
  }

  test("q_approx_distinct: HLL estimate stays within its error bound of the exact twin") {
    val dir = "/root/testdata/sf0.001"
    val approx = graft.SparkEntry.queries("q_approx_distinct")(spark, dir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = graft.SparkEntry.queries("q_approx_distinct_exact")(spark, dir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(approx.keySet == exact.keySet)
    exact.foreach { case (k, ex) =>
      val ap = approx(k)
      // default rsd 5%; allow 4 sigma
      assert(math.abs(ap - ex) <= math.max(4, 0.2 * ex),
        s"flag $k: approx $ap vs exact $ex out of bound")
    }
  }

  test("q_sketch_merge: unioned partial HLL sketches bound-match the exact value") {
    val dir = "/root/testdata/sf0.001"
    val rows = graft.SparkEntry.queries("q_sketch_merge")(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(rows.nonEmpty)
    rows.foreach { case (flag, ap, ex) =>
      // lgConfigK=12 default → rse ~1.6%; allow 4 sigma + small-n slack
      assert(math.abs(ap - ex) <= math.max(4, 0.07 * ex),
        s"flag $flag: merged approx $ap vs exact $ex out of bound")
    }
  }

  test("q_approx_percentile: sketch stays within rank tolerance of the exact twin") {
    val dir = "/root/testdata/sf0.001"
    val approx = graft.SparkEntry.queries("q_approx_percentile")(spark, dir)
      .collect().map(r => r.getString(0) ->
        ((r.getDouble(1), r.getDouble(2), r.getDouble(3)))).toMap
    val exact = graft.SparkEntry.queries("q_percentiles")(spark, dir)
      .collect().map(r => r.getString(0) ->
        ((r.getDouble(1), r.getDouble(2), r.getDouble(3)))).toMap
    assert(approx.keySet == exact.keySet)
    // accuracy 10000 → rank error ≤ n/10000; at sf0.001 that is a
    // handful of ranks — values must land within 2% of the exact ones
    exact.foreach { case (flag, (p50, p90, p25)) =>
      val (a50, a90, a25) = approx(flag)
      assert(math.abs(a50 - p50) <= math.max(1.0, 0.02 * p50), s"$flag p50: $a50 vs $p50")
      assert(math.abs(a90 - p90) <= math.max(1.0, 0.02 * p90), s"$flag p90: $a90 vs $p90")
      assert(math.abs(a25 - p25) <= math.max(1.0, 0.02 * p25), s"$flag p25: $a25 vs $p25")
    }
  }

  test("capPerSource: mega-source capped to md5-smallest picks, small source kept whole") {
    val docs = ((0L until 50L).map(i => (i, "srcA")) ++
      Seq((100L, "srcB"), (101L, "srcB"), (102L, "srcB"))).toDF("doc_id", "source")
    val got = TextPipeline.capPerSource(docs, "doc_id", "source", cap = 10,
        numPartitions = 4)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toList
    val a = got.filter(_._1 == "srcA"); val b = got.filter(_._1 == "srcB")
    assert(a.size == 10 && b.size == 3)
    assert(b.map(_._3).sorted == List(1L, 2L, 3L), "small source keeps contiguous ranks")
    // the kept 10 are exactly the md5-smallest draw keys of srcA
    val md = java.security.MessageDigest.getInstance("MD5")
    def key(id: Long) = md.digest(s"cap_$id".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    val expectA = (0L until 50L).sortBy(key).take(10).toSet
    assert(a.map(_._2).toSet == expectA, "cap must pick the md5-smallest ids")
  }

  test("meanPool: exact fixed-point pooled vectors per group") {
    val e = Seq(
      (0L, Array(1.0f, 0.5f)), (1L, Array(0.5f, 0.25f)),
      (10L, Array(-0.5f, 0.125f))
    ).toDF("vec_id", "embedding")
    val got = operators.Similarity.meanPool(e, "embedding", expr("vec_id DIV 10"))
      .collect().map(r => ((r.getLong(0), r.getLong(2)), (r.getLong(1), r.getDouble(3)))).toMap
    // group 0 pools ids 0,1: (1.0+0.5)/2, (0.5+0.25)/2; group 1 is id 10 alone
    assert(got((0L, 1L)) == ((2L, 0.75)) && got((0L, 2L)) == ((2L, 0.375)))
    assert(got((1L, 1L)) == ((1L, -0.5)) && got((1L, 2L)) == ((1L, 0.125)))
  }

  test("truncateRenorm: sliced dims renormalize to unit length; zero vector stays zero") {
    val e = Seq(
      (1L, Array(3.0f, 4.0f, 99.0f)),   // first 2 dims: norm 5 → (0.6, 0.8)
      (2L, Array(0.0f, 0.0f, 7.0f))     // zero after truncation
    ).toDF("vec_id", "embedding")
    val got = operators.Similarity.truncateRenorm(e, "vec_id", "embedding", dims = 2)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(got((1L, 1L)) == 0.6 && got((1L, 2L)) == 0.8)
    assert(got((2L, 1L)) == 0.0 && got((2L, 2L)) == 0.0)
  }

  test("globalSample: exact k, md5-smallest ids, contiguous ranks, heap-based plan") {
    val docs = (0L until 200L).map(i => (i, "t")).toDF("doc_id", "text")
    val df = TextPipeline.globalSample(docs, "doc_id", k = 25)
    val got = df.collect().map(r => (r.getLong(0), r.getLong(1))).toList
    assert(got.size == 25 && got.map(_._2).sorted == (1L to 25L).toList)
    val md = java.security.MessageDigest.getInstance("MD5")
    def key(id: Long) = md.digest(s"gs_$id".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    assert(got.sortBy(_._2).map(_._1) == (0L until 200L).sortBy(key).take(25).toList)
    // plan pin: the k-select must be TakeOrdered (per-partition heaps),
    // never a global Sort over the corpus
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), s"expected TakeOrdered plan:\n$plan")
  }

  test("clusterPurity: pure and mixed planted cells report exact purity") {
    // centroid ids 0 and 50 (stride 50). Cluster at e0: labels all 7
    // -> purity 1.0. Cluster at e1: labels 2,2,3 -> majority 2, 2/3.
    def v(axis: Int, j: Double): Seq[Double] =
      (0 until 8).map(i => (if (i == axis) 1.0 else 0.0) + (if (i == 7) j else 0.0))
    val rows = Seq(
      (0L, v(0, 0.00), 7), (1L, v(0, 0.01), 7), (2L, v(0, 0.02), 7),
      (50L, v(1, 0.00), 2), (51L, v(1, 0.01), 2), (52L, v(1, 0.02), 3))
    val e = rows.toDF("vec_id", "embedding", "label")
    val cents = operators.Similarity.seedCentroids(e, "vec_id", "embedding", 50)
    val got = operators.Similarity.clusterPurity(e, "vec_id", "embedding", "label", cents)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    assert(got(0L) == ((3L, 7L, 3L, 1.0)), s"pure cell: ${got(0L)}")
    assert(got(50L) == ((3L, 2L, 2L, 0.666667)), s"mixed cell: ${got(50L)}")
  }

  test("sourceQuality: hand-computed dup rate and keep verdicts") {
    // source A: 3 docs, 2 identical -> dup_rate 1/3; source B: all unique
    val df = Seq(
      (1L, "alpha beta gamma", "A"),
      (2L, "alpha beta gamma", "A"),
      (3L, "delta epsilon", "A"),
      (4L, "one two", "B"),
      (5L, "three four", "B")
    ).toDF("doc_id", "text", "source")
    val got = TextPipeline.sourceQuality(df, "text", "source")
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(got("A") == ((3L, 0.333333)), s"A: ${got("A")}")
    assert(got("B") == ((2L, 0.0)), s"B: ${got("B")}")
    // degenerate all-dup source fails the uniq*2 > n gate
    val spam = Seq.fill(4)("same text").zipWithIndex
      .map { case (t, i) => (i.toLong, t, "S") }.toDF("doc_id", "text", "source")
    val keep = TextPipeline.sourceQuality(spam, "text", "source")
      .collect().head.getBoolean(6)
    assert(!keep, "an all-duplicate source must not be kept")
  }

  test("domainStats: extraction, scheme stripping, per-domain doc counts") {
    val df = Seq(
      (1L, "read https://a.example.org/x and http://b.example.net/y today"),
      (2L, "again https://a.example.org/z here"),
      (3L, "no links at all")
    ).toDF("doc_id", "text")
    val got = TextPipeline.domainStats(df, "doc_id", "text")
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got == Map(
      "a.example.org" -> ((2L, 2L)),
      "b.example.net" -> ((1L, 1L))), s"got $got")
  }

  test("corpus operators tolerate an empty corpus") {
    val noDocs = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(operators.Dedup.substringSpans(noDocs, "doc_id", "text", 3).count() == 0)
    assert(operators.Dedup.substringRuns(noDocs, "doc_id", "text", 3, 5).count() == 0)
    assert(operators.Dedup.substringDedupRewrite(noDocs, "doc_id", "text", 3).count() == 0)
    assert(TextPipeline.vocabTopK(noDocs, "text", 10).count() == 0)
    assert(TextPipeline.classifierScore(noDocs, "doc_id", "text").count() == 0)
    assert(TextPipeline.mixtureSample(noDocs, "doc_id", "text",
      Map("en" -> 1000)).count() == 0)
    val noEdges = Seq.empty[(Long, Long)].toDF("a", "b")
    val nodes = Seq(1L, 2L).toDF("id")
    // PageRank over an empty graph: every node keeps the base term
    val pr = operators.Graph.pageRankFixedPoint(noEdges, "a", "b", nodes, "id", 2)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(pr == Map(1L -> 150000L, 2L -> 150000L))
  }

  test("semanticDedup: near-identical cell-mate drops the higher id") {
    val base = Array.fill(8)(0.1)
    def v(scale: Double, tweak: Int): Seq[Double] =
      base.indices.map(i => base(i) * scale + (if (i == tweak) 2.0 else 0.0))
    // ids 0 (centroid), 1: same direction as 0 → dropped; 2: orthogonal-ish → kept
    val embs = Seq(
      (0L, v(1.0, -1)), (1L, v(1.01, -1)), (2L, v(1.0, 3))
    ).toDF("vec_id", "embedding")
    val cents = Similarity.seedCentroids(embs, "vec_id", "embedding", stride = 100)
    val got = Similarity.semanticDedup(embs, "vec_id", "embedding", cents, threshold = 0.95)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(got(0L) && !got(1L) && got(2L))
  }

  test("docChunks: window starts advance by stride, tail truncates, empty text is one empty chunk") {
    val docs = Seq(
      (1L, "t0 t1 t2 t3 t4 t5 t6 t7 t8 t9"), // 10 tokens
      (2L, "solo"),
      (3L, "")
    ).toDF("doc_id", "text")
    val got = TextPipeline.docChunks(docs, "doc_id", "text",
        chunkTokens = 4, stride = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getString(3))).toMap
    // doc 1: starts 0,3,6,9 → three full windows + a 1-token tail
    assert(got((1L, 0L)) == (4L, "t0 t1 t2 t3"))
    assert(got((1L, 1L)) == (4L, "t3 t4 t5 t6"))
    assert(got((1L, 2L)) == (4L, "t6 t7 t8 t9"))
    assert(got((1L, 3L)) == (1L, "t9"))
    // a doc shorter than one window is a single chunk of itself
    assert(got((2L, 0L)) == (1L, "solo"))
    // the empty doc ("" splits to one empty token — a 1-token chunk),
    // and nothing beyond the listed keys
    assert(got((3L, 0L)) == (1L, ""))
    assert(got.size == 6)
  }

  test("chunkDupStats: cross-doc repeated window counted, singletons dropped") {
    val docs = Seq(
      (1L, "a b a b"),  // chunks (2,2): "a b", "a b"
      (2L, "a b c"),    // chunks: "a b", "c"
      (3L, "x y")       // chunk: "x y" — singleton, filtered
    ).toDF("doc_id", "text")
    val got = TextPipeline.chunkDupStats(docs, "doc_id", "text",
        chunkTokens = 2, stride = 2)
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    // only "a b" repeats: 3 occurrences across 2 docs
    assert(got.toSeq == Seq((3L, 2L)))
  }

  test("tfidfTopTerms: hand-computed scores, rank by rounded score then word") {
    val docs = Seq(
      (1L, "apple banana apple"),
      (2L, "banana cherry"),
      (3L, "cherry cherry durian")
    ).toDF("doc_id", "text")
    val got = TextPipeline.tfidfTopTerms(docs, "doc_id", "text", k = 5)
      .collect().map(r => ((r.getLong(0), r.getString(1)),
        (r.getLong(2), r.getLong(3), r.getDouble(4), r.getLong(5)))).toMap
    def s(tf: Long, df: Long) =
      BigDecimal(tf * math.log(3.0 / df)).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // doc 1: apple tf=2 df=1 → 2·ln3 beats banana tf=1 df=2
    assert(got((1L, "apple")) == ((2L, 1L, s(2, 1), 1L)))
    assert(got((1L, "banana")) == ((1L, 2L, s(1, 2), 2L)))
    // doc 3: durian (1·ln3 ≈ 1.0986) outranks cherry (2·ln1.5 ≈ 0.8109)
    assert(got((3L, "durian"))._4 == 1L && got((3L, "cherry"))._4 == 2L)
    assert(got.size == 6)
  }

  test("shuffleShard: deterministic, contiguous 1-based positions, md5-keyed order") {
    val docs = (0L until 100L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    def run() = TextPipeline.shuffleShard(docs, "doc_id", numShards = 8,
        numPartitions = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toList
    val got = run()
    assert(got.size == 100 && got.map(_._3).distinct.size == 100)
    // positions are a contiguous 1..n run inside every shard
    got.groupBy(_._1).foreach { case (_, rows) =>
      assert(rows.map(_._2).sorted == (1L to rows.size).toList)
    }
    // order within a shard is the md5("shuf_"||id) hex order
    val md = java.security.MessageDigest.getInstance("MD5")
    def key(id: Long) = md.digest(s"shuf_$id".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    got.groupBy(_._1).foreach { case (_, rows) =>
      val byPos = rows.sortBy(_._2).map(_._3)
      assert(byPos == rows.map(_._3).sortBy(key), "shard order != md5 order")
    }
    assert(run() == got, "shuffle order must be run-independent")
  }

  test("word_counts kernel: exact multiset of split(lower, ' '), empty tokens included") {
    // The open-vocabulary counting kernel must agree with the SQL form
    // on every edge: doubled/leading/trailing spaces (empty tokens),
    // case folding, unicode, single-word docs.
    val texts = Seq(
      "The quick brown fox the THE  fox", // doubled space → empty token
      " leading and trailing ",
      "",
      "solo",
      "Ünïcode ünïcode ÜNÏCODE mixé")
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val kernel = df.select(col("doc_id"),
        explode(graft.functions.NativeExpressions.word_counts(col("text")))
          .as("__wc"))
      .select(col("doc_id"), col("__wc.word").as("word"), col("__wc.tf").as("tf"))
    val reference = df.select(col("doc_id"),
        explode(split(lower(col("text")), " ")).as("word"))
      .groupBy("doc_id", "word").agg(count(lit(1)).as("tf"))
    assert(kernel.exceptAll(reference).count() == 0 &&
      reference.exceptAll(kernel).count() == 0,
      "kernel counts must equal the split+groupBy form")
  }

  test("fuzzyContaminationHits: near-identical eval doc flagged, unrelated not; worst hit wins ties by id") {
    val base = (1 to 40).map(i => s"w$i").mkString(" ")
    val nearDup = (1 to 40).map(i => if (i == 40) "zz" else s"w$i").mkString(" ")
    val other = (100 to 140).map(i => s"x$i").mkString(" ")
    val evalSet = Seq((10L, base), (20L, base)).toDF("doc_id", "text")
    val train = Seq((1L, nearDup), (2L, other)).toDF("doc_id", "text")
    val got = graft.operators.Dedup.fuzzyContaminationHits(
        train, evalSet, "doc_id", "text", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.map(_._1).toSet == Set(1L), s"only the near-dup is contaminated: ${got.toList}")
    val hit = got.head
    assert(hit._2 == 10L, "identical eval docs tie → smallest eval_id")
    assert(hit._3 >= 0.5 && hit._3 <= 1.0)
  }
}

package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-level text-pipeline operators beyond per-row analysis:
  * benchmark decontamination, repetition (Gopher-style) signals,
  * n-gram language-model quality scoring, BM25 retrieval, and
  * sequence packing. Each is built from equi-join / aggregation
  * shuffles shaped like word counts — no all-pairs plan anywhere —
  * so they scale with corpus size, not corpus².
  */
object TextPipeline {

  /** Benchmark decontamination (the n-gram-overlap pass every LLM
    * training pipeline runs before training): count, per train doc,
    * its distinct word `n`-grams that appear anywhere in the eval
    * corpus. A train doc with any hit is contaminated and gets
    * dropped or audited.
    *
    * Plan: eval n-grams dedup to one small set and BROADCAST (eval
    * benchmarks are thousands of docs; the TRAIN side — the 100 TB
    * side — is never shuffled: its n-grams stream map-side through
    * the broadcast hash join, then one count-by-doc shuffle of hit
    * rows only). For an eval set too big to broadcast, drop the hint
    * and the same plan runs as a sort-merge join.
    *
    * Output: (idCol, n_hits long, contaminated boolean) — one row per
    * TRAIN doc, zero-hit docs included.
    */
  def contaminationHits(train: DataFrame, eval_ : DataFrame,
                        idCol: String, textCol: String, n: Int): DataFrame = {
    // spreadIfNarrow: tokenize+shingle fuses into the scan stage, so a
    // narrow layout (replicated corpora compress 100× scale into one
    // file) serializes the whole gram pass — measured 19.7 → 4.1 s at
    // sf10. Idempotent under an already-spread input.
    def grams(df: DataFrame) = graft.util.ScanParallelism.spreadIfNarrow(
        df.select(col(idCol), col(textCol)))
      .select(col(idCol),
        explode(Dedup.wordShingles(Dedup.tokens(col(textCol)), n)).as("__g"))
    val evalGrams = grams(eval_).select("__g").distinct()
    val hits = grams(train).join(broadcast(evalGrams), Seq("__g"))
      .groupBy(idCol).agg(count(lit(1)).as("__h"))
    train.select(col(idCol)).join(hits, Seq(idCol), "left_outer")
      .select(col(idCol), coalesce(col("__h"), lit(0L)).as("n_hits"),
        (coalesce(col("__h"), lit(0L)) > 0).as("contaminated"))
  }

  /** [[contaminationHits]] with a Bloom-sketch pre-filter — the shape
    * that survives when the eval/blocklist side outgrows a broadcast
    * of its full n-gram STRING set. Same output, different physics:
    *
    *   1. eval grams dedup once, then fold into a ~`bitsPerKey`
    *      bits/key Bloom bitset by a treeAggregate over their
    *      xxhash64s (partial bitsets OR-merge; the driver holds one
    *      bitset, ~1.5 MB per million grams — 30× under the strings);
    *   2. the train side — the 100 TB side — probes the bitset
    *      MAP-SIDE inside the scan stage via a codegen'd native
    *      expression ([[graft.functions.NativeExpressions.BloomMightContain]]);
    *      survivors are the true hits plus a ~0.03% false-positive
    *      trickle (k=8, 12 bits/key);
    *   3. survivors exact-verify against the eval gram set. The join
    *      input is hit-sized, not corpus-sized, so Spark/AQE picks a
    *      broadcast or a tiny shuffle join on its own — either way
    *      nothing corpus-scale moves.
    *
    * False positives never reach the output (the verify join removes
    * them), so the result is row-identical to [[contaminationHits]] —
    * which is exactly what the oracle checks. */
  def contaminationHitsBloom(train: DataFrame, eval_ : DataFrame,
                             idCol: String, textCol: String, n: Int,
                             bitsPerKey: Int = 12): DataFrame = {
    import graft.functions.NativeExpressions
    // spreadIfNarrow: same scan-fusion reason as contaminationHits —
    // the map-side Bloom probe is only map-side-parallel if the scan is.
    def grams(df: DataFrame) = graft.util.ScanParallelism.spreadIfNarrow(
        df.select(col(idCol), col(textCol)))
      .select(col(idCol),
        explode(Dedup.wordShingles(Dedup.tokens(col(textCol)), n)).as("__g"))
    // materialized once, consumed by the count, the bitset build and
    // the verify join
    val evalGrams = grams(eval_).select("__g").distinct().transform(graft.util.Checkpoints.pin)
    val nKeys = math.max(1L, evalGrams.count())
    val mBits = java.lang.Long.highestOneBit(
      math.max(64L, nKeys * bitsPerKey) * 2 - 1)
    require(mBits <= (1L << 34), s"bloom bitset $mBits bits exceeds the 2 GiB cap")
    val numHashes = math.max(1, math.round(0.693 * bitsPerKey).toInt)
    val bits = evalGrams.select(xxhash64(col("__g")).as("__h"))
      .rdd.map(_.getLong(0))
      .treeAggregate(new Array[Long]((mBits / 64).toInt))(
        (acc, h) => { NativeExpressions.bloomAdd(acc, numHashes, h); acc },
        (a, b) => { var i = 0; while (i < a.length) { a(i) |= b(i); i += 1 }; a })
    val candidates = grams(train).filter(
      NativeExpressions.bloom_might_contain(xxhash64(col("__g")), bits, numHashes))
    val hits = candidates.join(evalGrams, Seq("__g"))
      .groupBy(idCol).agg(count(lit(1)).as("__h"))
    train.select(col(idCol)).join(hits, Seq(idCol), "left_outer")
      .select(col(idCol), coalesce(col("__h"), lit(0L)).as("n_hits"),
        (coalesce(col("__h"), lit(0L)) > 0).as("contaminated"))
  }

  /** Token-budget mixing: per source, keep documents in a
    * deterministic hash order until the source's token budget is
    * exhausted — the "give me exactly N tokens of web, M of code"
    * step of training-mix construction, where [[mixtureSample]]'s
    * rate form can't hit an absolute token target.
    *
    * The order is md5(id)-derived, so the SAME rows are selected by
    * any engine (the oracle replays it), and the running token count
    * comes from [[ScalableWindow.groupedPrefixSum]] — no source ever
    * sorts in one task, which matters because real mixes have a
    * dominant source holding most of the corpus.
    *
    * Output: kept rows (idCol, sourceCol, n_tokens, cum_tokens),
    * where cum_tokens ≤ the source's budget (inclusive prefix sum —
    * the first doc that would overflow the budget is dropped, along
    * with everything after it in hash order). */
  def tokenBudgetSample(docs: DataFrame, idCol: String, sourceCol: String,
                        textCol: String, budgets: Map[String, Long],
                        defaultBudget: Long, numPartitions: Int): DataFrame = {
    val tok = docs.select(col(idCol), col(sourceCol),
      graft.functions.NativeExpressions.space_token_count(col(textCol)).as("n_tokens"),
      conv(substring(md5(col(idCol).cast("string")), 1, 8), 16, 10)
        .cast("long").as("__ok"))
    val cum = ScalableWindow.groupedPrefixSum(tok, Seq(sourceCol),
      Seq("__ok", idCol), "n_tokens", "cum_tokens", numPartitions)
    val budget = budgets.foldLeft(lit(defaultBudget)) {
      case (acc, (k, v)) => when(col(sourceCol) === k, lit(v)).otherwise(acc)
    }
    cum.filter(col("cum_tokens") <= budget)
      .select(col(idCol), col(sourceCol), col("n_tokens"), col("cum_tokens"))
  }

  /** CCNet-style perplexity bucketing: score every document with the
    * self-trained bigram LM ([[bigramLmScore]]), cut the scored corpus
    * at the ⅓ and ⅔ exact quantiles, and label each doc head /
    * middle / tail (best to worst model fit; unscoreable docs — fewer
    * than two words — get 'na'). Downstream pipelines train on head,
    * sample middle, and drop or audit tail.
    *
    * The quantile cutoffs use [[ScalableWindow.exactPercentiles]], so
    * past the catalog-stats size limit they compute via distributed
    * rank selection rather than one in-memory percentile buffer; the
    * cutoffs then broadcast and bucketing is a pure map over the
    * scored stream. Scores and cutoffs are both rounded to 6 decimals
    * BEFORE comparing, so cross-engine float noise cannot flip a
    * boundary document. */
  def perplexityBuckets(docs: DataFrame, idCol: String, textCol: String,
                        singleNodeAggLimitBytes: Long = 64L << 20): DataFrame = {
    val scored = bigramLmScore(docs, idCol, textCol)
      .select(col(idCol), col("avg_logp"))
    val cuts = ScalableWindow.exactPercentiles(
      scored.filter(col("avg_logp").isNotNull).withColumn("__g", lit(1)),
      "__g",
      Seq(("__p_lo", "avg_logp", 1.0 / 3), ("__p_hi", "avg_logp", 2.0 / 3)),
      singleNodeAggLimitBytes)
      .select(round(col("__p_lo"), 6).as("__p_lo"),
        round(col("__p_hi"), 6).as("__p_hi"))
    scored.crossJoin(broadcast(cuts))
      .select(col(idCol), col("avg_logp"),
        when(col("avg_logp").isNull, "na")
          .when(col("avg_logp") > col("__p_hi"), "head")
          .when(col("avg_logp") > col("__p_lo"), "middle")
          .otherwise("tail").as("bucket"))
  }

  /** N-gram novelty: per document, how much of it is phrasing the
    * rest of the corpus never uses — the inverse of boilerplate.
    * For each doc: its distinct word n-grams, each weighted by its
    * corpus document frequency; novelty = share of grams with df = 1
    * (unique to this doc), plus the mean df as a boilerplate gauge.
    * Low novelty + high mean df ⇒ template/mirror content; dedup and
    * quality filters both consume this signal.
    *
    * Plan: one (gram → df) aggregation over distinct per-doc grams
    * (word-count-shaped), joined back to the per-doc gram stream —
    * the join key is the gram, so skew follows gram popularity and
    * AQE's skew-join handles the head. Nothing quadratic.
    *
    * Output: (idCol, n_grams, n_unique, novelty, mean_df) per doc;
    * docs shorter than n words degenerate to their whole-text single
    * shingle (same fallback as every shingle consumer here). */
  def ngramNovelty(docs: DataFrame, idCol: String, textCol: String,
                   n: Int): DataFrame = {
    // grams as 64-bit ShingleHashes keys (fused byte walk, no token
    // arrays or gram strings): the gram never reaches the output, only
    // its df, so the hash is a free join key — the stream is computed
    // twice (df aggregation + the join-back) and the fused form makes
    // the recompute a single pass over the raw text both times.
    val grams = docs.select(col(idCol),
      explode(graft.functions.NativeExpressions.shingle_hashes(
        col(textCol), n)).as("__g"))
    val dfreq = grams.groupBy("__g").agg(count(lit(1)).as("__df"))
    grams.join(dfreq, Seq("__g"))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("__df") === 1, 1L).otherwise(0L)).as("n_unique"),
        round(avg(when(col("__df") === 1, 1.0).otherwise(0.0)), 6).as("novelty"),
        round(avg(col("__df")), 6).as("mean_df"))
  }

  /** Gopher-style repetition signals, all row-local (zero shuffle):
    * duplicate-word fraction and the most frequent word bigram with
    * its share of all bigrams. High top-bigram share flags the
    * boilerplate/spam documents repetition filters drop.
    *
    * One native-expression hash-map pass per row
    * ([[graft.functions.NativeExpressions.RepetitionStats]]); the
    * equivalent nested-HOF plan re-evaluates the tokenize chain inside
    * every interpreted lambda call — O(distinct·total·|doc|) — and was
    * measured minutes-per-partition at sf0.1. Returns the struct; take
    * fields in a SEPARATE select so CollapseProject keeps the one scan
    * un-duplicated.
    */
  def repetitionStats(text: Column): Column =
    graft.functions.NativeExpressions.repetition_stats(split(lower(text), " "))

  /** Corpus bigram language model with add-one smoothing, scored per
    * document: avg over a doc's bigram tokens of
    * ln((c(w1,w2) + 1) / (c(w1) + |V|)) — the CCNet/KenLM-shaped
    * perplexity quality filter, self-trained on the corpus.
    *
    * Plan: three word-count-shaped aggregations (unigrams, vocab
    * size, bigrams) + two equi-joins of the doc-bigram stream against
    * the count tables. The model tables are data-sized aggregates;
    * nothing is quadratic.
    *
    * Output: (idCol, n_bigrams long, avg_logp double) for every doc
    * (docs with <2 words score null).
    */
  def bigramLmScore(docs0: DataFrame, idCol: String, textCol: String): DataFrame = {
    // spreadIfNarrow: three scan-fused hash walks over the text below;
    // a narrow layout serializes all of them (idempotent no-op when
    // the caller already spread the input).
    val docs = graft.util.ScanParallelism.spreadIfNarrow(
      docs0.select(col(idCol), col(textCol)))
    // Words never reach the output — only their counts do — so both
    // streams carry 64-bit internal hashes (TokenHashes/BigramHashes:
    // one byte walk per row, no token arrays, no HOF-interpreted
    // struct building) and every join key is one long instead of one
    // or two strings. The bigram key is the fused pair hash; w1 rides
    // along to meet the unigram counts.
    val uni = docs.select(explode(
        graft.functions.NativeExpressions.token_hashes(col(textCol))).as("__w1"))
      .groupBy("__w1").agg(count(lit(1)).as("__c1"))
    val vocab = uni.agg(count(lit(1)).as("__V"))
    val bg = docs.select(col(idCol), explode(
        graft.functions.NativeExpressions.bigram_hashes(col(textCol))).as("__b"))
      .select(col(idCol), col("__b.w1").as("__w1"), col("__b.bg").as("__bg"))
    val c12 = bg.groupBy("__bg").agg(count(lit(1)).as("__c12"))
    val scored = bg.join(c12, Seq("__bg")).join(uni, Seq("__w1"))
      .crossJoin(broadcast(vocab))
      .select(col(idCol), log((col("__c12") + 1).cast("double") /
        (col("__c1") + col("__V")).cast("double")).as("__lp"))
    val agg = scored.groupBy(idCol)
      .agg(count(lit(1)).as("__n"), round(avg("__lp"), 6).as("avg_logp"))
    docs.select(col(idCol)).join(agg, Seq(idCol), "left_outer")
      .select(col(idCol), coalesce(col("__n"), lit(0L)).as("n_bigrams"),
        col("avg_logp"))
  }

  /** BM25 top-k retrieval for a bag of query terms (k1/b are the
    * standard Robertson parameters; idf is the BM25+ form
    * ln(1 + (N - df + ½)/(df + ½)), always positive).
    *
    * Plan: ONE corpus pass — the native [[graft.functions
    * .NativeExpressions.TermCounts]] kernel emits per-term counts and
    * the SpaceTokenCount walk the doc length, so no token array is
    * built and no |tokens|-row explode feeds a filter that discards
    * ~all of it (the explode form measured 4.5 s at sf1 vs DuckDB's
    * 2.1). The matched stream is query-sized (≤|terms| rows per doc);
    * df and the corpus stats are broadcast scalars; final top-k is
    * TakeOrderedAndProject (per-partition heaps, no global sort).
    *
    * Output: (idCol, score double, rnk long), top `k` by (score desc,
    * id) — ranked on the ROUNDED score so cross-engine float noise
    * cannot reorder ties.
    */
  def bm25TopK(docs: DataFrame, idCol: String, textCol: String,
               terms: Seq[String], k: Int,
               k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val base = docs.select(col(idCol),
      graft.functions.TextFunctions.spaceTokenCount(col(textCol))
        .cast("double").as("__dl"),
      graft.functions.NativeExpressions.term_counts(col(textCol), terms)
        .as("__tc"))
    val stats = base.agg(count(lit(1)).cast("double").as("__N"),
      avg("__dl").as("__avgdl"))
    val tf = base
      .select(col(idCol), col("__dl"),
        posexplode(col("__tc")).as(Seq("__ti", "__tfl")))
      .filter(col("__tfl") > 0)
      .select(col(idCol), col("__dl"), col("__ti"),
        col("__tfl").cast("double").as("__tf"))
    val dfreq = tf.groupBy("__ti").agg(count(lit(1)).cast("double").as("__df"))
    val scored = tf.join(broadcast(dfreq), Seq("__ti"))
      .crossJoin(broadcast(stats))
      .select(col(idCol),
        (log(lit(1.0) + (col("__N") - col("__df") + 0.5) / (col("__df") + 0.5)) *
          (col("__tf") * (k1 + 1)) /
          (col("__tf") + lit(k1) * (lit(1 - b) + lit(b) * col("__dl") / col("__avgdl")))).as("__s"))
    val agg = scored.groupBy(idCol).agg(round(sum("__s"), 6).as("score"))
    val top = agg.orderBy(col("score").desc, col(idCol)).limit(k)
    top.withColumn("rnk", row_number()
        .over(Window.orderBy(col("score").desc, col(idCol))).cast("long"))
      .select(col(idCol), col("score"), col("rnk"))
  }

  /** Exclusive prefix sum of `valCol` over the global `orderCol`
    * order, without ever sorting in one task: range-repartition, sum
    * per partition locally, prefix-sum the |partitions| per-partition
    * totals (tiny), broadcast the offsets back — the ScalableWindow
    * two-pass scheme with sum in place of row_number. The
    * localCheckpoint pins one set of range boundaries for both
    * consumers (repartitionByRange samples nondeterministically).
    */
  def orderedPrefixSum(df: DataFrame, orderCol: String, valCol: String,
                       out: String, numPartitions: Int): DataFrame = {
    val ranged = df.repartitionByRange(numPartitions, col(orderCol))
      .withColumn("__pp_pid", spark_partition_id())
      .transform(graft.util.Checkpoints.pin)
    val wLocal = Window.partitionBy("__pp_pid").orderBy(col(orderCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    val local = ranged.withColumn("__pp_ls",
      coalesce(sum(col(valCol)).over(wLocal), lit(0L)))
    val totals = ranged.groupBy("__pp_pid").agg(sum(col(valCol)).as("__pp_t"))
    val wOff = Window.orderBy(col("__pp_pid"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = totals.select(col("__pp_pid"),
      coalesce(sum("__pp_t").over(wOff), lit(0L)).as("__pp_off"))
    local.join(broadcast(offsets), Seq("__pp_pid"))
      .withColumn(out, col("__pp_ls") + col("__pp_off"))
      .drop("__pp_pid", "__pp_ls", "__pp_off")
  }

  /** Domain-mixture rebalancing: deterministically resample a corpus
    * so the strata of `stratumCol` (source, language, …) hit target
    * mixture weights — the "data mixture" step every pretraining run
    * tunes. Given integer per-mille weights, the operator finds the
    * largest total T no stratum can't supply (T = min over strata of
    * ⌊n_s·1000/w_s⌋), derives each stratum's per-mille keep-rate
    * ⌊T·w_s/n_s⌋, and keeps a row iff its md5 per-mille bucket falls
    * under its stratum's rate — the same engine-independent hash
    * sampling as [[graft.functions.TextFunctions.stratifiedSampleKeep]],
    * except the rates are TRAINED from observed counts rather than
    * given. All arithmetic is integer (BIGINT div), so any engine
    * reproduces the exact row set.
    *
    * Plan: one tiny counts aggregate → broadcast of |strata| rates →
    * pure per-row filter on the corpus scan. No corpus shuffle at any
    * scale. Strata with no weight (or zero weight) are dropped.
    *
    * Output: kept rows (idCol, stratumCol, rate_per_mille).
    */
  def mixtureSample(docs: DataFrame, idCol: String, stratumCol: String,
                    weightsPerMille: Map[String, Int]): DataFrame = {
    val wExpr = weightsPerMille.foldLeft(lit(null).cast("long")) {
      case (acc, (s, w)) => when(col(stratumCol) === s, lit(w.toLong)).otherwise(acc)
    }
    val counts = docs.groupBy(stratumCol).agg(count(lit(1)).as("__n"))
      .withColumn("__w", wExpr)
      .filter(col("__w").isNotNull && col("__w") > 0)
    // T = min over strata rides a global window over the ≤|strata|-row
    // counts table — one stage, instead of a second aggregate feeding
    // a crossJoin'd broadcast subtree (measured: each extra broadcast
    // subtree is one more job's scheduling latency on the floor-bound
    // sf10 run)
    val rates = counts
      .withColumn("__T",
        min(expr("__n * 1000 div __w")).over(Window.partitionBy(lit(0))))
      .select(col(stratumCol),
        expr("__T * __w div __n").cast("long").as("rate_per_mille"))
    val bucket =
      conv(substring(md5(col(idCol).cast("string")), 1, 6), 16, 10).cast("long") % 1000
    docs.join(broadcast(rates), Seq(stratumCol))
      .filter(bucket < col("rate_per_mille"))
      .select(col(idCol), col(stratumCol), col("rate_per_mille"))
  }

  /** Corpus vocabulary head: the top-k words by frequency with rank
    * and cumulative share of ALL tokens — the vocab-coverage curve
    * tokenizer and filter design starts from.
    *
    * Plan: one word-count shuffle, then TakeOrderedAndProject for the
    * head (per-partition heaps — no global sort of the vocabulary);
    * rank and the running share are a window over the k surviving
    * rows only. The total-token count rides a broadcast scalar.
    *
    * Output: (word, n long, rnk long, cum_share double), k rows.
    */
  def vocabTopK(docs: DataFrame, textCol: String, k: Int): DataFrame = {
    val words = docs.select(explode(split(lower(col(textCol)), " ")).as("word"))
    val counts = words.groupBy("word").agg(count(lit(1)).as("n"))
    val total = counts.agg(sum("n").cast("double").as("__tot"))
    val top = counts.orderBy(col("n").desc, col("word")).limit(k)
    val byRank = Window.orderBy(col("n").desc, col("word"))
    top.crossJoin(broadcast(total))
      .withColumn("rnk", row_number().over(byRank).cast("long"))
      .withColumn("cum_share",
        round(sum(col("n")).over(byRank.rowsBetween(Window.unboundedPreceding, 0))
          / col("__tot"), 6))
      .select(col("word"), col("n"), col("rnk"), col("cum_share"))
  }

  /** TF-IDF keyword extraction: the top-k terms of every document by
    * tf·ln(N/df) — the classic retrieval/weak-labeling signal (and the
    * vectorizer behind cheap topic clustering of a training corpus).
    *
    * Plan: one (doc, word)-keyed count shuffle for tf; df reduces the
    * tf table again on word (vocabulary-sized, map-side partials); N
    * rides a broadcast scalar. The tf⋈df equi-join is word-keyed —
    * stopwords make it skew-prone at 100 TB, which AQE's skew-join
    * split absorbs (df rows are tiny, so the join is near-broadcast in
    * practice). The per-doc top-k window partitions on doc_id: group
    * size is a document's distinct-word count, bounded, so the plain
    * window is safe at any corpus size.
    *
    * Cross-engine determinism: ranking orders by the ROUNDED score
    * (then word), so rank never hinges on a sub-round-off ulp; tf/df/N
    * are integers and the score is one ln + one multiply in a fixed
    * evaluation order on both engines.
    *
    * Output: (idCol, word, tf long, df long, tfidf double, rnk long).
    */
  def tfidfTopTerms(docs: DataFrame, idCol: String, textCol: String,
                    k: Int): DataFrame = {
    // Per-doc counting fused into one byte walk (WordCounts): the
    // explode form shuffled one row per TOKEN into groupBy(doc, word);
    // here tf is computed row-locally and the first shuffle is already
    // (doc, distinct-word) sized — the BM25 TermCounts lesson applied
    // to the open-vocabulary case (r6: 2.18× DuckDB at sf1, explode
    // was the cost).
    // The explicit repartition(word) makes BOTH consumers — the df
    // aggregate and the join probe — branch from ONE exchange
    // (ReusedExchange), so the kernel+scan run once instead of twice;
    // it is also the plan that holds when the vocabulary outgrows a
    // broadcast (open web text), where AQE's broadcast conversion
    // can't save the second pass.
    val tf = docs.select(col(idCol),
        explode(graft.functions.NativeExpressions.word_counts(col(textCol)))
          .as("__wc"))
      .select(col(idCol), col("__wc.word").as("word"), col("__wc.tf").as("tf"))
      .repartition(col("word"))
    val dfreq = tf.groupBy("word").agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).cast("double").as("__n"))
    val scored = tf.join(dfreq, "word").crossJoin(broadcast(n))
      .withColumn("tfidf", round(col("tf") * log(col("__n") / col("df")), 6))
    val w = Window.partitionBy(col(idCol))
      .orderBy(col("tfidf").desc, col("word"))
    scored.withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col(idCol), col("word"), col("tf"), col("df"),
        col("tfidf"), col("rnk"))
  }

  /** Deterministic global shuffle + sharding — the "randomize training
    * order, write N shards" step every pretraining run needs, made
    * reproducible: order is md5("shuf_" || id) (engine-independent,
    * seedless-stable), shard is the id's md5 bucket mod numShards.
    *
    * Plan: shard assignment and the sort key are row-local; the
    * within-shard position comes from [[ScalableWindow.groupRowNumber]]
    * — a range-repartition + per-partition local rank + broadcast
    * prefix-sum of partition counts, so NO task ever holds a whole
    * shard (a plain window over 32 shards at 100 TB would put ~3 TB in
    * one task). Downstream writers can `partitionBy(shard)` and write
    * rows in `pos` order to get byte-identical shards on every run.
    *
    * Output: (shard long, pos long 1-based within shard, idCol).
    */
  def shuffleShard(docs: DataFrame, idCol: String, numShards: Int,
                   numPartitions: Int): DataFrame = {
    val keyed = docs.select(col(idCol),
      md5(concat(lit("shuf_"), col(idCol).cast("string"))).as("__key"))
      .withColumn("shard",
        conv(substring(col("__key"), 1, 6), 16, 10).cast("long") % numShards)
    graft.operators.ScalableWindow
      .groupRowNumber(keyed, Seq("shard"), Seq("__key", idCol), "pos",
        numPartitions)
      .select(col("shard"), col("pos"), col(idCol))
  }

  /** Exact-k global corpus sample by a reproducible md5 draw — "give
    * me 1000 uniformly-drawn docs, the same 1000 every run, on any
    * cluster". Spark plans orderBy+limit as TakeOrderedAndProject:
    * per-partition top-k heaps then one k-sized merge on the driver —
    * no global sort, no single-task shuffle, k-bounded memory. The
    * rank window afterwards touches only the k survivors.
    *
    * Output: (idCol, sample_rank long 1..k).
    */
  def globalSample(docs: DataFrame, idCol: String, k: Int): DataFrame = {
    val keyed = docs.select(col(idCol),
      md5(concat(lit("gs_"), col(idCol).cast("string"))).as("__key"))
    val top = keyed.orderBy(col("__key"), col(idCol)).limit(k)
    val w = Window.orderBy(col("__key"), col(idCol))
    top.withColumn("sample_rank", row_number().over(w).cast("long"))
      .select(col(idCol), col("sample_rank"))
  }

  /** Per-source document cap — the "no single crawl dominates the
    * mix" balancing step: keep at most `cap` documents per source,
    * picked by a reproducible md5 draw (uniform over the source's
    * docs, identical on every run and engine — a seeded
    * `rand()`-based sample would be partitioning-dependent).
    *
    * Plan: the draw key is row-local; ranks come from
    * [[ScalableWindow.groupRowNumber]], so a mega-source never lands
    * in one window task (at 100 TB a head crawl can be 30% of the
    * corpus — the whole point of capping it). The filter on rank is
    * the only other stage.
    *
    * Output: (sourceCol, idCol, pick_rank long) — kept docs only.
    */
  def capPerSource(docs: DataFrame, idCol: String, sourceCol: String,
                   cap: Int, numPartitions: Int): DataFrame = {
    val keyed = docs.select(col(sourceCol), col(idCol),
      md5(concat(lit("cap_"), col(idCol).cast("string"))).as("__key"))
    graft.operators.ScalableWindow
      .groupRowNumber(keyed, Seq(sourceCol), Seq("__key", idCol), "pick_rank",
        numPartitions)
      .filter(col("pick_rank") <= cap)
      .select(col(sourceCol), col(idCol), col("pick_rank"))
  }

  /** Linear classifier scoring — the model-based quality-filter stage
    * (fastText/DCLM/FineWeb-Edu class): a hashed bag-of-words linear
    * model scores every document and the score gates keep/drop. The
    * weight table here is hash-derived (md5(word) → integer in
    * [-1000, 1000]) standing in for trained weights; the OPERATOR —
    * per-token weight lookup by hash, order-independent integer sum,
    * threshold gate, zero shuffles — is exactly what a trained model
    * runs at 100 TB. Integer weights make the score engine-exact; a
    * real deployment swaps the weight expression for a broadcast map
    * lookup without touching the plan shape. Scoring is one native
    * digest loop per row ([[graft.functions.NativeExpressions
    * .ClassifierScoreText]]); the equivalent transform+aggregate HOF pays
    * interpreted conv/substring per token and measured 2.5× DuckDB
    * at sf3 (spec'd equal to this kernel).
    *
    * Output: (idCol, n_tokens long, raw_score long, keep boolean).
    */
  def classifierScore(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    // Fused kernel: lower + space-split + per-token digest in one byte
    // walk (no token array); n_tokens is length arithmetic (lower()
    // can't move a space). Spec'd equal against the HOF form over
    // split(lower(text), " ").
    docs.select(col(idCol),
        graft.functions.TextFunctions.spaceTokenCount(col(textCol)).as("n_tokens"),
        graft.functions.NativeExpressions.classifier_score_text(col(textCol))
          .as("raw_score"))
      .withColumn("keep", col("raw_score") > 0)
  }

  /** Concat-and-chunk sequence packing: documents in `orderCol` order
    * are laid end to end and cut into fixed `seqLen`-token training
    * sequences; each doc reports the sequence it starts in and its
    * token offset there. The global running total is
    * [[orderedPrefixSum]] — two balanced exchanges, no single-task
    * sort, so packing a 100 TB corpus is shaped like sorting it.
    *
    * Output: (orderCol, n_tokens, seq_id, seq_offset), all long.
    */
  def packSequences(docs: DataFrame, orderCol: String, textCol: String,
                    seqLen: Int, numPartitions: Int): DataFrame = {
    val counted = docs.select(col(orderCol),
      graft.functions.TextFunctions.spaceTokenCount(col(textCol)).as("n_tokens"))
    orderedPrefixSum(counted, orderCol, "n_tokens", "__cum", numPartitions)
      .select(col(orderCol), col("n_tokens"),
        floor(col("__cum") / seqLen).cast("long").as("seq_id"),
        pmod(col("__cum"), lit(seqLen.toLong)).as("seq_offset"))
  }

  /** Repeated-n-gram coverage fractions (the Gopher repetition-filter
    * family, Rae et al. 2021: "fraction of words in duplicated
    * n-grams"): per doc and per n, the fraction of word positions
    * covered by an n-gram that occurs ≥2 times WITHIN the doc —
    * overlapping occurrences union via the same per-doc
    * gaps-and-islands windows the substring-dedup family uses.
    *
    * Plan: the statistic is a pure function of ONE document, so it is
    * a single row-local kernel ([[graft.functions.NativeExpressions
    * .RepeatedNgramCoverage]]: per-doc gram counting + interval union
    * in one byte walk per n) — the whole operator is scan + project
    * with NO exchange at any scale. The previous dataflow form paid a
    * corpus-token-volume (doc, gram) shuffle, a join and two per-doc
    * windows PER n, to compute numbers each doc could have produced
    * locally.
    *
    * Output: (idCol, n_words, dup{n}_frac per requested n). */
  def repeatedNgramFractions(df: DataFrame, idCol: String, textCol: String,
                             ns: Seq[Int] = Seq(2, 3, 4)): DataFrame = {
    val covs = df.select(col(idCol),
      graft.functions.NativeExpressions
        .repeated_ngram_coverage(col(textCol), ns).as("__c"))
    covs.select(col(idCol) +: element_at(col("__c"), 1).as("n_words") +:
      ns.zipWithIndex.map { case (n, i) =>
        round(element_at(col("__c"), i + 2).cast("double") /
          element_at(col("__c"), 1), 6).as(s"dup${n}_frac")
      }: _*)
  }

  /** Per-source curation aggregates — the domain-level gate pipelines
    * apply before any per-doc filter (drop whole domains whose
    * aggregate stats are bad): per source, doc count, exact-dup rate
    * (1 − distinct content hashes / docs), total and mean classifier
    * score, mean length, and the keep verdict. One scan + one
    * source-keyed aggregation (map-side combining; |sources| ≪
    * |docs|); every aggregate is integer-derived so the verdicts are
    * engine-exact.
    *
    * Output: (source, n_docs, dup_rate, sum_score, avg_score,
    * avg_chars, keep). */
  def sourceQuality(df: DataFrame, textCol: String, sourceCol: String): DataFrame =
    // xxhash64, not md5: only DISTINCTNESS of the content hash matters
    // (the hash never reaches the output, `uniq` does), so the codegen'd
    // 64-bit hash beats MessageDigest md5 + 32-char hex by ~4× on the
    // scan; the DuckDB oracle counts distinct md5 and the counts agree.
    df.select(col(sourceCol).as("source"), xxhash64(col(textCol)).as("__h"),
        graft.functions.NativeExpressions.classifier_score_text(col(textCol))
          .as("__sc"),
        length(col(textCol)).cast("long").as("__nc"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("__h")).as("__uniq"),
        sum("__sc").as("sum_score"),
        sum("__nc").as("__chars"))
      .select(col("source"), col("n_docs"),
        round(lit(1.0) - col("__uniq").cast("double") / col("n_docs"), 6).as("dup_rate"),
        col("sum_score"),
        round(col("sum_score").cast("double") / col("n_docs"), 4).as("avg_score"),
        round(col("__chars").cast("double") / col("n_docs"), 4).as("avg_chars"),
        (col("sum_score") > 0 && (col("__uniq") * 2 > col("n_docs"))).as("keep"))

  /** Cross-doc duplicated-sentence stats — the C4-style span filter
    * signal (Raffel et al. dedupe three-sentence spans; the unit here
    * is the sentence): split on '.', trim, keep sentences ≥ minChars,
    * mark those appearing in ≥2 DISTINCT docs, report per doc the
    * count and fraction of its sentences that are corpus-duplicated.
    * Word-count-shaped: one sentence-keyed aggregate + one equi-join;
    * within-doc repeats alone do NOT count (that's
    * [[repeatedNgramFractions]]' job).
    *
    * Output: (idCol, n_sentences, n_dup_sentences, dup_sentence_frac),
    * zeros for docs with no qualifying sentence. */
  def duplicatedSentenceStats(df: DataFrame, idCol: String, textCol: String,
                              minChars: Int = 20): DataFrame = {
    val sents = df.select(col(idCol), explode(split(col(textCol), "\\.")).as("__raw"))
      .select(col(idCol), trim(col("__raw")).as("__sent"))
      .filter(length(col("__sent")) >= minChars)
    val dup = sents.groupBy("__sent")
      .agg(min(col(idCol)).as("__mn"), max(col(idCol)).as("__mx"))
      .filter(col("__mn") =!= col("__mx"))
      .select(col("__sent"), lit(1L).as("__isdup"))
    val per = sents.join(dup, Seq("__sent"), "left_outer")
      .groupBy(idCol)
      .agg(count(lit(1)).as("__n"), sum(coalesce(col("__isdup"), lit(0L))).as("__nd"))
    df.select(col(idCol)).join(per, Seq(idCol), "left_outer")
      .select(col(idCol),
        coalesce(col("__n"), lit(0L)).as("n_sentences"),
        coalesce(col("__nd"), lit(0L)).as("n_dup_sentences"),
        when(coalesce(col("__n"), lit(0L)) > 0,
          round(coalesce(col("__nd"), lit(0L)).cast("double") / col("__n"), 6))
          .otherwise(lit(0.0)).as("dup_sentence_frac"))
  }

  /** Per-domain URL frequency over the corpus — the aggregate a
    * blocklist/allowlist curation gate consumes (drop or cap docs from
    * over-represented or listed domains). Row-local regex extraction
    * (codegen'd regexp_extract_all, the PII-scan regex dialect:
    * RE2 ∩ Java so any engine replicates matches), one domain-keyed
    * count with map-side combine.
    *
    * Output: (domain, n_urls, n_docs). */
  def domainStats(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol),
        explode(regexp_extract_all(col(textCol),
          lit("https?://[A-Za-z0-9.-]+"), lit(0))).as("__u"))
      .select(col(idCol),
        regexp_replace(col("__u"), "^https?://", "").as("domain"))
      .groupBy("domain")
      .agg(count(lit(1)).as("n_urls"),
        countDistinct(col(idCol)).as("n_docs"))

  // ---- byte-pair encoding ------------------------------------------

  /** Deterministic BPE (Sennrich et al., "Neural Machine Translation
    * of Rare Words with Subword Units"): greedy highest-count adjacent
    * symbol-pair merges, ties broken by lexicographically smallest
    * (left, right). Pair counts include every adjacent position
    * (so "aaa" counts (a,a) twice); merge application is greedy
    * left-to-right non-overlapping. Both rules are engine-replicable,
    * which is what makes the whole training loop value-oracle-able.
    *
    * SCALE SHAPE: the corpus is touched ONCE (word counts); all
    * `numMerges` iterations run on the DISTINCT-WORD table — vocab-
    * sized, not corpus-sized — with the symbol arrays advanced by
    * row-local native merge steps and re-pinned so iteration r+1 never
    * replays rounds 1..r. Merges are applied in BATCHES of up to
    * `batchSize` per Spark round (one pair-count job + one
    * driver-sized top-K collect per round, instead of one job PER
    * merge — a 32k-merge vocab is ~1k rounds, not 32k sequential
    * jobs), and every `spillEvery` rounds the vocab table is spilled
    * to parquet and re-read, bounding the checkpoint-block chain.
    *
    * The batch is EXACTLY equivalent to sequential greedy merges.
    * From the (count desc, lhs asc, rhs asc)-sorted pair list, select
    * the maximal symbol-disjoint prefix, stopping at the FIRST pair
    * that shares a symbol with an earlier selection; let B be that
    * pair's count (or the last collected count if the top-K was
    * exhausted conflict-free), and keep only selections with count
    * strictly greater than B (always keeping the global argmax).
    * Applying merge p_i can only (a) decrease counts of pairs sharing
    * a symbol with p_i, or (b) create pairs containing the new merged
    * symbol, whose count is bounded by some pre-existing pair
    * overlapping p_i — in both cases a pair that CONFLICTS with p_i
    * and therefore sorts at-or-after the first conflict: count ≤ B
    * < count(p_j) for every kept p_j. So at p_j's sequential turn no
    * changed or new pair can outrank it, every kept pair's own count
    * is untouched (disjointness), and ties among untouched pairs
    * resolve by the original sort. Batch size 1 degenerates to the
    * classic one-merge-per-round loop.
    *
    * Returns (vocab after all merges, merge table rows
    * (merge_rank, lhs, rhs, pair_count)). */
  private[graft] def bpeTrainCore(corpus: DataFrame, textCol: String,
                                  numMerges: Int, batchSize: Int = 32,
                                  spillEvery: Int = 50,
                                  spillPath: Option[String] = None):
      (DataFrame, Seq[(Long, String, String, Long)]) = {
    require(batchSize >= 1, "batchSize must be >= 1")
    val ne = graft.functions.NativeExpressions
    var words = corpus
      .select(explode(split(lower(col(textCol)), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("c"))
      .select(col("w"), col("c"), ne.codepoint_split(col("w")).as("sym"))
      .transform(graft.util.Checkpoints.pinLazy)
    val spark = corpus.sparkSession
    lazy val spillDir: String = spillPath.getOrElse(
      java.nio.file.Files.createTempDirectory("graft_bpe_spill").toString)
    val merges = scala.collection.mutable.ArrayBuffer[(Long, String, String, Long)]()
    var exhausted = false
    var round = 0
    while (merges.length < numMerges && !exhausted) {
      val want = math.min(batchSize, numMerges - merges.length)
      // over-collect so the disjoint prefix usually fills the batch
      // before the collected list runs out; K rows driver-side, like
      // any trained-model artifact
      val fetch = want * 4 + 8
      val top = words
        .select(col("c"),
          explode(zip_with(
            slice(col("sym"), lit(1), greatest(size(col("sym")) - 1, lit(0))),
            slice(col("sym"), lit(2), greatest(size(col("sym")) - 1, lit(0))),
            (l, rr) => struct(l.as("lhs"), rr.as("rhs")))).as("p"))
        .groupBy(col("p.lhs").as("lhs"), col("p.rhs").as("rhs"))
        .agg(sum("c").as("pc"))
        .orderBy(col("pc").desc, col("lhs").asc, col("rhs").asc)
        .limit(fetch).collect()
      if (top.isEmpty) exhausted = true
      else {
        val selected = scala.collection.mutable.ArrayBuffer[(String, String, Long)]()
        val used = scala.collection.mutable.HashSet[String]()
        var bound = -1L // B: count of the first conflicting pair
        var i = 0
        var stopped = false
        // even after the batch fills, keep scanning for the first
        // conflict — the bound must see conflicts ranked between the
        // last selection and the end of the collected list
        while (i < top.length && !stopped) {
          val (l, rr, pc) = (top(i).getString(0), top(i).getString(1), top(i).getLong(2))
          if (used.contains(l) || used.contains(rr)) { stopped = true; bound = pc }
          else if (selected.length < want) { selected += ((l, rr, pc)); used += l; used += rr }
          i += 1
        }
        // top-K exhausted conflict-free but more pairs may exist
        // beyond it: uncollected counts are ≤ the last collected
        if (!stopped && top.length == fetch) bound = top.last.getLong(2)
        val safe =
          if (bound < 0) selected.toSeq
          else {
            val strict = selected.takeWhile(_._3 > bound).toSeq
            if (strict.isEmpty) Seq(selected.head) else strict
          }
        safe.foreach { case (l, rr, pc) =>
          merges += ((merges.length + 1L, l, rr, pc))
        }
        // all merges of the round advance the vocab in ONE projection
        val newSym = safe.foldLeft(col("sym")) { case (c0, (l, rr, _)) =>
          ne.bpe_merge_step(c0, l, rr)
        }
        words = words.withColumn("sym", newSym)
        round += 1
        if (round % spillEvery == 0) {
          // hard lineage + block truncation: parquet round-trip frees
          // the accumulated checkpoint blocks (pass spillPath on a
          // cluster so the dir is on shared storage)
          val p = s"$spillDir/round_$round"
          words.write.mode("overwrite").parquet(p)
          words = spark.read.parquet(p)
        } else words = words.transform(graft.util.Checkpoints.pinLazy)
      }
    }
    (words, merges.toSeq)
  }

  /** The trained merge table: (merge_rank, lhs, rhs, pair_count), one
    * row per merge in training order. */
  def bpeTrain(corpus: DataFrame, textCol: String, numMerges: Int,
               batchSize: Int = 32): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    bpeTrainCore(corpus, textCol, numMerges, batchSize)._2
      .toDF("merge_rank", "lhs", "rhs", "pair_count")
  }

  /** Tokenize the corpus under the trained merges: per doc, the word
    * count and total BPE token count. Per-word token counts come from
    * the trained vocab table (distinct words), so the corpus-side work
    * is one word explode + one word-count-shaped join — the merges
    * never re-run over full documents.
    *
    * Output: (idCol, n_words, n_bpe), zero for whitespace-only docs. */
  def bpeEncode(corpus: DataFrame, idCol: String, textCol: String,
                numMerges: Int): DataFrame = {
    val (vocab, _) = bpeTrainCore(corpus, textCol, numMerges)
    val perWord = vocab.select(col("w"), size(col("sym")).cast("long").as("__ns"))
    // spreadIfNarrow: the lower+split word explode fuses into the scan
    // (idempotent no-op when the caller already spread the input)
    val docWords = graft.util.ScanParallelism.spreadIfNarrow(
        corpus.select(col(idCol), col(textCol)))
      .select(col(idCol), explode(split(lower(col(textCol)), " ")).as("w"))
      .filter(length(col("w")) > 0)
    val agg = docWords.join(perWord, "w")
      .groupBy(idCol)
      .agg(count(lit(1)).as("__nw"), sum("__ns").as("__nb"))
    corpus.select(col(idCol)).join(agg, Seq(idCol), "left_outer")
      .select(col(idCol),
        coalesce(col("__nw"), lit(0L)).as("n_words"),
        coalesce(col("__nb"), lit(0L)).as("n_bpe"))
  }

  /** Sliding token-window chunking — the shape every RAG indexer and
    * pretraining tokenizer pipeline runs before embedding/packing:
    * split each doc into `chunkTokens`-token windows whose starts
    * advance by `stride` tokens (overlap = chunkTokens - stride; the
    * final window may be shorter). Tokens are the raw single-space
    * split WITHOUT filtering, so chunk text reassembles to an exact
    * substring-by-token-position of the source.
    *
    * Plan: map-only — one projection, one explode of the start
    * offsets, zero shuffle. Each output row derives from exactly one
    * input row, so the operator scales linearly and partitions
    * inherit from the scan untouched.
    *
    * Output: (idCol, chunk_id 0-based long, n_tokens long,
    * chunk_text). A split always yields >= 1 token (an empty string
    * splits to one empty token), so every doc gets >= 1 chunk. */
  def docChunks(corpus: DataFrame, idCol: String, textCol: String,
                chunkTokens: Int = 128, stride: Int = 96): DataFrame = {
    require(stride > 0 && chunkTokens >= stride,
      s"need 0 < stride <= chunkTokens, got stride=$stride chunk=$chunkTokens")
    val t = split(col(textCol), " ")
    corpus.select(col(idCol), t.as("__t"))
      .withColumn("__start", explode(
        sequence(lit(0), greatest(size(col("__t")) - 1, lit(0)), lit(stride))))
      .filter(col("__start") < size(col("__t")))
      .select(col(idCol),
        (col("__start") / stride).cast("long").as("chunk_id"),
        slice(col("__t"), col("__start") + 1, lit(chunkTokens)).as("__c"))
      .select(col(idCol), col("chunk_id"),
        size(col("__c")).cast("long").as("n_tokens"),
        array_join(col("__c"), " ").as("chunk_text"))
  }

  /** Exact chunk-level dedup over [[docChunks]] — fine-grained
    * repetition that document-level dedup is blind to (boilerplate
    * headers, license blocks, templated paragraphs repeating across
    * otherwise-distinct docs). Groups chunks by md5 and keeps the
    * repeated ones.
    *
    * Plan: the map-only chunker followed by ONE hash-aggregate
    * shuffle keyed on the 32-byte digest — never the chunk text —
    * so the shuffle payload stays fixed-width however long the
    * chunks are.
    *
    * Output: (chunk_md5, n_occurrences, n_docs) for chunks seen more
    * than once, n_occurrences desc then md5 for a stable order. */
  def chunkDupStats(corpus: DataFrame, idCol: String, textCol: String,
                    chunkTokens: Int = 128, stride: Int = 96): DataFrame =
    docChunks(corpus, idCol, textCol, chunkTokens, stride)
      .select(col(idCol), md5(col("chunk_text")).as("chunk_md5"))
      .groupBy("chunk_md5")
      .agg(count(lit(1)).as("n_occurrences"),
        countDistinct(col(idCol)).as("n_docs"))
      .filter(col("n_occurrences") > 1)
      .orderBy(col("n_occurrences").desc, col("chunk_md5"))

  /** DSIR-style importance resampling (Xie et al. 2023, "Data
    * Selection for Language Models via Importance Resampling"): fit
    * two hashed-n-gram bag models — one on the TARGET slice (the
    * high-quality distribution you want more of), one on the raw
    * corpus — and score every document by its average per-gram
    * log-likelihood ratio; the top-k by that importance weight are
    * the selected training docs. Features are unigrams + adjacent
    * bigrams hashed into `nBuckets` buckets (md5-derived so any
    * engine reproduces them); both models use add-one smoothing.
    *
    * Plan: ONE corpus pass fits both models — the fused
    * [[graft.functions.NativeExpressions.DsirGramBuckets]] kernel
    * (lower + split + memoized per-gram digest in one byte walk)
    * emits bucket ids, and map-side partials reduce the stream to
    * `nBuckets` rows before the only shuffle. The per-bucket
    * log-ratios quantize to integer nano-units and come back as ONE
    * nBuckets-length literal array (dim-bounded collect, the
    * centroid-literal pattern), so the scoring pass is a ZERO-shuffle
    * corpus scan: per row, the kernel's bucket list indexes the λ
    * array and folds an integer sum — order-independent, hence
    * engine- and partitioning-exact. Top-k is TakeOrderedAndProject.
    * Nothing outside the corpus scans ever exceeds `nBuckets` rows,
    * so the shape survives 100 TB unchanged. (The first cut exploded
    * grams through interpreted md5→hex→conv twice and re-joined the
    * λ table: measured 9.0 s at sf0.1 vs DuckDB 0.92 s.)
    *
    * Output: (idCol, n_grams long, dsir_score double, rnk long 1..k).
    */
  def dsirSample(docs: DataFrame, idCol: String, textCol: String,
                 isTarget: Column, nBuckets: Int, k: Int): DataFrame = {
    val gb = graft.functions.NativeExpressions
      .dsir_gram_buckets(col(textCol), nBuckets)
    val flagged = docs.select(col(idCol), isTarget.as("__tgt"), gb.as("__gb"))
    val counts = flagged
      .select(col("__tgt"), explode(col("__gb")).as("__b"))
      .groupBy("__b").agg(
        sum(when(col("__tgt"), 1L).otherwise(0L)).as("__ct"),
        count(lit(1)).as("__cr"))
    val tot = counts.agg(sum("__ct").as("__tt"), sum("__cr").as("__tr"))
    // λ_b = ln p_target(b) − ln p_raw(b), add-one smoothed, quantized
    // to nano-units: both engines derive the SAME double from the same
    // integers, and the per-doc fold below is integer arithmetic.
    val lamRows = counts.crossJoin(broadcast(tot))
      .select(col("__b"),
        round((log((col("__ct") + 1).cast("double") /
            (col("__tt") + nBuckets).cast("double")) -
          log((col("__cr") + 1).cast("double") /
            (col("__tr") + nBuckets).cast("double"))) * 1e9, 0)
          .cast("long").as("__lam_q"))
      .collect()
    val lamArr = new Array[Long](nBuckets) // unseen buckets never index
    lamRows.foreach(r => lamArr(r.getLong(0).toInt) = r.getLong(1))
    val lamLit = array(lamArr.map(lit).toSeq: _*)
    val scored = flagged.select(col(idCol),
        size(col("__gb")).cast("long").as("n_grams"),
        aggregate(transform(col("__gb"),
            b => element_at(lamLit, (b + 1).cast("int"))),
          lit(0L), (acc, x) => acc + x).as("__sq"))
      .select(col(idCol), col("n_grams"),
        round(col("__sq").cast("double") / 1e9 / col("n_grams"), 6)
          .as("dsir_score"))
    val top = scored.orderBy(col("dsir_score").desc, col(idCol)).limit(k)
    top.withColumn("rnk", row_number()
        .over(Window.orderBy(col("dsir_score").desc, col(idCol))).cast("long"))
      .select(col(idCol), col("n_grams"), col("dsir_score"), col("rnk"))
  }

  /** Quality-curriculum ordering: the "easy/clean first" training
    * schedule — documents are bucketed into phases by the model-based
    * quality score ([[classifierScore]]'s hashed linear model standing
    * in for a trained one), then deterministically shuffled WITHIN
    * each phase (md5 draw), and assigned their global training
    * position. Swapping the threshold constants or the score source
    * changes the curriculum, not the plan.
    *
    * Plan: scoring is the zero-shuffle native kernel; the global
    * position comes from [[ScalableWindow.groupRowNumber]] over the
    * (phase, draw) order — range-repartition + local rank + broadcast
    * prefix-sum — so no task ever holds a phase (at 100 TB a phase is
    * tens of TB; `row_number() OVER (ORDER BY …)` would be one task).
    *
    * Output: (idCol, phase long 0..2, global_pos long 1-based).
    */
  def curriculumOrder(docs: DataFrame, idCol: String, textCol: String,
                      numPartitions: Int): DataFrame = {
    val scored = classifierScore(docs, idCol, textCol)
      .select(col(idCol),
        when(col("raw_score") >= 5000, 0L)
          .when(col("raw_score") >= 0, 1L).otherwise(2L).as("phase"),
        md5(concat(lit("cur_"), col(idCol).cast("string"))).as("__key"))
    graft.operators.ScalableWindow
      .groupRowNumber(scored, Seq.empty, Seq("phase", "__key", idCol),
        "global_pos", numPartitions)
      .select(col(idCol), col("phase"), col("global_pos"))
  }
}

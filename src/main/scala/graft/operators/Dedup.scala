package graft.operators

import graft.util.GraftConf
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Large-scale text deduplication operators: exact, MinHash+LSH,
  * SimHash, and exact n-gram Jaccard. All are pure DataFrame plans —
  * no driver-side loops — so they scale with executors and stay inside
  * whole-stage codegen.
  *
  * Common shape: per-doc signatures are computed row-local (one narrow
  * projection), candidate generation is a band/bucket self-join
  * (shuffle on the bucket key — the only shuffle), and verification is
  * row-local again. At 100 TB the bucket join is the hot spot: bucket
  * keys are salted by design (band id is part of the key) and
  * pathological buckets (boilerplate shingles) should be capped with
  * `maxBucketSize`.
  */
object Dedup {

  /** lower + whitespace tokenization. */
  def tokens(text: Column): Column = split(lower(text), "\\s+")

  /** k-word shingles (distinct); short docs fall back to the whole doc
    * as a single shingle so they still participate. Native expression —
    * one loop per row (the HOF chain interprets per element). */
  def wordShingles(toks: Column, k: Int): Column =
    graft.functions.NativeExpressions.word_shingles(toks, k)

  // ---- MinHash + LSH ----------------------------------------------

  /** (doc id, minhash signature array, shingle count). Computed
    * ROW-LOCAL by a native Catalyst expression
    * (graft.functions.NativeExpressions) — no shingle explode, no
    * shuffle at all in the signature stage.
    *
    * Two signature kernels, same banding/verification downstream:
    *   - oph = true (DEFAULT, the fast path): one-permutation hashing
    *     with rotation densification — ONE hash per shingle, the
    *     hash's bin keeps the running min. ~numHashes× less CPU on
    *     the dominant dedup kernel at identical sketch quality
    *     (estimator unbiased; spec'd error bound in MinHashOphSpec).
    *   - oph = false (the k-hash-family form): signature i is min
    *     over shingles of ((a_i * h + b_i) mod p). Kept for sketch
    *     compatibility with indexes built before OPH and for the
    *     pinned dedup_minhash / dedup_incremental oracles.
    * Signatures from the two kernels are NOT mutually comparable —
    * an index must be probed with the kernel that built it. */
  def minhashSignatures(df: DataFrame, idCol: String, textCol: String,
                        shingleK: Int = 5, numHashes: Int = 128,
                        seed: Long = 42L, useMd5: Boolean = false,
                        oph: Boolean = true): DataFrame = {
    val sigExpr =
      if (oph) graft.functions.NativeExpressions
        .oneperm_minhash(col("__t"), shingleK, numHashes, seed, useMd5)
      else graft.functions.NativeExpressions
        .minhash_from_tokens(col("__t"), shingleK, numHashes, seed, useMd5)
    // spreadIfNarrow: the hash kernel (numHashes × shingles multiply-
    // mixes per doc) fuses into the scan stage, so a single-row-group
    // corpus file would compute every signature in ONE task; the guard
    // adds one slim (id, text) exchange only on provably degenerate
    // layouts (see graft.util.ScanParallelism). Spread BEFORE
    // tokenizing so the exchange carries raw text, not token arrays.
    graft.util.ScanParallelism.spreadIfNarrow(
        df.select(col(idCol), col(textCol)))
      .select(col(idCol), tokens(col(textCol)).as("__t"))
      .select(col(idCol), sigExpr.as("signature"),
        size(graft.functions.NativeExpressions.word_shingles(col("__t"), shingleK))
          .cast("long").as("n_shingles"))
  }

  /** Exchange by signature at FULL configured width before the
    * group-rep window. The window's ENSURE_REQUIREMENTS exchange would
    * be AQE-coalesced down to the 64 MB advisory size — at small scale
    * that is ONE partition, and since the pin materializes right after
    * the window, every row-local consumer of the pin (band explosion,
    * bucket hashing, rep filters) inherits the collapsed parallelism.
    * An explicit partition count is exempt from coalescing; the width
    * is the session's shuffle-partition setting, i.e. exactly what the
    * un-coalesced exchange would have used. */
  private def bySignature(df: DataFrame): DataFrame = {
    val n = scala.util.Try(
      df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt)
      .getOrElse(df.sparkSession.sparkContext.defaultParallelism)
    df.repartition(math.max(1, n), col("signature"))
  }

  /** LSH band buckets from signatures: (doc, band, bucket) rows.
    * Banding carries only 24 B/row through the shuffle; the fat
    * signature arrays join back just for the (few) candidate pairs.
    * In md5 (oracle-replicable) mode the bucket key is the band slice
    * itself, exactly as the DuckDB oracle joins. */
  private def bandBuckets(sigs: DataFrame, idCol: String, bands: Int,
                          rows: Int, useMd5: Boolean,
                          carry: Seq[String] = Nil): DataFrame = {
    val bucketOf: Column => Column =
      if (useMd5) identity
      else sl => xxhash64(sl, lit(0))
    sigs.select(
      col(idCol).as("doc") +: carry.map(col) :+
      posexplode(transform(sequence(lit(0), lit(bands - 1)),
        b => bucketOf(slice(col("signature"), b * rows + 1, lit(rows)))))
        .as(Seq("band", "bucket")): _*)
      .select(col("doc") +: carry.map(col) :+ col("band") :+ col("bucket"): _*)
  }

  /** Candidate pairs from banded LSH + signature-estimated Jaccard.
    * bands must divide numHashes; a pair is a candidate iff some band
    * of the signatures matches exactly. Estimated Jaccard = fraction
    * of matching signature components.
    *
    * EAGER construction: the default `checkpoint` pins the signature
    * pass eagerly (see [[graft.util.Checkpoints.pin]]), so CALLING
    * this runs Spark jobs before the returned plan is ever executed —
    * the price of measured pin statistics. Plan-only callers pass
    * `checkpoint = Checkpoints.pinLazy`; long-lived callers release
    * the pin via `Checkpoints.release` when done. The same contract
    * applies to [[minhashDedup]], [[hammingPairs64]] and
    * [[buildMinhashIndex]]. */
  def minhashPairs(df: DataFrame, idCol: String, textCol: String,
                   shingleK: Int = 5, numHashes: Int = 128, bands: Int = 32,
                   threshold: Double = 0.7, seed: Long = 42L,
                   maxBucketSize: Int = 10000, useMd5: Boolean = false,
                   oph: Boolean = true,
                   checkpoint: DataFrame => DataFrame = graft.util.Checkpoints.pin(_)): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rows = numHashes / bands
    // The signature table feeds FIVE consumers (bucket-size agg, the
    // anti-join, both self-join sides, and the est-Jaccard joins);
    // without pinning, each one re-runs the hash kernel over the whole
    // corpus — measured 5-6 corpus scans per query. The default pin is
    // a lazy LOCAL checkpoint (~1 KB/doc — the same artifact
    // buildMinhashIndex hands to callers to store as a table): blocks
    // live only on executors and are NOT recomputed on executor loss,
    // so the job fails rather than degrades. Right for local mode and
    // retryable batch jobs; cluster jobs that must survive executor
    // loss pass a reliable pin instead (`_.checkpoint()` against a
    // checkpoint dir, or persist to storage and re-read).
    //
    // The pin carries the GROUP COLUMNS (__rep = min id sharing the
    // signature, __n = group size), attached by one window over the
    // signature INSIDE the pinned pass. That single exchange+sort is
    // the only time the ~1 KB/doc signature stream crosses the wire:
    // every signature-keyed consumer the old plan re-shuffled for —
    // the distinct-signature groupBy, the member-expansion join, the
    // dup-member join — becomes a row-local filter over the pin
    // (groups = rows where id == __rep; members = every row's
    // (__rep, id); dup members = rows where __n > 1), and all later
    // joins key by the 8-byte __rep long, not the array. Checkpoint
    // partitioning does NOT survive the pin (AQE reports
    // UnknownPartitioning on the LogicalRDD — measured), which is why
    // the group columns must be attached before pinning rather than
    // recovered from co-partitioning after it. The multi-executor
    // sf10 probes billed the old double shuffle at up to 1.77×
    // single-JVM wall on the incremental path.
    //
    // Skew boundary: a window partition holds EVERY copy of one
    // signature, and unlike the old member join it cannot be
    // AQE-skew-split — fine here because exact-dup group sizes are
    // bounded by copy multiplicity (and a pipeline runs exact dedup
    // before near-dup), but it is why [[prefixFilteredIntersections]]
    // keeps the join form for power-law-skewed shingle frequencies
    // (see the note there).
    val w = org.apache.spark.sql.expressions.Window.partitionBy("signature")
    val sigs = checkpoint(
      bySignature(minhashSignatures(df, idCol, textCol, shingleK, numHashes, seed, useMd5, oph))
        .withColumn("__rep", min(col(idCol)).over(w))
        .withColumn("__n", count(lit(1)).over(w)))

    // Distinct-signature pre-collapse (the [[hammingPairs64]] lesson,
    // applied to MinHash): identical docs carry identical signatures,
    // hence identical band buckets, so a dup-dense corpus piles them
    // into the same buckets and the banded self-join pays occupancy²
    // per mega-bucket — or, worse, trips `maxBucketSize` and silently
    // drops the bucket (recall loss exactly where dups concentrate).
    // All banding and candidate work therefore runs over ONE
    // REPRESENTATIVE doc per distinct signature (volume ≈ content
    // diversity, NOT corpus size). Bucket sizes are counted in DOCS
    // (group-size weighted), so the cap drops exactly the buckets the
    // uncollapsed plan would; doc pairs come back via two expansion
    // joins plus a within-group arm. Output is bit-identical to the
    // uncollapsed plan (spec'd in TrainingOpsSpec), the quadratic
    // bucket work is not. The group key is the FULL signature — an
    // orderable array, a plain shuffle key — so no digest collision
    // can merge distinct signatures.
    val groups = sigs.filter(col(idCol) === col("__rep"))
      .select(col("signature"), col("__rep"), col("__n"))

    val reps = groups.select(col("__rep").as(idCol), col("signature"), col("__n"))
    val banded = bandBuckets(reps, idCol, bands, rows, useMd5, carry = Seq("__n"))

    // cap pathological buckets (boilerplate shared ACROSS distinct
    // near-identical docs): the oversized-bucket list is tiny by
    // construction, so a broadcast anti-join beats a full window sort
    val oversized = banded.groupBy("band", "bucket")
      .agg(sum(col("__n")).as("__bs")).filter(col("__bs") > maxBucketSize)
      .select("band", "bucket")
    val withSize = banded.join(broadcast(oversized), Seq("band", "bucket"), "left_anti")

    val a = withSize.select(col("band"), col("bucket"), col("doc").as("rep_a"))
    val b = withSize.select(col("band"), col("bucket"), col("doc").as("rep_b"))
    val cand = a.join(b, Seq("band", "bucket"))
      .filter(col("rep_a") < col("rep_b"))
      .select("rep_a", "rep_b")
      .dropDuplicates("rep_a", "rep_b")

    val sigA = groups.select(col("__rep").as("rep_a"), col("signature").as("sig_a"))
    val sigB = groups.select(col("__rep").as("rep_b"), col("signature").as("sig_b"))
    val repPairs = cand.join(sigA, "rep_a").join(sigB, "rep_b")
      .withColumn("est_jaccard",
        graft.functions.NativeExpressions.signature_agreement(col("sig_a"), col("sig_b")))
      .filter(col("est_jaccard") >= threshold)
      .select(col("rep_a"), col("rep_b"), round(col("est_jaccard"), 6).as("est_jaccard"))

    // rep → member expansion: the pin already carries __rep on every
    // row, so the mapping table is a row-local projection (the old
    // plan re-shuffled the full signature stream to join members to
    // groups). 16 B/row — the expansion joins below broadcast the
    // pair side against it, so the corpus is scanned, never shuffled.
    val dupMembers = sigs.filter(col("__n") > 1)
      .select(col("__rep"), col(idCol).as("__doc"), col("signature"))
    val allMembers = sigs.select(col("__rep"), col(idCol).as("__doc"))

    // cross-signature doc pairs: every member of rep_a's group × every
    // member of rep_b's (a doc has exactly one signature, so each doc
    // pair arises from exactly one rep pair — no dedup needed)
    val cross = repPairs
      .join(allMembers.select(col("__rep").as("rep_a"), col("__doc").as("__da")), Seq("rep_a"))
      .join(allMembers.select(col("__rep").as("rep_b"), col("__doc").as("__db")), Seq("rep_b"))
      .select(least(col("__da"), col("__db")).as("doc_a"),
        greatest(col("__da"), col("__db")).as("doc_b"), col("est_jaccard"))

    // within-signature doc pairs: emitted iff the group survives in
    // ≥ 1 bucket — exactly when the uncollapsed plan would have joined
    // the members together. est-Jaccard is computed from the shared
    // signature (1.0 for any real signature; 0.0/null for the empty/
    // null degenerate cases, matching the uncollapsed plan's filter)
    val survived = withSize.select(col("doc").as("__rep")).distinct()
    val withinM = dupMembers.join(survived, Seq("__rep"), "left_semi")
    val within = withinM.select(col("__rep"), col("__doc").as("__da"),
        col("signature"))
      .join(withinM.select(col("__rep"), col("__doc").as("__db")), Seq("__rep"))
      .filter(col("__da") < col("__db"))
      .withColumn("est_jaccard",
        graft.functions.NativeExpressions.signature_agreement(col("signature"), col("signature")))
      .filter(col("est_jaccard") >= threshold)
      .select(col("__da").as("doc_a"), col("__db").as("doc_b"),
        round(col("est_jaccard"), 6).as("est_jaccard"))

    cross.unionByName(within)
  }

  /** Per-doc dedup verdict: dup_group = min(self, matched neighbors).
    * (Single LSH pass — transitive closure would iterate this plan.) */
  def minhashDedup(df: DataFrame, idCol: String, textCol: String,
                   shingleK: Int = 5, numHashes: Int = 128, bands: Int = 32,
                   threshold: Double = 0.7, seed: Long = 42L,
                   useMd5: Boolean = false, oph: Boolean = true,
                   checkpoint: DataFrame => DataFrame = graft.util.Checkpoints.pin(_)): DataFrame = {
    val pairs = minhashPairs(df, idCol, textCol, shingleK, numHashes, bands,
      threshold, seed = seed, useMd5 = useMd5, oph = oph, checkpoint = checkpoint)
    val neighborMin = pairs.groupBy(col("doc_b").as(idCol))
      .agg(min("doc_a").as("__nb"))
    df.select(col(idCol))
      .join(neighborMin, Seq(idCol), "left_outer")
      .select(col(idCol), least(col(idCol), coalesce(col("__nb"), col(idCol))).as("dup_group"))
  }

  // ---- SimHash -----------------------------------------------------

  /** 64-bit SimHash computed entirely row-local (no explode/shuffle):
    * per token, xxhash64 supplies 64 bits; each bit position accumulates
    * +1/-1; the sign vector becomes the fingerprint. Native Catalyst
    * expression — one tight loop per row. */
  def simhash(toks: Column, useMd5: Boolean = false): Column =
    graft.functions.NativeExpressions.simhash64(toks, useMd5)

  /** SimHash near-dup pairs: 4×16-bit band buckets generate candidates;
    * verification = Hamming distance over the 64-bit fingerprints.
    * Recall is EXACT for maxHamming ≤ 3: three differing bits can touch
    * at most three of the four bands, so one band always collides —
    * which is why an all-pairs Hamming oracle can verify this plan. */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int = 3, useMd5: Boolean = false): DataFrame =
    hammingPairs64(
      df.select(col(idCol), simhash(tokens(col(textCol)), useMd5).as("__sh64")),
      idCol, "__sh64", maxHamming)

  /** The banding/verify core of [[simhashPairs]], over ANY 64-bit
    * per-row fingerprint column (SimHash over tokens, dHash over
    * image rasters, audio chroma hashes, ...): 4×16-bit band buckets
    * generate candidates, xor+popcount verifies. Exact recall for
    * maxHamming ≤ 3 by the pigeonhole over 4 bands. */
  def hammingPairs64(sigs: DataFrame, idCol: String, hashCol: String,
                     maxHamming: Int = 3,
                     checkpoint: DataFrame => DataFrame = graft.util.Checkpoints.pin(_)): DataFrame = {
    // Pin the (id, fingerprint) table: it feeds FOUR consumers below
    // (distinct-fp aggregate, two expansion joins, within-fp join),
    // and without the pin each consumer re-runs the fingerprint
    // kernel — ruinous when the fingerprint is a multimodal decode
    // (measured: mm_dedup_video 32 -> 75 s at sf10 unpinned). Default
    // is a lazy LOCAL checkpoint (executor-resident, ~16 B/row); on a
    // cluster where executor loss must be survivable, pass a reliable
    // pin instead (same contract as minhashPairs).
    val docs = checkpoint(sigs.select(col(idCol).as("doc"), col(hashCol).as("sh")))
    // Exact-fingerprint pre-collapse: a dup-dense corpus piles
    // IDENTICAL fingerprints into the same band buckets, and a banded
    // self-join over docs pays occupancy^2 popcount work per
    // mega-bucket (measured: dedup_simhash grew 6.8x over a 3.33x
    // data step at sf10 on a 10x-replicated corpus). A doc pair's
    // hamming is a pure function of its two fingerprints, so run the
    // candidate join over DISTINCT fingerprints (volume ~= content
    // diversity, NOT corpus size), then expand to doc pairs by two
    // equi-joins — linear in the true output.
    val fps = docs.groupBy("sh").agg(count(lit(1)).as("__n"))
    val banded = fps.select(col("sh"),
      posexplode(transform(sequence(lit(0), lit(3)),
        b => call_function("shiftright", col("sh"), b * 16).bitwiseAND(0xffffL)))
        .as(Seq("band", "bucket")))
    // Hamming-verify INSIDE a packed kernel, not per join row: short
    // docs make 16-bit bands correlate, so buckets still join wide —
    // occupancy² candidates per bucket. Each (band, bucket) packs into
    // size-bounded array<long> chunk rows (chunk id by xxhash64(sh)
    // mod the bucket's chunk count, so a mega-bucket's volume spreads
    // over chunk-pair rows instead of one giant row) and chunk PAIRS
    // meet in the equi-join; HammingPairsBlock runs the xor+popcount
    // loop over primitive longs and only fingerprint pairs within
    // maxHamming (collision in >= 1 band is guaranteed for <= 3
    // differing bits by the pigeonhole) exist as rows at all. The
    // kernel's sh_b > sh_a orientation makes per-band output
    // exact-once; only cross-BAND repeats pay the dedup shuffle.
    // Size-adaptive kernel floor (r17, the spreadIfNarrow 1 MiB-floor
    // lesson applied to the pack machinery): the packed plan below
    // wins by an order of magnitude once bucket occupancy grows
    // (sf10: dedup_simhash 61.7 → 4.7 s), but its fixed machinery —
    // size table, chunk assignment, pack aggregation, packed
    // self-join — is pure overhead on tiny inputs where candidate
    // volume is trivial either way (r16 ledger: dedup_simhash and the
    // three mm_dedup_* regressed 1.4–1.8× at sf0.1 on machinery
    // alone). The pin above is EAGER with MEASURED stats
    // (Checkpoints/Bridge.measuredPinStats), so the route reads true
    // bytes off the plan with no extra job; a lazy pin's stripped
    // stats read as huge and take the kernel path — the safe
    // direction at unknown scale. CAVEAT (ADVICE r17): an IDENTITY
    // checkpoint instead inherits the origin's compressed-file
    // estimate, which undercounts in-memory size 10–100× on text
    // data and could route a moderate-scale corpus to the row form's
    // occupancy² candidate explosion — a perf cliff, not a
    // correctness risk (outputs identical). No production caller
    // passes identity today; one that does should pass
    // checkpoint = Checkpoints.pin. 256 KiB ≈ 10k fingerprints (24 B
    // serialized rows): sf0.1 (500 docs, ~12 KB) routes row-form,
    // sf10 (50k docs, ~1.2 MB) keeps the kernel. Identical output by
    // construction — both forms emit each qualifying unordered
    // fingerprint pair exactly once per band and share the dedup +
    // expansion below.
    val rowForm = GraftConf.fitsIn(docs,
      GraftConf.bytes(sigs.sparkSession, "graft.hamming.rowFormMaxBytes", 256L << 10))
    val chunkRows = GraftConf.int(sigs.sparkSession, "graft.hamming.chunkRows", 65536)
    def packedFpPairs: DataFrame = {
    val sizes = banded.groupBy("band", "bucket")
      .agg(count(lit(1)).as("__bs"))
      .withColumn("__nc", greatest(lit(1L), ceil(col("__bs") / lit(chunkRows))))
      .select("band", "bucket", "__nc")
    // The explicit repartition pins the kernel's parallelism AND the
    // join layout: packed rows are tiny in BYTES while the kernel is
    // occupancy² in them, so AQE's byte-sized coalescing would run the
    // popcount loops on a few cores (measured: mm_dedup_image 11 → 17 s
    // at sf10 without this — the same bytes-don't-track-CPU hazard the
    // exact embedding arm documents). It sits BEFORE the pack — hash
    // layout on (band, bucket) satisfies the aggregation's clustering
    // on (band, bucket, chunk) — so pack, self-join and kernel all run
    // off ONE exchange of the fingerprint stream (the LSH twin
    // measured pack-then-repartition doubling cross-JVM serialization).
    val par = sigs.sparkSession.sparkContext.defaultParallelism
    val packed = banded.join(broadcast(sizes), Seq("band", "bucket"))
      .withColumn("__chunk", pmod(xxhash64(col("sh")), col("__nc")))
      .repartition(par, col("band"), col("bucket"))
      .groupBy("band", "bucket", "__chunk")
      .agg(collect_list(col("sh")).as("__shs"))
    val a = packed.select(col("band"), col("bucket"), col("__shs").as("__all"))
    val b = packed.select(col("band"), col("bucket"), col("__shs").as("__probe"))
    a.join(b, Seq("band", "bucket"))
      .select(explode(graft.functions.NativeExpressions.hamming_pairs_block(
        col("__all"), col("__probe"), maxHamming)).as("__hp"))
      .select(col("__hp.sh_a").as("sh_a"), col("__hp.sh_b").as("sh_b"),
        col("__hp.hamming").as("hamming"))
    }
    // Row-form verify (the tiny-input route): the xor+popcount filter
    // is a few cycles and pipelines inside the banded join stage, so
    // non-near candidate rows die in place — no pack machinery, no
    // extra aggregations. Only sane while Σoccupancy² stays small;
    // the stats route above guarantees that.
    def rowFpPairs: DataFrame = {
      val a = banded.select(col("band"), col("bucket"), col("sh").as("sh_a"))
      val b = banded.select(col("band"), col("bucket"), col("sh").as("sh_b"))
      a.join(b, Seq("band", "bucket"))
        .filter(col("sh_a") < col("sh_b"))
        .withColumn("hamming", bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).cast("long"))
        .filter(col("hamming") <= maxHamming)
        .select("sh_a", "sh_b", "hamming")
    }
    val fpPairs = (if (rowForm) rowFpPairs else packedFpPairs)
      .dropDuplicates("sh_a", "sh_b")
    // cross-fingerprint doc pairs: every holder of sh_a x every holder
    // of sh_b (a doc has exactly one fingerprint, so each doc pair
    // arises from exactly one fingerprint pair — no dedup needed)
    val cross = fpPairs
      .join(docs.select(col("sh").as("sh_a"), col("doc").as("__da")), "sh_a")
      .join(docs.select(col("sh").as("sh_b"), col("doc").as("__db")), "sh_b")
      .select(least(col("__da"), col("__db")).as("doc_a"),
        greatest(col("__da"), col("__db")).as("doc_b"), col("hamming"))
    // within-fingerprint doc pairs: hamming 0 by definition; the
    // self-join is keyed on the fingerprint and emits exactly the
    // n*(n-1)/2 output pairs per repeated fingerprint
    val dupDocs = docs.join(fps.filter(col("__n") > 1).select("sh"), "sh")
    val within = dupDocs.select(col("sh"), col("doc").as("__da"))
      .join(dupDocs.select(col("sh"), col("doc").as("__db")), "sh")
      .filter(col("__da") < col("__db"))
      .select(col("__da").as("doc_a"), col("__db").as("doc_b"),
        lit(0L).as("hamming"))
    cross.unionByName(within)
  }

  // ---- transitive closure of dup pairs ----------------------------

  /** Connected components over an undirected pair list — the
    * transitive-closure step that collapses A~B~C chains into one dup
    * group (the single-pass dedups above only look one hop out).
    *
    * Alternating large-star / small-star (Kiveris et al., "Connected
    * Components in MapReduce and Beyond"): each round re-points edges
    * at per-neighborhood minima, contracting every component into a
    * star rooted at its global min in O(log²) rounds. Each half-round
    * is one groupBy + one self-join over the EDGE list (not the corpus)
    * — no driver-side graph state, so it scales to any pair count; the
    * driver loop only orchestrates and checks the fixpoint.
    *
    * Returns (node, component) for every node that appears in a pair;
    * component = min node id reachable. Callers left-join this onto the
    * corpus and coalesce to doc_id for singleton docs. */
  def connectedComponents(pairs: DataFrame, aCol: String, bCol: String,
                          maxIter: Int = 25,
                          localEdgeLimit: Long = 50000000L): DataFrame = {
    // canonical edge = (max, min), deduped, self-loops dropped
    def canon(e: DataFrame): DataFrame =
      e.filter(col("u") =!= col("v"))
        .select(greatest(col("u"), col("v")).as("u"), least(col("u"), col("v")).as("v"))
        .distinct()
    def undirected(e: DataFrame): DataFrame =
      e.union(e.select(col("v").as("u"), col("u").as("v")))

    // Fixpoint test: one aggregate per round, compared to the previous
    // round's cached value — NOT count+except (which cost three extra
    // jobs per round and dominated the driver overhead at small SF).
    // Edge lists are canonical+distinct, so set equality ⟺ multiset
    // equality, and (count, two independent 64-bit hash XORs) collide
    // for different sets with probability ~2⁻¹²⁸ — below any hardware
    // error rate. XOR (not sum): order-independent and immune to the
    // ANSI-mode long-overflow that a sum of 64-bit hashes trips.
    // maxIter still bounds the loop regardless.
    def fingerprint(e: DataFrame): (Long, Long, Long) = {
      val r = e.agg(count(lit(1)),
        bit_xor(xxhash64(col("u"), col("v"))),
        bit_xor(xxhash64(col("u"), col("v"), lit(1)))).head()
      (r.getLong(0),
        if (r.isNullAt(1)) 0L else r.getLong(1),
        if (r.isNullAt(2)) 0L else r.getLong(2))
    }

    var edges = canon(pairs.select(col(aCol).cast("long").as("u"),
      col(bCol).cast("long").as("v"))).transform(graft.util.Checkpoints.pin)

    // Size-adaptive (same pattern as ScalableWindow, crossover measured
    // in BENCH_LOCAL.md): the canonical edge list is already
    // materialized, so its count is free, and when it is driver-sized a
    // union-find beats the iterative plan outright — measured at sf10,
    // 23.5M edges: 138 s of alternating-star rounds vs seconds of
    // driver union-find. The collect is per-partition PACKED primitive
    // arrays (16 B/edge exact — no Row/Tuple boxing), so the default
    // 50M-edge limit costs ≤ 800 MB driver heap + the parent map;
    // `graft.cc.localEdgeLimit` dials it down for small drivers, and
    // the edge-list-only large-star/small-star loop above the limit
    // holds to any scale (near-dup graphs at 100 TB can carry billions
    // of edges — the loop IS the production arm there). Both paths are
    // property-spec'd equal.
    // The driver arm's packed collect is charged against
    // spark.driver.maxResultSize (16 B/edge): clamp the edge limit to
    // 80% of it so a generous localEdgeLimit can never turn into a
    // mid-job "serialized results bigger than maxResultSize" abort —
    // past the clamp the contraction/star arms carry the graph.
    val maxResult = org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
      pairs.sparkSession.conf.get("spark.driver.maxResultSize", "1g"))
    val resultCap = if (maxResult <= 0) Long.MaxValue else maxResult / 20
    val limit = math.min(resultCap,
      GraftConf.long(pairs.sparkSession, "graft.cc.localEdgeLimit", localEdgeLimit))
    var cnt = edges.count()
    if (cnt <= limit) return localComponents(edges)

    // Sharded union-find contraction — the bridge between the driver
    // arm and the star loop. Near-dup graphs are cluster-DENSE (a
    // k-member dup group carries up to k(k-1)/2 pair edges), so an
    // over-limit EDGE count usually hides a far smaller NODE count.
    // Each round hash-shards edges by u, runs a primitive union-find
    // per shard on the executors, and replaces the shard's edges with
    // its spanning star forest (node → shard-local min root): cycles
    // die in place, shard count scales with edge volume (~4M edges /
    // ~128 MB map worst-case per task), and the union of forests is
    // connectivity-equivalent over the SAME node set (every node of a
    // shard appears in its forest — self-loops were dropped, so no
    // local component is a singleton). Rounds repeat while the list
    // shrinks (re-sharding by node colocates a node's per-shard roots
    // and merges them); once under `limit` the driver arm finishes.
    // If contraction stalls above the limit (forest-shaped input:
    // edges ≈ nodes − components is the floor), fall through to the
    // star loop ON the contracted list — never worse than the input.
    // Per-round edge counts, shard counts and shrink ratios at probe
    // scales are recorded in BENCH_LOCAL.md, "Sharded union-find
    // contraction probe" (round 9) and "The ≥300M-edge contraction
    // probe" (round 14).
    val contractRounds = GraftConf.int(pairs.sparkSession, "graft.cc.contractRounds", 3)
    var round = 0
    var shrinking = true
    while (cnt > limit && round < contractRounds && shrinking) {
      val parts = math.max(
        pairs.sparkSession.sparkContext.defaultParallelism,
        math.min(10000, cnt / 4000000L).toInt)
      val contracted = contractStars(edges, parts)
        .transform(graft.util.Checkpoints.pin)
      val c2 = contracted.count()
      shrinking = c2 < cnt - cnt / 10
      edges = contracted
      cnt = c2
      round += 1
    }
    if (cnt <= limit) return localComponents(edges)
    var edgesFp = fingerprint(edges)
    var converged = false
    var it = 0
    while (!converged && it < maxIter) {
      // large-star: connect every strictly-larger neighbor to
      // m(u) = min(Γ(u) ∪ {u})
      val nbr = undirected(edges)
      val mins = nbr.groupBy("u").agg(min("v").as("__mv"))
        .select(col("u"), least(col("u"), col("__mv")).as("__m"))
      val large = canon(nbr.join(mins, "u").filter(col("v") > col("u"))
        .select(col("v").as("u"), col("__m").as("v"))).transform(graft.util.Checkpoints.pin)

      // small-star: connect every smaller neighbor (and u itself) to
      // the min of u's smaller neighborhood
      val le = undirected(large).filter(col("v") < col("u"))
      val mins2 = le.groupBy("u").agg(min("v").as("__m"))
      val small = canon(
        le.join(mins2, "u").filter(col("v") =!= col("__m"))
          .select(col("v").as("u"), col("__m").as("v"))
          .union(mins2.select(col("u"), col("__m").as("v")))).transform(graft.util.Checkpoints.pin)

      val smallFp = fingerprint(small)
      converged = smallFp == edgesFp
      edges = small
      edgesFp = smallFp
      it += 1
    }
    edges.select(col("u").as("node"), col("v").as("component"))
  }

  /** Driver union-find over a collected edge list — the small-graph
    * arm of [[connectedComponents]]. Output contract matches the
    * distributed loop's fixpoint star graph exactly: one
    * (node, component-min) row per NON-ROOT node; roots don't appear
    * (callers coalesce missing nodes to themselves). */
  private def localComponents(edges: DataFrame): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    // Executors pack each partition into ONE primitive long array
    // (u,v interleaved) before the collect: the driver receives
    // 16 B/edge exactly, instead of a boxed Row/Tuple per edge
    // (~100 B/edge — the difference between 380 MB and 2.4 GB at the
    // sf10-measured 23.5M edges). Genuine per-partition imperative
    // logic, hence the RDD hop.
    val chunks = edges.select(col("u"), col("v")).rdd
      .mapPartitions { it =>
        val buf = new scala.collection.mutable.ArrayBuilder.ofLong
        it.foreach { r => buf += r.getLong(0); buf += r.getLong(1) }
        Iterator.single(buf.result())
      }.collect()
    // Primitive open-addressing map: 16 B per non-root node at 60%
    // load (vs ~90 B boxed), so the driver total at the 50M-edge limit
    // is 800 MB of packed edges + ≤ 2 GB map worst-case (every edge a
    // disjoint pair → 100M non-roots; real dup graphs are edge-dense
    // and sit far below). `graft.cc.localEdgeLimit` dials the limit
    // down for small drivers.
    val parent = new graft.util.LongLongMap()
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrDefault(r, r) != r) r = parent.getOrDefault(r, r)
      var c = x // path compression
      while (c != r) { val n = parent.get(c); parent.put(c, r); c = n }
      r
    }
    chunks.foreach { arr =>
      var i = 0
      while (i < arr.length) {
        val ru = find(arr(i)); val rv = find(arr(i + 1))
        // union by min: smaller id becomes the root, so every root is
        // its component's minimum and the star contract falls out
        if (ru < rv) parent.put(rv, ru)
        else if (rv < ru) parent.put(ru, rv)
        i += 2
      }
    }
    // The parent map's key set IS the non-root node set: a node gains
    // an entry exactly when it loses a union (or is path-compressed,
    // which requires a prior entry), and roots never lose. find() from
    // inside foreachKey only rewrites existing keys (no insert/grow).
    val out = Seq.newBuilder[(Long, Long)]
    parent.foreachKey { node =>
      val r = find(node)
      if (r != node) out += ((node, r))
    }
    // LocalRelation: driver-local, broadcast-joins downstream for free
    out.result().toDF("node", "component")
  }

  /** One sharded-contraction round of [[connectedComponents]]: edges
    * hash-partitioned by `u`, a primitive union-find per partition,
    * output = the per-partition spanning star forests
    * (non-root node → partition-local min root). Connectivity- and
    * node-set-preserving; strictly removes intra-partition cycles. */
  private def contractStars(edges: DataFrame, parts: Int): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    edges.select(col("u"), col("v")).repartition(parts, col("u"))
      .as[(Long, Long)]
      .mapPartitions { it =>
        val parent = new graft.util.LongLongMap()
        def find(x: Long): Long = {
          var r = x
          while (parent.getOrDefault(r, r) != r) r = parent.getOrDefault(r, r)
          var c = x
          while (c != r) { val n = parent.get(c); parent.put(c, r); c = n }
          r
        }
        it.foreach { case (u, v) =>
          val ru = find(u); val rv = find(v)
          if (ru < rv) parent.put(rv, ru)
          else if (rv < ru) parent.put(ru, rv)
        }
        val out = Vector.newBuilder[(Long, Long)]
        parent.foreachKey { node =>
          val r = find(node)
          if (r != node) out += ((node, r))
        }
        out.result().iterator
      }
      .toDF("u", "v")
  }

  // ---- exact n-gram Jaccard ---------------------------------------

  /** Exact Jaccard similarity over k-word shingle sets. Candidates are
    * pairs sharing ≥1 shingle (blocked by dropping shingles that occur
    * in more than maxShingleFreq docs — rare-shingle blocking keeps the
    * self-join near-linear at scale). */
  /** Shared candidate core of the exact set-overlap family:
    * (doc_a, doc_b, size_a, size_b, n_common) for every pair sharing
    * ≥1 (rare-)shingle — the input [[ngramJaccardPairs]] turns into
    * Jaccard and [[containmentPairs]] into directed containment. */
  private def shingleIntersections(df: DataFrame, idCol: String, textCol: String,
                                   shingleK: Int, maxShingleFreq: Int): DataFrame = {
    // One corpus pass, two shuffles — the minimum for this operator:
    //   1. shingle stream (doc, set_size, hash), hashes computed
    //      row-local by the fused ShingleHashes byte walk (no token
    //      array, no shingle strings — internal 64-bit join keys);
    //   2. pair stream out of the per-shingle capped-collect agg.
    // The previous shape (count per shingle → filter rare → re-join →
    // self-join) paid a SECOND tokenize+shingle scan of the corpus and
    // a third shuffle for the frequency filter; ShinglePairsAgg folds
    // the cap into cap-bounded aggregation state instead (boilerplate
    // shingles flip to overflow and emit nothing — state stays ≤
    // 16·cap bytes however frequent the shingle). set_size rides along
    // with each exploded shingle so pair rows carry both set sizes out
    // of the aggregate — no size joins.
    //
    // repartition-first (single post-shuffle agg phase) for the same
    // measured reason as ScalableWindow.topKPerGroup: shingle groups
    // are many and scattered (most have 1-2 members), a map-side
    // partial compresses ~nothing but pays an object-state
    // serialize/deserialize per (partition × group).
    // spreadIfNarrow: the shingle-hash byte walk fuses into the scan
    // stage — guard against single-row-group layouts running it in one
    // task (exchange carries raw text; see graft.util.ScanParallelism).
    val sh = graft.util.ScanParallelism.spreadIfNarrow(
        df.select(col(idCol).as("doc"), col(textCol)))
      .select(col("doc"),
        graft.functions.NativeExpressions.shingle_hashes(col(textCol), shingleK).as("__sh"))
      .select(col("doc"), size(col("__sh")).cast("long").as("set_size"),
        explode(col("__sh")).as("s"))
    sh.repartition(col("s"))
      .groupBy("s")
      .agg(graft.functions.ShinglePairs.shingle_pairs(
        col("doc"), col("set_size"), maxShingleFreq).as("__p"))
      .select(explode(col("__p")).as("p"))
      .select(col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"),
        col("p.size_a").as("size_a"), col("p.size_b").as("size_b"))
      .groupBy("doc_a", "doc_b", "size_a", "size_b").agg(count(lit(1)).as("n_common"))
  }

  /** Below this threshold the prefix filter can't prune (the required
    * prefix is nearly the whole shingle set: prefix = |S| − ⌈t·|S|⌉ + 1),
    * so the single-shuffle capped-collect plan wins. Above it,
    * [[prefixFilteredIntersections]] generates candidates from
    * frequency-ordered prefixes — near-linear at 100 TB where the
    * all-rare-pairs explosion is quadratic in bucket occupancy. */
  private val PrefixFilterMinThreshold = 0.1

  /** Memoized PPJoin arm decisions, keyed on (input files, params) —
    * see the containment arm selection in [[prefixFilteredIntersections]].
    * Warehouse parquet is immutable (staged rename-publish), so a
    * dataset's density probe is a pay-once catalog statistic. Bounded
    * LRU (access-order LinkedHashMap, capacity [[PpjoinMemoCapacity]]):
    * a long-lived service planning against thousands of distinct
    * datasets evicts only the coldest entry instead of dropping every
    * cached probe at once. Driver-side, once per query plan — the
    * synchronized wrapper is nowhere near any hot path. */
  private[graft] val PpjoinMemoCapacity = 1000
  private[graft] val ppjoinArmCache: java.util.Map[Any, String] =
    java.util.Collections.synchronizedMap(
      new java.util.LinkedHashMap[Any, String](64, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[Any, String]): Boolean =
          size() > PpjoinMemoCapacity
      })

  /** AllPairs/PPJoin prefix-filtered candidate generation + exact
    * verification — same output contract as [[shingleIntersections]]
    * ((doc_a, doc_b, size_a, size_b, n_common) over the rare-shingle
    * universe) but restricted to pairs that can still reach `threshold`,
    * so callers apply the same exact threshold filter to either core.
    *
    * Correctness (Bayardo et al. "Scaling Up All Pairs", Xiao et al.
    * PPJoin): order every doc's rare shingles by one global total order
    * (ascending document frequency, ties by hash — rarest first). A
    * qualifying pair's overlap o satisfies o ≥ ⌈t·|X|⌉ for the bound
    * side(s) (Jaccard: o/(|A|+|B|−o) ≥ t with o ≤ |B| gives o ≥ t·|A|
    * and symmetrically o ≥ t·|B|; containment: o ≥ t·min(|A|,|B|) =
    * t·|probe| for the smaller side), so the first
    * |rare(X)| − ⌈t·|X|⌉ + 1 elements of X's ordered rare set must
    * contain a common element — the prefix-intersection lemma. Sizes in
    * the α bound are FULL set sizes (the thresholds divide by them),
    * rare sets are what overlap is counted over; o ≤ |rare| keeps the
    * bound valid.
    *
    * Candidate join: Jaccard = prefix × prefix (both sides bounded);
    * containment = prefix × full rare set, probing from the
    * (set_size, doc)-smaller side only (the larger side's α can be
    * arbitrarily weak). Verification is exact: candidates join the two
    * per-doc value-sorted rare arrays and a native merge kernel counts
    * the true intersection — no frequency cap approximation beyond the
    * rare-universe semantics both cores share.
    *
    * Scale shape: frequency ordering puts only each doc's RAREST
    * shingles in its prefix, so candidate buckets collapse (boilerplate
    * shingles never enter a prefix at realistic thresholds); the
    * per-doc array state is one row per doc, linear in corpus shingle
    * volume. */
  private def prefixFilteredIntersections(df: DataFrame, idCol: String,
      textCol: String, shingleK: Int, maxShingleFreq: Int,
      threshold: Double, containment: Boolean): DataFrame = {
    // shingle stream feeds the frequency agg AND the join-back: pin it
    // (lazy local checkpoint — same contract as minhashPairs' signature
    // pin; cluster jobs needing executor-loss recovery pass reliable
    // pins at the operator entry points that expose them).
    //
    // Deliberately NOT the minhashPairs window shape (attach __df by
    // count-over-window keyed on the shingle): shingle frequency is
    // power-law skewed — a boilerplate shingle puts ALL its
    // occurrences in one window partition with no recourse, while the
    // groupBy+join-back pair keeps map-side combine (a hot shingle
    // collapses to one row per map partition) AND gets AQE skew-split
    // on the join-back. Measured (r14): the window form was a wash at
    // sf1 (7.3 → 6.5 s containment) and slightly WORSE at sf10
    // (~1410 → ~1449 CPU-s, same-load pair) — the signature window
    // wins because dup-group sizes are bounded by copy multiplicity;
    // vocabulary df is not.
    // spreadIfNarrow before the byte walk — see shingleIntersections.
    val sh = graft.util.Checkpoints.pin(
      graft.util.ScanParallelism.spreadIfNarrow(
          df.select(col(idCol).as("doc"), col(textCol)))
        .select(col("doc"),
          graft.functions.NativeExpressions.shingle_hashes(col(textCol), shingleK).as("__sh"))
        .select(col("doc"), size(col("__sh")).cast("long").as("set_size"),
          explode(col("__sh")).as("s")))
    val dfreq = sh.groupBy("s").agg(count(lit(1)).as("__df"))
      .filter(col("__df") <= maxShingleFreq)
    // per-doc state, one row per doc: the df-ordered rare list (prefix
    // source) and the value-sorted rare list (merge-verify source)
    val docSets = graft.util.Checkpoints.pin(
      sh.join(dfreq, "s")
        .groupBy("doc", "set_size")
        .agg(sort_array(collect_list(struct(col("__df"), col("s")))).as("__o"))
        .select(col("doc"), col("set_size"),
          transform(col("__o"), x => x.getField("s")).as("__pref"),
          sort_array(transform(col("__o"), x => x.getField("s"))).as("__set")))
    // PPJoin refinements on top of the prefix lemma (Xiao et al.):
    //  - LENGTH filter: o ≤ min(rare_a, rare_b) and the Jaccard bound
    //    o ≥ t·(|A|+|B|)/(1+t) together require
    //    min(rare_a, rare_b) ≥ t/(1+t)·(|A|+|B|) — strictly stronger
    //    than the classic t·max(|A|,|B|) ≤ min(|A|,|B|) size filter
    //    (rare ≤ full), applied inside the candidate join so pruned
    //    pairs never reach the pair-dedup shuffle.
    //  - POSITIONAL filter: both rare lists are sorted by ONE global
    //    (df, hash) order, so among join-visible shared elements the
    //    one at min position is the globally FIRST common element c1
    //    (an earlier common element would sit at smaller positions,
    //    hence inside both prefixes — visible; containment's index
    //    side is join-visible in full). Every other common element
    //    lies in both suffixes after c1, giving
    //    o ≤ 1 + min(rare_a − i1 − 1, rare_b − j1 − 1) (0-based i1,j1)
    //    — candidates whose bound can't reach o_min die before the
    //    two array-payload verification joins, which is where the
    //    remaining cost of this plan lives at scale.
    val withPlen = docSets
      .withColumn("__rare", size(col("__pref")).cast("long"))
      .withColumn("__plen",
        col("__rare") - ceil(lit(threshold) * col("set_size")).cast("long") + 1L)
    val prefixes = withPlen.filter(col("__plen") > 0)
      .select(col("doc"), col("set_size"), col("__rare"),
        posexplode(slice(col("__pref"), lit(1), col("__plen").cast("int"))))
      .withColumnRenamed("pos", "__i").withColumnRenamed("col", "s")
    // Arm selection (both arms are output-identical; the filters only
    // prune candidates exact verification would reject anyway):
    //   "full"   — length + positional filters
    //   "length" — length filter only, plain candidate dedup
    // The length filter always runs: the pre-r11 prefix-only plan lost
    // to it at sf10 on both queries (BENCH_LOCAL.md, "PPJoin positional
    // + length filters"). The r11 A/B showed a static "full" is wrong
    // for low-dup-density corpora: on the sf10 hard corpus (99 near-dup
    // siblings/doc) the positional filter cuts containment CPU −39%
    // (1774→1082 CPU-s), but at sf1 it INVERTS (49.7 full vs 27.9
    // prefix-only) — the min-aggregate's wide shuffle rows cost more
    // than the pruning saves when few candidates exist per doc.
    // Containment therefore estimates the pre-filter candidate volume
    // with a one-aggregate probe:
    // Σ over prefix occurrences (doc, s) of df(s) = Σ_s
    // prefixCnt(s)·df(s) — EXACTLY the number of (probe-prefix ×
    // index) join matches the candidate join would emit before any
    // filter (up to the 2× of the ps<is ordering restriction). Two
    // cost controls keep the probe honest at bench-visible scales (the
    // unsampled, uncached probe measured 28 CPU-s / 4.4 s wall at sf1
    // — 44% of the query it was steering):
    //   1. DOC SAMPLING (N = 16): only
    //      docs with pmod(xxhash64(doc), N) = 0 contribute, the sum
    //      scales back by N — unbiased for the per-doc density the cut
    //      compares against, ~N× cheaper.
    //   2. DECISION CACHE keyed on (input files, params): parquet
    //      files in the warehouse are immutable (rename-publish, fresh
    //      names per append), so the arm choice for a dataset is a
    //      catalog-stats-style memo — recurring jobs pay the probe
    //      once per dataset, not once per run. In-memory frames (no
    //      inputFiles) skip the cache.
    // High candidates/doc → the positional filter's pruning pays for
    // its shuffle width ("full"); low → the cheap in-join length
    // filter alone ("length"). The Jaccard core keeps static "full":
    // it won the A/B at every measured scale (both prefixes are
    // threshold-shortened, so the positional aggregate is far narrower
    // than containment's full-rare-list index side).
    val mode =
      if (!containment) "full"
      else {
        val cacheKey = {
          val files = df.inputFiles
          if (files.isEmpty) None
          else Some((files.sorted.mkString(","), idCol, textCol, shingleK,
            maxShingleFreq, threshold))
        }
        cacheKey.flatMap(k => Option(ppjoinArmCache.get(k))).getOrElse {
          val densityCut = 64.0
          val sampleMod = 16
          val nDocs = math.max(1L, docSets.count()) // forces the pin; reused below
          val predRow = prefixes
            .filter(pmod(xxhash64(col("doc")), lit(sampleMod)) === 0)
            .join(dfreq, "s").agg(sum(col("__df"))).head()
          val predicted =
            (if (predRow.isNullAt(0)) 0L else predRow.getLong(0)) * sampleMod
          val density = predicted.toDouble / nDocs
          val picked = if (density >= densityCut) "full" else "length"
          cacheKey.foreach(k => ppjoinArmCache.put(k, picked))
          picked
        }
      }
    val positional = mode == "full"
    val cand =
      if (!containment) {
        val a = prefixes.select(col("s"), col("doc").as("doc_a"),
          col("set_size").as("__fa"), col("__rare").as("__ra"), col("__i").as("__ia"))
        val b = prefixes.select(col("s"), col("doc").as("doc_b"),
          col("set_size").as("__fb"), col("__rare").as("__rb"), col("__i").as("__ib"))
        val joined = a.join(b, "s").filter(col("doc_a") < col("doc_b"))
          .filter(least(col("__ra"), col("__rb")) >=
            lit(threshold / (1.0 + threshold)) * (col("__fa") + col("__fb")))
        if (positional)
          joined.groupBy("doc_a", "doc_b", "__fa", "__fb", "__ra", "__rb")
            .agg(min(col("__ia")).as("__ia"), min(col("__ib")).as("__ib"))
            .filter(lit(1L) +
              least(col("__ra") - col("__ia") - 1L, col("__rb") - col("__ib") - 1L) >=
              lit(threshold / (1.0 + threshold)) * (col("__fa") + col("__fb")))
            .select("doc_a", "doc_b")
        else joined.select("doc_a", "doc_b").dropDuplicates("doc_a", "doc_b")
      } else {
        // probe (the (size, id)-smaller side) prefixes × full rare
        // sets; o_min = t·|probe| (full size), o ≤ min(rare_p, rare_i)
        val p = prefixes.select(col("s"), col("doc").as("__pd"),
          col("set_size").as("__ps"), col("__rare").as("__pr"), col("__i").as("__pi"))
        val i = docSets
          .withColumn("__rare", size(col("__pref")).cast("long"))
          .select(col("doc").as("__id"), col("set_size").as("__is"),
            col("__rare").as("__ir"), posexplode(col("__pref")))
          .withColumnRenamed("pos", "__qi").withColumnRenamed("col", "s")
        val joined = p.join(i, "s")
          .filter(col("__ps") < col("__is") ||
            (col("__ps") === col("__is") && col("__pd") < col("__id")))
          .filter(least(col("__pr"), col("__ir")) >= lit(threshold) * col("__ps"))
        if (positional)
          joined.groupBy("__pd", "__id", "__ps", "__pr", "__ir")
            .agg(min(col("__pi")).as("__pi"), min(col("__qi")).as("__qi"))
            .filter(lit(1L) +
              least(col("__pr") - col("__pi") - 1L, col("__ir") - col("__qi") - 1L) >=
              lit(threshold) * col("__ps"))
            .select(least(col("__pd"), col("__id")).as("doc_a"),
              greatest(col("__pd"), col("__id")).as("doc_b"))
        else joined
          .select(least(col("__pd"), col("__id")).as("doc_a"),
            greatest(col("__pd"), col("__id")).as("doc_b"))
          .dropDuplicates("doc_a", "doc_b")
      }
    cand
      .join(docSets.select(col("doc").as("doc_a"), col("set_size").as("size_a"),
        col("__set").as("__seta")), "doc_a")
      .join(docSets.select(col("doc").as("doc_b"), col("set_size").as("size_b"),
        col("__set").as("__setb")), "doc_b")
      .withColumn("n_common", graft.functions.NativeExpressions
        .sorted_intersect_count(col("__seta"), col("__setb")))
      .filter(col("n_common") > 0)
      .select("doc_a", "doc_b", "size_a", "size_b", "n_common")
  }

  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                        shingleK: Int = 5, threshold: Double = 0.5,
                        maxShingleFreq: Int = 100): DataFrame = {
    val core =
      if (threshold >= PrefixFilterMinThreshold)
        prefixFilteredIntersections(df, idCol, textCol, shingleK,
          maxShingleFreq, threshold, containment = false)
      else shingleIntersections(df, idCol, textCol, shingleK, maxShingleFreq)
    core
      // threshold on the UNROUNDED value (what the oracle does, and what
      // the prefix lemma guarantees candidate completeness for); the
      // rounded column is only the reported value
      .withColumn("__j", col("n_common").cast("double") /
        (col("size_a") + col("size_b") - col("n_common")))
      .filter(col("__j") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("n_common"),
        round(col("__j"), 6).as("jaccard"))
  }

  /** Directed containment C(X ⊆ Y) = |X∩Y| / |X| — the asymmetric
    * overlap Jaccard is blind to: a short doc quoted whole inside a
    * long one has tiny Jaccard but containment 1.0. A pair reports
    * when EITHER direction clears the threshold; both directions ship
    * so the caller knows which side is the quote. Same rare-shingle
    * blocking and plan shape as [[ngramJaccardPairs]]. */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
                       shingleK: Int = 5, threshold: Double = 0.5,
                       maxShingleFreq: Int = 100): DataFrame = {
    val core =
      if (threshold >= PrefixFilterMinThreshold)
        prefixFilteredIntersections(df, idCol, textCol, shingleK,
          maxShingleFreq, threshold, containment = true)
      else shingleIntersections(df, idCol, textCol, shingleK, maxShingleFreq)
    core
      .filter(greatest(
        col("n_common").cast("double") / col("size_a"),
        col("n_common").cast("double") / col("size_b")) >= threshold)
      .select(col("doc_a"), col("doc_b"), col("n_common"),
        round(col("n_common").cast("double") / col("size_a"), 6).as("containment_a"),
        round(col("n_common").cast("double") / col("size_b"), 6).as("containment_b"))
  }

  /** Post-dedup representative selection: one kept doc per dup
    * cluster (the C4/Dolma-style "keep the best, drop the rest"
    * step). `components` is connectedComponents' (node, component)
    * output; singletons — docs in no pair — form their own cluster.
    * Keeps the row maximizing scoreCol, ties broken by smallest id.
    * One window partitioned by component: cluster count ~ doc count,
    * so partitions stay tiny at any scale. */
  def keepBest(corpus: DataFrame, idCol: String, scoreCol: String,
               components: DataFrame, nodeCol: String = "node",
               compCol: String = "component"): DataFrame = {
    val comp = components.select(col(nodeCol).as(idCol), col(compCol))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(compCol))
      .orderBy(col(scoreCol).desc, col(idCol).asc)
    corpus.join(comp, Seq(idCol), "left_outer")
      .withColumn(compCol, coalesce(col(compCol), col(idCol)))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(col(compCol), col(idCol), col(scoreCol))
  }

  // ---- incremental (batch-vs-index) -------------------------------

  /** Incremental MinHash dedup — the PRODUCTION shape: a new batch is
    * deduped against the existing corpus without recomputing anything
    * over the old side beyond its (storable, re-usable) band index.
    * At 100 TB you never re-dedupe the corpus per ingest; you keep
    * the (band, bucket, doc) index table and this operator is one
    * equi-join of the batch's bands against it — batch-sized work,
    * not corpus-sized.
    *
    * Plan: signatures are row-local on both sides; candidates come
    * from the band-bucket equi-join (incoming × index, NOT a
    * self-join); verification joins the two signature tables only for
    * candidate rows. Same hash family and banding as [[minhashPairs]],
    * so an index built by the batch pipeline serves both.
    *
    * Output: one row per incoming doc — (idCol, is_dup boolean,
    * dup_of nullable long = smallest matching existing id).
    */
  /** The storable corpus-side state of incremental dedup: the band
    * index (band, bucket, doc) and the signature table (doc,
    * signature). Both are plain DataFrames — write them as tables at
    * ingest time, read them back for every future batch; appending a
    * verdicted-clean batch to the index is the same computation run on
    * the batch alone. */
  final case class MinhashIndex(bands: DataFrame, sigs: DataFrame)

  /** Build the [[MinhashIndex]] of a corpus — one pass of row-local
    * signatures, no joins; the thing a production pipeline materializes
    * ONCE and probes per ingest. */
  def buildMinhashIndex(corpus: DataFrame, idCol: String, textCol: String,
                        shingleK: Int = 5, numHashes: Int = 128,
                        bands: Int = 32, seed: Long = 42L,
                        useMd5: Boolean = false, oph: Boolean = true,
                        checkpoint: DataFrame => DataFrame = graft.util.Checkpoints.pin(_)): MinhashIndex = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rows = numHashes / bands
    // pinned for the same reason as in minhashPairs: bands + sigs are
    // two consumers of one kernel pass (callers persist/write the
    // returned tables for anything longer-lived than one probe). Same
    // caveat as there: the default local checkpoint is unrecoverable
    // on executor loss — cluster jobs pass a reliable pin.
    val sigs = checkpoint(
      minhashSignatures(corpus, idCol, textCol, shingleK, numHashes, seed, useMd5, oph))
    MinhashIndex(
      bandBuckets(sigs, idCol, bands, rows, useMd5),
      sigs.select(col(idCol).as("doc"), col("signature")))
  }

  /** Probe a (possibly re-read-from-storage) [[MinhashIndex]] with a
    * new batch: batch-side signatures are row-local, candidates come
    * from one equi-join of batch bands against the index — per-ingest
    * work scales with the batch, never the corpus. */
  def minhashIncrementalAgainst(index: MinhashIndex, incoming: DataFrame,
                                idCol: String, textCol: String,
                                shingleK: Int = 5, numHashes: Int = 128,
                                bands: Int = 32, threshold: Double = 0.7,
                                seed: Long = 42L, useMd5: Boolean = false,
                                oph: Boolean = true): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rows = numHashes / bands
    // Probe-side distinct-signature pre-collapse (same lesson as
    // [[minhashPairs]]): a boilerplate-heavy batch probes each distinct
    // signature ONCE against the index instead of once per copy — the
    // verdict is a pure function of the signature, so it fans back out
    // to every member. Bit-identical output. The group rep (__rep =
    // min id sharing the signature) is attached by one window INSIDE
    // the pinned pass.
    //
    // The pin is SLIM (r16, the last r15 `weak` item): only the rep
    // row of each signature group keeps its ~1 KB array — duplicate
    // members carry NULL — so the pinned blocks every later stage
    // re-reads (cross-JVM on a real cluster) shrink from 1 KB/doc to
    // 1 KB/distinct + 16 B/doc; and the pin lands PRE-PARTITIONED by
    // __rep (explicit repartition, same AQE-coalesce exemption as
    // [[bySignature]]) and DECLARES that partitioning through the
    // LogicalRDD, so if the rep-level verdict ever outgrows the
    // broadcast fallback the fan-out join reuses this exchange
    // instead of re-shuffling the batch. The __rep exchange replaces
    // the old plan's implicit reliance on the (unusable-for-__rep)
    // signature partitioning and carries mostly-16 B rows.
    val w = org.apache.spark.sql.expressions.Window.partitionBy("signature")
    val nParts = math.max(1, scala.util.Try(
      incoming.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt)
      .getOrElse(incoming.sparkSession.sparkContext.defaultParallelism))
    // Size-adaptive layout pin (r17): the explicit __rep repartition +
    // declared partitioning exist so that a rep-level verdict too big
    // for the broadcast fallback can fan out over THIS exchange
    // instead of re-shuffling the batch — a cluster-scale concern. On
    // a tiny batch the verdict always broadcasts, so the extra
    // exchange (plus its declaration) is the only cost (r16 ledger:
    // dedup_incremental 0.93 → 1.30 s at sf0.1 on this alone). Route
    // on the batch's planner estimate — file-size-derived, no job; an
    // unknown size reads huge and keeps the layout pin, the safe
    // direction. 2 MiB: sf0.1 documents ≈ 0.6 MB skips the exchange,
    // sf10 ≈ 12 MB keeps it. The slim NULL-signature projection stays
    // in both routes (strictly smaller pin either way); output is
    // identical — the exchange only places rows.
    val wantLayoutPin = !GraftConf.fitsIn(incoming,
      GraftConf.bytes(incoming.sparkSession, "graft.incremental.layoutPinMinBytes", 2L << 20))
    val slim =
      bySignature(minhashSignatures(incoming, idCol, textCol, shingleK, numHashes, seed, useMd5, oph))
        .withColumn("__rep", min(col(idCol)).over(w))
        .select(col(idCol), col("__rep"),
          when(col(idCol) === col("__rep"), col("signature")).as("signature"))
    val slimPinned = graft.util.Checkpoints.pin(
      if (wantLayoutPin) slim.repartition(nParts, col("__rep")) else slim)
    val inSigs =
      if (!wantLayoutPin) slimPinned
      else scala.util.Try(
        org.apache.spark.sql.graft.Bridge.declareHashPartitioning(
          slimPinned, Seq("__rep"), nParts)).getOrElse(slimPinned)
    val repSigs = inSigs.filter(col(idCol) === col("__rep"))
      .select(col(idCol), col("signature"))
    val idx = index.bands.select(col("band"), col("bucket"), col("doc").as("__ex"))
    val probe = bandBuckets(repSigs, idCol, bands, rows, useMd5)
      .select(col("band"), col("bucket"), col("doc").as("__in"))
    val cand = probe.join(idx, Seq("band", "bucket"))
      .select("__in", "__ex").dropDuplicates("__in", "__ex")
    val matched = cand
      .join(repSigs.select(col(idCol).as("__in"), col("signature").as("__sa")), "__in")
      .join(index.sigs.select(col("doc").as("__ex"), col("signature").as("__sb")), "__ex")
      .filter(graft.functions.NativeExpressions.signature_agreement(
        col("__sa"), col("__sb")) >= threshold)
      .groupBy("__in").agg(min("__ex").as("dup_of"))
    // matched is dup-reps-only (≤ distinct signatures, 16 B/row) —
    // AQE broadcasts it and the batch is scanned, never re-shuffled
    inSigs.select(col(idCol), col("__rep"))
      .join(matched.withColumnRenamed("__in", "__rep"), Seq("__rep"), "left_outer")
      .select(col(idCol), col("dup_of").isNotNull.as("is_dup"), col("dup_of"))
  }

  def minhashIncremental(existing: DataFrame, incoming: DataFrame,
                         idCol: String, textCol: String,
                         shingleK: Int = 5, numHashes: Int = 128,
                         bands: Int = 32, threshold: Double = 0.7,
                         seed: Long = 42L, useMd5: Boolean = false,
                         oph: Boolean = true): DataFrame =
    minhashIncrementalAgainst(
      buildMinhashIndex(existing, idCol, textCol, shingleK, numHashes, bands, seed, useMd5, oph),
      incoming, idCol, textCol, shingleK, numHashes, bands, threshold, seed, useMd5, oph)

  /** Fuzzy benchmark decontamination: flag training documents whose
    * MinHash-estimated Jaccard against ANY benchmark/eval document
    * clears `threshold` — the near-duplicate generalization of exact
    * n-gram decontamination (paraphrased or lightly-edited eval
    * leakage that verbatim 13-gram matching misses).
    *
    * Plan: signatures for both sides (eval is benchmark-sized — tiny
    * next to the corpus); the candidate set is the banded equi-join of
    * train buckets against eval buckets, so the corpus is never
    * self-joined and work scales with |train|·P(band collision with
    * eval), not |train|². Per training doc the WORST hit survives
    * (max estimated Jaccard, ties to the smallest eval id) via one
    * small window over candidates. Estimates are exact n/numHashes
    * rationals — numHashes a power of two makes them binary-exact, so
    * a SQL oracle replays scores bit-for-bit.
    *
    * Output: (idCol, eval_id, est_jaccard double) — contaminated
    * train docs only.
    */
  def fuzzyContaminationHits(corpus: DataFrame, evalSet: DataFrame,
                             idCol: String, textCol: String,
                             shingleK: Int = 5, numHashes: Int = 128,
                             bands: Int = 32, threshold: Double = 0.5,
                             seed: Long = 42L, useMd5: Boolean = false,
                             oph: Boolean = true): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rows = numHashes / bands
    // NOTE: this path keeps the groupBy-based collapse rather than the
    // window-attached __rep the other MinHash paths use. Here the
    // fan-out side (repHits) is CONTAMINATION-sized, so the expansion
    // join broadcasts either way and the only full-stream exchange is
    // the combine-reduced groupBy below — swapping it for the window
    // would ADD a partition sort of the ~1 KB/doc signature stream for
    // no exchange saved (measured at sf1: 4.4 → 6.5 s). The window
    // form wins only where the verdict table scales with the corpus
    // (minhashPairs members, incremental's per-rep verdicts).
    val trainSigs = graft.util.Checkpoints.pin(
      minhashSignatures(corpus, idCol, textCol, shingleK, numHashes, seed, useMd5, oph))
    val evalSigs = minhashSignatures(evalSet, idCol, textCol, shingleK, numHashes, seed, useMd5, oph)
    // Train-side distinct-signature pre-collapse (same lesson as
    // [[minhashPairs]]): boilerplate replicated across the corpus
    // would otherwise multiply every eval-bucket collision by its copy
    // count; the worst-hit verdict is a pure function of the
    // signature, so score each distinct signature once and fan back
    // out by one signature join. Bit-identical output.
    val trGroups = trainSigs.groupBy("signature").agg(min(col(idCol)).as("__rep"))
    val repSigs = trGroups.select(col("__rep").as(idCol), col("signature"))
    val probe = bandBuckets(repSigs, idCol, bands, rows, useMd5)
      .select(col("band"), col("bucket"), col("doc").as("__tr"))
    val idx = bandBuckets(evalSigs, idCol, bands, rows, useMd5)
      .select(col("band"), col("bucket"), col("doc").as("__ev"))
    val cand = probe.join(idx, Seq("band", "bucket"))
      .select("__tr", "__ev").dropDuplicates("__tr", "__ev")
    val scored = cand
      .join(repSigs.select(col(idCol).as("__tr"), col("signature").as("__sa")), "__tr")
      .join(evalSigs.select(col(idCol).as("__ev"), col("signature").as("__sb")), "__ev")
      .withColumn("est_jaccard",
        graft.functions.NativeExpressions.signature_agreement(col("__sa"), col("__sb")))
      .filter(col("est_jaccard") >= threshold)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__tr"))
      .orderBy(col("est_jaccard").desc, col("__ev"))
    val repHits = scored.withColumn("__r", row_number().over(w)).filter(col("__r") === 1)
      .select(col("__tr").as("__rep"), col("__ev").as("eval_id"),
        // n/numHashes with numHashes a power of two: binary-exact, no
        // rounding needed for the cross-engine hash compare
        col("est_jaccard"))
    // expansion restricted to CONTAMINATED groups only — hits-sized,
    // so AQE broadcasts it and the corpus is scanned, never shuffled
    val hitGroups = trGroups.join(repHits, Seq("__rep"))
      .select(col("signature"), col("eval_id"), col("est_jaccard"))
    trainSigs.select(col(idCol), col("signature"))
      .join(hitGroups, Seq("signature"))
      .select(col(idCol), col("eval_id"), col("est_jaccard"))
  }

  // ---- exact substring spans --------------------------------------

  /** Exact repeated-substring detection, the fixed-window form of
    * suffix-array training-data dedup (Lee et al., "Deduplicating
    * Training Data Makes Language Models Better"): any k-word run that
    * appears verbatim in ≥2 distinct documents marks, in every
    * document containing it, the word interval it covers; overlapping
    * marks merge, and each doc reports how many of its words sit
    * inside some cross-doc duplicated run. Pipelines then cut those
    * spans (or drop docs past a threshold) — unlike doc-level MinHash,
    * this catches boilerplate shared by otherwise-distinct pages.
    *
    * Plan: positional k-gram extraction is row-local (one native
    * [[graft.functions.NativeExpressions.WordShinglesAll]] loop);
    * duplicated grams are a word-count-shaped groupBy keeping only
    * min(doc) ≠ max(doc) groups; marked positions flow back through
    * one equi-join on the gram; interval union is a per-doc
    * gaps-and-islands window (partitions bounded by doc length —
    * nothing quadratic, nothing driver-side).
    *
    * Output: (idCol, n_words, dup_span_words, dup_span_frac), one row
    * per doc.
    */
  def substringSpans(df: DataFrame, idCol: String, textCol: String,
                     k: Int): DataFrame = {
    val spans = mergedSpanIslands(df, idCol, textCol, k)
      .groupBy(idCol).agg(sum(col("__e") - col("__s") + 1).as("__span"))
    df.select(col(idCol), graft.functions.TextFunctions
        .spaceTokenCount(col(textCol)).cast("long").as("n_words"))
      .join(spans, Seq(idCol), "left_outer")
      .select(col(idCol), col("n_words"),
        coalesce(col("__span"), lit(0L)).as("dup_span_words"),
        round(coalesce(col("__span"), lit(0L)).cast("double") / col("n_words"), 6)
          .as("dup_span_frac"))
  }

  /** Disjoint merged intervals (idCol, __s, __e) of word positions
    * covered by some cross-doc duplicated k-gram — the shared core of
    * [[substringSpans]] (which sums them) and [[substringDedupRewrite]]
    * (which cuts them). Grams are positional 64-bit hashes
    * ([[graft.functions.NativeExpressions.ShingleHashesAll]], one byte
    * walk off the raw text): the gram is only a cross-doc equality
    * key, its POSITION is the payload, so neither token arrays nor
    * gram strings are built or shuffled. */
  private def mergedSpanIslands(df: DataFrame, idCol: String, textCol: String,
                                k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val grams = df.select(col(idCol),
      posexplode(graft.functions.NativeExpressions.shingle_hashes_all(col(textCol), k))
        .as(Seq("__pos", "__g")))
    val dup = grams.groupBy("__g")
      .agg(min(col(idCol)).as("__mn"), max(col(idCol)).as("__mx"))
      .filter(col("__mn") =!= col("__mx")).select("__g")
    val covered = grams.join(dup, Seq("__g"))
      .select(col(idCol), col("__pos").cast("long").as("__s"),
        (col("__pos") + k - 1).cast("long").as("__e"))
    val wPrev = Window.partitionBy(idCol).orderBy(col("__s"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wRun = Window.partitionBy(idCol).orderBy(col("__s"))
      .rowsBetween(Window.unboundedPreceding, 0)
    covered
      .withColumn("__new",
        when(col("__s") > coalesce(max(col("__e")).over(wPrev), lit(-1L)), 1L)
          .otherwise(0L))
      .withColumn("__isl", sum(col("__new")).over(wRun))
      .groupBy(col(idCol), col("__isl"))
      .agg(min("__s").as("__s"), max("__e").as("__e"))
      .drop("__isl")
  }

  /** Variable-length duplicated-run report — the maximal-run form of
    * Lee et al.'s suffix-array dedup (their ExactSubstr finds repeated
    * runs of AT LEAST some length; the fixed-k form above only knows
    * "covered or not"). Adjacent/overlapping duplicated k-gram anchors
    * merge into maximal islands (the shared [[mergedSpanIslands]]
    * machinery), and each island's LENGTH is the length of the maximal
    * duplicated run it witnesses: a 25-word run shared verbatim
    * between two docs yields 16 anchored 10-grams whose union is
    * exactly the 25-word interval. Per doc: the longest such run and
    * how many maximal runs reach `minRun` words — the thresholded
    * signal pipelines use to cut or drop (k bounds the minimum
    * detectable run; minRun ≥ k is the reporting threshold).
    *
    * Output: (idCol, n_words, longest_run, n_runs_min), one row per
    * doc; docs with no cross-doc duplicated run report (0, 0). */
  def substringRuns(df: DataFrame, idCol: String, textCol: String,
                    k: Int, minRun: Int): DataFrame = {
    val runs = mergedSpanIslands(df, idCol, textCol, k)
      .select(col(idCol), (col("__e") - col("__s") + 1).as("__len"))
    val agg = runs.groupBy(idCol).agg(
      max("__len").as("__longest"),
      sum(when(col("__len") >= minRun, 1L).otherwise(0L)).as("__n"))
    df.select(col(idCol), graft.functions.TextFunctions
        .spaceTokenCount(col(textCol)).cast("long").as("n_words"))
      .join(agg, Seq(idCol), "left_outer")
      .select(col(idCol), col("n_words"),
        coalesce(col("__longest"), lit(0L)).as("longest_run"),
        coalesce(col("__n"), lit(0L)).as("n_runs_min"))
  }

  /** The transformation [[substringSpans]] is the signal for: CUT every
    * cross-doc duplicated k-word run out of the text (Lee et al. remove
    * the repeated substring from all but one occurrence or all — this
    * follows the simpler remove-everywhere policy, which is symmetric
    * and engine-replicable). The islands are per-doc few and disjoint,
    * so the rewrite is row-local: collect each doc's island list (one
    * island-volume aggregation — NOT token-volume), join it back to
    * the corpus once, and rebuild the text in a single byte walk
    * ([[graft.functions.NativeExpressions.RemoveTokenSpans]]). The
    * previous shape posexploded every word, anti-joined covered
    * positions and re-sorted each doc's survivors — three
    * corpus-token-volume shuffles to apply spans the doc already
    * owned.
    *
    * Output: (idCol, clean_text, n_removed long) for every doc; a doc
    * entirely made of duplicated runs yields the empty string.
    */
  def substringDedupRewrite(df: DataFrame, idCol: String, textCol: String,
                            k: Int): DataFrame = {
    val islands = mergedSpanIslands(df, idCol, textCol, k)
      .groupBy(idCol)
      .agg(collect_list(struct(col("__s"), col("__e"))).as("__spans"))
    df.select(col(idCol), col(textCol))
      .join(islands, Seq(idCol), "left_outer")
      .select(col(idCol), graft.functions.NativeExpressions.remove_token_spans(
        col(textCol),
        coalesce(col("__spans"),
          array().cast("array<struct<__s:bigint,__e:bigint>>"))).as("__r"))
      .select(col(idCol),
        col("__r.clean_text").as("clean_text"),
        col("__r.n_removed").as("n_removed"))
  }

  /** Winnowing fingerprint overlap (Schleimer, Wilkerson & Aiken,
    * SIGMOD 2003 — the MOSS algorithm): each doc keeps the sliding
    * window-minima of its k-gram md5 hashes (see
    * [[graft.functions.NativeExpressions.WinnowFingerprints]] for the
    * fused kernel and the guarantee: any shared token run of length
    * ≥ w+k−1 shares a fingerprint, at ~2/(w+1) shingle density), and
    * docs sharing ≥ minShared fingerprints pair up.
    *
    * Plan: fingerprint selection is ROW-LOCAL — one kernel pass over
    * the corpus scan, no shuffle; the exchanges are (1) the
    * fingerprint-keyed frequency blocker (keep fingerprints shared by
    * 2..maxDf docs — boilerplate mega-buckets drop exactly like the
    * shingle blocker's, so no occupancy² pair blowup) and (2) the
    * pair-expansion self-join keyed on the 8-byte fingerprint. The
    * shuffled stream is fingerprints (~tokens/(w+1) per doc), never
    * text.
    *
    * Output: (doc_a, doc_b, n_shared) with n_shared ≥ minShared,
    * ordered n_shared desc then pair, capped at topN.
    */
  def winnowPairs(df: DataFrame, idCol: String, textCol: String,
                  k: Int = 5, w: Int = 4, maxDf: Int = 50,
                  minShared: Int = 2, topN: Int = 100): DataFrame = {
    // Same one-pass capped-collect shape as [[shingleIntersections]]:
    // fingerprints are distinct per doc (the kernel dedups), so the
    // per-fingerprint member list IS the doc-frequency blocker — a
    // bucket past maxDf overflows and emits nothing, 2..maxDf buckets
    // emit their C(n,2) pairs directly. One shuffle of the fingerprint
    // stream instead of two (count + re-join) plus the self-join.
    val fp = df.select(col(idCol).as("doc"),
        explode(graft.functions.NativeExpressions
          .winnow_fingerprints(col(textCol), k, w)).as("fp"))
    fp.repartition(col("fp"))
      .groupBy("fp")
      .agg(graft.functions.ShinglePairs.shingle_pairs(
        col("doc"), lit(0L), maxDf).as("__p"))
      .select(explode(col("__p")).as("p"))
      .select(col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
      .orderBy(col("n_shared").desc, col("doc_a"), col("doc_b"))
      .limit(topN)
  }
}

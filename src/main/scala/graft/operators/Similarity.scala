package graft.operators

import graft.util.GraftConf
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column
  * (`array<float>`). Brute-force cosine top-k is the exact baseline
  * (O(|queries|·|corpus|) — fine when queries are few and broadcast);
  * the IVF variant is the 100 TB path: corpus is partitioned into
  * coarse cells once, and each query scans only its nProbe nearest
  * cells, cutting the scan by ~nCells/nProbe.
  */
object Similarity {

  /** Cosine similarity of two array<numeric> columns — one fused
    * native-expression loop per pair (see NativeExpressions). */
  def cosine(a: Column, b: Column): Column =
    graft.functions.NativeExpressions.cosine_sim(
      a.cast("array<double>"), b.cast("array<double>"))

  /** Exact top-k neighbors for each query vector (brute force).
    * Queries are broadcast — the corpus is scanned once, never
    * shuffled; the per-query top-k is a window over |q|·k rows. */
  def bruteForceTopK(corpus: DataFrame, idCol: String, vecCol: String,
                     queries: DataFrame, queryIdCol: String, queryVecCol: String,
                     k: Int): DataFrame = {
    val c = corpus.select(col(idCol),
      col(vecCol).cast("array<double>").as("__cv"))
    val q = queries.select(col(queryIdCol),
      col(queryVecCol).cast("array<double>").as("__qv"))
    val joined = c.crossJoin(broadcast(q))
      .filter(col(queryIdCol) =!= col(idCol))
      .select(col(queryIdCol).as("query_id"), col(idCol).as("neighbor_id"),
        round(graft.functions.NativeExpressions.cosine_sim(col("__cv"), col("__qv")), 6)
          .as("cos_sim"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos_sim").desc, col("neighbor_id"))
    joined.withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select("query_id", "neighbor_id", "cos_sim", "rnk")
  }

  /** Deterministic coarse quantizer: every vec_id ≡ 0 (mod stride)
    * becomes a centroid. (A k-means refinement would iterate assign +
    * mean; seeds keep the whole operator deterministic and test-able.) */
  def seedCentroids(corpus: DataFrame, idCol: String, vecCol: String,
                    stride: Int): DataFrame =
    corpus.filter(pmod(col(idCol), lit(stride)) === 0)
      .select(col(idCol).as("centroid_id"), col(vecCol).as("centroid_vec"))

  /** Engine-exact distributed k-means (Lloyd) from the seed centroids:
    * the per-cell mean is computed in fixed-point — every element
    * quantizes to integer micro-units BEFORE the cross-row sum, so the
    * reduction is order-independent (long addition commutes; double
    * addition does not) and a SQL oracle replays every round
    * bit-for-bit. The final double mean is one exact division of exact
    * integers: (sum/1e6)/n evaluated as (CAST(sum AS DOUBLE)/n)/1e6.
    *
    * Per round: one fused assignment pass ([[ivfAssign]] — the
    * |corpus|×|cells| intermediate never materializes) plus ONE
    * cell-keyed [[graft.functions.VecSumAgg]] aggregation (primitive
    * long[dim] per-group sums, map-side partials, no posexplode
    * inflation) — |corpus| rows in, |cells| rows out. Rounds are
    * driver-sequenced but each is a single shuffle; at 100 TB the
    * corpus is scanned `iters` times and nothing corpus-sized is ever
    * collected. Cells that lose every member simply drop out (same
    * rule in the oracle).
    *
    * Output: (centroid_id long, n_members long, centroid_vec
    * array<double>) — the refined codebook with final-round
    * membership counts, ready to feed [[ivfAssign]]/[[ivfTopK]].
    */
  def kmeansTrainExact(corpus: DataFrame, idCol: String, vecCol: String,
                       stride: Int, iters: Int): DataFrame = {
    require(iters >= 1, "at least one Lloyd round")
    var centroids = seedCentroids(corpus, idCol, vecCol, stride)
      .select(col("centroid_id").cast("long").as("centroid_id"),
        col("centroid_vec").cast("array<double>").as("centroid_vec"))
    val vecs = corpus.select(col(idCol), col(vecCol).cast("array<double>").as("__v"))
    val dim = vecDim(vecs, "__v")
    var result: DataFrame = null
    (1 to iters).foreach { _ =>
      val assigned = ivfAssign(vecs, idCol, "__v", centroids)
      // Lloyd update as ONE fused aggregate: per-cell long[dim]
      // micro-unit sums (VecSumAgg) — no posexplode, nothing inflates
      // the corpus dim× before the partial agg.
      result = assigned
        .groupBy("cell")
        .agg(graft.functions.VecSum.vec_sum_q(col("__v"), dim).as("__a"))
        .select(col("cell").cast("long").as("centroid_id"),
          col("__a.n").as("n_members"),
          transform(col("__a.sums"),
            s => s.cast("double") / col("__a.n") / 1e6).as("centroid_vec"))
      centroids = result.select(col("centroid_id"), col("centroid_vec"))
    }
    result
  }

  /** Dimension of the first non-null vector — one LIMIT-1 job, never a
    * scan (0 on an empty/all-null corpus). */
  private def vecDim(df: DataFrame, vecCol: String): Int =
    df.select(size(col(vecCol)).as("__d")).filter(col("__d") >= 0)
      .head(1).headOption.map(_.getInt(0)).getOrElse(0)

  /** Mean-pool chunk embeddings into group (document) embeddings —
    * the standard chunk→doc aggregation after embedding long texts in
    * windows. Same fixed-point trick as [[kmeansTrainExact]]: elements
    * quantize to integer micro-units before the cross-row sum, so the
    * pooled vector is engine-exact regardless of partitioning. One
    * group-keyed [[graft.functions.VecSumAgg]] aggregation (primitive
    * long[dim] sums, map-side partials — the corpus is never inflated
    * dim× through a posexplode); the per-dimension flattening explodes
    * only the |groups|-sized AGGREGATE. Nothing collected.
    *
    * Output: (group_id long, n_vecs long, pos long 1-based,
    * pooled_val double) — flattened per dimension.
    */
  def meanPool(corpus: DataFrame, vecCol: String, groupId: Column): DataFrame = {
    val e = corpus.select(groupId.cast("long").as("group_id"),
      col(vecCol).cast("array<double>").as("__v"))
    val dim = vecDim(e, "__v")
    if (dim == 0)
      return e.select(col("group_id"), lit(0L).as("n_vecs"),
        lit(0L).as("pos"), lit(0.0).as("pooled_val")).limit(0)
    e.groupBy("group_id")
      .agg(graft.functions.VecSum.vec_sum_q(col("__v"), dim).as("__a"))
      .select(col("group_id"), col("__a.n").as("n_vecs"),
        posexplode(col("__a.sums")).as(Seq("__pos", "__s")))
      .select(col("group_id"), col("n_vecs"),
        (col("__pos") + 1).cast("long").as("pos"),
        (col("__s").cast("double") / col("n_vecs") / 1e6).as("pooled_val"))
  }

  /** Embedding-health outlier scan: the k vectors farthest (lowest
    * cosine) from the corpus centroid — mislabeled/garbage embeddings
    * surface here first. The centroid is exact: per-dimension integer
    * micro-unit sums (order-independent, so partial aggregation
    * cannot perturb it) — the collect is ONE row carrying long[dim],
    * never data-sized. Scoring is one broadcast-literal
    * map pass over the corpus; the bottom-k is TakeOrderedAndProject
    * (per-partition heaps, never a global sort). Ties break by id.
    */
  def centroidOutliers(corpus: DataFrame, idCol: String, vecCol: String,
                       k: Int): DataFrame = {
    val e = corpus.select(col(idCol), col(vecCol).cast("array<double>").as("__v"))
    val dim = vecDim(e, "__v")
    if (dim == 0)
      return e.select(col(idCol), lit(0.0).as("cos_centroid")).limit(0)
    val agg = e.agg(graft.functions.VecSum.vec_sum_q(col("__v"), dim).as("__a"))
      .select(col("__a.n"), col("__a.sums")).head()
    val n = agg.getLong(0)
    val centroid = agg.getSeq[Long](1).map(_.toDouble / n / 1e6)
    val cLit = array(centroid.map(lit).toSeq: _*)
    e.select(col(idCol), round(cosine(col("__v"), cLit), 6).as("cos_centroid"))
      .orderBy(col("cos_centroid").asc, col(idCol).asc).limit(k)
  }

  /** Matryoshka-style truncation: keep the first `dims` dimensions and
    * L2-renormalize — the cheap storage/latency trade nested-embedding
    * models are trained for. Entirely row-local (no shuffle at any
    * scale); the norm folds in index order so both engines compute the
    * same double, and outputs round to 1e-6 like every cosine here.
    *
    * Output: (idCol, pos long 1-based, tval double) per kept dim.
    */
  def truncateRenorm(corpus: DataFrame, idCol: String, vecCol: String,
                     dims: Int): DataFrame = {
    val sliced = corpus.select(col(idCol),
      slice(col(vecCol).cast("array<double>"), 1, dims).as("__t"))
      .withColumn("__norm",
        sqrt(aggregate(col("__t"), lit(0.0), (acc, x) => acc + x * x)))
    sliced.select(col(idCol),
        posexplode(col("__t")).as(Seq("__pos", "__x")), col("__norm"))
      .select(col(idCol), (col("__pos") + 1).cast("long").as("pos"),
        round(when(col("__norm") === 0.0, lit(0.0))
          .otherwise(col("__x") / col("__norm")), 6).as("tval"))
  }

  /** Assign each corpus vector to its nearest centroid. This
    * materialization is the "index build": at scale, write it
    * partitioned by cell so probes prune partitions.
    *
    * Plan: corpus rows group into `par` packed chunks; ALL centroids
    * pack into one broadcast row; the fused NearestCentroidBlock
    * kernel scores each chunk against the task-cached unpacked
    * centroids and emits only (id, cell). The |corpus|×|cells| scored
    * intermediate this replaced (72M rows at sf3 — per-row expression
    * eval + max_by agg machinery + GC) never exists; assignment cost
    * is a primitive dot loop. Vectors re-attach by one equi-join —
    * a single corpus-sized shuffle. Tie-break (max sim, then min
    * centroid_id) matches the oracle's ORDER BY sim DESC, centroid_id. */
  def ivfAssign(corpus: DataFrame, idCol: String, vecCol: String,
                centroids: DataFrame): DataFrame = {
    val par = corpus.sparkSession.sparkContext.defaultParallelism
    val vecs = corpus.select(col(idCol), col(vecCol).cast("array<double>").as(vecCol))
    val chunked = vecs
      .groupBy(pmod(col(idCol).cast("long"), lit(par)).as("__blk"))
      .agg(collect_list(struct(col(idCol).cast("long").as("__id"),
        col(vecCol).as("__v"))).as("__probe"))
      .repartition(par)
    val packed = centroids.agg(collect_list(struct(
      col("centroid_id").cast("long").as("__id"),
      col("centroid_vec").cast("array<double>").as("__v"))).as("__cents"))
    val assigned = chunked.crossJoin(broadcast(packed))
      .select(explode(graft.functions.NativeExpressions.nearest_centroid_block(
        col("__cents"), col("__probe"))).as("__a"))
      .select(col("__a.id").as(idCol), col("__a.cell").as("cell"))
    vecs.join(assigned, Seq(idCol)).select(col(idCol), col(vecCol), col("cell"))
  }

  /** IVF search: route each query to its nProbe nearest cells, then
    * exact top-k only within those cells. Candidate scan shrinks by
    * ~|cells|/nProbe versus brute force; recall < 1 is the trade. */
  def ivfTopK(assigned: DataFrame, idCol: String, vecCol: String,
              centroids: DataFrame,
              queries: DataFrame, queryIdCol: String, queryVecCol: String,
              k: Int, nProbe: Int): DataFrame = {
    val qCells = queries.crossJoin(broadcast(centroids))
      .select(col(queryIdCol).as("query_id"), col(queryVecCol).as("__qvec"),
        col("centroid_id"), cosine(col(queryVecCol), col("centroid_vec")).as("__sim"))
      .withColumn("__r", row_number().over(
        Window.partitionBy("query_id").orderBy(col("__sim").desc, col("centroid_id"))))
      .filter(col("__r") <= nProbe)
      .select(col("query_id"), col("__qvec"), col("centroid_id").as("cell"))

    val cand = assigned.join(broadcast(qCells), Seq("cell"))
      .filter(col("query_id") =!= col(idCol))
      .select(col("query_id"), col(idCol).as("neighbor_id"),
        round(cosine(col(vecCol), col("__qvec")), 6).as("cos_sim"))
    cand.withColumn("rnk", row_number().over(
      Window.partitionBy("query_id").orderBy(col("cos_sim").desc, col("neighbor_id"))).cast("long"))
      .filter(col("rnk") <= k)
      .select("query_id", "neighbor_id", "cos_sim", "rnk")
  }

  /** All nTables sign-of-hyperplane LSH bucket ids for a vector as one
    * `array<long>` — a single native expression pass (see
    * NativeExpressions.HyperplaneBuckets); plan size is O(1) in dim. */
  def hyperplaneBuckets(vec: Column, dim: Int, nPlanes: Int, nTables: Int,
                        seed: Int = 42): Column =
    graft.functions.NativeExpressions.hyperplane_buckets(
      vec.cast("array<double>"), dim, nPlanes, nTables, seed)

  /** Near-dup pairs via hyperplane LSH — the 100 TB path (the
    * all-pairs variant below is the correctness baseline). AND-OR
    * construction: nPlanes sign bits per bucket (precision), nTables
    * independent plane sets unioned (recall: a pair is a candidate if
    * ANY table buckets it together). Verification is identical exact
    * cosine.
    *
    * Plan: each (table, bucket) group packs into size-bounded chunk
    * rows (`graft.neardup.lshChunkRows`, chunk id by xxhash64(id) mod
    * the bucket's chunk count, so chunk volume is bounded whatever the
    * bucket skew); the bucket-blocked self equi-join then pairs CHUNK
    * rows — O((Σbucket/chunk)²) rows, not O(Σbucket²) — and each
    * chunk pair runs the same fused NearDupBlock primitive kernel as
    * the exact arm. Candidate pairs therefore never exist as rows
    * anywhere: no per-candidate join machinery, no per-candidate
    * expression eval, only surviving near-dups leave the kernel
    * (row-per-candidate scoring was 353 s vs 244 s for BRUTE FORCE at
    * sf10 — the prune cost more than no prune; this form keeps the
    * prune and the kernel). The kernel's `all-id > probe-id`
    * orientation emits each unordered pair from exactly one of a
    * chunk pair's two join rows, so per-table output is exact-once;
    * only cross-TABLE repeats pay the final distinct. The kernel
    * thresholds raw cosine, so it pre-filters at a 1e-6 slack and the
    * exact round-then-compare (what the oracle specifies) applies
    * outside. Ids are cast to long (same contract as the exact arm).
    *
    * The optional bucket cap (off by default) drops degenerate
    * buckets — near-parallel vector mass, adversarial skew —
    * entirely; the structural answer to candidate growth is parameter
    * choice: nPlanes should grow ~log₂(n/targetBucket) with corpus
    * size, nTables recovering recall. */
  def embeddingNearDupPairsLsh(corpus: DataFrame, idCol: String, vecCol: String,
                               threshold: Double, dim: Int,
                               nPlanes: Int = 8, nTables: Int = 4,
                               seed: Int = 42,
                               maxBucketSize: Int = Int.MaxValue): DataFrame = {
    val spark = corpus.sparkSession
    val chunkRows = GraftConf.int(spark, "graft.neardup.lshChunkRows", 4096)
    val vecs = corpus.select(col(idCol).cast("long").as("__id"),
      col(vecCol).cast("array<double>").as("__v"))
    val bucketed = vecs
      .select(col("__id"), col("__v"),
        posexplode(hyperplaneBuckets(col("__v"), dim, nPlanes, nTables, seed))
          .as(Seq("__table", "__bucket")))
    // Per-bucket sizes drive both the opt-in cap and the chunk count.
    // Occupied buckets ≤ nTables·min(2^nPlanes, n): tiny at the
    // default nPlanes=8 → broadcast; past 2^16 bucket ids the size
    // table may rival the corpus, so fall back to a shuffle join.
    val sizes0 = bucketed.groupBy("__table", "__bucket")
      .agg(count(lit(1)).as("__bs"))
      .withColumn("__nc", greatest(lit(1L), ceil(col("__bs") / lit(chunkRows))))
      .select("__table", "__bucket", "__bs", "__nc")
    val sizes = if (nPlanes <= 16) broadcast(sizes0) else sizes0
    val chunked = bucketed.join(sizes, Seq("__table", "__bucket"))
      .filter(col("__bs") <= maxBucketSize)
      .withColumn("__chunk", pmod(xxhash64(col("__id")), col("__nc")))
    // ONE exchange, placed BEFORE the pack: hash-partitioning by
    // (table, bucket) satisfies the pack aggregation's clustering
    // requirement on (table, bucket, chunk) — all of a bucket's chunks
    // co-locate — so the groupBy adds no exchange of its own and the
    // self-join inherits the layout from both sides (packing first and
    // repartitioning after shipped the corpus vectors through TWO
    // exchanges; cross-JVM that serialization doubled the query —
    // measured 27.3 vs ~13 s at sf10 on local-cluster[2,16]). The
    // explicit user repartition also pins the kernel's parallelism:
    // packed bytes grow with |A|+|B| but the kernel with |A|·|B|, so
    // AQE's byte-sized coalescing would under-parallelize the dot
    // loops (measured on the hammingPairs64 twin).
    val par = spark.sparkContext.defaultParallelism
    val packed0 = chunked
      .repartition(par, col("__table"), col("__bucket"))
      .groupBy("__table", "__bucket", "__chunk")
      .agg(collect_list(struct(col("__id"), col("__v"))).as("__vs"))
    // Pack ONCE cross-process (r17, deployment-routed like the
    // BenchSession broadcast threshold). ReusedExchange shares only
    // the shuffle WRITE: each self-join side still runs its own
    // shuffle READ and re-runs the pack aggregation inside the join
    // stage. In ONE JVM that re-read is a page-cache copy and the
    // repack is cheaper than materializing a GB-sized pin (measured
    // at sf10, same session: no-pin 34.5 s vs serialized pin 61.4 s /
    // deserialized pin 55.9 s single-JVM) — so local mode keeps the
    // r16 shape. Cross-PROCESS the double fetch is the biggest term
    // of the r16 multi-executor residual (~900 MB fetched twice), and
    // the pin + truthfully-declared hash layout (taken straight off
    // the (table, bucket) exchange) lets the self-join consume
    // executor-local blocks with zero exchange: local-cluster[2,16]
    // sf10 measured 48.5 s → 44.0 s, the pinned run under the worse
    // co-tenant load. Deserialized storage: packed rows are
    // primitive-array payloads (≈2× serialized as objects, not the 6×
    // of slim edge rows) consumed twice immediately.
    // `graft.neardup.packPin` overrides the route for A/B and specs;
    // reliable-checkpoint deployments inherit the usual pin contract.
    val packPin = GraftConf.bool(spark, "graft.neardup.packPin", !spark.sparkContext.isLocal)
    val packed =
      if (!packPin) packed0
      else {
        // Serialized pin storage (the Checkpoints default): on
        // EXECUTOR-sized heaps the deserialized form contends with
        // execution memory during the kernel join — measured at
        // local-cluster[2,16] sf10: pin-deserialized 104.8/107.0 s vs
        // pin-serialized 44.0 s vs no-pin 48.5/57.0 s.
        val pinned = graft.util.Checkpoints.pin(packed0)
        scala.util.Try(
          org.apache.spark.sql.graft.Bridge.declareHashPartitioning(
            pinned, Seq("__table", "__bucket"), par)).getOrElse(pinned)
      }
    val a = packed.select(col("__table"), col("__bucket"), col("__vs").as("__all"))
    val b = packed.select(col("__table"), col("__bucket"), col("__vs").as("__probe"))
    a.join(b, Seq("__table", "__bucket"))
      .select(explode(graft.functions.NativeExpressions.near_dup_block(
        col("__all"), col("__probe"), threshold - 1e-6)).as("__nd"))
      .select(col("__nd.id_a").as("id_a"), col("__nd.id_b").as("id_b"),
        round(col("__nd.cos"), 6).as("cos_sim"))
      .filter(col("cos_sim") >= threshold)
      .distinct()
  }

  /** Embedding near-duplicate pairs above a cosine threshold — EXACT
    * all-pairs O(n²). This is the correctness baseline and recall
    * yardstick; compute is quadratic by spec, so the production path
    * for large corpora is embeddingNearDupPairsLsh above (bucket-
    * blocked equi-join, same exact-cosine verification). Memory-wise
    * it self-clamps: the fast single-broadcast plan engages only while
    * the packed corpus fits under `graft.neardup.broadcastBytes`
    * (default 256 MB, safely under the 1g driver maxResultSize the
    * broadcast collect must traverse); past that it auto-routes to a
    * chunk×chunk blocked cartesian that holds at most
    * `graft.neardup.chunkBytes` per row.
    *
    * Plan: probes group into `par` packed chunk rows (deterministic
    * pmod(id) blocking); the corpus collapses to ONE packed row that
    * broadcasts against them; each chunk×corpus row runs the fused
    * NearDupBlock kernel and explodes only SURVIVING pairs. Two
    * things make this fast where the row-per-pair BroadcastNestedLoop
    * form was not: no per-pair row machinery exists anywhere in the
    * plan, and the 10 MB packed-corpus column is serialized through
    * the join once per CHUNK, not once per probe row. The explicit
    * repartition(par) pins parallelism — a small parquet input is one
    * task otherwise, and AQE would coalesce the tiny-by-bytes chunk
    * rows whose cost is CPU, not size. */
  def embeddingNearDupPairs(corpus: DataFrame, idCol: String, vecCol: String,
                            threshold: Double): DataFrame = {
    val spark = corpus.sparkSession
    val par = spark.sparkContext.defaultParallelism
    val normed = corpus.select(col(idCol).cast("long").as("__id"),
      col(vecCol).cast("array<double>").as("__v"))
    // Broadcast clamp: the single packed-corpus row must round-trip
    // through the driver (collect for broadcast), so it is bounded by
    // spark.driver.maxResultSize (1g default) AND by executor task
    // memory. Estimate its size from row count × mean vector length
    // and auto-route: under the limit → one broadcast row (fastest,
    // packed column serialized once per chunk); over it → chunk×chunk
    // blocked cartesian below, which never materializes the corpus in
    // one piece anywhere. Mirrors Dedup.localComponents's count-then-
    // route clamp pattern.
    val stats = normed.agg(count(lit(1)), avg(size(col("__v")))).head()
    val n = stats.getLong(0)
    val meanDim = if (stats.isNullAt(1)) 0.0 else stats.getDouble(1)
    // packed struct<id:long, vec:array<double>> ≈ 8 + 16 + 8·dim bytes
    val totalBytes = (n * (meanDim * 8 + 24)).toLong
    val broadcastLimit = GraftConf.bytes(spark, "graft.neardup.broadcastBytes", 256L << 20)
    if (totalBytes <= broadcastLimit) {
      val chunked = normed
        .groupBy(pmod(col("__id"), lit(par)).as("__blk"))
        .agg(collect_list(struct(col("__id"), col("__v"))).as("__probe"))
        .repartition(par)
      val packed = normed.agg(collect_list(struct(col("__id"), col("__v"))).as("__all"))
      chunked.crossJoin(broadcast(packed))
        .select(explode(graft.functions.NativeExpressions.near_dup_block(
          col("__all"), col("__probe"), threshold)).as("__nd"))
        .select(col("__nd.id_a").as("id_a"), col("__nd.id_b").as("id_b"),
          round(col("__nd.cos"), 6).as("cos_sim"))
    } else {
      // Over-limit arm: C packed chunks (C = ⌈total/chunkBytes⌉), all
      // C² chunk pairs via a SHUFFLE_REPLICATE_NL cartesian — executor-
      // to-executor exchange only, no driver collect, no row larger
      // than chunkBytes. The kernel's `allId > probeId` condition
      // orients every unordered id pair exactly once across the C²
      // evaluations (the (x<y) pair survives only where the larger id
      // sits on the `all` side), so no dedup pass is needed. Compute
      // stays the exact O(n²) this arm is specified to be — the scale
      // path remains embeddingNearDupPairsLsh; this arm just refuses
      // to die on the driver when someone points it at a corpus past
      // the broadcast clamp. Communication is C·|corpus| (each chunk
      // meets every other), the classic blocked all-pairs tradeoff.
      val chunkBytes = GraftConf.bytes(spark, "graft.neardup.chunkBytes", 64L << 20)
      val nChunks = math.max(2L, (totalBytes + chunkBytes - 1) / chunkBytes)
      val packedChunks = normed
        .groupBy(pmod(col("__id"), lit(nChunks)).as("__blk"))
        .agg(collect_list(struct(col("__id"), col("__v"))).as("__vs"))
        .repartition(math.min(nChunks, par).toInt)
      val a = packedChunks.select(col("__blk").as("__blkA"), col("__vs").as("__all"))
      val b = packedChunks.select(col("__blk").as("__blkB"), col("__vs").as("__probe"))
      a.hint("shuffle_replicate_nl").join(b.hint("shuffle_replicate_nl"))
        .select(explode(graft.functions.NativeExpressions.near_dup_block(
          col("__all"), col("__probe"), threshold)).as("__nd"))
        .select(col("__nd.id_a").as("id_a"), col("__nd.id_b").as("id_b"),
          round(col("__nd.cos"), 6).as("cos_sim"))
    }
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023): coarse
    * k-means-style cells bound the comparison set, then WITHIN each
    * cell a vector is dropped when a lower-id cell-mate sits above the
    * cosine threshold — keep-lowest-id makes the policy deterministic.
    *
    * Plan: assignment is [[ivfAssign]] (fused-kernel scoring, one
    * corpus-sized shuffle); the within-cell comparison is a self
    * equi-join ON CELL, so pair volume is Σ|cell|² — bounded by the
    * quantizer granularity, never corpus². At scale, grow the number
    * of centroids with the corpus to hold |cell| constant.
    * The threshold compares the 6-rounded cosine so an engine
    * replicating the policy (the DuckDB oracle does) cannot flip a
    * boundary pair on float noise.
    *
    * Output: (idCol, cell, is_kept) — every corpus row, keepers and
    * dropped alike.
    */
  def semanticDedup(corpus: DataFrame, idCol: String, vecCol: String,
                    centroids: DataFrame, threshold: Double): DataFrame = {
    // Pin once here — the assignment feeds the pair generator AND the
    // final keep/drop projection; cellMatePairs is told not to re-pin.
    val assigned = graft.util.Checkpoints.pin(
      ivfAssign(corpus, idCol, vecCol, centroids))
    val dropped = cellMatePairs(assigned, idCol, vecCol, threshold,
      checkpoint = identity)
      .select(col("id_b").as(idCol)).distinct()
      .withColumn("__dropped", lit(true))
    assigned.select(col(idCol), col("cell"))
      .join(dropped, Seq(idCol), "left_outer")
      .select(col(idCol), col("cell"),
        coalesce(!col("__dropped"), lit(true)).as("is_kept"))
  }

  /** Ordered similar pairs (id_a < id_b) among cell-mates of an
    * [[ivfAssign]] output whose 6-rounded cosine clears `threshold` —
    * the candidate-pair generator [[semanticDedup]] filters and graph
    * operators (PageRank over the similarity graph) consume as an edge
    * list. Pair volume is Σ|cell|², bounded by quantizer granularity.
    *
    * Same packed-chunk kernel plan as [[embeddingNearDupPairsLsh]]:
    * cells pack into size-bounded chunk rows, chunk pairs meet in the
    * cell equi-join and run the fused NearDupBlock kernel — the
    * Σ|cell|² candidate volume never exists as rows. A pair lives in
    * exactly one cell, so no dedup pass is needed; the kernel
    * pre-filters at raw threshold − 1e-6 and the policy's exact
    * round-then-compare applies outside. Ids are cast to long (both
    * production callers use long vector ids).
    *
    * The (cell, id, vec) projection is PINNED (same contract as
    * minhashPairs/hammingPairs64): the packed plan consumes it twice
    * (cell sizes, pack input), and `assigned` is usually an
    * [[ivfAssign]] whose fused centroid-scoring pass is the most
    * expensive thing in the query — without the pin each consumer
    * re-runs it (measured: dedup_semantic 7.8 → 17.2 s at sf10).
    * Callers that already pinned pass `checkpoint = identity`. */
  def cellMatePairs(assigned: DataFrame, idCol: String, vecCol: String,
                    threshold: Double,
                    checkpoint: DataFrame => DataFrame =
                      graft.util.Checkpoints.pin(_)): DataFrame = {
    val spark = assigned.sparkSession
    val chunkRows = GraftConf.int(spark, "graft.neardup.lshChunkRows", 4096)
    val par = spark.sparkContext.defaultParallelism
    val vecs = checkpoint(assigned.select(col("cell"),
      col(idCol).cast("long").as("__id"),
      col(vecCol).cast("array<double>").as("__v")))
    // Size-adaptive kernel floor (r17, same route as
    // Dedup.hammingPairs64): the pack machinery (size table, chunk
    // assignment, pack aggregation) is pure overhead when the whole
    // assigned corpus is tiny — the cell self-join's Σ|cell|²
    // candidate volume is then trivial in row form too (r16 ledger:
    // dedup_semantic 0.61 → 0.88 s at sf0.1 on machinery alone, vs
    // the kernel's sf10 win). `vecs` is either an eager pin with
    // MEASURED stats or a projection of the caller's pinned
    // assignment — both read true bytes off the plan with no job;
    // anything unmeasured reads huge and keeps the kernel path. 4 MiB
    // ≈ 8k 64-dim vectors: sf0.1 (500 rows, ~260 KB) routes row-form,
    // sf10 (50k rows, ~26 MB) keeps the kernel. Identical output —
    // both forms score every within-cell pair once (id_a < id_b) and
    // the policy's exact round-then-compare applies in both.
    if (GraftConf.fitsIn(vecs, GraftConf.bytes(spark, "graft.neardup.rowFormMaxBytes", 4L << 20))) {
      val a = vecs.select(col("cell"), col("__id").as("__ida"), col("__v").as("__va"))
      val b = vecs.select(col("cell"), col("__id").as("__idb"), col("__v").as("__vb"))
      return a.join(b, Seq("cell"))
        .filter(col("__ida") < col("__idb"))
        .filter(round(graft.functions.NativeExpressions.cosine_sim(
          col("__va"), col("__vb")), 6) >= threshold)
        .select(col("__ida").as("id_a"), col("__idb").as("id_b"))
    }
    val sizes = vecs.groupBy("cell").agg(count(lit(1)).as("__bs"))
      .withColumn("__nc", greatest(lit(1L), ceil(col("__bs") / lit(chunkRows))))
      .select("cell", "__nc")
    // Explicit repartition BEFORE the pack (cell layout satisfies the
    // (cell, chunk) clustering, so pack + self-join run off ONE
    // exchange — the LSH lesson) and pinning kernel parallelism:
    // packed bytes are |A|+|B| but the kernel is |A|·|B|, so AQE
    // byte-coalescing must not serialize the loops.
    val packed = vecs.join(broadcast(sizes), Seq("cell"))
      .withColumn("__chunk", pmod(xxhash64(col("__id")), col("__nc")))
      .repartition(par, col("cell"))
      .groupBy("cell", "__chunk")
      .agg(collect_list(struct(col("__id"), col("__v"))).as("__vs"))
    val a = packed.select(col("cell"), col("__vs").as("__all"))
    val b = packed.select(col("cell"), col("__vs").as("__probe"))
    a.join(b, Seq("cell"))
      .select(explode(graft.functions.NativeExpressions.near_dup_block(
        col("__all"), col("__probe"), threshold - 1e-6)).as("__nd"))
      .filter(round(col("__nd.cos"), 6) >= threshold)
      .select(col("__nd.id_a").as("id_a"), col("__nd.id_b").as("id_b"))
  }

  /** kNN label classification over the embedding corpus — the probe
    * task pipelines run to judge embedding quality: each query's label
    * is predicted by majority vote among its top-k cosine neighbors
    * (ties → smallest label), compared to the true label.
    *
    * Plan: neighbors come from [[bruteForceTopK]] (queries broadcast,
    * corpus scanned once); votes and the argmax are |queries|·k-row
    * work. Swap in [[ivfTopK]] for the same interface at scale.
    *
    * Output: (query_id, true_label, pred_label, correct). */
  def knnClassify(corpus: DataFrame, idCol: String, vecCol: String,
                  labelCol: String,
                  queries: DataFrame, queryIdCol: String, queryVecCol: String,
                  k: Int): DataFrame = {
    val topk = bruteForceTopK(corpus, idCol, vecCol, queries, queryIdCol, queryVecCol, k)
    val labels = corpus.select(col(idCol).as("neighbor_id"),
      col(labelCol).cast("long").as("__nl"))
    // no hint: the |q|·k topk side is the broadcast candidate, the
    // label projection is corpus-sized — AQE picks the right side
    val votes = topk.join(labels, Seq("neighbor_id"))
      .groupBy("query_id", "__nl").agg(count(lit(1)).as("__c"))
    val w = Window.partitionBy("query_id").orderBy(col("__c").desc, col("__nl").asc)
    val pred = votes.withColumn("__r", row_number().over(w)).filter(col("__r") === 1)
      .select(col("query_id"), col("__nl").as("pred_label"))
    val truth = corpus.select(col(idCol).as("query_id"),
      col(labelCol).cast("long").as("true_label"))
    pred.join(truth, Seq("query_id"))
      .select(col("query_id"), col("true_label"), col("pred_label"),
        (col("true_label") === col("pred_label")).as("correct"))
  }

  /** [[knnClassify]]'s scale path: neighbors come from [[ivfTopK]]
    * (nProbe cells scanned per query instead of the corpus), votes
    * and argmax identical. The brute form is the declared baseline
    * its oracle replays; this is what runs at 100 TB. */
  def knnClassifyIvf(assigned: DataFrame, idCol: String, vecCol: String,
                     labelCol: String, centroids: DataFrame, corpus: DataFrame,
                     queries: DataFrame, queryIdCol: String, queryVecCol: String,
                     k: Int, nProbe: Int): DataFrame = {
    val topk = ivfTopK(assigned, idCol, vecCol, centroids,
      queries, queryIdCol, queryVecCol, k, nProbe)
    val labels = corpus.select(col(idCol).as("neighbor_id"),
      col(labelCol).cast("long").as("__nl"))
    val votes = topk.join(labels, Seq("neighbor_id"))
      .groupBy("query_id", "__nl").agg(count(lit(1)).as("__c"))
    val w = Window.partitionBy("query_id").orderBy(col("__c").desc, col("__nl").asc)
    val pred = votes.withColumn("__r", row_number().over(w)).filter(col("__r") === 1)
      .select(col("query_id"), col("__nl").as("pred_label"))
    val truth = corpus.select(col(idCol).as("query_id"),
      col(labelCol).cast("long").as("true_label"))
    pred.join(truth, Seq("query_id"))
      .select(col("query_id"), col("true_label"), col("pred_label"),
        (col("true_label") === col("pred_label")).as("correct"))
  }

  /** Size-adaptive kNN classification — the [[ScalableWindow
    * .analyticRankQuery]] pattern applied to ANN: one entry point, the
    * physical route chosen by catalog stats (no extra job).
    *
    *   - corpora under `singleScanLimitBytes` → [[knnClassify]]: the
    *     exact brute scan, fastest when the corpus fits one broadcast
    *     pass and the oracle-replicable baseline;
    *   - past the limit → [[knnClassifyIvf]]: seeded centroids + IVF
    *     assignment, nProbe cells per query instead of the corpus —
    *     what runs at 100 TB.
    *
    * The two routes agree exactly when nProbe covers every cell
    * (spec'd); at partial probe the IVF route is the standard ANN
    * recall trade. */
  def knnClassifyAdaptive(corpus: DataFrame, idCol: String, vecCol: String,
                          labelCol: String,
                          queries: DataFrame, queryIdCol: String, queryVecCol: String,
                          k: Int, stride: Int = 0, nProbe: Int = 3,
                          singleScanLimitBytes: Long = 8L << 20): DataFrame = {
    if (GraftConf.fitsIn(corpus.select(col(idCol), col(vecCol), col(labelCol)),
        singleScanLimitBytes))
      knnClassify(corpus, idCol, vecCol, labelCol,
        queries, queryIdCol, queryVecCol, k)
    else {
      // stride 0 → cells ≈ √rows (the standard IVF balance: assignment
      // cost |corpus|·cells vs probe cost nProbe·|corpus|/cells — both
      // ~|corpus|^1.5). The row count is one footer-only count job.
      val s =
        if (stride > 0) stride
        else math.max(50, math.ceil(math.sqrt(corpus.count().toDouble)).toInt)
      val centroids = seedCentroids(corpus, idCol, vecCol, s)
      val assigned = ivfAssign(corpus, idCol, vecCol, centroids)
      knnClassifyIvf(assigned, idCol, vecCol, labelCol, centroids, corpus,
        queries, queryIdCol, queryVecCol, k, nProbe)
    }
  }

  /** Contrastive hard-negative mining: for each labeled anchor, the
    * top-k most-similar vectors carrying a DIFFERENT label — the
    * near-boundary negatives contrastive/embedding training wants
    * (easy negatives are random; hard ones are the top of this list).
    *
    * Plan: identical physics to [[bruteForceTopK]] (anchors broadcast,
    * corpus scanned once, never shuffled) with the label-mismatch
    * predicate fused BEFORE the per-anchor top-k window, so same-label
    * rows never compete for the k slots. |anchors|·k output.
    *
    * Output: (query_id, neighbor_id, neg_label, cos_sim, rnk). */
  def hardNegatives(corpus: DataFrame, idCol: String, vecCol: String,
                    labelCol: String,
                    queries: DataFrame, queryIdCol: String, queryVecCol: String,
                    queryLabelCol: String, k: Int): DataFrame = {
    val c = corpus.select(col(idCol), col(vecCol).cast("array<double>").as("__cv"),
      col(labelCol).cast("long").as("__cl"))
    val q = queries.select(col(queryIdCol), col(queryVecCol)
      .cast("array<double>").as("__qv"), col(queryLabelCol).cast("long").as("__ql"))
    val joined = c.crossJoin(broadcast(q))
      .filter(col(queryIdCol) =!= col(idCol) && col("__cl") =!= col("__ql"))
      .select(col(queryIdCol).as("query_id"), col(idCol).as("neighbor_id"),
        col("__cl").as("neg_label"),
        round(graft.functions.NativeExpressions.cosine_sim(col("__cv"), col("__qv")), 6)
          .as("cos_sim"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos_sim").desc, col("neighbor_id"))
    joined.withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select("query_id", "neighbor_id", "neg_label", "cos_sim", "rnk")
  }

  /** [[hardNegatives]]' scale path: candidates come from the anchor's
    * nProbe nearest IVF cells instead of the whole corpus (same recall
    * trade as [[ivfTopK]]); the label filter still runs before the
    * top-k window. The brute form is the oracle baseline; this is what
    * runs when the corpus no longer fits one scan per anchor batch. */
  def hardNegativesIvf(assigned: DataFrame, idCol: String, vecCol: String,
                       corpus: DataFrame, labelCol: String, centroids: DataFrame,
                       queries: DataFrame, queryIdCol: String, queryVecCol: String,
                       queryLabelCol: String, k: Int, nProbe: Int): DataFrame = {
    val qCells = queries.crossJoin(broadcast(centroids))
      .select(col(queryIdCol).as("query_id"), col(queryVecCol).as("__qvec"),
        col(queryLabelCol).cast("long").as("__ql"),
        col("centroid_id"), cosine(col(queryVecCol), col("centroid_vec")).as("__sim"))
      .withColumn("__r", row_number().over(
        Window.partitionBy("query_id").orderBy(col("__sim").desc, col("centroid_id"))))
      .filter(col("__r") <= nProbe)
      .select(col("query_id"), col("__qvec"), col("__ql"), col("centroid_id").as("cell"))
    val labeled = assigned.join(
      corpus.select(col(idCol), col(labelCol).cast("long").as("__cl")), Seq(idCol))
    val cand = labeled.join(broadcast(qCells), Seq("cell"))
      .filter(col("query_id") =!= col(idCol) && col("__cl") =!= col("__ql"))
      .select(col("query_id"), col(idCol).as("neighbor_id"),
        col("__cl").as("neg_label"),
        round(cosine(col(vecCol), col("__qvec")), 6).as("cos_sim"))
    cand.withColumn("rnk", row_number().over(
      Window.partitionBy("query_id").orderBy(col("cos_sim").desc, col("neighbor_id"))).cast("long"))
      .filter(col("rnk") <= k)
      .select("query_id", "neighbor_id", "neg_label", "cos_sim", "rnk")
  }

  /** Per-cell clustering diagnostics over the IVF assignment: size,
    * majority label (ties → smallest), and purity (majority share) —
    * the embedding-space health check run after any clustering step
    * (cells dominated by one label ⇒ the space separates classes;
    * uniform cells ⇒ it doesn't). One assignment + one cell-keyed
    * aggregate; integer counts, so purity is engine-exact.
    *
    * Output: (cell, n_vectors, majority_label, n_majority, purity). */
  def clusterPurity(corpus: DataFrame, idCol: String, vecCol: String,
                    labelCol: String, centroids: DataFrame): DataFrame = {
    val assigned = ivfAssign(corpus, idCol, vecCol, centroids)
      .join(corpus.select(col(idCol), col(labelCol).cast("long").as("__lb")), Seq(idCol))
    val byLabel = assigned.groupBy("cell", "__lb").agg(count(lit(1)).as("__c"))
    val w = Window.partitionBy("cell").orderBy(col("__c").desc, col("__lb").asc)
    byLabel
      .withColumn("__r", row_number().over(w))
      .withColumn("__n", sum("__c").over(Window.partitionBy("cell")))
      .filter(col("__r") === 1)
      .select(col("cell"), col("__n").as("n_vectors"),
        col("__lb").as("majority_label"), col("__c").as("n_majority"),
        round(col("__c").cast("double") / col("__n"), 6).as("purity"))
  }

  // ---- product quantization (IVF-PQ) ------------------------------

  /** Deterministic PQ codebooks (Jégou et al., "Product Quantization
    * for Nearest Neighbor Search"): the corpus rows at
    * `id % stride == 0` below `stride * maxCodewords` serve as the
    * shared codeword pool; every subspace uses its own `dim/m`-wide
    * slice of the same pool. Seeded (no Lloyd float-averaging) so ANY
    * engine reproduces the codebook, the assignment, and the ADC
    * values bit-for-bit — the same determinism contract as
    * [[seedCentroids]].
    *
    * maxCodewords is the PQ ksub: it must stay FIXED (≈256) as the
    * corpus grows — encode cost is |corpus|·ksub·dim, so an uncapped
    * pool makes encoding quadratic-ish in corpus size (measured 11 s
    * at sf0.1 before the cap; ~1 s with it). */
  def pqCodebooks(corpus: DataFrame, idCol: String, vecCol: String,
                  stride: Int, maxCodewords: Int = 256): DataFrame =
    corpus.filter(pmod(col(idCol), lit(stride)) === 0 &&
        col(idCol) < stride.toLong * maxCodewords)
      .select(col(idCol).as("code_id"),
        col(vecCol).cast("array<double>").as("code_vec"))

  private def subSlices(df: DataFrame, idCol: String, vecCol: String,
                        outId: String, outVec: String, m: Int, sub: Int): DataFrame =
    df.select(col(idCol).as(outId),
      explode(sequence(lit(0), lit(m - 1))).as("__s"),
      col(vecCol).cast("array<double>").as("__full"))
      .select(col(outId), col("__s"),
        slice(col("__full"), col("__s") * sub + 1, lit(sub)).as(outVec))

  /** Squared L2 over two already-sliced subvectors — a left-to-right
    * fold, the same evaluation order engines' list_sum uses, so
    * assignment argmins compare identical doubles cross-engine. */
  private def subDist(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
      lit(0.0), (acc, v) => acc + v)

  /** PQ encode: m codes per vector — per subspace, the codeword
    * minimizing squared L2, ties to the smallest code id.
    *
    * Plan: corpus rows group into `par` packed chunks; the whole
    * codeword pool packs into ONE broadcast row; the fused
    * [[graft.functions.NativeExpressions.PqEncodeBlock]] kernel emits
    * (id, m codes) per vector in a primitive loop. The
    * |corpus|·|codewords|·m scored intermediate this replaced ran as
    * interpreted HOF rows (9+ s at sf0.1; ~1 s fused — the same
    * lesson as IVF assignment's NearestCentroidBlock). Encode cost is
    * inherently corpus×ksub — that is PQ — but no corpus-sized
    * shuffle carries more than the m codes per vector.
    *
    * Output: (idCol, codes array<long> of length m). */
  def pqEncode(corpus: DataFrame, idCol: String, vecCol: String,
               codebooks: DataFrame, m: Int, dim: Int): DataFrame = {
    require(dim % m == 0, "m must divide dim")
    val par = corpus.sparkSession.sparkContext.defaultParallelism
    val vecs = corpus.select(col(idCol).cast("long").as("__id"),
      col(vecCol).cast("array<double>").as("__v"))
    val chunked = vecs
      .groupBy(pmod(col("__id"), lit(par)).as("__blk"))
      .agg(collect_list(struct(col("__id"), col("__v"))).as("__probe"))
      .repartition(par)
    val packed = codebooks.agg(collect_list(struct(
      col("code_id").cast("long").as("__id"),
      col("code_vec").cast("array<double>").as("__v"))).as("__cents"))
    chunked.crossJoin(broadcast(packed))
      .select(explode(graft.functions.NativeExpressions.pq_encode_block(
        col("__cents"), col("__probe"), m)).as("__e"))
      .select(col("__e.id").as(idCol), col("__e.codes").as("codes"))
  }

  /** IVF-PQ search — the production ANN index family next to IVF-flat
    * ([[ivfTopK]]) and IVF-SQ8 ([[quantizeInt8]]): queries route to
    * their nProbe nearest coarse cells, and candidates within those
    * cells are ranked by ASYMMETRIC distance — per query, one small
    * table d(subspace, codeword) = squared L2 of the query's slice to
    * the codeword's slice; a candidate's approximate distance is the
    * sum of its m codes' table entries. The corpus side never touches
    * floats at query time: codes are m small ints per vector (the
    * 64:1-style compression PQ exists for).
    *
    * Per-entry distances quantize to integer micro-units
    * (⌊d·10⁶ + ½⌋) BEFORE summing: integer sums are order-independent,
    * so the ranking — and the DuckDB value oracle — cannot wobble on
    * float summation order.
    *
    * Output: (query_id, neighbor_id, approx_dist_micro, rnk), top-k
    * ascending per query. */
  def ivfpqTopK(assigned: DataFrame, idCol: String, centroids: DataFrame,
                codes: DataFrame, codebooks: DataFrame,
                queries: DataFrame, queryIdCol: String, queryVecCol: String,
                k: Int, nProbe: Int, m: Int, dim: Int): DataFrame = {
    require(dim % m == 0, "m must divide dim")
    val sub = dim / m
    val qCells = queries.crossJoin(broadcast(centroids))
      .select(col(queryIdCol).as("query_id"), col(queryVecCol).as("__qvec"),
        col("centroid_id"), cosine(col(queryVecCol), col("centroid_vec")).as("__sim"))
      .withColumn("__r", row_number().over(
        Window.partitionBy("query_id").orderBy(col("__sim").desc, col("centroid_id"))))
      .filter(col("__r") <= nProbe)
      .select(col("query_id"), col("centroid_id").as("cell"))

    val qs = subSlices(queries, queryIdCol, queryVecCol, "query_id", "__qs", m, sub)
    val cs = subSlices(codebooks, "code_id", "code_vec", "__cid", "__cs", m, sub)
    val dtab = qs.join(cs, Seq("__s"))
      .select(col("query_id"), col("__s"), col("__cid"),
        floor(subDist(col("__qs"), col("__cs")) * 1000000d + 0.5)
          .cast("long").as("__dmic"))

    val cand = assigned.select(col(idCol), col("cell"))
      .join(broadcast(qCells), Seq("cell"))
      .filter(col("query_id") =!= col(idCol))
      .join(codes.select(col(idCol), col("codes")), Seq(idCol))
    val scored = cand
      .select(col("query_id"), col(idCol).as("neighbor_id"),
        posexplode(col("codes")).as(Seq("__s", "__cid")))
      .join(broadcast(dtab), Seq("query_id", "__s", "__cid"))
      .groupBy("query_id", "neighbor_id")
      .agg(sum("__dmic").as("approx_dist_micro"))
    scored.withColumn("rnk", row_number().over(
      Window.partitionBy("query_id")
        .orderBy(col("approx_dist_micro").asc, col("neighbor_id"))).cast("long"))
      .filter(col("rnk") <= k)
      .select("query_id", "neighbor_id", "approx_dist_micro", "rnk")
  }

  /** Symmetric int8 quantization of an embedding column — the vector
    * compression step ANN indexes (IVF-SQ8, scalar-quantized HNSW)
    * run before storing 100 TB of float vectors: per DIMENSION, scale
    * = max|x|/127 over the corpus, each component rounds to
    * ⌊x/scale + ½⌋ ∈ [-127, 127]. Reported per vector: the quantized
    * squared norm (exact integer — the value dot-product kernels
    * consume) and the worst per-component reconstruction error.
    *
    * Plan: the scale vector is one |dim|-row aggregate packed into a
    * single broadcast array row; quantization + error are then
    * row-local zip_with/aggregate HOFs over the corpus scan — no
    * corpus shuffle. Every arithmetic step (IEEE divide, floor, int
    * multiply, order-independent max) is engine-exact, so the DuckDB
    * oracle reproduces values bit-for-bit.
    *
    * Output: (idCol, q_norm_sq long, max_abs_err double).
    */
  def quantizeInt8(corpus: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val vecs = corpus.select(col(idCol), col(vecCol).cast("array<double>").as("__v"))
    val maxabs = vecs.select(posexplode(col("__v")).as(Seq("__d", "__x")))
      .groupBy("__d").agg(max(abs(col("__x"))).as("__ma"))
    val scales = maxabs
      .agg(array_sort(collect_list(struct(col("__d"), col("__ma")))).as("__dm"))
      .select(transform(col("__dm"), p => p.getField("__ma") / 127.0).as("__scales"))
    vecs.crossJoin(broadcast(scales))
      .select(col(idCol),
        zip_with(col("__v"), col("__scales"), (x, s) =>
          when(s === 0.0, lit(0L))
            .otherwise(floor(x / s + 0.5).cast("long"))).as("__q"),
        col("__v"), col("__scales"))
      .select(col(idCol),
        aggregate(col("__q"), lit(0L), (acc, q) => acc + q * q).as("q_norm_sq"),
        round(array_max(zip_with(
          zip_with(col("__q"), col("__scales"), (q, s) => q * s),
          col("__v"), (r, x) => abs(r - x))), 6).as("max_abs_err"))
  }

  /** Recall@k of an approximate retrieval run against the exact
    * baseline — the metric every ANN index is tuned by (probe more
    * cells ↔ higher recall). Inputs are the (query_id, neighbor_id)
    * top-k outputs of the two runs; both are k·|queries| rows, so the
    * join and aggregate are query-sized regardless of corpus size —
    * the heavy lifting happened inside the two retrieval plans.
    *
    * Output: (query_id, n_hits long, recall_at_k double).
    */
  def recallAtK(approx: DataFrame, exact: DataFrame, k: Int): DataFrame =
    exact.select(col("query_id"), col("neighbor_id"))
      .join(approx.select(col("query_id"), col("neighbor_id"),
        lit(1L).as("__hit")), Seq("query_id", "neighbor_id"), "left_outer")
      .groupBy("query_id").agg(
        sum(coalesce(col("__hit"), lit(0L))).as("n_hits"))
      .select(col("query_id"), col("n_hits"),
        round(col("n_hits").cast("double") / k, 6).as("recall_at_k"))

  /** Rank the corpus by cosine to the exact centroid of a member
    * slice (e.g. the labeled "relevant" class) — the dense side of a
    * hybrid retrieval stack, where the query embedding is a class
    * prototype. Same micro-unit exact centroid as
    * [[centroidOutliers]] (dim-bounded collect, broadcast-literal
    * scoring pass); top-k is TakeOrderedAndProject; ranks are over
    * the ROUNDED score so cross-engine float noise cannot reorder
    * ties.
    *
    * Output: (idCol, score double, rnk long 1..k), cosine desc.
    */
  def centroidTopK(corpus: DataFrame, idCol: String, vecCol: String,
                   isMember: Column, k: Int): DataFrame = {
    val e = corpus.select(col(idCol), isMember.as("__m"),
      col(vecCol).cast("array<double>").as("__v"))
    val sums = e.filter(col("__m"))
      .select(posexplode(col("__v")).as(Seq("__p", "__x")))
      .withColumn("__q", round(col("__x") * 1e6, 0).cast("long"))
      .groupBy("__p").agg(sum("__q").as("__s"), count(lit(1)).as("__n"))
      .orderBy("__p").collect()
    val centroid = sums.map(r => r.getLong(1).toDouble / r.getLong(2) / 1e6)
    val cLit = array(centroid.map(lit).toSeq: _*)
    val top = e.select(col(idCol), round(cosine(col("__v"), cLit), 6).as("score"))
      .orderBy(col("score").desc, col(idCol)).limit(k)
    top.withColumn("rnk", row_number()
        .over(Window.orderBy(col("score").desc, col(idCol))).cast("long"))
      .select(col(idCol), col("score"), col("rnk"))
  }

  /** Reciprocal Rank Fusion (Cormack et al. 2009) of two ranked
    * retrieval lists — the standard lexical+dense hybrid combiner:
    * rrf(d) = Σ_lists 1/(kRrf + rank_list(d)), absent treated as 0.
    * Each term is one IEEE divide of constants both engines share and
    * the sum folds in a FIXED order (lex then dense), so scores are
    * engine-exact without quantization.
    *
    * Plan: both inputs are top-k lists (k rows each) — the join and
    * re-rank touch ≤2k rows regardless of corpus size; all the heavy
    * lifting already happened inside the two retrieval plans.
    *
    * Output: (idCol, lex_rnk long?, dense_rnk long?, rrf_score
    * double, rnk long 1..k).
    */
  def rrfFuse(lex: DataFrame, dense: DataFrame, idCol: String,
              kRrf: Int, k: Int): DataFrame = {
    val l = lex.select(col(idCol), col("rnk").as("lex_rnk"))
    val d = dense.select(col(idCol), col("rnk").as("dense_rnk"))
    val fused = l.join(d, Seq(idCol), "full_outer")
      .select(col(idCol), col("lex_rnk"), col("dense_rnk"),
        round(coalesce(lit(1.0) / (lit(kRrf.toDouble) + col("lex_rnk")), lit(0.0))
          + coalesce(lit(1.0) / (lit(kRrf.toDouble) + col("dense_rnk")), lit(0.0)),
          6).as("rrf_score"))
    val top = fused.orderBy(col("rrf_score").desc, col(idCol)).limit(k)
    top.withColumn("rnk", row_number()
        .over(Window.orderBy(col("rrf_score").desc, col(idCol))).cast("long"))
  }

  /** Exact upper-triangle covariance matrix of the embedding columns
    * — the one dense aggregate PCA/whitening/correlation-pruning all
    * start from. Elements quantize to integer micro-units BEFORE the
    * cross-row sums (decimal accumulators for the products), so the
    * matrix is order-independent and engine-exact — both engines cast
    * the same integers to double at the very end.
    *
    * Plan: ONE aggregation — the [[graft.functions.GramMatrixAgg]]
    * kernel accumulates the dim·(dim+1)/2 upper-triangle products in
    * a primitive long array per partition (BigInteger-folded, so no
    * corpus size can overflow it) and merges dim-bounded partials;
    * no exploded corpus×pairs intermediate ever exists (the earlier
    * generate-2080-structs-per-row plan measured 4.7 s at sf0.1 —
    * this kernel replays the same exact integer arithmetic in a tight
    * multiply-add loop). The finish arithmetic runs on the driver
    * over ONE dim-bounded row — the same class of dim-bounded collect
    * as [[centroidOutliers]].
    *
    * Output: (i long, j long 1-based i≤j, n long, cov double) —
    * population covariance.
    */
  def covarianceUpper(corpus: DataFrame, vecCol: String, dim: Int): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    // spreadIfNarrow: the partial-aggregation pass fuses into the scan
    // stage, so a single-row-group file would run the whole gram kernel
    // (dim·(dim+1)/2 multiply-adds per row) in ONE task; the guard adds
    // one slim-column exchange only on provably degenerate layouts.
    val g = graft.util.ScanParallelism.spreadIfNarrow(
        corpus.select(col(vecCol).cast("array<double>").as("__v")))
      .agg(graft.functions.GramMatrix.gram_matrix(col("__v"), dim).as("__g"))
      .select(col("__g.n"), col("__g.sums"), col("__g.prods"))
      .head()
    val n = g.getLong(0)
    if (n == 0) return Seq.empty[(Long, Long, Long, Double)]
      .toDF("i", "j", "n", "cov")
    val sums = g.getSeq[java.math.BigDecimal](1).map(_.doubleValue()).toArray
    val prods = g.getSeq[java.math.BigDecimal](2).map(_.doubleValue()).toArray
    // `+ 0.0` canonicalizes signed zero (BigDecimal has none, but the
    // DuckDB oracle's round() can emit -0.0 — see graft.util.Canon).
    def round6(x: Double): Double =
      java.math.BigDecimal.valueOf(x)
        .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue() + 0.0
    val rows = for {
      i <- 0 until dim
      j <- i until dim
    } yield {
      val k = i * dim - i * (i - 1) / 2 + (j - i)
      val cov = round6((prods(k) / n - (sums(i) / n) * (sums(j) / n)) / 1e12)
      ((i + 1).toLong, (j + 1).toLong, n, cov)
    }
    rows.toDF("i", "j", "n", "cov")
  }

  /** PCA projection: eigendecompose the [[covarianceUpper]] matrix on
    * the driver (dim×dim is KB-sized at any corpus scale — cyclic
    * Jacobi, see [[graft.functions.LinAlg.symmetricEigen]]), keep the
    * top `nComponents` eigenvectors (sign-fixed: largest-|x| entry
    * positive), broadcast them as literals, and project every vector
    * in one row-local map pass — no corpus shuffle anywhere.
    *
    * The eigenbasis is not SQL-replicable, so this query is
    * spec-verified instead of oracled: see PcaSpec (orthonormality,
    * descending eigenvalues, projection Gram ≈ eigenvalue diagonal);
    * its input covariance IS oracled (`emb_covariance`).
    *
    * Output: (idCol, pc long 1-based, proj double) flattened — one
    * row per kept component.
    */
  def pcaProject(corpus: DataFrame, idCol: String, vecCol: String,
                 dim: Int, nComponents: Int): DataFrame = {
    val covRows = covarianceUpper(corpus, vecCol, dim).collect()
    val cov = Array.ofDim[Double](dim, dim)
    covRows.foreach { r =>
      val (i, j, c) = (r.getLong(0).toInt - 1, r.getLong(1).toInt - 1,
        r.getDouble(3))
      cov(i)(j) = c; cov(j)(i) = c
    }
    val (vals, vecs) = graft.functions.LinAlg.symmetricEigen(cov)
    val top = vals.zip(vecs).sortBy { case (v, _) => -v }.take(nComponents)
      .map { case (_, v) =>
        val m = v.indices.maxBy(i => (math.abs(v(i)), -i))
        if (v(m) < 0) v.map(-_) else v
      }
    val wLit = array(top.map(v => array(v.map(lit).toSeq: _*)).toSeq: _*)
    // spreadIfNarrow: the projection map (nComponents × dim
    // multiply-adds per row) fuses into the scan; see covarianceUpper.
    graft.util.ScanParallelism.spreadIfNarrow(
        corpus.select(col(idCol), col(vecCol).cast("array<double>").as("__v")))
      .select(col(idCol), posexplode(
        transform(wLit, w => aggregate(zip_with(col("__v"), w, (x, c) => x * c),
          lit(0.0), (acc, v) => acc + v))).as(Seq("__p", "__proj")))
      .select(col(idCol), (col("__p") + 1).cast("long").as("pc"),
        round(col("__proj"), 6).as("proj"))
  }
}

package graft.queries

import graft.{QueryDef, Tables}
import graft.functions.TextFunctions
import graft.multimodal.Multimodal
import graft.operators.{Dedup, Similarity}
import org.apache.spark.sql.functions._

/** Training-data pipeline operators over the documents / embeddings
  * corpora: dedup (exact, MinHash+LSH, SimHash, n-gram Jaccard,
  * embedding cosine), similarity search (brute-force + IVF), text
  * analysis (quality, tokens, language id, fingerprint), and the
  * multimodal binary plumbing. SQL-expressible ops carry DuckDB
  * oracles; the signature/LSH ops are deterministic (fixed seeds) but
  * not oracle-expressible, so they report per-doc results (rows are
  * never empty) for the driver's rows-only check.
  */
object TrainingOps {

  // spreadIfNarrow: the doc/embedding consumers here are CPU-dense
  // per-row pipelines (shingling, fingerprints, decode, kernels), and
  // replicated corpora compress so well that a 100×-scale table can be
  // one sub-mpb parquet file — a narrow layout serializes every
  // scan-fused stage (measured: text_fingerprint 35.5 → 3.3 s at sf10).
  // Below the 1 MiB floor (all small-sf test data) it is a no-op, and
  // operator-level guards stay safe via the partition-count check.
  private def docs(s: org.apache.spark.sql.SparkSession, dir: String) =
    graft.util.ScanParallelism.spreadIfNarrow(Tables.load(s, dir, "documents"))
  private def embs(s: org.apache.spark.sql.SparkSession, dir: String) =
    graft.util.ScanParallelism.spreadIfNarrow(Tables.load(s, dir, "embeddings"))

  /** The rare-shingle pair graph closed to components — consumed by
    * both dedup_components and dedup_keep_best. Each query computes it
    * itself: a measured run pays for the whole pipeline, never reading
    * a stage an earlier run left behind. */
  private def ngramComponents(d: org.apache.spark.sql.DataFrame) =
    Dedup.connectedComponents(
      Dedup.ngramJaccardPairs(d, "doc_id", "text",
        shingleK = 5, threshold = 0.0, maxShingleFreq = 100),
      "doc_a", "doc_b")

  val defs: Seq[QueryDef] = Seq(

    // ---- dedup -----------------------------------------------------
    QueryDef(
      "dedup_exact",
      """SELECT md5(text) AS h, min(doc_id) AS keep_id, count(*) AS n_copies
        |FROM documents GROUP BY 1
        |""".stripMargin) { (s, dir) =>
      docs(s, dir).groupBy(md5(col("text")).as("h"))
        .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
    },

    // MinHash+LSH dedup with a FULL value oracle: the md5 hash family
    // lets DuckDB reproduce the signatures, the band join, and the
    // est-Jaccard verdict bit-for-bit. (xxhash64 stays the throughput
    // default for pipelines; same algorithm, different hash family.)
    QueryDef(
      "dedup_minhash",
      """WITH toks AS (
        |  SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
        |), sh AS (
        |  SELECT doc_id, unnest(CASE WHEN len(t) >= 5
        |    THEN list_distinct(list_transform(range(1, len(t) - 3),
        |         i -> array_to_string(t[i:i+4], ' ')))
        |    ELSE [array_to_string(t, ' ')] END) AS s
        |  FROM toks
        |), hs AS (
        |  SELECT doc_id, CAST('0x' || substr(md5(s), 1, 15) AS BIGINT) % 2147483647 AS h FROM sh
        |), params AS (
        |  SELECT i,
        |    1 + CAST('0x' || substr(md5('mh_a_' || i), 1, 15) AS BIGINT) % 2147483646 AS a,
        |    CAST('0x' || substr(md5('mh_b_' || i), 1, 15) AS BIGINT) % 2147483647 AS b
        |  FROM range(0, 128) r(i)
        |), sigc AS (
        |  SELECT doc_id, p.i, min((p.a * h + p.b) % 2147483647) AS c
        |  FROM hs, params p GROUP BY 1, 2
        |), sig AS (
        |  SELECT doc_id, list(c ORDER BY i) AS sig FROM sigc GROUP BY 1
        |), banded AS (
        |  SELECT doc_id, b.band, sig[b.band*4+1 : b.band*4+4] AS bucket
        |  FROM sig, range(0, 32) b(band)
        |), cand AS (
        |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM banded a JOIN banded b
        |    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
        |), est AS (
        |  SELECT c.doc_a, c.doc_b,
        |    list_sum(list_transform(range(1, 129),
        |      i -> CASE WHEN sa.sig[i] = sb.sig[i] THEN 1 ELSE 0 END)) / 128.0 AS ej
        |  FROM cand c JOIN sig sa ON sa.doc_id = c.doc_a JOIN sig sb ON sb.doc_id = c.doc_b
        |), nb AS (
        |  SELECT doc_b AS doc_id, min(doc_a) AS mn FROM est WHERE ej >= 0.7 GROUP BY 1
        |)
        |SELECT d.doc_id, least(d.doc_id, coalesce(nb.mn, d.doc_id)) AS dup_group
        |FROM documents d LEFT JOIN nb USING (doc_id)
        |""".stripMargin) { (s, dir) =>
      Dedup.minhashDedup(docs(s, dir), "doc_id", "text",
        shingleK = 5, numHashes = 128, bands = 32, threshold = 0.7, useMd5 = true,
        oph = false) // pinned to the k-family this oracle replicates
    },

    // One-permutation MinHash (Li et al. 2012) with rotation
    // densification (Shrivastava & Li 2014) — the fast default kernel:
    // ONE hash per shingle picks a bin (h % 128) and contributes
    // h // 128 as the value; empty bins borrow circularly with a
    // j * 2^53 offset. The md5 family makes the whole pipeline —
    // binning, densification arithmetic, banding, est-Jaccard —
    // bit-replicable in DuckDB, so the ~128× cheaper kernel gets the
    // same full value oracle as the k-family form above.
    QueryDef(
      "dedup_minhash_oph",
      """WITH toks AS (
        |  SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
        |), sh AS (
        |  SELECT doc_id, unnest(CASE WHEN len(t) >= 5
        |    THEN list_distinct(list_transform(range(1, len(t) - 3),
        |         i -> array_to_string(t[i:i+4], ' ')))
        |    ELSE [array_to_string(t, ' ')] END) AS s
        |  FROM toks
        |), hs AS (
        |  SELECT doc_id, CAST('0x' || substr(md5(s), 1, 15) AS BIGINT) AS h FROM sh
        |), bins AS (
        |  SELECT doc_id, h % 128 AS b, min(h // 128) AS c FROM hs GROUP BY 1, 2
        |), grid AS (
        |  SELECT d.doc_id, r.i
        |  FROM (SELECT DISTINCT doc_id FROM bins) d, range(0, 128) r(i)
        |), dense AS (
        |  SELECT g.doc_id, g.i,
        |    arg_min(s.c, (s.b - g.i + 128) % 128)
        |      + min((s.b - g.i + 128) % 128) * 9007199254740992 AS v
        |  FROM grid g JOIN bins s USING (doc_id) GROUP BY 1, 2
        |), sig AS (
        |  SELECT doc_id, list(v ORDER BY i) AS sig FROM dense GROUP BY 1
        |), banded AS (
        |  SELECT doc_id, b.band, sig[b.band*4+1 : b.band*4+4] AS bucket
        |  FROM sig, range(0, 32) b(band)
        |), cand AS (
        |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM banded a JOIN banded b
        |    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
        |), est AS (
        |  SELECT c.doc_a, c.doc_b,
        |    list_sum(list_transform(range(1, 129),
        |      i -> CASE WHEN sa.sig[i] = sb.sig[i] THEN 1 ELSE 0 END)) / 128.0 AS ej
        |  FROM cand c JOIN sig sa ON sa.doc_id = c.doc_a JOIN sig sb ON sb.doc_id = c.doc_b
        |), nb AS (
        |  SELECT doc_b AS doc_id, min(doc_a) AS mn FROM est WHERE ej >= 0.7 GROUP BY 1
        |)
        |SELECT d.doc_id, least(d.doc_id, coalesce(nb.mn, d.doc_id)) AS dup_group
        |FROM documents d LEFT JOIN nb USING (doc_id)
        |""".stripMargin) { (s, dir) =>
      Dedup.minhashDedup(docs(s, dir), "doc_id", "text",
        shingleK = 5, numHashes = 128, bands = 32, threshold = 0.7, useMd5 = true,
        oph = true)
    },

    // SimHash dedup, also fully oracled: banded candidates have exact
    // recall at hamming ≤ 3 (pigeonhole over 4×16-bit bands), so the
    // all-pairs Hamming closure DuckDB computes is the same answer.
    QueryDef(
      "dedup_simhash",
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS w FROM documents
        |), th AS (
        |  SELECT doc_id, CAST('0x' || substr(md5(w), 1, 16) AS UBIGINT) AS h FROM tok
        |), bits AS (
        |  SELECT doc_id, b.i,
        |    sum(CASE WHEN (h >> b.i) & 1 = 1 THEN 1 ELSE -1 END) AS cnt
        |  FROM th, range(0, 64) b(i) GROUP BY 1, 2
        |), sig AS (
        |  SELECT doc_id,
        |    CAST(sum(CASE WHEN cnt > 0 THEN (1::UBIGINT << i) ELSE 0::UBIGINT END) AS UBIGINT) AS sh
        |  FROM bits GROUP BY 1
        |), pairs AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM sig a JOIN sig b ON a.doc_id < b.doc_id
        |  WHERE bit_count(xor(a.sh, b.sh)) <= 3
        |), nb AS (
        |  SELECT doc_b AS doc_id, min(doc_a) AS mn FROM pairs GROUP BY 1
        |)
        |SELECT d.doc_id, least(d.doc_id, coalesce(nb.mn, d.doc_id)) AS dup_group
        |FROM documents d LEFT JOIN nb USING (doc_id)
        |""".stripMargin) { (s, dir) =>
      val d = docs(s, dir)
      val pairs = Dedup.simhashPairs(d, "doc_id", "text", maxHamming = 3, useMd5 = true)
      val nb = pairs.groupBy(col("doc_b").as("doc_id")).agg(min("doc_a").as("__nb"))
      d.select(col("doc_id")).join(nb, Seq("doc_id"), "left_outer")
        .select(col("doc_id"),
          least(col("doc_id"), coalesce(col("__nb"), col("doc_id"))).as("dup_group"))
    },

    QueryDef(
      "dedup_ngram_jaccard",
      """WITH toks AS (
        |  SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
        |), sh AS (
        |  SELECT doc_id, unnest(CASE WHEN len(t) >= 5
        |    THEN list_distinct(list_transform(range(1, len(t) - 3),
        |         i -> array_to_string(t[i:i+4], ' ')))
        |    ELSE [array_to_string(t, ' ')] END) AS s
        |  FROM toks
        |), sizes AS (
        |  SELECT doc_id, count(*) AS set_size FROM sh GROUP BY 1
        |), rare AS (
        |  SELECT s FROM sh GROUP BY s HAVING count(*) <= 100
        |), blocked AS (
        |  SELECT sh.doc_id, sh.s FROM sh JOIN rare USING (s)
        |), inter AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
        |  FROM blocked a JOIN blocked b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2
        |)
        |SELECT doc_a, doc_b, n_common,
        |  round(n_common * 1.0 / (sa.set_size + sb.set_size - n_common), 6) AS jaccard
        |FROM inter
        |JOIN sizes sa ON sa.doc_id = doc_a
        |JOIN sizes sb ON sb.doc_id = doc_b
        |WHERE n_common * 1.0 / (sa.set_size + sb.set_size - n_common) >= 0.001
        |""".stripMargin) { (s, dir) =>
      Dedup.ngramJaccardPairs(docs(s, dir), "doc_id", "text",
        shingleK = 5, threshold = 0.001, maxShingleFreq = 100)
    },

    // The same rare-shingle Jaccard semantics at a production dedup
    // threshold — which routes through the AllPairs/PPJoin
    // prefix-filtered candidate path (frequency-ordered prefixes +
    // exact merge-verify) instead of the all-rare-pairs explosion.
    // The oracle is dedup_ngram_jaccard's SQL with the threshold
    // raised: prefix filtering must be lossless at/above threshold,
    // so the independent all-pairs oracle checks exactly that.
    QueryDef(
      "dedup_jaccard_prefix",
      """WITH toks AS (
        |  SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
        |), sh AS (
        |  SELECT doc_id, unnest(CASE WHEN len(t) >= 5
        |    THEN list_distinct(list_transform(range(1, len(t) - 3),
        |         i -> array_to_string(t[i:i+4], ' ')))
        |    ELSE [array_to_string(t, ' ')] END) AS s
        |  FROM toks
        |), sizes AS (
        |  SELECT doc_id, count(*) AS set_size FROM sh GROUP BY 1
        |), rare AS (
        |  SELECT s FROM sh GROUP BY s HAVING count(*) <= 100
        |), blocked AS (
        |  SELECT sh.doc_id, sh.s FROM sh JOIN rare USING (s)
        |), inter AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
        |  FROM blocked a JOIN blocked b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2
        |)
        |SELECT doc_a, doc_b, n_common,
        |  round(n_common * 1.0 / (sa.set_size + sb.set_size - n_common), 6) AS jaccard
        |FROM inter
        |JOIN sizes sa ON sa.doc_id = doc_a
        |JOIN sizes sb ON sb.doc_id = doc_b
        |WHERE n_common * 1.0 / (sa.set_size + sb.set_size - n_common) >= 0.5
        |""".stripMargin) { (s, dir) =>
      Dedup.ngramJaccardPairs(docs(s, dir), "doc_id", "text",
        shingleK = 5, threshold = 0.5, maxShingleFreq = 100)
    },

    QueryDef(
      "dedup_embedding",
      """SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |  round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) AS cos_sim
        |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        |WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.35
        |""".stripMargin) { (s, dir) =>
      Similarity.embeddingNearDupPairs(embs(s, dir), "vec_id", "embedding", 0.35)
    },

    // The scale path: same near-dup semantics via hyperplane LSH —
    // bucket-blocked equi-join, no cross join in the plan. The oracle
    // replicates the ENTIRE pipeline (md5-derived planes, sign-bit
    // buckets, band join, exact-cosine verify) in DuckDB SQL, so the
    // two independent implementations must agree value-for-value.
    QueryDef(
      "dedup_embedding_lsh",
      """WITH e AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        |), planes AS (
        |  SELECT r1.t, r2.p,
        |    list_transform(range(0, 64), j ->
        |      (CAST('0x' || substr(md5('lsh42_' || r1.t || '_' || r2.p || '_' || j), 1, 8) AS BIGINT) % 2001 - 1000) / 1000.0) AS w
        |  FROM range(0, 4) r1(t), range(0, 8) r2(p)
        |), bucketed AS (
        |  SELECT e.vec_id, pl.t,
        |    CAST(sum(CASE WHEN list_inner_product(pl.w, e.v) >= 0 THEN 1 << pl.p ELSE 0 END) AS BIGINT) AS bucket
        |  FROM e, planes pl
        |  GROUP BY e.vec_id, pl.t
        |), cand AS (
        |  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
        |  FROM bucketed a JOIN bucketed b
        |    ON a.t = b.t AND a.bucket = b.bucket AND a.vec_id < b.vec_id
        |)
        |SELECT c.id_a, c.id_b,
        |  round(list_cosine_similarity(ea.v, eb.v), 6) AS cos_sim
        |FROM cand c JOIN e ea ON ea.vec_id = c.id_a JOIN e eb ON eb.vec_id = c.id_b
        |WHERE round(list_cosine_similarity(ea.v, eb.v), 6) >= 0.35
        |""".stripMargin) { (s, dir) =>
      Similarity.embeddingNearDupPairsLsh(embs(s, dir), "vec_id", "embedding",
        threshold = 0.35, dim = 64, nPlanes = 8, nTables = 4, seed = 42,
        maxBucketSize = Int.MaxValue)
    },

    // Transitive closure of the dup-pair graph: A~B~C chains collapse
    // to one component (min reachable doc_id). Spark side iterates
    // large-star/small-star to a fixpoint; the oracle closes the same
    // pair graph with a recursive CTE. sf0.01 contains a genuine
    // 3-chain (component 45), so transitivity is exercised, not vacuous.
    QueryDef(
      "dedup_components",
      """WITH RECURSIVE toks AS (
        |  SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
        |), sh AS (
        |  SELECT doc_id, unnest(CASE WHEN len(t) >= 5
        |    THEN list_distinct(list_transform(range(1, len(t) - 3),
        |         i -> array_to_string(t[i:i+4], ' ')))
        |    ELSE [array_to_string(t, ' ')] END) AS s
        |  FROM toks
        |), rare AS (
        |  SELECT s FROM sh GROUP BY s HAVING count(*) <= 100
        |), blocked AS (
        |  SELECT sh.doc_id, sh.s FROM sh JOIN rare USING (s)
        |), pairs AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM blocked a JOIN blocked b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2
        |), edges AS (
        |  SELECT doc_a AS u, doc_b AS v FROM pairs
        |  UNION SELECT doc_b, doc_a FROM pairs
        |), reach AS (
        |  SELECT u, v FROM edges
        |  UNION
        |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u WHERE e.v <> r.u
        |), comp AS (
        |  SELECT u AS doc_id, least(u, min(v)) AS component FROM reach GROUP BY u
        |)
        |SELECT d.doc_id, coalesce(c.component, d.doc_id) AS component
        |FROM documents d LEFT JOIN comp c USING (doc_id)
        |""".stripMargin) { (s, dir) =>
      val d = docs(s, dir)
      val comp = ngramComponents(d).withColumnRenamed("node", "doc_id")
      d.select(col("doc_id")).join(comp, Seq("doc_id"), "left_outer")
        .select(col("doc_id"), coalesce(col("component"), col("doc_id")).as("component"))
    },

    // Representative selection after closure: keep the LONGEST doc of
    // each dup cluster (ties -> smallest id), drop the rest — the
    // post-dedup policy step of a C4/Dolma-style pipeline. Same pair
    // graph + closure as dedup_components, so transitivity feeds the
    // grouping here too.
    QueryDef(
      "dedup_keep_best",
      """WITH RECURSIVE toks AS (
        |  SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
        |), sh AS (
        |  SELECT doc_id, unnest(CASE WHEN len(t) >= 5
        |    THEN list_distinct(list_transform(range(1, len(t) - 3),
        |         i -> array_to_string(t[i:i+4], ' ')))
        |    ELSE [array_to_string(t, ' ')] END) AS s
        |  FROM toks
        |), rare AS (
        |  SELECT s FROM sh GROUP BY s HAVING count(*) <= 100
        |), blocked AS (
        |  SELECT sh.doc_id, sh.s FROM sh JOIN rare USING (s)
        |), pairs AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM blocked a JOIN blocked b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2
        |), edges AS (
        |  SELECT doc_a AS u, doc_b AS v FROM pairs
        |  UNION SELECT doc_b, doc_a FROM pairs
        |), reach AS (
        |  SELECT u, v FROM edges
        |  UNION
        |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u WHERE e.v <> r.u
        |), comp AS (
        |  SELECT u AS doc_id, least(u, min(v)) AS component FROM reach GROUP BY u
        |), membered AS (
        |  SELECT coalesce(c.component, d.doc_id) AS component, d.doc_id, d.n_chars
        |  FROM documents d LEFT JOIN comp c USING (doc_id)
        |)
        |SELECT component, doc_id, n_chars FROM (
        |  SELECT *, row_number() OVER
        |    (PARTITION BY component ORDER BY n_chars DESC, doc_id) AS rn
        |  FROM membered) t
        |WHERE rn = 1
        |""".stripMargin) { (s, dir) =>
      val d = docs(s, dir)
      Dedup.keepBest(d.select(col("doc_id"), col("n_chars")),
        "doc_id", "n_chars", ngramComponents(d))
    },

    // ---- similarity search ----------------------------------------
    QueryDef(
      "ann_brute_topk",
      """WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 5),
        |scored AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    round(list_cosine_similarity(c.embedding::DOUBLE[], q.embedding::DOUBLE[]), 6) AS cos_sim
        |  FROM embeddings c CROSS JOIN q WHERE q.vec_id <> c.vec_id
        |)
        |SELECT query_id, neighbor_id, cos_sim,
        |  CAST(rnk AS BIGINT) AS rnk
        |FROM (SELECT *, row_number() OVER
        |        (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rnk
        |      FROM scored) t
        |WHERE rnk <= 10
        |""".stripMargin) { (s, dir) =>
      val e = embs(s, dir)
      Similarity.bruteForceTopK(e, "vec_id", "embedding",
        e.filter(col("vec_id") < 5).select(col("vec_id").as("query_vec_id"),
          col("embedding").as("query_embedding")),
        "query_vec_id", "query_embedding", k = 10)
    },

    // Contrastive hard-negative mining: top-10 nearest DIFFERENT-label
    // vectors per anchor, label filter fused before the top-k window.
    QueryDef(
      "emb_hard_negatives",
      """WITH q AS (SELECT vec_id, embedding, label FROM embeddings WHERE vec_id < 8),
        |scored AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    CAST(c.label AS BIGINT) AS neg_label,
        |    round(list_cosine_similarity(c.embedding::DOUBLE[], q.embedding::DOUBLE[]), 6) AS cos_sim
        |  FROM embeddings c CROSS JOIN q
        |  WHERE q.vec_id <> c.vec_id AND c.label <> q.label
        |)
        |SELECT query_id, neighbor_id, neg_label, cos_sim,
        |  CAST(rnk AS BIGINT) AS rnk
        |FROM (SELECT *, row_number() OVER
        |        (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rnk
        |      FROM scored) t
        |WHERE rnk <= 10
        |""".stripMargin) { (s, dir) =>
      val e = embs(s, dir)
      Similarity.hardNegatives(e, "vec_id", "embedding", "label",
        e.filter(col("vec_id") < 8).select(col("vec_id").as("query_vec_id"),
          col("embedding").as("query_embedding"), col("label").as("query_label")),
        "query_vec_id", "query_embedding", "query_label", k = 10)
    },

    // The IVF-routed scale path of the same mining pass — deterministic
    // quantizer, so the oracle replicates cells, probes and the final
    // ranked negatives exactly (a value oracle for the approximate path).
    QueryDef(
      "emb_hard_negatives_ivf",
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v, label FROM embeddings),
        |cent AS (SELECT vec_id AS centroid_id, v AS cv FROM e WHERE vec_id % 50 = 0),
        |assigned AS (
        |  SELECT vec_id, v, label, centroid_id AS cell FROM (
        |    SELECT e.vec_id, e.v, e.label, c.centroid_id,
        |      row_number() OVER (PARTITION BY e.vec_id
        |        ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.centroid_id) AS r
        |    FROM e, cent c) t WHERE r = 1
        |),
        |q AS (SELECT vec_id AS query_id, v AS qv, label AS ql FROM e WHERE vec_id < 8),
        |qcells AS (
        |  SELECT query_id, qv, ql, centroid_id AS cell FROM (
        |    SELECT q.query_id, q.qv, q.ql, c.centroid_id,
        |      row_number() OVER (PARTITION BY q.query_id
        |        ORDER BY list_cosine_similarity(q.qv, c.cv) DESC, c.centroid_id) AS r
        |    FROM q, cent c) t WHERE r <= 3
        |),
        |cand AS (
        |  SELECT qc.query_id, a.vec_id AS neighbor_id,
        |    CAST(a.label AS BIGINT) AS neg_label,
        |    round(list_cosine_similarity(a.v, qc.qv), 6) AS cos_sim
        |  FROM assigned a JOIN qcells qc ON a.cell = qc.cell
        |  WHERE qc.query_id <> a.vec_id AND a.label <> qc.ql
        |)
        |SELECT query_id, neighbor_id, neg_label, cos_sim, CAST(rnk AS BIGINT) AS rnk
        |FROM (SELECT *, row_number() OVER
        |        (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rnk
        |      FROM cand) t
        |WHERE rnk <= 10
        |""".stripMargin) { (s, dir) =>
      val e = embs(s, dir)
      val centroids = Similarity.seedCentroids(e, "vec_id", "embedding", stride = 50)
      val assigned = Similarity.ivfAssign(e, "vec_id", "embedding", centroids)
      Similarity.hardNegativesIvf(assigned, "vec_id", "embedding", e, "label",
        centroids,
        e.filter(col("vec_id") < 8).select(col("vec_id").as("query_vec_id"),
          col("embedding").as("query_embedding"), col("label").as("query_label")),
        "query_vec_id", "query_embedding", "query_label", k = 10, nProbe = 3)
    },

    // IVF is deterministic end-to-end (seeded centroids, tie-broken
    // assignment/probing), so DuckDB can replicate the whole index:
    // same cells, same probes, same top-k — a value oracle for the
    // approximate path, not just a recall bound.
    QueryDef(
      "ann_ivf_topk",
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |cent AS (SELECT vec_id AS centroid_id, v AS cv FROM e WHERE vec_id % 50 = 0),
        |assigned AS (
        |  SELECT vec_id, v, centroid_id AS cell FROM (
        |    SELECT e.vec_id, e.v, c.centroid_id,
        |      row_number() OVER (PARTITION BY e.vec_id
        |        ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.centroid_id) AS r
        |    FROM e, cent c) t WHERE r = 1
        |),
        |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
        |qcells AS (
        |  SELECT query_id, qv, centroid_id AS cell FROM (
        |    SELECT q.query_id, q.qv, c.centroid_id,
        |      row_number() OVER (PARTITION BY q.query_id
        |        ORDER BY list_cosine_similarity(q.qv, c.cv) DESC, c.centroid_id) AS r
        |    FROM q, cent c) t WHERE r <= 3
        |),
        |cand AS (
        |  SELECT qc.query_id, a.vec_id AS neighbor_id,
        |    round(list_cosine_similarity(a.v, qc.qv), 6) AS cos_sim
        |  FROM assigned a JOIN qcells qc ON a.cell = qc.cell
        |  WHERE qc.query_id <> a.vec_id
        |)
        |SELECT query_id, neighbor_id, cos_sim, CAST(rnk AS BIGINT) AS rnk
        |FROM (SELECT *, row_number() OVER
        |        (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rnk
        |      FROM cand) t
        |WHERE rnk <= 10
        |""".stripMargin) { (s, dir) =>
      val e = embs(s, dir)
      val centroids = Similarity.seedCentroids(e, "vec_id", "embedding", stride = 50)
      val assigned = Similarity.ivfAssign(e, "vec_id", "embedding", centroids)
      Similarity.ivfTopK(assigned, "vec_id", "embedding", centroids,
        e.filter(col("vec_id") < 5).select(col("vec_id").as("query_vec_id"),
          col("embedding").as("query_embedding")),
        "query_vec_id", "query_embedding", k = 10, nProbe = 3)
    },

    // IVF-PQ: coarse cells route the query (same quantizer as
    // ann_ivf_topk), candidates rank by asymmetric PQ distance —
    // per-query (subspace, codeword) tables of squared L2, corpus side
    // reduced to 8 codes/vector. Table entries quantize to integer
    // micro-units BEFORE summing so the ranking is order-independent
    // and DuckDB replicates codebooks, codes, and distances exactly.
    QueryDef(
      "ann_ivfpq_topk",
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |cent AS (SELECT vec_id AS centroid_id, v AS cv FROM e WHERE vec_id % 50 = 0),
        |assigned AS (
        |  SELECT vec_id, centroid_id AS cell FROM (
        |    SELECT e.vec_id, c.centroid_id,
        |      row_number() OVER (PARTITION BY e.vec_id
        |        ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.centroid_id) AS r
        |    FROM e, cent c) t WHERE r = 1
        |),
        |cb AS (SELECT vec_id AS code_id, v AS codev
        |       FROM e WHERE vec_id % 8 = 0 AND vec_id < 2048),
        |vsub AS (
        |  SELECT vec_id, s.s, e.v[s.s*8+1 : s.s*8+8] AS vs
        |  FROM e, range(0, 8) s(s)
        |),
        |csub AS (
        |  SELECT code_id, s.s, codev[s.s*8+1 : s.s*8+8] AS cs
        |  FROM cb, range(0, 8) s(s)
        |),
        |enc AS (
        |  SELECT vec_id, s, code_id FROM (
        |    SELECT v.vec_id, v.s, c.code_id,
        |      row_number() OVER (PARTITION BY v.vec_id, v.s ORDER BY
        |        list_sum(list_transform(range(1, 9),
        |          i -> (v.vs[i] - c.cs[i]) * (v.vs[i] - c.cs[i]))) ASC,
        |        c.code_id ASC) AS r
        |    FROM vsub v, csub c WHERE v.s = c.s) t WHERE r = 1
        |),
        |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
        |qcells AS (
        |  SELECT query_id, centroid_id AS cell FROM (
        |    SELECT q.query_id, c.centroid_id,
        |      row_number() OVER (PARTITION BY q.query_id
        |        ORDER BY list_cosine_similarity(q.qv, c.cv) DESC, c.centroid_id) AS r
        |    FROM q, cent c) t WHERE r <= 3
        |),
        |dtab AS (
        |  SELECT q.query_id, c.s, c.code_id,
        |    CAST(floor(list_sum(list_transform(range(1, 9),
        |      i -> (q.qv[c.s*8+i] - c.cs[i]) * (q.qv[c.s*8+i] - c.cs[i])))
        |      * 1000000 + 0.5) AS BIGINT) AS dmic
        |  FROM q, csub c
        |),
        |cand AS (
        |  SELECT qc.query_id, a.vec_id AS neighbor_id
        |  FROM assigned a JOIN qcells qc ON a.cell = qc.cell
        |  WHERE qc.query_id <> a.vec_id
        |),
        |scored AS (
        |  SELECT cd.query_id, cd.neighbor_id,
        |    CAST(sum(dt.dmic) AS BIGINT) AS approx_dist_micro
        |  FROM cand cd
        |  JOIN enc en ON en.vec_id = cd.neighbor_id
        |  JOIN dtab dt ON dt.query_id = cd.query_id
        |    AND dt.s = en.s AND dt.code_id = en.code_id
        |  GROUP BY 1, 2
        |)
        |SELECT query_id, neighbor_id, approx_dist_micro, CAST(rnk AS BIGINT) AS rnk
        |FROM (SELECT *, row_number() OVER (PARTITION BY query_id
        |        ORDER BY approx_dist_micro ASC, neighbor_id) AS rnk
        |      FROM scored) t
        |WHERE rnk <= 10
        |""".stripMargin) { (s, dir) =>
      val e = embs(s, dir)
      val centroids = Similarity.seedCentroids(e, "vec_id", "embedding", stride = 50)
      val assigned = Similarity.ivfAssign(e, "vec_id", "embedding", centroids)
      val codebooks = Similarity.pqCodebooks(e, "vec_id", "embedding", stride = 8)
      val codes = Similarity.pqEncode(e, "vec_id", "embedding", codebooks, m = 8, dim = 64)
      Similarity.ivfpqTopK(assigned, "vec_id", centroids, codes, codebooks,
        e.filter(col("vec_id") < 5).select(col("vec_id").as("query_vec_id"),
          col("embedding").as("query_embedding")),
        "query_vec_id", "query_embedding", k = 10, nProbe = 3, m = 8, dim = 64)
    },

    // Recall@10 of the IVF route against the brute baseline — the
    // metric the nProbe knob trades against scan cost. Both runs'
    // top-k tables are query-sized; the recall join touches ≤2·k·|q|
    // rows at any corpus scale.
    QueryDef(
      "ann_ivf_recall",
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
        |brute AS (
        |  SELECT query_id, neighbor_id FROM (
        |    SELECT q.query_id, c.vec_id AS neighbor_id,
        |      row_number() OVER (PARTITION BY q.query_id
        |        ORDER BY round(list_cosine_similarity(c.v, q.qv), 6) DESC,
        |                 c.vec_id) AS rnk
        |    FROM e c, q WHERE q.query_id <> c.vec_id) t WHERE rnk <= 10
        |),
        |cent AS (SELECT vec_id AS centroid_id, v AS cv FROM e WHERE vec_id % 50 = 0),
        |assigned AS (
        |  SELECT vec_id, v, centroid_id AS cell FROM (
        |    SELECT e.vec_id, e.v, c.centroid_id,
        |      row_number() OVER (PARTITION BY e.vec_id
        |        ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.centroid_id) AS r
        |    FROM e, cent c) t WHERE r = 1
        |),
        |qcells AS (
        |  SELECT query_id, qv, centroid_id AS cell FROM (
        |    SELECT q.query_id, q.qv, c.centroid_id,
        |      row_number() OVER (PARTITION BY q.query_id
        |        ORDER BY list_cosine_similarity(q.qv, c.cv) DESC, c.centroid_id) AS r
        |    FROM q, cent c) t WHERE r <= 3
        |),
        |ivf AS (
        |  SELECT query_id, neighbor_id FROM (
        |    SELECT cand.query_id, cand.neighbor_id,
        |      row_number() OVER (PARTITION BY cand.query_id
        |        ORDER BY cand.cos_sim DESC, cand.neighbor_id) AS rnk
        |    FROM (
        |      SELECT qc.query_id, a.vec_id AS neighbor_id,
        |        round(list_cosine_similarity(a.v, qc.qv), 6) AS cos_sim
        |      FROM assigned a JOIN qcells qc ON a.cell = qc.cell
        |      WHERE qc.query_id <> a.vec_id) cand) t WHERE rnk <= 10
        |)
        |SELECT b.query_id,
        |  CAST(sum(CASE WHEN i.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_hits,
        |  round(sum(CASE WHEN i.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) / 10.0, 6)
        |    AS recall_at_k
        |FROM brute b LEFT JOIN ivf i
        |  ON b.query_id = i.query_id AND b.neighbor_id = i.neighbor_id
        |GROUP BY 1
        |""".stripMargin) { (s, dir) =>
      val e = embs(s, dir)
      val queries = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_vec_id"),
          col("embedding").as("query_embedding"))
      val brute = Similarity.bruteForceTopK(e, "vec_id", "embedding",
        queries, "query_vec_id", "query_embedding", k = 10)
      val centroids = Similarity.seedCentroids(e, "vec_id", "embedding", stride = 50)
      val assigned = Similarity.ivfAssign(e, "vec_id", "embedding", centroids)
      val ivf = Similarity.ivfTopK(assigned, "vec_id", "embedding", centroids,
        queries, "query_vec_id", "query_embedding", k = 10, nProbe = 3)
      Similarity.recallAtK(ivf, brute, k = 10)
    },

    // ---- text analysis --------------------------------------------
    QueryDef(
      "text_quality",
      """SELECT doc_id,
        |  CAST(length(text) AS BIGINT) AS n_chars,
        |  CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS n_words,
        |  round((length(text) - (len(string_split(lower(text), ' ')) - 1)) * 1.0
        |        / len(string_split(lower(text), ' ')), 4) AS mean_word_len,
        |  round(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) * 1.0
        |        / length(text), 4) AS alpha_ratio,
        |  round(len(list_filter(string_split(lower(text), ' '),
        |      w -> w IN ('the','a','an','of','and','to','in','is','it','that',
        |                 'for','on','with','as','was','at','by','be','this','are')))
        |        * 1.0 / len(string_split(lower(text), ' ')), 4) AS stopword_ratio
        |FROM documents
        |""".stripMargin) { (s, dir) =>
      val sig = TextFunctions.qualitySignals(col("text"))
      docs(s, dir).select(col("doc_id") +: sig.map { case (n, c) => c.as(n) }: _*)
    },

    QueryDef(
      "text_tokens",
      """SELECT doc_id,
        |  CAST(len(regexp_split_to_array(text, '\s+')) AS BIGINT) AS ws_tokens,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS sub_tokens
        |FROM documents
        |""".stripMargin) { (s, dir) =>
      docs(s, dir).select(col("doc_id"),
        TextFunctions.wsTokenCount(col("text")).as("ws_tokens"),
        TextFunctions.subTokenCountExpr("text").as("sub_tokens"))
    },

    QueryDef(
      "text_langid",
      """WITH scored AS (
        |  SELECT doc_id, lang AS lang_label,
        |    list_distinct(string_split_regex(lower(text), '\s+')) AS toks
        |  FROM documents
        |), s2 AS (
        |  SELECT doc_id, lang_label,
        |    len(list_intersect(toks, ['the','a','an','of','and','to','in','is','it','that','for','on','with','as','was','at','by','be','this','are'])) AS s_en,
        |    len(list_intersect(toks, ['der','die','das','und','ist','ich','nicht','mit','ein','eine','zu','den','von','im','auf','für','dem','sich','auch','es'])) AS s_de,
        |    len(list_intersect(toks, ['el','la','de','que','y','en','un','una','es','no','los','las','por','con','para','su','al','lo','como','más'])) AS s_es,
        |    len(list_intersect(toks, ['le','la','les','de','et','un','une','est','en','que','qui','dans','pour','pas','sur','au','avec','ne','ce','il'])) AS s_fr,
        |    len(list_intersect(toks, ['il','la','di','che','e','un','una','è','in','per','non','con','del','della','si','da','al','le','dei','come'])) AS s_it
        |  FROM scored
        |)
        |SELECT doc_id, lang_label,
        |  CASE WHEN greatest(s_en,s_de,s_es,s_fr,s_it) <= 0 THEN 'und'
        |       WHEN s_en = greatest(s_en,s_de,s_es,s_fr,s_it) THEN 'en'
        |       WHEN s_de = greatest(s_en,s_de,s_es,s_fr,s_it) THEN 'de'
        |       WHEN s_es = greatest(s_en,s_de,s_es,s_fr,s_it) THEN 'es'
        |       WHEN s_fr = greatest(s_en,s_de,s_es,s_fr,s_it) THEN 'fr'
        |       ELSE 'it' END AS lang_pred
        |FROM s2
        |""".stripMargin) { (s, dir) =>
      docs(s, dir).select(col("doc_id"), col("lang").as("lang_label"),
        TextFunctions.langId(col("text")).as("lang_pred"))
    },

    QueryDef(
      "text_fingerprint",
      """SELECT doc_id,
        |  list_aggregate(list_transform(range(1, greatest(length(text) - 15, 1) + 1),
        |    i -> md5(substr(text, i::int, 16))), 'min') AS fp
        |FROM documents
        |""".stripMargin) { (s, dir) =>
      docs(s, dir).select(col("doc_id"),
        TextFunctions.fingerprintExpr("text", 16).as("fp"))
    },

    // custom TypedImperativeAggregate: with capacity > #distinct the
    // Misra-Gries sketch is exact, so the plain GROUP BY is its oracle
    QueryDef(
      "agg_heavy_hitters",
      "SELECT event_type, count(*) AS n FROM events GROUP BY event_type") { (s, dir) =>
      Tables.load(s, dir, "events")
        .agg(graft.functions.HeavyHitters.heavy_hitters(col("event_type"), 16).as("hh"))
        .select(explode(col("hh")).as(Seq("event_type", "n")))
    },

    QueryDef(
      "text_dataset_split",
      """SELECT doc_id,
        |  CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6) AS BIGINT) % 100 AS bucket,
        |  CASE WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6) AS BIGINT) % 100 < 80 THEN 'train'
        |       WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6) AS BIGINT) % 100 < 90 THEN 'val'
        |       ELSE 'test' END AS split
        |FROM documents
        |""".stripMargin) { (s, dir) =>
      docs(s, dir).select(col("doc_id"),
        TextFunctions.splitBucket(col("doc_id")).as("bucket"),
        TextFunctions.datasetSplit(col("doc_id")).as("split"))
    },

    // Deterministic stratified sampling: downsample the dominant
    // language, keep the tail. The md5 per-mille bucket makes the
    // sample itself engine-reproducible (same rows in DuckDB), and
    // the whole operator is a per-row filter in the scan stage —
    // no shuffle, no RNG state, safe at any scale.
    QueryDef(
      "text_stratified_sample",
      """SELECT doc_id, lang FROM documents
        |WHERE CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6) AS BIGINT) % 1000
        |  < CASE lang WHEN 'en' THEN 150 WHEN 'zh' THEN 600 ELSE 900 END
        |""".stripMargin) { (s, dir) =>
      docs(s, dir).filter(TextFunctions.stratifiedSampleKeep(
          col("doc_id"), col("lang"), Map("en" -> 150, "zh" -> 600), 900))
        .select(col("doc_id"), col("lang"))
    },

    // PII redaction: the corpus ships no PII, so both engines first
    // plant identical deterministic emails/IPs on every 7th doc, then
    // count and redact them — policy applied identically (pattern
    // dialect = RE2 ∩ java.util.regex).
    QueryDef(
      "text_pii_redact",
      s"""WITH planted AS (
        |  SELECT doc_id,
        |    text || CASE WHEN doc_id % 7 = 0
        |      THEN ' contact user' || doc_id || '@example.com at 10.0.' || doc_id % 256 || '.1'
        |      ELSE '' END AS text
        |  FROM documents
        |)
        |SELECT doc_id,
        |  CAST(length(regexp_extract_all(text, '${TextFunctions.emailPattern}')) AS BIGINT) AS n_emails,
        |  CAST(length(regexp_extract_all(text, '${TextFunctions.ipv4Pattern}')) AS BIGINT) AS n_ips,
        |  md5(regexp_replace(regexp_replace(text, '${TextFunctions.emailPattern}', '<EMAIL>', 'g'), '${TextFunctions.ipv4Pattern}', '<IP>', 'g')) AS redacted_md5
        |FROM planted
        |""".stripMargin) { (s, dir) =>
      val planted = docs(s, dir).select(col("doc_id"),
        concat(col("text"), when(pmod(col("doc_id"), lit(7)) === 0,
          concat(lit(" contact user"), col("doc_id"), lit("@example.com at 10.0."),
            pmod(col("doc_id"), lit(256)), lit(".1"))).otherwise(lit(""))).as("text"))
      // one pii_scan per row (struct column), fields selected above it —
      // CollapseProject keeps the non-cheap scan un-duplicated
      planted.select(col("doc_id"), TextFunctions.piiScan(col("text")).as("pii"))
        .select(col("doc_id"),
          col("pii.n_emails").as("n_emails"),
          col("pii.n_ips").as("n_ips"),
          md5(col("pii.redacted").cast("binary")).as("redacted_md5"))
    },

    // ---- multimodal plumbing --------------------------------------
    // Binary-transport integrity: text → binary payload column →
    // partition-mapped md5 back out. Proves payload bytes survive the
    // multimodal table shape unmodified at any partitioning.
    QueryDef(
      "mm_decode",
      """SELECT doc_id AS media_id, 'image' AS kind,
        |  CAST(octet_length(text::BLOB) AS BIGINT) AS n_bytes,
        |  md5(text) AS payload_md5
        |FROM documents
        |""".stripMargin) { (s, dir) =>
      val bin = Multimodal.asBinaryTable(docs(s, dir), "doc_id", "text", "image")
      bin.select(col("media_id"), col("kind"), col("n_bytes"),
        md5(col("payload")).as("payload_md5"))
    },

    // REAL image decode round-trip: PNGs are encoded per document with
    // dimensions derived from (doc_id, n_chars), then decodeImages
    // reads width/height/format back from the actual bytes through
    // javax.imageio. The oracle computes the same dimensions
    // arithmetically — it can only match if the decode is genuine.
    QueryDef(
      "mm_decode_image",
      """SELECT doc_id AS media_id, 'png' AS fmt,
        |  CAST(8 + doc_id % 32 AS BIGINT) AS width,
        |  CAST(8 + n_chars % 32 AS BIGINT) AS height
        |FROM documents
        |""".stripMargin) { (s, dir) =>
      val d = docs(s, dir).select(col("doc_id"),
        (lit(8) + pmod(col("doc_id"), lit(32))).as("__w"),
        (lit(8) + pmod(col("n_chars"), lit(32))).as("__h"))
      val images = Multimodal.encodeTestImages(d, "doc_id", "__w", "__h")
      Multimodal.decodeImages(s, images)
        .select(col("media_id"), col("fmt"), col("width"), col("height"))
    },

    // Image NEAR-DUP dedup over real rasters: PNGs are rendered whose
    // 9×8 block-luma gradient signs encode an md5-derived bit pattern
    // (groups of 4 ids; members XOR-flip 0/1/2/8 positions), dHash
    // decodes ACTUAL PIXELS back (luma → exact area-average → gradient
    // sign), and near-dup pairs come from the same 4×16-bit Hamming
    // banding the text SimHash path uses. The oracle recomputes the
    // bit arithmetic — it can only match if the render/decode
    // round-trip through real image bytes is genuine. Members 0-2 of
    // each group land within Hamming 3 (found); member 3 escapes.
    QueryDef(
      "mm_dedup_image",
      """WITH d AS (
        |  SELECT doc_id, doc_id - (doc_id % 4) AS gid, doc_id % 4 AS m
        |  FROM documents
        |), base AS (
        |  SELECT doc_id, gid, m,
        |    CAST('0x' || substr(md5('img_' || gid), 1, 8) AS BIGINT) AS h1,
        |    CAST('0x' || substr(md5('img_' || gid), 9, 8) AS BIGINT) AS h2
        |  FROM d
        |), bits AS (
        |  SELECT doc_id, j.j,
        |    CAST(CASE WHEN j.j < 32 THEN (h1 >> j.j) & 1
        |              ELSE (h2 >> (j.j - 32)) & 1 END AS BIGINT) AS bit
        |  FROM base, range(0, 64) j(j)
        |), fl AS (
        |  SELECT d.doc_id,
        |    CAST('0x' || substr(md5('flip_' || gid || '_' || m || '_' || i.i), 1, 6) AS BIGINT) % 64 AS p
        |  FROM d, range(0, 8) i(i)
        |  WHERE i.i < (CASE m WHEN 0 THEN 0 WHEN 1 THEN 1 WHEN 2 THEN 2 ELSE 8 END)
        |), fc AS (
        |  SELECT doc_id, p, count(*) AS c FROM fl GROUP BY 1, 2
        |), fb AS (
        |  SELECT b.doc_id, b.j,
        |    CASE WHEN coalesce(fc.c, 0) % 2 = 1 THEN 1 - b.bit ELSE b.bit END AS bit
        |  FROM bits b LEFT JOIN fc ON fc.doc_id = b.doc_id AND fc.p = b.j
        |), hs AS (
        |  SELECT doc_id,
        |    bit_or(CASE WHEN bit = 1 THEN (1::UBIGINT << j) ELSE 0::UBIGINT END) AS h
        |  FROM fb GROUP BY 1
        |)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  CAST(bit_count(xor(a.h, b.h)) AS BIGINT) AS hamming
        |FROM hs a JOIN hs b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.h, b.h)) <= 3
        |""".stripMargin) { (s, dir) =>
      val d = docs(s, dir).select(col("doc_id"),
        (lit(1) + pmod(col("doc_id"), lit(3))).as("__sx"),
        (lit(1) + pmod(col("n_chars"), lit(3))).as("__sy"))
      val images = Multimodal.encodeTestPatternImages(d, "doc_id", "__sx", "__sy")
      Dedup.hammingPairs64(Multimodal.dhashImages(s, images), "media_id", "dhash",
        maxHamming = 3)
    },

    // Audio NEAR-DUP dedup over real decoded PCM — the audio sibling
    // of mm_dedup_image, same contract: WAVs are rendered whose
    // 65-block energy gradient encodes an md5-derived bit pattern,
    // ahashAudio decodes ACTUAL SAMPLES back (exact block means →
    // gradient signs), and pairs come from the shared Hamming banding.
    // The oracle replays the bit arithmetic; a match certifies the
    // PCM round-trip through real RIFF bytes.
    QueryDef(
      "mm_dedup_audio",
      """WITH d AS (
        |  SELECT doc_id, doc_id - (doc_id % 4) AS gid, doc_id % 4 AS m
        |  FROM documents
        |), base AS (
        |  SELECT doc_id, gid, m,
        |    CAST('0x' || substr(md5('aud_' || gid), 1, 8) AS BIGINT) AS h1,
        |    CAST('0x' || substr(md5('aud_' || gid), 9, 8) AS BIGINT) AS h2
        |  FROM d
        |), bits AS (
        |  SELECT doc_id, j.j,
        |    CAST(CASE WHEN j.j < 32 THEN (h1 >> j.j) & 1
        |              ELSE (h2 >> (j.j - 32)) & 1 END AS BIGINT) AS bit
        |  FROM base, range(0, 64) j(j)
        |), fl AS (
        |  SELECT d.doc_id,
        |    CAST('0x' || substr(md5('aflip_' || gid || '_' || m || '_' || i.i), 1, 6) AS BIGINT) % 64 AS p
        |  FROM d, range(0, 8) i(i)
        |  WHERE i.i < (CASE m WHEN 0 THEN 0 WHEN 1 THEN 1 WHEN 2 THEN 2 ELSE 8 END)
        |), fc AS (
        |  SELECT doc_id, p, count(*) AS c FROM fl GROUP BY 1, 2
        |), fb AS (
        |  SELECT b.doc_id, b.j,
        |    CASE WHEN coalesce(fc.c, 0) % 2 = 1 THEN 1 - b.bit ELSE b.bit END AS bit
        |  FROM bits b LEFT JOIN fc ON fc.doc_id = b.doc_id AND fc.p = b.j
        |), hs AS (
        |  SELECT doc_id,
        |    bit_or(CASE WHEN bit = 1 THEN (1::UBIGINT << j) ELSE 0::UBIGINT END) AS h
        |  FROM fb GROUP BY 1
        |)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  CAST(bit_count(xor(a.h, b.h)) AS BIGINT) AS hamming
        |FROM hs a JOIN hs b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.h, b.h)) <= 3
        |""".stripMargin) { (s, dir) =>
      val d = docs(s, dir).select(col("doc_id"),
        (lit(20) + pmod(col("n_chars"), lit(3)) * 10).as("__spb"))
      val wavs = Multimodal.encodeTestPatternWavs(d, "doc_id", "__spb")
      Dedup.hammingPairs64(Multimodal.ahashAudio(s, wavs), "media_id", "ahash",
        maxHamming = 3)
    },

    // Real WAV round-trip, same contract as mm_decode_image: Spark
    // ENCODES genuine RIFF/PCM clips with id-derived parameters and
    // DECODES them via javax.sound.sampled; the oracle recomputes the
    // parameters arithmetically — a match proves the decode is real.
    QueryDef(
      "mm_decode_audio",
      """SELECT doc_id AS media_id, 'wave' AS fmt,
        |  CAST(8000 * (1 + doc_id % 4) AS BIGINT) AS sample_rate,
        |  CAST(1 + doc_id % 2 AS BIGINT) AS channels,
        |  CAST(16 AS BIGINT) AS bits,
        |  CAST(64 + n_chars % 192 AS BIGINT) AS n_frames,
        |  CAST((64 + n_chars % 192) * 1000 // (8000 * (1 + doc_id % 4)) AS BIGINT) AS duration_ms
        |FROM documents
        |""".stripMargin) { (s, dir) =>
      val d = docs(s, dir).select(col("doc_id"),
        (lit(8000) * (lit(1) + pmod(col("doc_id"), lit(4)))).as("__rate"),
        (lit(1) + pmod(col("doc_id"), lit(2))).as("__ch"),
        (lit(64) + pmod(col("n_chars"), lit(192))).as("__frames"))
      val wavs = Multimodal.encodeTestWavs(d, "doc_id", "__rate", "__ch", "__frames")
      Multimodal.decodeAudio(s, wavs)
    },

    // Real MP4 round-trip, same contract as image/audio: Spark ENCODES
    // structurally-valid ISO BMFF containers with id-derived display
    // size, frame count and 25 fps duration, and decodeVideo reads
    // them back by walking the actual boxes (mvhd/tkhd/stsz). The
    // oracle recomputes the parameters arithmetically — a match proves
    // the byte-level parse is genuine. Video PIXEL decode would need a
    // codec this container doesn't ship; container metadata is what
    // scale pipelines filter on.
    QueryDef(
      "mm_decode_video",
      """SELECT doc_id AS media_id, 'mp4' AS fmt,
        |  CAST(16 + doc_id % 112 AS BIGINT) AS width,
        |  CAST(16 + n_chars % 112 AS BIGINT) AS height,
        |  CAST(8 + doc_id % 120 AS BIGINT) AS n_frames,
        |  CAST((8 + doc_id % 120) * 40 AS BIGINT) AS duration_ms
        |FROM documents
        |""".stripMargin) { (s, dir) =>
      val d = docs(s, dir).select(col("doc_id"),
        (lit(16) + pmod(col("doc_id"), lit(112))).as("__w"),
        (lit(16) + pmod(col("n_chars"), lit(112))).as("__h"),
        (lit(8) + pmod(col("doc_id"), lit(120))).as("__frames"))
      val mp4s = Multimodal.encodeTestMp4s(d, "doc_id", "__w", "__h", "__frames")
      Multimodal.decodeVideo(s, mp4s)
    },

    // Frame-sampling fan-out over the REAL decoded frame counts.
    QueryDef(
      "mm_frame_sample",
      """SELECT doc_id AS media_id,
        |  CAST(8 + doc_id % 120 AS BIGINT) AS n_frames,
        |  CAST(unnest(range(0, 8 + doc_id % 120, 2)) AS BIGINT) AS frame_idx
        |FROM documents
        |""".stripMargin) { (s, dir) =>
      val d = docs(s, dir).select(col("doc_id"),
        (lit(16) + pmod(col("doc_id"), lit(112))).as("__w"),
        (lit(16) + pmod(col("n_chars"), lit(112))).as("__h"),
        (lit(8) + pmod(col("doc_id"), lit(120))).as("__frames"))
      val mp4s = Multimodal.encodeTestMp4s(d, "doc_id", "__w", "__h", "__frames")
      Multimodal.sampleFrames(Multimodal.decodeVideo(s, mp4s), stride = 2)
    },

    // Video NEAR-DUP dedup over real containers — the last multimodal
    // column without a dedup: per doc a REAL MP4 (even members) or
    // Matroska (odd members) is built whose 65-entry sample-size
    // sequence encodes an md5-derived bit pattern via the size
    // gradient; vhashVideo walks the ACTUAL boxes/clusters back to the
    // sequence, and pairs come from the shared Hamming banding. Group
    // members alternate containers, so every reported pair crosses
    // MP4↔MKV — the oracle replaying the bit arithmetic certifies both
    // byte-level walks AND the fingerprint's container invariance.
    QueryDef(
      "mm_dedup_video",
      """WITH d AS (
        |  SELECT doc_id, doc_id - (doc_id % 4) AS gid, doc_id % 4 AS m
        |  FROM documents
        |), base AS (
        |  SELECT doc_id, gid, m,
        |    CAST('0x' || substr(md5('vid_' || gid), 1, 8) AS BIGINT) AS h1,
        |    CAST('0x' || substr(md5('vid_' || gid), 9, 8) AS BIGINT) AS h2
        |  FROM d
        |), bits AS (
        |  SELECT doc_id, j.j,
        |    CAST(CASE WHEN j.j < 32 THEN (h1 >> j.j) & 1
        |              ELSE (h2 >> (j.j - 32)) & 1 END AS BIGINT) AS bit
        |  FROM base, range(0, 64) j(j)
        |), fl AS (
        |  SELECT d.doc_id,
        |    CAST('0x' || substr(md5('vflip_' || gid || '_' || m || '_' || i.i), 1, 6) AS BIGINT) % 64 AS p
        |  FROM d, range(0, 8) i(i)
        |  WHERE i.i < (CASE m WHEN 0 THEN 0 WHEN 1 THEN 1 WHEN 2 THEN 2 ELSE 8 END)
        |), fc AS (
        |  SELECT doc_id, p, count(*) AS c FROM fl GROUP BY 1, 2
        |), fb AS (
        |  SELECT b.doc_id, b.j,
        |    CASE WHEN coalesce(fc.c, 0) % 2 = 1 THEN 1 - b.bit ELSE b.bit END AS bit
        |  FROM bits b LEFT JOIN fc ON fc.doc_id = b.doc_id AND fc.p = b.j
        |), hs AS (
        |  SELECT doc_id,
        |    bit_or(CASE WHEN bit = 1 THEN (1::UBIGINT << j) ELSE 0::UBIGINT END) AS h
        |  FROM fb GROUP BY 1
        |)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  CAST(bit_count(xor(a.h, b.h)) AS BIGINT) AS hamming
        |FROM hs a JOIN hs b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.h, b.h)) <= 3
        |""".stripMargin) { (s, dir) =>
      val d = docs(s, dir).select(col("doc_id"),
        (lit(2000) + pmod(col("n_chars"), lit(3)) * 64).as("__base"))
      val vids = Multimodal.encodeTestPatternVideos(d, "doc_id", "__base")
      Dedup.hammingPairs64(Multimodal.vhashVideo(s, vids), "media_id", "vhash",
        maxHamming = 3)
    },

    // Engine-exact distributed k-means: two Lloyd rounds over the
    // seeded coarse quantizer, per-cell means in integer micro-units
    // (order-independent sums), so DuckDB replays both assignment
    // rounds and the refined centroids bit-for-bit. Output flattens to
    // one row per (centroid, dimension) for the value compare.
    QueryDef(
      "emb_kmeans",
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |c0 AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id % 50 = 0),
        |a1 AS (
        |  SELECT vec_id, v, cid AS cell FROM (
        |    SELECT e.vec_id, e.v, c.cid,
        |      row_number() OVER (PARTITION BY e.vec_id
        |        ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.cid) AS r
        |    FROM e, c0 c) t WHERE r = 1
        |), m1 AS (
        |  SELECT cell, i AS pos,
        |    CAST(sum(CAST(round(v[i] * 1000000.0) AS BIGINT)) AS DOUBLE)
        |      / count(*) / 1000000.0 AS m,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM a1, range(1, 65) r(i) GROUP BY 1, 2
        |), c1 AS (SELECT cell AS cid, list(m ORDER BY pos) AS cv FROM m1 GROUP BY 1),
        |a2 AS (
        |  SELECT vec_id, v, cid AS cell FROM (
        |    SELECT e.vec_id, e.v, c.cid,
        |      row_number() OVER (PARTITION BY e.vec_id
        |        ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.cid) AS r
        |    FROM e, c1 c) t WHERE r = 1
        |), m2 AS (
        |  SELECT cell, i AS pos,
        |    CAST(sum(CAST(round(v[i] * 1000000.0) AS BIGINT)) AS DOUBLE)
        |      / count(*) / 1000000.0 AS m,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM a2, range(1, 65) r(i) GROUP BY 1, 2
        |)
        |SELECT cell AS centroid_id, n AS n_members,
        |  CAST(pos AS BIGINT) AS pos, m AS centroid_val
        |FROM m2
        |""".stripMargin) { (s, dir) =>
      Similarity.kmeansTrainExact(embs(s, dir), "vec_id", "embedding",
          stride = 50, iters = 2)
        .select(col("centroid_id"), col("n_members"),
          posexplode(col("centroid_vec")).as(Seq("__p", "centroid_val")))
        .select(col("centroid_id"), col("n_members"),
          (col("__p") + 1).cast("long").as("pos"), col("centroid_val"))
    },

    // Chunk→doc mean pooling: groups of 10 consecutive vec_ids pool
    // into one embedding. Fixed-point micro-unit sums → engine-exact.
    QueryDef(
      "emb_mean_pool",
      """WITH e AS (
        |  SELECT vec_id // 10 AS group_id, embedding::DOUBLE[] AS v FROM embeddings
        |)
        |SELECT group_id, CAST(count(*) AS BIGINT) AS n_vecs,
        |  CAST(i AS BIGINT) AS pos,
        |  CAST(sum(CAST(round(v[i] * 1000000.0) AS BIGINT)) AS DOUBLE)
        |    / count(*) / 1000000.0 AS pooled_val
        |FROM e, range(1, 65) r(i) GROUP BY group_id, i
        |""".stripMargin) { (s, dir) =>
      Similarity.meanPool(embs(s, dir), "embedding", expr("vec_id DIV 10"))
    },

    // Matryoshka truncation: first 16 dims, L2-renormalized — row-
    // local, zero shuffle at any scale.
    QueryDef(
      "emb_truncate",
      """WITH t AS (
        |  SELECT vec_id, (embedding::DOUBLE[])[1:16] AS tv FROM embeddings
        |), n AS (
        |  SELECT vec_id, tv,
        |    sqrt(list_sum(list_transform(tv, x -> x * x))) AS nrm
        |  FROM t
        |)
        |SELECT vec_id, CAST(i AS BIGINT) AS pos,
        |  round(CASE WHEN nrm = 0 THEN 0.0 ELSE tv[i] / nrm END, 6) AS tval
        |FROM n, range(1, 17) r(i)
        |""".stripMargin) { (s, dir) =>
      Similarity.truncateRenorm(embs(s, dir), "vec_id", "embedding", dims = 16)
    })
}

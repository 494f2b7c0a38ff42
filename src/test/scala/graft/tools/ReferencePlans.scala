package graft.tools

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.operators.Dedup

/** Frozen pre-optimization plan shapes kept as equivalence references.
  *
  * [[uncollapsedMinhashPairs]] is the exact pre-round-10 shape of
  * `Dedup.minhashPairs` — band every DOC row (no distinct-signature
  * pre-collapse), count buckets in doc rows, drop oversized buckets,
  * self-join, verify per doc pair. `TrainingOpsSpec` proves the
  * production plan bit-identical to it across the kernel/cap/threshold
  * matrix; the head-to-head timing on replicated corpora is recorded
  * in BENCH_LOCAL.md, "MinHash distinct-signature pre-collapse".
  *
  * A test reference that must stay byte-for-byte equivalent to the
  * historical plan, not improve.
  */
object ReferencePlans {
  def uncollapsedMinhashPairs(df: DataFrame, idCol: String, textCol: String,
      shingleK: Int = 5, numHashes: Int = 128, bands: Int = 32,
      threshold: Double = 0.7, seed: Long = 42L, maxBucketSize: Int = 10000,
      useMd5: Boolean = false, oph: Boolean = true,
      checkpoint: DataFrame => DataFrame = graft.util.Checkpoints.pinLazy): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rows = numHashes / bands
    val sigs = checkpoint(Dedup.minhashSignatures(
      df, idCol, textCol, shingleK, numHashes, seed, useMd5, oph))
    // md5 signatures are already uniform hashes — the 4-long band slice
    // itself is the bucket key; the cheap linear-permute kernels get a
    // second xxhash64 mix exactly as the historical plan applied.
    val bucketOf: Column => Column =
      if (useMd5) identity else sl => xxhash64(sl, lit(0))
    val banded = sigs.select(col(idCol).as("doc"),
      posexplode(transform(sequence(lit(0), lit(bands - 1)),
        b => bucketOf(slice(col("signature"), b * rows + 1, lit(rows)))))
        .as(Seq("band", "bucket")))
    val oversized = banded.groupBy("band", "bucket")
      .agg(count(lit(1)).as("__bs")).filter(col("__bs") > maxBucketSize)
      .select("band", "bucket")
    val withSize = banded.join(broadcast(oversized), Seq("band", "bucket"), "left_anti")
    val cand = withSize.select(col("band"), col("bucket"), col("doc").as("doc_a"))
      .join(withSize.select(col("band"), col("bucket"), col("doc").as("doc_b")),
        Seq("band", "bucket"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").dropDuplicates("doc_a", "doc_b")
    cand
      .join(sigs.select(col(idCol).as("doc_a"), col("signature").as("sig_a")), "doc_a")
      .join(sigs.select(col(idCol).as("doc_b"), col("signature").as("sig_b")), "doc_b")
      .withColumn("est_jaccard", graft.functions.NativeExpressions
        .signature_agreement(col("sig_a"), col("sig_b")))
      .filter(col("est_jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), round(col("est_jaccard"), 6).as("est_jaccard"))
  }
}

package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.{Bridge => ExpressionUtils}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import java.nio.charset.StandardCharsets

/** Native Catalyst expressions for the hot inner loops of the
  * training-data operators. Spark's higher-order functions (zip_with /
  * aggregate / transform) evaluate their lambda per ELEMENT through the
  * interpreter — fine for small arrays, brutal inside an O(n·m)
  * pairwise operator. These expressions run one tight JVM loop per ROW
  * instead (CodegenFallback: the loop itself is compiled Scala; only
  * the call boundary is interpreted), which benched ~5-10× faster on
  * the sf0.1 corpus and removes the explode+wide-agg shuffle from the
  * MinHash path entirely.
  */
/** Shared 64-bit mixing for the internal-hash kernels (ShingleHashes,
  * TokenHashes, BigramHashes): murmur3's fmix64 avalanche over chained
  * FNV-1a words. These hashes are join/count keys only — never output —
  * so the family is interchangeable as long as equal strings map to
  * equal hashes and the avalanche keeps bucket skew at bay. */
object ShingleHashing {
  def fmix64(h0: Long): Long = {
    var h = h0
    h ^= h >>> 33; h *= 0xff51afd7ed558ccdL
    h ^= h >>> 33; h *= 0xc4ceb9fe1a85ec53L
    h ^ (h >>> 33)
  }
}

object NativeExpressions {

  private def toDoubles(a: ArrayData): Array[Double] = a.toDoubleArray()

  /** Cosine similarity over two array<double> columns, one fused pass
    * (dot + both norms in a single loop). Full `doGenCode` — this sits
    * inside ANN scoring projections, and a CodegenFallback here would
    * break the whole-stage span of its containing stage. */
  case class CosineSimilarity(left: Expression, right: Expression)
      extends BinaryExpression {
    override def dataType: DataType = DoubleType
    override def nullable: Boolean = true // zero-norm input → null
    override def nullSafeEval(l: Any, r: Any): Any = {
      val a = toDoubles(l.asInstanceOf[ArrayData])
      val b = toDoubles(r.asInstanceOf[ArrayData])
      val n = math.min(a.length, b.length)
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < n) {
        dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
      }
      if (na == 0.0 || nb == 0.0) null
      else dot / (math.sqrt(na) * math.sqrt(nb))
    }
    override protected def doGenCode(ctx: codegen.CodegenContext,
                                     ev: codegen.ExprCode): codegen.ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => {
        val ad = ctx.freshName("ad"); val bd = ctx.freshName("bd")
        val n = ctx.freshName("n"); val i = ctx.freshName("i")
        val dot = ctx.freshName("dot")
        val na = ctx.freshName("na"); val nb = ctx.freshName("nb")
        s"""
           |double[] $ad = $a.toDoubleArray();
           |double[] $bd = $b.toDoubleArray();
           |int $n = java.lang.Math.min($ad.length, $bd.length);
           |double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
           |for (int $i = 0; $i < $n; $i++) {
           |  $dot += $ad[$i] * $bd[$i];
           |  $na += $ad[$i] * $ad[$i];
           |  $nb += $bd[$i] * $bd[$i];
           |}
           |if ($na == 0.0 || $nb == 0.0) {
           |  ${ev.isNull} = true;
           |} else {
           |  ${ev.value} = $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
           |}
         """.stripMargin
      })
    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  /** Dot product over two array<double> columns. */
  case class DotProduct(left: Expression, right: Expression)
      extends BinaryExpression with CodegenFallback {
    override def dataType: DataType = DoubleType
    override def nullSafeEval(l: Any, r: Any): Any = {
      val a = toDoubles(l.asInstanceOf[ArrayData])
      val b = toDoubles(r.asInstanceOf[ArrayData])
      val n = math.min(a.length, b.length)
      var dot = 0.0; var i = 0
      while (i < n) { dot += a(i) * b(i); i += 1 }
      dot
    }
    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  private def xxhash64(s: UTF8String): Long =
    org.apache.spark.sql.catalyst.expressions.XxHash64Function.hash(
      s, StringType, 42L)

  // md5-derived hashes for the cross-engine-verifiable ("md5" family)
  // variants: any engine with md5 — the DuckDB oracle included — can
  // reproduce them bit-for-bit, so the WHOLE sketch pipeline gets a
  // value oracle instead of a rows-only check. xxhash64 stays the
  // throughput default.
  private val md5Local = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }
  /** First 15 hex chars (60 bits) of md5 — always non-negative, so
    * signed/unsigned `%` agree across engines. */
  private def md5Hex60(s: String): Long =
    md5Hex60Slice(s.getBytes(StandardCharsets.UTF_8), -1)

  /** md5Hex60 straight off a byte-buffer prefix (len < 0 → whole
    * array) — the shingle kernels hash reused buffers without a
    * String round trip; values identical to the String form. */
  private def md5Hex60Slice(b: Array[Byte], len: Int): Long = {
    val md = md5Local.get(); md.reset()
    if (len < 0) md.update(b) else md.update(b, 0, len)
    val d = md.digest()
    var x = 0L; var i = 0
    while (i < 7) { x = (x << 8) | (d(i) & 0xffL); i += 1 }
    (x << 4) | ((d(7) >> 4) & 0xfL)
  }
  /** First 16 hex chars (64 bits) of md5 as a raw bit pattern, straight
    * off UTF-8 bytes — UTF8String tokens hash without the
    * decode-to-String / re-encode round trip. */
  private def md5Bits64Bytes(b: Array[Byte]): Long = {
    val md = md5Local.get(); md.reset()
    val d = md.digest(b)
    var x = 0L; var i = 0
    while (i < 8) { x = (x << 8) | (d(i) & 0xffL); i += 1 }
    x
  }

  /** 64-bit SimHash over array<string> tokens: per token, a 64-bit
    * hash (xxhash64, or md5's first 64 bits when useMd5 — the
    * oracle-replicable family); each bit position accumulates +1/-1;
    * the sign vector is the fingerprint. Row-local, zero shuffle. */
  case class SimHash64(child: Expression, useMd5: Boolean = false)
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = LongType
    override def nullSafeEval(v: Any): Any = {
      val arr = v.asInstanceOf[ArrayData]
      val counts = new Array[Int](64)
      var t = 0
      while (t < arr.numElements()) {
        if (!arr.isNullAt(t)) {
          val u = arr.getUTF8String(t)
          val h = if (useMd5) md5Bits64Bytes(u.getBytes) else xxhash64(u)
          var i = 0
          while (i < 64) {
            if (((h >>> i) & 1L) == 1L) counts(i) += 1 else counts(i) -= 1
            i += 1
          }
        }
        t += 1
      }
      var out = 0L; var i = 0
      while (i < 64) { if (counts(i) > 0) out |= (1L << i); i += 1 }
      out
    }
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /** MinHash signature over array<string> shingles: numHashes
    * universal-hash minima of xxhash64(shingle) mod p. Row-local — the
    * banding join downstream shuffles |docs| rows, never |shingles|. */
  case class MinHashSignature(child: Expression, numHashes: Int, seed: Long)
      extends UnaryExpression with CodegenFallback {
    private val P = 2147483647L // 2^31 - 1
    @transient private lazy val params: Array[(Long, Long)] = {
      val rnd = new scala.util.Random(seed)
      Array.fill(numHashes)((1L + rnd.nextInt(Int.MaxValue - 1).toLong,
        rnd.nextInt(Int.MaxValue).toLong))
    }
    // primitive params + Mersenne-fold modulo — same inner-loop
    // treatment as MinHashFromTokens, bit-identical values
    @transient private lazy val aArr: Array[Long] = params.map(_._1)
    @transient private lazy val bArr: Array[Long] = params.map(_._2)
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullSafeEval(v: Any): Any = {
      val arr = v.asInstanceOf[ArrayData]
      val sig = Array.fill(numHashes)(Long.MaxValue)
      var t = 0
      while (t < arr.numElements()) {
        if (!arr.isNullAt(t)) {
          val h = ((xxhash64(arr.getUTF8String(t)) % P) + P) % P
          var i = 0
          while (i < numHashes) {
            val prod = aArr(i) * h + bArr(i)
            var y = (prod & P) + (prod >>> 31)
            y = (y & P) + (y >>> 31)
            if (y >= P) y -= P
            if (y < sig(i)) sig(i) = y
            i += 1
          }
        }
        t += 1
      }
      new GenericArrayData(sig)
    }
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /** Fraction of positions where two equal-length array<long>
    * signatures agree — the MinHash Jaccard estimator. */
  case class SignatureAgreement(left: Expression, right: Expression)
      extends BinaryExpression with CodegenFallback {
    override def dataType: DataType = DoubleType
    override def nullSafeEval(l: Any, r: Any): Any = {
      val a = l.asInstanceOf[ArrayData]
      val b = r.asInstanceOf[ArrayData]
      val n = math.min(a.numElements(), b.numElements())
      if (n == 0) return 0.0
      var eq = 0; var i = 0
      while (i < n) { if (a.getLong(i) == b.getLong(i)) eq += 1; i += 1 }
      eq.toDouble / n
    }
    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  /** |A ∩ B| over two ascending-sorted array<long> — the verify kernel
    * of prefix-filtered set-similarity joins (PPJoin): one merge pass,
    * zero allocation (size(array_intersect(..)) would build a hash set
    * and materialize the intersection array per pair). */
  case class SortedLongIntersectCount(left: Expression, right: Expression)
      extends BinaryExpression with CodegenFallback {
    override def dataType: DataType = LongType
    override def nullSafeEval(l: Any, r: Any): Any = {
      val a = l.asInstanceOf[ArrayData]
      val b = r.asInstanceOf[ArrayData]
      val na = a.numElements(); val nb = b.numElements()
      var i = 0; var j = 0; var n = 0L
      while (i < na && j < nb) {
        val x = a.getLong(i); val y = b.getLong(j)
        if (x == y) { n += 1; i += 1; j += 1 }
        else if (x < y) i += 1
        else j += 1
      }
      n
    }
    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  /** Distinct k-word shingles from an array<string> of tokens — the
    * native form of the transform+slice+concat_ws+array_distinct HOF
    * chain (which interprets per element). Short inputs fall back to
    * one whole-doc shingle. */
  case class WordShingles(child: Expression, k: Int)
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    override def nullSafeEval(v: Any): Any = {
      val arr = v.asInstanceOf[ArrayData]
      val n = arr.numElements()
      val toks = new Array[String](n)
      var i = 0
      while (i < n) {
        toks(i) = if (arr.isNullAt(i)) "" else arr.getUTF8String(i).toString
        i += 1
      }
      val out = new java.util.LinkedHashSet[String]()
      if (n >= k) {
        val sb = new java.lang.StringBuilder()
        var s = 0
        while (s <= n - k) {
          sb.setLength(0)
          var j = 0
          while (j < k) { if (j > 0) sb.append(' '); sb.append(toks(s + j)); j += 1 }
          out.add(sb.toString)
          s += 1
        }
      } else out.add(toks.mkString(" "))
      val res = new Array[AnyRef](out.size)
      val it = out.iterator(); var r = 0
      while (it.hasNext) { res(r) = UTF8String.fromString(it.next()); r += 1 }
      new GenericArrayData(res)
    }
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /** Distinct k-word shingle HASHES of a raw text column — the fused
    * form of `xxhash64(explode(word_shingles(split(lower(text),
    * "\\s+"), k)))`'s per-doc stage: one lowercase pass plus one byte
    * walk, no token array, no concatenated shingle strings, no
    * per-shingle UTF8String garbage. The hashes are INTERNAL join
    * keys only (never output), so the function family is free as long
    * as equal shingle strings map to equal hashes: per-word FNV-1a 64
    * chained order-dependently and finished with a murmur3 avalanche.
    * Join-key collision exposure is the same as the xxhash64 path it
    * replaces (~|shingles|²/2⁶⁴).
    *
    * Tokenization replicates `split(lower(text), "\\s+")` (Java limit
    * -1) exactly: separator = maximal ASCII-whitespace run, a leading
    * or trailing run yields an empty edge token, empty text is one
    * empty token. Short docs (< k tokens) hash the whole token list as
    * a single shingle, like [[WordShingles]]. */
  case class ShingleHashes(child: Expression, k: Int)
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)

    private def isWs(b: Byte): Boolean =
      b == ' ' || b == '\t' || b == '\n' || b == 0x0B || b == '\f' || b == '\r'

    private final val FnvBasis = 0xcbf29ce484222325L
    private final val FnvPrime = 0x100000001b3L
    private def fmix64(h: Long): Long = ShingleHashing.fmix64(h)

    override def nullSafeEval(v: Any): Any = {
      val b = v.asInstanceOf[UTF8String].toLowerCase.getBytes
      val n = b.length
      // per-token FNV-1a hashes, split(\s+, -1) boundary semantics
      var whs = new Array[Long](16)
      var nt = 0
      def addWord(h: Long): Unit = {
        if (nt == whs.length) whs = java.util.Arrays.copyOf(whs, nt * 2)
        whs(nt) = h; nt += 1
      }
      var segStart = 0
      var i = 0
      while (i < n) {
        if (isWs(b(i))) {
          var h = FnvBasis
          var j = segStart
          while (j < i) { h = (h ^ (b(j) & 0xffL)) * FnvPrime; j += 1 }
          addWord(h)
          while (i < n && isWs(b(i))) i += 1
          segStart = i
        } else i += 1
      }
      { // final piece — empty iff the text ends in whitespace (or is empty)
        var h = FnvBasis
        var j = segStart
        while (j < n) { h = (h ^ (b(j) & 0xffL)) * FnvPrime; j += 1 }
        addWord(h)
      }
      val nWin = if (nt >= k) nt - k + 1 else 1
      // distinct via open addressing; 0 is the empty-slot sentinel
      // (a real hash of 0 is remapped — bias 2⁻⁶⁴, join-safe)
      val cap = Integer.highestOneBit(math.max(8, nWin * 2) * 2 - 1)
      val mask = cap - 1
      val set = new Array[Long](cap)
      var distinct = 0
      def add(h0: Long): Unit = {
        val h = if (h0 == 0L) 1L else h0
        var slot = (h.toInt ^ (h >>> 32).toInt) & mask
        while (set(slot) != 0L && set(slot) != h) slot = (slot + 1) & mask
        if (set(slot) == 0L) { set(slot) = h; distinct += 1 }
      }
      if (nt >= k) {
        var s = 0
        while (s < nWin) {
          var h = FnvBasis
          var j = 0
          while (j < k) { h = (h ^ whs(s + j)) * FnvPrime; j += 1 }
          add(fmix64(h))
          s += 1
        }
      } else {
        var h = FnvBasis
        var j = 0
        while (j < nt) { h = (h ^ whs(j)) * FnvPrime; j += 1 }
        add(fmix64(h))
      }
      val out = new Array[Long](distinct)
      var r = 0
      i = 0
      while (i < cap) {
        if (set(i) != 0L) { out(r) = set(i); r += 1 }
        i += 1
      }
      org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(out)
    }
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /** Per-token 64-bit hashes of `split(lower(text), " ")` (single-space
    * separator, limit -1: consecutive spaces yield empty tokens, empty
    * text is one empty token) — internal join/count keys for the
    * language-model operators, where the word itself never reaches the
    * output. One lowercase pass + one byte walk; no token array of
    * strings. FNV-1a 64 per piece + murmur3 avalanche. */
  case class TokenHashes(child: Expression)
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullSafeEval(v: Any): Any = {
      val b = v.asInstanceOf[UTF8String].toLowerCase.getBytes
      val n = b.length
      var nTok = 1
      var i = 0
      while (i < n) { if (b(i) == ' ') nTok += 1; i += 1 }
      val out = new Array[Long](nTok)
      var t = 0
      var h = 0xcbf29ce484222325L
      i = 0
      while (i < n) {
        if (b(i) == ' ') {
          out(t) = ShingleHashing.fmix64(h); t += 1
          h = 0xcbf29ce484222325L
        } else h = (h ^ (b(i) & 0xffL)) * 0x100000001b3L
        i += 1
      }
      out(t) = ShingleHashing.fmix64(h)
      org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(out)
    }
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /** Adjacent-bigram hash stream over the same tokenization as
    * [[TokenHashes]]: array<struct<w1, bg>> of length (tokens - 1)
    * (empty below 2 tokens), where w1 is the left token's hash —
    * joinable against the [[TokenHashes]] unigram counts — and bg a
    * hash of the ordered pair. The HOF form this replaces
    * (`transform(sequence(...), i -> struct(element_at ...))`)
    * interprets its lambda per element and shuffles two STRING join
    * keys; this is one byte walk emitting two longs. */
  case class BigramHashes(child: Expression)
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = ArrayType(StructType(Seq(
      StructField("w1", LongType, nullable = false),
      StructField("bg", LongType, nullable = false))), containsNull = false)
    override def nullSafeEval(v: Any): Any = {
      val b = v.asInstanceOf[UTF8String].toLowerCase.getBytes
      val n = b.length
      var nTok = 1
      var i = 0
      while (i < n) { if (b(i) == ' ') nTok += 1; i += 1 }
      if (nTok < 2) return new GenericArrayData(Array.empty[Any])
      val hs = new Array[Long](nTok)
      var t = 0
      var h = 0xcbf29ce484222325L
      i = 0
      while (i < n) {
        if (b(i) == ' ') {
          hs(t) = ShingleHashing.fmix64(h); t += 1
          h = 0xcbf29ce484222325L
        } else h = (h ^ (b(i) & 0xffL)) * 0x100000001b3L
        i += 1
      }
      hs(t) = ShingleHashing.fmix64(h)
      val out = new Array[Any](nTok - 1)
      i = 0
      while (i < nTok - 1) {
        val bg = ShingleHashing.fmix64(
          (0xcbf29ce484222325L ^ hs(i)) * 0x100000001b3L ^ hs(i + 1))
        out(i) = InternalRow(hs(i), bg)
        i += 1
      }
      new GenericArrayData(out)
    }
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /** Positional k-word shingle hashes over `split(lower(text), " ")`
    * (single-space separator, limit -1, empty tokens preserved):
    * slot i holds the hash of
    * the window starting at token i, length max(0, tokens-k+1), NO
    * dedup. The positional twin of [[ShingleHashes]] for the
    * substring-span operators, where the gram is a join key and its
    * POSITION is the payload. One byte walk, no token or gram
    * strings. */
  case class ShingleHashesAll(child: Expression, k: Int)
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullSafeEval(v: Any): Any = {
      val b = v.asInstanceOf[UTF8String].toLowerCase.getBytes
      val n = b.length
      var nTok = 1
      var i = 0
      while (i < n) { if (b(i) == ' ') nTok += 1; i += 1 }
      if (nTok < k)
        return org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
          .fromPrimitiveArray(Array.empty[Long])
      val hs = new Array[Long](nTok)
      var t = 0
      var h = 0xcbf29ce484222325L
      i = 0
      while (i < n) {
        if (b(i) == ' ') {
          hs(t) = ShingleHashing.fmix64(h); t += 1
          h = 0xcbf29ce484222325L
        } else h = (h ^ (b(i) & 0xffL)) * 0x100000001b3L
        i += 1
      }
      hs(t) = ShingleHashing.fmix64(h)
      val out = new Array[Long](nTok - k + 1)
      var s = 0
      while (s < out.length) {
        var g = 0xcbf29ce484222325L
        var j = 0
        while (j < k) { g = (g ^ hs(s + j)) * 0x100000001b3L; j += 1 }
        out(s) = ShingleHashing.fmix64(g)
        s += 1
      }
      org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(out)
    }
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /** Per-doc repeated-n-gram coverage (the Gopher repetition family):
    * array [n_words, cov_n1, cov_n2, ...] where cov_n = number of word
    * positions covered by an n-gram occurring ≥ 2 times WITHIN the
    * doc (union of overlapping [pos, pos+n-1] windows — identical to
    * the merged-interval length sum the SQL form computes). The
    * statistic is a pure function of one document, so it belongs in a
    * row-local kernel: the dataflow form paid a corpus-token-volume
    * (doc, gram) shuffle, a join and two per-doc windows PER n — this
    * is one byte walk plus an open-addressed count map per n, and the
    * whole operator becomes scan+project with NO exchange at any
    * scale. Tokenization: split(lower, " ") limit -1 (the
    * [[ShingleHashesAll]] semantics, empty tokens preserved). Grams are compared by 64-bit
    * hash (within-doc collision odds ~windows²/2⁶⁴). */
  case class RepeatedNgramCoverage(child: Expression, ns: Seq[Int])
      extends UnaryExpression with CodegenFallback {
    require(ns.nonEmpty && ns.forall(_ >= 1))
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullSafeEval(v: Any): Any = {
      val b = v.asInstanceOf[UTF8String].toLowerCase.getBytes
      val n = b.length
      var nTok = 1
      var i = 0
      while (i < n) { if (b(i) == ' ') nTok += 1; i += 1 }
      val hs = new Array[Long](nTok)
      var t = 0
      var h = 0xcbf29ce484222325L
      i = 0
      while (i < n) {
        if (b(i) == ' ') {
          hs(t) = ShingleHashing.fmix64(h); t += 1
          h = 0xcbf29ce484222325L
        } else h = (h ^ (b(i) & 0xffL)) * 0x100000001b3L
        i += 1
      }
      hs(t) = ShingleHashing.fmix64(h)
      val out = new Array[Long](1 + ns.size)
      out(0) = nTok.toLong
      var ni = 0
      while (ni < ns.size) {
        val k = ns(ni)
        if (nTok >= k) {
          val nWin = nTok - k + 1
          val g = new Array[Long](nWin)
          var s = 0
          while (s < nWin) {
            var gh = 0xcbf29ce484222325L
            var j = 0
            while (j < k) { gh = (gh ^ hs(s + j)) * 0x100000001b3L; j += 1 }
            g(s) = { val f = ShingleHashing.fmix64(gh); if (f == 0L) 1L else f }
            s += 1
          }
          // occurrence counts per gram hash (0 = empty slot)
          val cap = Integer.highestOneBit(math.max(8, nWin * 2) * 2 - 1)
          val mask = cap - 1
          val keys = new Array[Long](cap)
          val cnts = new Array[Int](cap)
          s = 0
          while (s < nWin) {
            val gh = g(s)
            var slot = (gh.toInt ^ (gh >>> 32).toInt) & mask
            while (keys(slot) != 0L && keys(slot) != gh) slot = (slot + 1) & mask
            keys(slot) = gh; cnts(slot) += 1
            s += 1
          }
          // covered-position count = union of [s, s+k-1] over windows
          // whose gram repeats; windows scan left-to-right so the
          // union is a running [start, lastEnd] merge
          var cov = 0L
          var lastEnd = -1
          s = 0
          while (s < nWin) {
            val gh = g(s)
            var slot = (gh.toInt ^ (gh >>> 32).toInt) & mask
            while (keys(slot) != gh) slot = (slot + 1) & mask
            if (cnts(slot) >= 2) {
              val from = math.max(s, lastEnd + 1)
              val to = s + k - 1
              if (to >= from) cov += (to - from + 1)
              lastEnd = to
            }
            s += 1
          }
          out(1 + ni) = cov
        }
        ni += 1
      }
      org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(out)
    }
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /** Per-doc lexical-diversity stats [n_tokens, n_types, n_hapax] —
    * the row-local form of "explode words, groupBy (doc, word), count,
    * re-reduce by doc": a pure per-document statistic has no business
    * shuffling the corpus token stream. Same open-addressed
    * byte-compare map as [[WordCounts]] (exact types, not hash-trusted)
    * minus the output strings; one lowercase pass + one walk.
    * Tokenization: split(lower, " ") limit -1, empty tokens counted
    * like the SQL unnest(string_split(...)) does. */
  case class TtrStats(child: Expression)
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullSafeEval(v: Any): Any = {
      val b = v.asInstanceOf[UTF8String].toLowerCase.getBytes
      val n = b.length
      var nTok = 1
      var i = 0
      while (i < n) { if (b(i) == ' ') nTok += 1; i += 1 }
      val cap = Integer.highestOneBit(math.max(8, nTok * 2) * 2 - 1)
      val mask = cap - 1
      val starts = new Array[Int](cap)
      val lens = new Array[Int](cap)
      val counts = new Array[Long](cap)
      java.util.Arrays.fill(lens, -1)
      var distinct = 0
      var start = 0
      i = 0
      while (i <= n) {
        if (i == n || b(i) == ' ') {
          val len = i - start
          var h = -2128831035 // FNV-1a 32 for slot selection
          var j = start
          while (j < i) { h = (h ^ b(j)) * 16777619; j += 1 }
          var slot = h & mask
          var placed = false
          while (!placed) {
            if (lens(slot) < 0) {
              starts(slot) = start; lens(slot) = len; counts(slot) = 1L
              distinct += 1; placed = true
            } else if (lens(slot) == len && {
              var j2 = 0
              while (j2 < len && b(starts(slot) + j2) == b(start + j2)) j2 += 1
              j2 == len
            }) { counts(slot) += 1; placed = true }
            else slot = (slot + 1) & mask
          }
          start = i + 1
        }
        i += 1
      }
      var hapax = 0L
      i = 0
      while (i < cap) {
        if (lens(i) >= 0 && counts(i) == 1L) hapax += 1
        i += 1
      }
      org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
        .fromPrimitiveArray(Array(nTok.toLong, distinct.toLong, hapax))
    }
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /** Rebuild a document with the tokens inside the given word-index
    * spans removed: struct<clean_text, n_removed>. Equivalent to
    * "posexplode the lowercased tokens, anti-join the covered
    * positions, collect_list + sort + concat_ws" — but those moves
    * shuffle the corpus TOKEN stream to remove spans that are already
    * per-doc local; this walks the text once against the (few,
    * disjoint) spans. Tokenization: split(lower, " ") limit -1;
    * surviving tokens re-join with single spaces (empty tokens
    * preserved, so an untouched doc round-trips to lower(text)).
    * `spans` is array<struct<s,e>> of 0-based inclusive word-index
    * intervals (unsorted ok; they are sorted here). */
  case class RemoveTokenSpans(left: Expression, right: Expression)
      extends BinaryExpression with CodegenFallback {
    override def dataType: DataType = StructType(Seq(
      StructField("clean_text", StringType, nullable = false),
      StructField("n_removed", LongType, nullable = false)))
    override def nullSafeEval(t: Any, sp: Any): Any = {
      val b = t.asInstanceOf[UTF8String].toLowerCase.getBytes
      val n = b.length
      val arr = sp.asInstanceOf[ArrayData]
      val m = arr.numElements()
      val ss = new Array[Long](m)
      val es = new Array[Long](m)
      var i = 0
      while (i < m) {
        val r = arr.getStruct(i, 2)
        ss(i) = r.getLong(0); es(i) = r.getLong(1)
        i += 1
      }
      // insertion sort by start; spans are disjoint by construction
      i = 1
      while (i < m) {
        val s0 = ss(i); val e0 = es(i)
        var j = i - 1
        while (j >= 0 && ss(j) > s0) { ss(j + 1) = ss(j); es(j + 1) = es(j); j -= 1 }
        ss(j + 1) = s0; es(j + 1) = e0
        i += 1
      }
      val out = new Array[Byte](n)
      var w = 0 // bytes written
      var tok = 0L // current token index
      var span = 0 // current span pointer
      var removed = 0L
      var emitted = false
      var segStart = 0
      i = 0
      while (i <= n) {
        if (i == n || b(i) == ' ') {
          while (span < m && es(span) < tok) span += 1
          val covered = span < m && ss(span) <= tok && tok <= es(span)
          if (covered) removed += 1
          else {
            if (emitted) { out(w) = ' '; w += 1 }
            var j = segStart
            while (j < i) { out(w) = b(j); w += 1; j += 1 }
            emitted = true
          }
          segStart = i + 1
          tok += 1
        }
        i += 1
      }
      InternalRow(UTF8String.fromBytes(out, 0, w), removed)
    }
    override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
      copy(left = l, right = r)
  }

  /** Single-space token count ≡ `size(split(text, " "))` = spaces + 1,
    * as one UTF-8 byte walk (0x20 never occurs inside a multi-byte
    * sequence, so byte-space count == char-space count). The length-
    * arithmetic form (`length(text) - length(replace(text,' ',''))`)
    * is codegen'd but COPIES the whole string per row just to count —
    * measured 2.6 s vs 1.0 s raw-scan at sf10; this walk adds ~nothing
    * over the scan. Full doGenCode keeps the containing stage fused. */
  case class SpaceTokenCount(child: Expression) extends UnaryExpression {
    override def dataType: DataType = LongType
    override def nullSafeEval(v: Any): Any =
      NativeExpressions.countSpaceTokens(v.asInstanceOf[UTF8String])
    override protected def doGenCode(ctx: codegen.CodegenContext,
                                     ev: codegen.ExprCode): codegen.ExprCode =
      defineCodeGen(ctx, ev, c =>
        s"graft.functions.NativeExpressions.countSpaceTokens($c)")
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /** Static helper for [[SpaceTokenCount]]'s generated code. */
  def countSpaceTokens(s: UTF8String): Long = {
    val nb = s.numBytes()
    var n = 1L
    var i = 0
    while (i < nb) { if (s.getByte(i) == 32) n += 1; i += 1 }
    n
  }

  /** Per-thread memo of token-bytes → classifier score. Word
    * frequencies are Zipfian, so almost every digest after the first
    * few thousand distinct words is a repeat — the memo collapses
    * corpus-scale md5 work (rows × words digests) to vocabulary-scale
    * (distinct words), with identical scores (the cached value IS the
    * md5-derived one). Open addressing, insert-until-70%-full then
    * read-only (Zipf heads are cached long before the table fills);
    * ~a few MB per executor thread at the 64k cap. */
  private final class ClfScoreCache {
    private val cap = 1 << 16
    private val mask = cap - 1
    private val maxFill = cap * 7 / 10
    private val keys = new Array[Array[Byte]](cap)
    private val vals = new Array[Long](cap)
    private var n = 0
    /** Index of the token's slot, or -(insertionPoint)-1 when absent. */
    private def find(b: Array[Byte], start: Int, len: Int): Int = {
      var h = -2128831035 // FNV-1a over the token slice
      var i = start
      while (i < start + len) { h = (h ^ b(i)) * 16777619; i += 1 }
      var idx = (h ^ (h >>> 16)) & mask
      while (true) {
        val k = keys(idx)
        if (k == null) return -idx - 1
        if (k.length == len) {
          var j = 0
          while (j < len && k(j) == b(start + j)) j += 1
          if (j == len) return idx
        }
        idx = (idx + 1) & mask
      }
      0 // unreachable: the table never fills past maxFill < cap
    }
    def getOrCompute(b: Array[Byte], start: Int, len: Int)(compute: => Long): Long = {
      val idx = find(b, start, len)
      if (idx >= 0) return vals(idx)
      val v = compute
      if (n < maxFill) {
        val at = -idx - 1
        keys(at) = java.util.Arrays.copyOfRange(b, start, start + len)
        vals(at) = v
        n += 1
      }
      v
    }
  }
  private val clfCacheLocal = new ThreadLocal[ClfScoreCache] {
    override def initialValue(): ClfScoreCache = new ClfScoreCache
  }

  /** Hashed bag-of-words linear-classifier raw score of the RAW text:
    * Σ over the tokens t of `split(lower(text), " ")` of
    * ((first 24 bits of md5("clf_"+t)) % 2001 − 1000). Lowercases once
    * (`UTF8String.toLowerCase` — the same kernel Spark's `lower()`
    * uses, so semantics are identical), then walks the UTF-8 bytes
    * splitting on single spaces and digests each token slice in place
    * (split keeps empty fields, so does the byte walk), with ZERO
    * per-token allocations — no token array, no UTF-16 round-trip, no
    * "clf_"+t concat string. On a corpus scan this is the difference
    * between an allocation-bound stage and a digest-bound one. */
  case class ClassifierScoreText(child: Expression)
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = LongType
    private val prefix = "clf_".getBytes(StandardCharsets.UTF_8)
    override def nullSafeEval(v: Any): Any = {
      val b = v.asInstanceOf[UTF8String].toLowerCase.getBytes
      val md = md5Local.get()
      val cache = clfCacheLocal.get()
      val d = new Array[Byte](16) // one per ROW, reused across tokens
      var sum = 0L
      var start = 0
      var i = 0
      while (i <= b.length) {
        if (i == b.length || b(i) == ' ') {
          val s = start
          val len = i - s
          sum += cache.getOrCompute(b, s, len) {
            md.reset()
            md.update(prefix)
            md.update(b, s, len)
            md.digest(d, 0, 16)
            (((d(0) & 0xffL) << 16) | ((d(1) & 0xffL) << 8) | (d(2) & 0xffL)) % 2001L - 1000L
          }
          start = i + 1
        }
        i += 1
      }
      sum
    }
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /** Bucketed unigram+bigram hashed features for DSIR: lower the
    * text, split on single spaces, and emit one bucket id per unigram
    * and adjacent bigram — (first 24 bits of md5(gram)) % nBuckets,
    * i.e. exactly `CAST('0x' || substr(md5(g), 1, 6) AS BIGINT) %
    * nBuckets`, the engine-portable hash family the oracles replay.
    * A bigram's bytes are the CONTIGUOUS lowered slice spanning both
    * tokens (the split is single-space and grams re-join with a
    * single space), so unigrams and bigrams share one memoized
    * byte-slice digest cache — word frequencies are Zipfian, so
    * corpus-scale digests collapse to vocabulary-scale (the
    * [[ClassifierScoreText]] lesson). Replaces two interpreted
    * md5→hex→conv chains per gram occurrence. */
  case class DsirGramBuckets(child: Expression, nBuckets: Int)
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    @transient private lazy val cacheLocal = new ThreadLocal[ClfScoreCache] {
      override def initialValue(): ClfScoreCache = new ClfScoreCache
    }
    override def nullSafeEval(v: Any): Any = {
      val b = v.asInstanceOf[UTF8String].toLowerCase.getBytes
      val md = md5Local.get()
      val cache = cacheLocal.get()
      val d = new Array[Byte](16)
      def bucketOf(s: Int, len: Int): Long =
        cache.getOrCompute(b, s, len) {
          md.reset()
          md.update(b, s, len)
          md.digest(d, 0, 16)
          (((d(0) & 0xffL) << 16) | ((d(1) & 0xffL) << 8) | (d(2) & 0xffL)) % nBuckets
        }
      // token boundaries over the single-space split
      var nTok = 1
      var i = 0
      while (i < b.length) { if (b(i) == ' ') nTok += 1; i += 1 }
      val starts = new Array[Int](nTok)
      val ends = new Array[Int](nTok)
      var t = 0
      var start = 0
      i = 0
      while (i <= b.length) {
        if (i == b.length || b(i) == ' ') {
          starts(t) = start; ends(t) = i; t += 1; start = i + 1
        }
        i += 1
      }
      val nGrams = if (nTok >= 2) 2 * nTok - 1 else nTok
      val out = new Array[Long](nGrams)
      t = 0
      while (t < nTok) {
        out(t) = bucketOf(starts(t), ends(t) - starts(t))
        t += 1
      }
      t = 0
      while (t < nTok - 1) {
        out(nTok + t) = bucketOf(starts(t), ends(t + 1) - starts(t))
        t += 1
      }
      new GenericArrayData(out)
    }
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /** Per-term occurrence counts for a FIXED small term set in one
    * byte walk: lower the text, split on single spaces, count tokens
    * byte-equal to each term — exactly
    * `terms.map(t => count of w in split(lower(text), " ") where
    * w = t)`. Feeds BM25 term frequencies without materializing the
    * token array or exploding |tokens| rows through a filter that
    * discards ~all of them (measured: the explode form cost 4.5 s at
    * sf1 against DuckDB's 2.1). Output array<long>, one slot per
    * term, query-sized not corpus-sized. */
  case class TermCounts(child: Expression, terms: Seq[String])
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    @transient private lazy val termBytes: Array[Array[Byte]] =
      terms.map(_.getBytes(StandardCharsets.UTF_8)).toArray
    override def nullSafeEval(v: Any): Any = {
      val b = v.asInstanceOf[UTF8String].toLowerCase.getBytes
      val out = new Array[Long](termBytes.length)
      var start = 0
      var i = 0
      while (i <= b.length) {
        if (i == b.length || b(i) == ' ') {
          val len = i - start
          var t = 0
          while (t < termBytes.length) {
            val tb = termBytes(t)
            if (tb.length == len) {
              var j = 0
              while (j < len && tb(j) == b(start + j)) j += 1
              if (j == len) out(t) += 1
            }
            t += 1
          }
          start = i + 1
        }
        i += 1
      }
      new GenericArrayData(out)
    }
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /** OPEN-vocabulary per-document word counts in one byte walk —
    * exactly the multiset of `split(lower(text), " ")` (empty tokens
    * from doubled/leading/trailing spaces included, matching the SQL
    * form) collapsed to (word, tf) pairs. The [[TermCounts]] lesson
    * applied to the unrestricted case (r6 verdict item 5): the
    * explode+groupBy(doc, word) form shuffles one row per TOKEN and
    * hash-aggregates the whole corpus's token stream; this kernel
    * counts inside the row with an open-addressing slice map over the
    * lowered byte buffer (no per-token string allocation — words
    * materialize once per DISTINCT word on emit), so the first
    * shuffle the plan ever sees is already (doc, distinct-word)
    * sized. Output order is map-slot order — callers must aggregate
    * or sort, never rely on it. */
  case class WordCounts(child: Expression)
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = ArrayType(StructType(Seq(
      StructField("word", StringType, nullable = false),
      StructField("tf", LongType, nullable = false))), containsNull = false)
    override def nullSafeEval(v: Any): Any = {
      val b = v.asInstanceOf[UTF8String].toLowerCase.getBytes
      val n = b.length
      var nTok = 1
      var i = 0
      while (i < n) { if (b(i) == ' ') nTok += 1; i += 1 }
      // open addressing at ≤50% load; capacity a power of two
      val cap = Integer.highestOneBit(math.max(8, nTok * 2) * 2 - 1)
      val mask = cap - 1
      val starts = new Array[Int](cap)
      val lens = new Array[Int](cap)
      val counts = new Array[Long](cap)
      java.util.Arrays.fill(lens, -1)
      var distinct = 0
      var start = 0
      i = 0
      while (i <= n) {
        if (i == n || b(i) == ' ') {
          val len = i - start
          var h = -2128831035 // FNV-1a
          var j = start
          while (j < i) { h = (h ^ b(j)) * 16777619; j += 1 }
          var slot = h & mask
          var placed = false
          while (!placed) {
            if (lens(slot) < 0) {
              starts(slot) = start; lens(slot) = len; counts(slot) = 1L
              distinct += 1; placed = true
            } else if (lens(slot) == len && {
              var j2 = 0
              while (j2 < len && b(starts(slot) + j2) == b(start + j2)) j2 += 1
              j2 == len
            }) { counts(slot) += 1; placed = true }
            else slot = (slot + 1) & mask
          }
          start = i + 1
        }
        i += 1
      }
      val out = new Array[Any](distinct)
      var k = 0
      i = 0
      while (i < cap) {
        if (lens(i) >= 0) {
          out(k) = InternalRow(
            UTF8String.fromBytes(b, starts(i), lens(i)), counts(i))
          k += 1
        }
        i += 1
      }
      new GenericArrayData(out)
    }
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /** Winnowing fingerprint selection (Schleimer, Wilkerson & Aiken,
    * SIGMOD 2003) fused into one byte walk: hash every k-token gram
    * (md5 60-bit family — the fingerprint CHOICE depends on hash
    * VALUES, so the oracle must replay the exact hashes, unlike
    * equality-only shingling), slide a w-hash window, keep each
    * window's MINIMUM, emit the distinct minima. Guarantees any
    * shared token run of length ≥ w+k−1 shares a fingerprint at
    * ~2/(w+1) shingle density (we keep the plain window min — the
    * paper's rightmost-min refinement only thins density and is
    * position-dependent, which an engine-order-free oracle can't
    * replay). A k-gram's bytes are the CONTIGUOUS lowered slice
    * spanning its tokens, so digests memoize on byte slices like
    * [[DsirGramBuckets]]. Docs with fewer than w k-grams emit
    * nothing (callers treat them as unfingerprinted). */
  case class WinnowFingerprints(child: Expression, k: Int, w: Int)
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    @transient private lazy val cacheLocal = new ThreadLocal[ClfScoreCache] {
      override def initialValue(): ClfScoreCache = new ClfScoreCache
    }
    override def nullSafeEval(v: Any): Any = {
      val b = v.asInstanceOf[UTF8String].toLowerCase.getBytes
      val md = md5Local.get()
      val cache = cacheLocal.get()
      // token boundaries
      var nTok = 1
      var i = 0
      while (i < b.length) { if (b(i) == ' ') nTok += 1; i += 1 }
      if (nTok < k + w - 1) return new GenericArrayData(Array.empty[Any])
      val starts = new Array[Int](nTok)
      val ends = new Array[Int](nTok)
      var t = 0; var start = 0; i = 0
      while (i <= b.length) {
        if (i == b.length || b(i) == ' ') {
          starts(t) = start; ends(t) = i; t += 1; start = i + 1
        }
        i += 1
      }
      val nGrams = nTok - k + 1
      val hs = new Array[Long](nGrams)
      val d = new Array[Byte](16)
      i = 0
      while (i < nGrams) {
        val s = starts(i); val e = ends(i + k - 1)
        hs(i) = cache.getOrCompute(b, s, e - s) {
          md.reset(); md.update(b, s, e - s); md.digest(d, 0, 16)
          var x = 0L; var j = 0
          while (j < 7) { x = (x << 8) | (d(j) & 0xffL); j += 1 }
          (x << 4) | ((d(7) >> 4) & 0xfL)
        }
        i += 1
      }
      // sliding window minima, deduplicated (w is small: direct scan)
      val seen = new java.util.HashSet[Long]()
      val out = new scala.collection.mutable.ArrayBuffer[Any]()
      var j = 0
      while (j <= nGrams - w) {
        var m = hs(j); var x = 1
        while (x < w) { if (hs(j + x) < m) m = hs(j + x); x += 1 }
        if (seen.add(m)) out += m
        j += 1
      }
      new GenericArrayData(out.toArray)
    }
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /** MinHash signature straight from tokens: shingling, hashing, and
    * the per-hash minima fused into one loop — no intermediate shingle
    * array, no distinct pass (duplicate shingles can't change minima).
    * useMd5 switches both the shingle hash and the (a, b) hash-family
    * parameters to md5-derived values that the DuckDB oracle reproduces
    * exactly (seed is ignored in that mode — the family is fixed). */
  case class MinHashFromTokens(child: Expression, k: Int, numHashes: Int,
      seed: Long, useMd5: Boolean = false)
      extends UnaryExpression with CodegenFallback {
    private val P = 2147483647L
    @transient private lazy val params: Array[(Long, Long)] =
      if (useMd5)
        Array.tabulate(numHashes)(i =>
          (1L + md5Hex60(s"mh_a_$i") % (P - 1), md5Hex60(s"mh_b_$i") % P))
      else {
        val rnd = new scala.util.Random(seed)
        Array.fill(numHashes)((1L + rnd.nextInt(Int.MaxValue - 1).toLong,
          rnd.nextInt(Int.MaxValue).toLong))
      }
    // The (a·h + b) mod p inner loop runs numHashes × shingles ×
    // corpus times (77 billion ops at sf10) — flatten the param pairs
    // to primitive arrays (a Tuple2 deref per op is a pointer chase in
    // the hottest loop of the dedup family) and replace the 64-bit `%`
    // with the Mersenne fold: p = 2³¹−1, so x mod p folds as
    // (x & p) + (x >>> 31), twice for x < 2⁶². Bit-identical values —
    // the md5-family signatures stay oracle-replicable.
    @transient private lazy val aArr: Array[Long] = params.map(_._1)
    @transient private lazy val bArr: Array[Long] = params.map(_._2)
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullSafeEval(v: Any): Any = {
      val arr = v.asInstanceOf[ArrayData]
      val n = arr.numElements()
      // token byte slices once; shingles assemble into a reusable
      // byte buffer (exact UTF-8 of the joined string — md5/xx values
      // unchanged) instead of a String build per window
      val tokBytes = new Array[Array[Byte]](n)
      var i = 0
      while (i < n) {
        tokBytes(i) =
          if (arr.isNullAt(i)) Array.emptyByteArray
          else arr.getUTF8String(i).getBytes
        i += 1
      }
      val sig = Array.fill(numHashes)(Long.MaxValue)
      var buf = new Array[Byte](64)
      def shingleHash(s: Int, kk: Int): Long = {
        var len = kk - 1
        var j = 0
        while (j < kk) { len += tokBytes(s + j).length; j += 1 }
        if (len > buf.length)
          buf = new Array[Byte](java.lang.Integer.highestOneBit(len * 2 - 1))
        var w = 0
        j = 0
        while (j < kk) {
          if (j > 0) { buf(w) = ' '; w += 1 }
          val t = tokBytes(s + j)
          System.arraycopy(t, 0, buf, w, t.length); w += t.length
          j += 1
        }
        if (useMd5) md5Hex60Slice(buf, w) % P
        else {
          val h0 = xxhash64(UTF8String.fromBytes(buf, 0, w))
          ((h0 % P) + P) % P
        }
      }
      def update(h: Long): Unit = {
        var x = 0
        while (x < numHashes) {
          val prod = aArr(x) * h + bArr(x) // < 2⁶² + 2³¹, no overflow
          var y = (prod & P) + (prod >>> 31)
          y = (y & P) + (y >>> 31)
          if (y >= P) y -= P
          if (y < sig(x)) sig(x) = y
          x += 1
        }
      }
      if (n >= k) {
        var s = 0
        while (s <= n - k) { update(shingleHash(s, k)); s += 1 }
      } else update(shingleHash(0, n))
      new GenericArrayData(sig)
    }
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /** One-permutation MinHash (OPH) with rotation densification —
    * Li, Owen & Zhang, "One Permutation Hashing" (NeurIPS 2012) and
    * Shrivastava & Li's densification (ICML 2014): instead of
    * `numHashes` independent hash functions per shingle (the
    * [[MinHashFromTokens]] kernel, 128 multiply-mods per shingle),
    * each shingle is hashed ONCE; its hash picks a bin
    * (`h % numHashes`) and contributes `h / numHashes` as the value;
    * each bin keeps its minimum. Empty bins densify by borrowing from
    * the nearest non-empty bin to the right (circularly), offset by
    * `distance * 2^53` so different rotation distances never collide
    * (values are < 2^53: both hash families fold to 60 bits and
    * divide by numHashes ≥ 128 — see require below).
    * Estimated Jaccard = component agreement, exactly as with the
    * k-family signature; the estimator stays unbiased and the CPU
    * cost of the dominant dedup kernel drops ~numHashes-fold.
    *
    * useMd5 switches the shingle hash to the md5-derived 60-bit value
    * so the DuckDB oracle reproduces signatures (including the
    * densification arithmetic) bit-for-bit; seed only affects the
    * xxhash family. */
  case class OnePermMinHash(child: Expression, k: Int, numHashes: Int,
      seed: Long, useMd5: Boolean = false)
      extends UnaryExpression with CodegenFallback {
    require(numHashes >= 128, "OPH offset arithmetic needs numHashes >= 128")
    private val Offset = 1L << 53
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullSafeEval(v: Any): Any = {
      val arr = v.asInstanceOf[ArrayData]
      val n = arr.numElements()
      // token byte slices once + reusable shingle byte buffer (exact
      // UTF-8 of the joined string — hash values unchanged); no
      // String build per window (see MinHashFromTokens)
      val tokBytes = new Array[Array[Byte]](n)
      var i = 0
      while (i < n) {
        tokBytes(i) =
          if (arr.isNullAt(i)) Array.emptyByteArray
          else arr.getUTF8String(i).getBytes
        i += 1
      }
      val m = numHashes
      val sig = Array.fill(m)(-1L)
      var buf = new Array[Byte](64)
      def update(s: Int, kk: Int): Unit = {
        var len = kk - 1
        var j = 0
        while (j < kk) { len += tokBytes(s + j).length; j += 1 }
        if (len > buf.length)
          buf = new Array[Byte](java.lang.Integer.highestOneBit(len * 2 - 1))
        var w = 0
        j = 0
        while (j < kk) {
          if (j > 0) { buf(w) = ' '; w += 1 }
          val t = tokBytes(s + j)
          System.arraycopy(t, 0, buf, w, t.length); w += t.length
          j += 1
        }
        // both families fold to 60 bits so value = h / m < 2^53 and
        // the j * 2^53 densification offsets can never collide with it
        val h =
          if (useMd5) md5Hex60Slice(buf, w)
          else (org.apache.spark.sql.catalyst.expressions.XxHash64Function.hash(
            UTF8String.fromBytes(buf, 0, w), StringType, seed) & Long.MaxValue) >>> 3
        val bin = (h % m).toInt
        val value = h / m
        if (sig(bin) < 0 || value < sig(bin)) sig(bin) = value
      }
      if (n >= k) {
        var s = 0
        while (s <= n - k) { update(s, k); s += 1 }
      } else update(0, n)
      // rotation densification: empty bin i borrows from the nearest
      // non-empty bin at (i + j) % m, value offset by j * 2^53
      val dense = new Array[Long](m)
      var b = 0
      while (b < m) {
        if (sig(b) >= 0) dense(b) = sig(b)
        else {
          var j = 1
          while (j < m && sig((b + j) % m) < 0) j += 1
          dense(b) = if (j < m) sig((b + j) % m) + j * Offset else 0L
        }
        b += 1
      }
      new GenericArrayData(dense)
    }
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /** Split a string into per-code-point strings — the BPE initial
    * alphabet. Code points (not UTF-16 units): engines that index
    * strings by character (DuckDB `w[i:i]`, Python) see code points,
    * so surrogate pairs must stay whole for cross-engine equality. */
  case class CodepointSplit(child: Expression)
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    override def nullSafeEval(v: Any): Any = {
      val s = v.asInstanceOf[UTF8String].toString
      val out = new scala.collection.mutable.ArrayBuffer[UTF8String](s.length)
      var i = 0
      while (i < s.length) {
        val cp = s.codePointAt(i)
        val n = Character.charCount(cp)
        out += UTF8String.fromString(s.substring(i, i + n))
        i += n
      }
      new GenericArrayData(out.toArray[Any])
    }
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /** One BPE merge step applied to a symbol array: every left-to-right
    * NON-OVERLAPPING adjacent occurrence of (left, right) becomes the
    * concatenated symbol (greedy from the left — in a run like "aaa"
    * under merge (a,a), the first pair wins and the tail survives,
    * matching the alternate-position-within-run form the SQL oracle
    * computes with windows). */
  case class BpeMergeStep(child: Expression, left: String, right: String)
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    @transient private lazy val merged = left + right
    override def nullSafeEval(v: Any): Any = {
      val arr = v.asInstanceOf[ArrayData]
      val n = arr.numElements()
      val out = new scala.collection.mutable.ArrayBuffer[UTF8String](n)
      var i = 0
      while (i < n) {
        val cur = if (arr.isNullAt(i)) "" else arr.getUTF8String(i).toString
        if (i < n - 1 && cur == left) {
          val nxt = if (arr.isNullAt(i + 1)) "" else arr.getUTF8String(i + 1).toString
          if (nxt == right) {
            out += UTF8String.fromString(merged)
            i += 2
          } else {
            out += UTF8String.fromString(cur)
            i += 1
          }
        } else {
          out += UTF8String.fromString(cur)
          i += 1
        }
      }
      new GenericArrayData(out.toArray[Any])
    }
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /** Fused PQ encode over a packed chunk (same blocked shape as
    * [[NearestCentroidBlock]], which replaced the 158 s interpreted
    * IVF assignment): a CHUNK of vectors against the broadcast packed
    * codeword pool, m subspace argmins per vector in one primitive
    * loop. Per subspace s of width len/m, distance is the LEFT-TO-
    * RIGHT fold of squared component differences (the order engines'
    * list_sum uses, so the DuckDB oracle compares identical doubles);
    * ties break to the smallest code id, order-independently. */
  /** Full element-wise id check for the packed-kernel unpack caches:
    * true iff ids(i) == packed(i).id for every i (lengths already
    * matched by the caller). */
  private def sameIds(ids: Array[Long], a: ArrayData): Boolean = {
    var i = 0
    while (i < ids.length) {
      if (ids(i) != a.getStruct(i, 2).getLong(0)) return false
      i += 1
    }
    true
  }

  case class PqEncodeBlock(cents: Expression, chunk: Expression, m: Int)
      extends BinaryExpression with CodegenFallback {
    override def left: Expression = cents
    override def right: Expression = chunk
    override def dataType: DataType = ArrayType(StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("codes", ArrayType(LongType, containsNull = false),
        nullable = false))), containsNull = false)

    @transient private var ids: Array[Long] = _
    @transient private var vecs: Array[Array[Double]] = _

    private def ensureUnpacked(a: ArrayData): Unit = {
      val n = a.numElements()
      // Cache reuse requires FULL id equality (see NearDupBlock: a
      // first/last guard can falsely match overlapping packed sets).
      if (ids != null && ids.length == n && sameIds(ids, a)) return
      val idA = new Array[Long](n)
      val vA = new Array[Array[Double]](n)
      var i = 0
      while (i < n) {
        val row = a.getStruct(i, 2)
        idA(i) = row.getLong(0)
        vA(i) = row.getArray(1).toDoubleArray()
        i += 1
      }
      ids = idA; vecs = vA
    }

    override def nullSafeEval(centsV: Any, chunkV: Any): Any = {
      ensureUnpacked(centsV.asInstanceOf[ArrayData])
      val probes = chunkV.asInstanceOf[ArrayData]
      val out = new Array[Any](probes.numElements())
      var p = 0
      while (p < probes.numElements()) {
        val probe = probes.getStruct(p, 2)
        val myId = probe.getLong(0)
        val a = probe.getArray(1).toDoubleArray()
        val sub = a.length / m
        val codes = new Array[Long](m)
        var s = 0
        while (s < m) {
          val off = s * sub
          var bestId = Long.MaxValue
          var bestD = Double.PositiveInfinity
          var i = 0
          while (i < ids.length) {
            val b = vecs(i)
            if (b.length >= off + sub) {
              var d = 0.0
              var j = 0
              while (j < sub) {
                val x = a(off + j) - b(off + j)
                d += x * x
                j += 1
              }
              if (d < bestD || (d == bestD && ids(i) < bestId)) {
                bestD = d; bestId = ids(i)
              }
            }
            i += 1
          }
          codes(s) = bestId
          s += 1
        }
        out(p) = InternalRow(myId, new GenericArrayData(codes))
        p += 1
      }
      new GenericArrayData(out)
    }
    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(cents = newLeft, chunk = newRight)
  }

  /** Rolling md5 fingerprint: lexicographic min of md5-hex over every
    * k-char window of the text (same algorithm as the SQL
    * transform+array_min form, one digest loop per row instead of 2M
    * interpreted lambda calls per corpus). */
  case class RollingFingerprint(child: Expression, k: Int)
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = StringType
    override def nullSafeEval(v: Any): Any = {
      val text = v.asInstanceOf[UTF8String].toString
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = "0123456789abcdef"
      var best: String = null
      val n = math.max(text.length - (k - 1), 1)
      var i = 0
      while (i < n) {
        md.reset()
        val window = text.substring(i, math.min(i + k, text.length))
        val digest = md.digest(window.getBytes(StandardCharsets.UTF_8))
        val sb = new java.lang.StringBuilder(32)
        var j = 0
        while (j < 16) {
          sb.append(hex((digest(j) >> 4) & 0xf)); sb.append(hex(digest(j) & 0xf)); j += 1
        }
        val h = sb.toString
        if (best == null || h < best) best = h
        i += 1
      }
      UTF8String.fromString(best)
    }
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /** Per-table hyperplane LSH bucket ids (random-projection LSH for
    * cosine similarity) in ONE pass over the vector: nTables × nPlanes
    * signed projections, each sign contributing one bit of that table's
    * bucket id. Plane weights derive from md5("lsh{seed}_{t}_{p}_{j}")
    * — deterministic with no driver-side randomness to ship, and
    * reproducible in ANY engine with md5, so the DuckDB oracle can
    * replicate the whole pipeline value-for-value. Replaces the old
    * dim×nPlanes×nTables nested-Column construction (~2k expression
    * nodes at 64d; ~33k at 1024d) with a single expression whose
    * analysis cost is O(1) in dim. */
  case class HyperplaneBuckets(child: Expression, dim: Int, nPlanes: Int,
      nTables: Int, seed: Int)
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    @transient private lazy val weights: Array[Array[Double]] = {
      val md = java.security.MessageDigest.getInstance("MD5")
      Array.tabulate(nTables * nPlanes) { tp =>
        val t = tp / nPlanes; val p = tp % nPlanes
        Array.tabulate(dim) { j =>
          md.reset()
          val digest = md.digest(
            s"lsh${seed}_${t}_${p}_${j}".getBytes(StandardCharsets.UTF_8))
          // first 8 hex chars of the digest, folded into [-1.0, 1.0]
          var x = 0L
          var b = 0
          while (b < 4) { x = (x << 8) | (digest(b) & 0xffL); b += 1 }
          (x % 2001 - 1000) / 1000.0
        }
      }
    }
    override def nullSafeEval(v: Any): Any = {
      val a = toDoubles(v.asInstanceOf[ArrayData])
      val n = math.min(a.length, dim)
      val out = new Array[Long](nTables)
      var t = 0
      while (t < nTables) {
        var bucket = 0L
        var p = 0
        while (p < nPlanes) {
          val w = weights(t * nPlanes + p)
          var dot = 0.0; var j = 0
          while (j < n) { dot += w(j) * a(j); j += 1 }
          if (dot >= 0) bucket |= (1L << p)
          p += 1
        }
        out(t) = bucket
        t += 1
      }
      new GenericArrayData(out)
    }
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /** Exact all-pairs near-dup block scan, fused: a CHUNK of probe
    * rows packed as array<struct<id,vec>> against the WHOLE corpus
    * packed the same way (collect_list + a 1-row broadcast); emits
    * every (id_a from the chunk, id_b > id_a from the corpus) with
    * raw cosine ≥ threshold. Chunking matters twice: the fat corpus
    * column crosses the join/projection machinery once per CHUNK
    * (not once per row — 20k × 10 MB row-serializations was the
    * entire runtime of the row-per-pair form at sf1), and the O(n²)
    * loop runs as one primitive dot-product kernel per chunk with
    * the corpus unpacked once per task (ids, primitive vectors,
    * norms cached; value guard re-unpacks if the column ever
    * changes). Values are bit-identical to CosineSimilarity: same
    * sequential dot/norm accumulation, sqrt(na)·sqrt(nb) in the
    * same order. Both the exact all-pairs arm and the LSH path run
    * this kernel — they differ only in which packed sets meet (whole
    * corpus vs per-bucket chunks). */
  case class NearDupBlock(all: Expression, chunk: Expression, threshold: Double)
      extends BinaryExpression with CodegenFallback {
    override def left: Expression = all
    override def right: Expression = chunk
    override def dataType: DataType = ArrayType(StructType(Seq(
      StructField("id_a", LongType, nullable = false),
      StructField("id_b", LongType, nullable = false),
      StructField("cos", DoubleType, nullable = false))), containsNull = false)

    @transient private var ids: Array[Long] = _
    @transient private var vecs: Array[Array[Double]] = _
    @transient private var norms: Array[Double] = _

    private def ensureUnpacked(a: ArrayData): Unit = {
      val n = a.numElements()
      // Cache reuse requires FULL id equality: the LSH usage streams
      // many different packed buckets through one expression instance,
      // and buckets overlap across tables, so a (length, first, last)
      // guard can falsely match two different member sets. A given id
      // carries one vector within a query, so id equality implies
      // vector equality; the O(n) scan is dim·|probe| cheaper than the
      // kernel it guards.
      if (ids != null && ids.length == n && sameIds(ids, a)) return
      val idA = new Array[Long](n)
      val vA = new Array[Array[Double]](n)
      val nA = new Array[Double](n)
      var i = 0
      while (i < n) {
        val row = a.getStruct(i, 2)
        idA(i) = row.getLong(0)
        val v = row.getArray(1).toDoubleArray()
        vA(i) = v
        var s = 0.0; var j = 0
        while (j < v.length) { s += v(j) * v(j); j += 1 }
        nA(i) = math.sqrt(s)
        i += 1
      }
      ids = idA; vecs = vA; norms = nA
    }

    override def nullSafeEval(allV: Any, chunkV: Any): Any = {
      ensureUnpacked(allV.asInstanceOf[ArrayData])
      val probes = chunkV.asInstanceOf[ArrayData]
      val out = scala.collection.mutable.ArrayBuffer.empty[Any]
      var p = 0
      while (p < probes.numElements()) {
        val probe = probes.getStruct(p, 2)
        val myId = probe.getLong(0)
        val a = probe.getArray(1).toDoubleArray()
        var na = 0.0; var j = 0
        while (j < a.length) { na += a(j) * a(j); j += 1 }
        val sna = math.sqrt(na)
        if (sna != 0.0) {
          var i = 0
          while (i < ids.length) {
            // zero-norm partners yield null cosine upstream → never pair
            if (ids(i) > myId && norms(i) != 0.0) {
              val b = vecs(i)
              val n2 = math.min(a.length, b.length)
              var dot = 0.0; var k = 0
              while (k < n2) { dot += a(k) * b(k); k += 1 }
              val cos = dot / (sna * norms(i))
              if (cos >= threshold) out += InternalRow(myId, ids(i), cos)
            }
            i += 1
          }
        }
        p += 1
      }
      new GenericArrayData(out.toArray)
    }
    override protected def withNewChildrenInternal(l: Expression,
        r: Expression): Expression = copy(all = l, chunk = r)
  }

  /** Fused Hamming-verify kernel over two packed fingerprint chunks
    * (plain array<long>, no struct wrapping): emits every (sh_a from
    * probe, sh_b from all, popcount(xor)) with sh_b > sh_a and
    * distance ≤ maxHamming. Same blocked shape as [[NearDupBlock]] —
    * candidate pairs never exist as rows; the occupancy² popcount
    * volume of a band bucket runs as one primitive loop per chunk
    * pair and only verified near-pairs leave the kernel. The `sh_b >
    * sh_a` orientation emits each unordered pair from exactly one of
    * a chunk pair's two join rows (and once within a self-paired
    * chunk). No unpack cache: toLongArray is the whole unpack. */
  case class HammingPairsBlock(all: Expression, probe: Expression, maxHamming: Int)
      extends BinaryExpression with CodegenFallback {
    override def left: Expression = all
    override def right: Expression = probe
    override def dataType: DataType = ArrayType(StructType(Seq(
      StructField("sh_a", LongType, nullable = false),
      StructField("sh_b", LongType, nullable = false),
      StructField("hamming", LongType, nullable = false))), containsNull = false)

    override def nullSafeEval(allV: Any, probeV: Any): Any = {
      val as = allV.asInstanceOf[ArrayData].toLongArray()
      val ps = probeV.asInstanceOf[ArrayData].toLongArray()
      val out = scala.collection.mutable.ArrayBuffer.empty[Any]
      var p = 0
      while (p < ps.length) {
        val shp = ps(p)
        var i = 0
        while (i < as.length) {
          val sha = as(i)
          if (sha > shp) {
            val h = java.lang.Long.bitCount(shp ^ sha)
            if (h <= maxHamming) out += InternalRow(shp, sha, h.toLong)
          }
          i += 1
        }
        p += 1
      }
      new GenericArrayData(out.toArray)
    }
    override protected def withNewChildrenInternal(l: Expression,
        r: Expression): Expression = copy(all = l, probe = r)
  }

  /** Fused IVF coarse-assignment kernel: a CHUNK of probe rows packed
    * as array<struct<id,vec>> against ALL centroids packed the same
    * way (one broadcast row); emits (id, cell of the nearest centroid
    * by cosine, ties → smallest centroid id — the oracle's ORDER BY
    * sim DESC, centroid_id). Replaces the |corpus|×|centroids| scored
    * row intermediate (72M rows at sf3: per-row expression eval, agg
    * machinery, GC) with one primitive dot loop per chunk; centroids
    * unpack once per task. Zero-norm probes emit nothing (their
    * cosine is null upstream and null never wins an assignment);
    * zero-norm centroids never win. Same fp accumulation order as
    * CosineSimilarity, so values match the SQL form bit-for-bit. */
  case class NearestCentroidBlock(cents: Expression, chunk: Expression)
      extends BinaryExpression with CodegenFallback {
    override def left: Expression = cents
    override def right: Expression = chunk
    override def dataType: DataType = ArrayType(StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("cell", LongType, nullable = false))), containsNull = false)

    @transient private var ids: Array[Long] = _
    @transient private var vecs: Array[Array[Double]] = _
    @transient private var norms: Array[Double] = _

    private def ensureUnpacked(a: ArrayData): Unit = {
      val n = a.numElements()
      // Cache reuse requires FULL id equality: the LSH usage streams
      // many different packed buckets through one expression instance,
      // and buckets overlap across tables, so a (length, first, last)
      // guard can falsely match two different member sets. A given id
      // carries one vector within a query, so id equality implies
      // vector equality; the O(n) scan is dim·|probe| cheaper than the
      // kernel it guards.
      if (ids != null && ids.length == n && sameIds(ids, a)) return
      val idA = new Array[Long](n)
      val vA = new Array[Array[Double]](n)
      val nA = new Array[Double](n)
      var i = 0
      while (i < n) {
        val row = a.getStruct(i, 2)
        idA(i) = row.getLong(0)
        val v = row.getArray(1).toDoubleArray()
        vA(i) = v
        var s = 0.0; var j = 0
        while (j < v.length) { s += v(j) * v(j); j += 1 }
        nA(i) = math.sqrt(s)
        i += 1
      }
      ids = idA; vecs = vA; norms = nA
    }

    override def nullSafeEval(centsV: Any, chunkV: Any): Any = {
      ensureUnpacked(centsV.asInstanceOf[ArrayData])
      val probes = chunkV.asInstanceOf[ArrayData]
      val out = scala.collection.mutable.ArrayBuffer.empty[Any]
      var p = 0
      while (p < probes.numElements()) {
        val probe = probes.getStruct(p, 2)
        val myId = probe.getLong(0)
        val a = probe.getArray(1).toDoubleArray()
        var na = 0.0; var j = 0
        while (j < a.length) { na += a(j) * a(j); j += 1 }
        val sna = math.sqrt(na)
        if (sna != 0.0) {
          var bestId = Long.MinValue; var bestSim = Double.NegativeInfinity
          var i = 0
          while (i < ids.length) {
            if (norms(i) != 0.0) {
              val b = vecs(i)
              val n2 = math.min(a.length, b.length)
              var dot = 0.0; var k = 0
              while (k < n2) { dot += a(k) * b(k); k += 1 }
              val cos = dot / (sna * norms(i))
              if (cos > bestSim || (cos == bestSim && ids(i) < bestId)) {
                bestSim = cos; bestId = ids(i)
              }
            }
            i += 1
          }
          if (bestId != Long.MinValue) out += InternalRow(myId, bestId)
        }
        p += 1
      }
      new GenericArrayData(out.toArray)
    }
    override protected def withNewChildrenInternal(l: Expression,
        r: Expression): Expression = copy(cents = l, chunk = r)
  }

  /** Single-pass PII scan: emails + IPv4s counted and redacted in one
    * expression — struct(n_emails, n_ips, redacted). Replaces three
    * chained regexp ops (2× regexp_count + 2-stage regexp_replace)
    * whose java.util.regex backtracking ran 8–9× slower than DuckDB's
    * RE2 on the same patterns; the hand-rolled scanners below
    * reproduce the regexes' leftmost-greedy match semantics exactly
    * (spec'd against regexp_count/regexp_replace on adversarial
    * inputs), so the policy and the oracle stay unchanged:
    *
    *   email = [A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}
    *   ipv4  = \b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b  (ASCII \b)
    *
    * Counts are over the ORIGINAL text; redaction replaces emails
    * first, then IPs in the email-redacted text — the exact semantics
    * of the chained regexp_replace it replaces. */
  case class PiiScan(child: Expression)
      extends UnaryExpression with CodegenFallback {
    import PiiScan._
    override def dataType: DataType = StructType(Seq(
      StructField("n_emails", LongType, nullable = false),
      StructField("n_ips", LongType, nullable = false),
      StructField("redacted", StringType, nullable = false)))
    override def nullSafeEval(v: Any): Any = {
      val s = v.asInstanceOf[UTF8String].toString
      val emailSpans = new java.util.ArrayList[Int]()
      scanEmails(s, emailSpans)
      val nEmails = emailSpans.size / 2
      val nIps = scanIps(s, null)
      val step1 =
        if (nEmails == 0) s else splice(s, emailSpans, "<EMAIL>")
      val ipSpans = new java.util.ArrayList[Int]()
      scanIps(step1, ipSpans)
      val redacted =
        if (ipSpans.isEmpty) step1 else splice(step1, ipSpans, "<IP>")
      InternalRow(nEmails.toLong, nIps.toLong, UTF8String.fromString(redacted))
    }
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
    override def prettyName: String = "pii_scan"
  }

  object PiiScan {
    private def isLetter(c: Char) =
      (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')
    private def isDigit(c: Char) = c >= '0' && c <= '9'
    private def isLocal(c: Char) = isLetter(c) || isDigit(c) ||
      c == '.' || c == '_' || c == '%' || c == '+' || c == '-'
    private def isDomain(c: Char) = isLetter(c) || isDigit(c) ||
      c == '.' || c == '-'
    /** java.util.regex's \b word test is Unicode-aware even without
      * UNICODE_CHARACTER_CLASS (JDK Pattern.Bound: '_' or
      * Character.isLetterOrDigit on the adjacent CODE POINT) — 'é'
      * blocks a boundary. Code-point forms so surrogate pairs test
      * like java, not like their unpaired halves. */
    private def isWordCp(cp: Int) = cp == '_' || Character.isLetterOrDigit(cp)
    private def boundaryBefore(s: String, p: Int) =
      p == 0 || !isWordCp(s.codePointBefore(p))
    private def boundaryAt(s: String, p: Int) =
      p >= s.length || !isWordCp(s.codePointAt(p))

    /** Non-overlapping email matches, leftmost-greedy: for each '@',
      * local part = maximal local-class run ending at it (clamped at
      * the previous match end); domain backtracks from its maximal run
      * to the RIGHTMOST '.' followed by ≥2 letters — exactly the
      * java/RE2 answer for `+` then `\.[A-Za-z]{2,}`. Spans appended
      * as (start, end) int pairs. */
    private[functions] def scanEmails(s: String, spans: java.util.ArrayList[Int]): Unit = {
      var searchPos = 0
      var i = s.indexOf('@')
      while (i >= 0) {
        if (i > searchPos) {
          var ls = i
          while (ls > searchPos && isLocal(s.charAt(ls - 1))) ls -= 1
          if (ls < i) {
            var de = i + 1
            while (de < s.length && isDomain(s.charAt(de))) de += 1
            if (de > i + 1) {
              var q = de - 1
              var matchEnd = -1
              while (q >= i + 2 && matchEnd < 0) {
                if (s.charAt(q) == '.') {
                  var t = q + 1
                  while (t < de && isLetter(s.charAt(t))) t += 1
                  if (t - q - 1 >= 2) matchEnd = t
                }
                if (matchEnd < 0) q -= 1
              }
              if (matchEnd > 0) {
                spans.add(ls); spans.add(matchEnd)
                searchPos = matchEnd
              }
            }
          }
        }
        i = s.indexOf('@', i + 1)
      }
    }

    /** One IPv4 attempt at `start` (a digit preceded by a non-word
      * boundary): four exact 1–3 digit runs dot-separated, then a
      * trailing word boundary. Returns match end or -1 — the regex's
      * backtracking collapses to exactly this test (a 4+ digit run can
      * never split: no boundary inside it). */
    private def tryIp(s: String, start: Int): Int = {
      val n = s.length
      var p = start
      var oct = 0
      while (oct < 4) {
        val runStart = p
        while (p < n && p - runStart < 4 && isDigit(s.charAt(p))) p += 1
        val run = p - runStart
        if (run == 0 || run == 4) return -1
        oct += 1
        if (oct < 4) {
          if (p >= n || s.charAt(p) != '.') return -1
          p += 1
        }
      }
      if (boundaryAt(s, p)) p else -1
    }

    /** Count (and optionally record) non-overlapping IPv4 matches. */
    private[functions] def scanIps(s: String, spans: java.util.ArrayList[Int]): Int = {
      var count = 0
      var p = 0
      val n = s.length
      while (p < n) {
        if (isDigit(s.charAt(p)) && boundaryBefore(s, p)) {
          val end = tryIp(s, p)
          if (end > 0) {
            count += 1
            if (spans != null) { spans.add(p); spans.add(end) }
            p = end
          } else p += 1
        } else p += 1
      }
      count
    }

    /** Replace each (start, end) span with `repl`. */
    private def splice(s: String, spans: java.util.ArrayList[Int], repl: String): String = {
      val sb = new java.lang.StringBuilder(s.length)
      var last = 0
      var k = 0
      while (k < spans.size) {
        sb.append(s, last, spans.get(k)).append(repl)
        last = spans.get(k + 1)
        k += 2
      }
      sb.append(s, last, s.length).toString
    }
  }

  /** Distributed snowflake id (SURVEY §1.3): 41-bit ms timestamp |
    * 10-bit node | 12-bit sequence — time-ordered and unique across
    * runs, unlike monotonically_increasing_id. The partition index is
    * folded into the node id, so executors never collide. Generates
    * real code (the Rand pattern: a mutable generator field seeded in
    * partition init) — this runs on EVERY ingested row, where a
    * CodegenFallback would cut the ingest projection out of
    * whole-stage codegen. */
  case class SnowflakeId(baseNode: Int) extends LeafExpression
      with Nondeterministic {
    override def dataType: DataType = LongType
    override def nullable: Boolean = false
    @transient private var gen: Snowflake = _
    override protected def initializeInternal(partitionIndex: Int): Unit =
      gen = new Snowflake((baseNode + partitionIndex) % 1024)
    override protected def evalInternal(input: InternalRow): Any = gen.next()
    override protected def doGenCode(ctx: codegen.CodegenContext,
                                     ev: codegen.ExprCode): codegen.ExprCode = {
      val cls = classOf[Snowflake].getName
      val term = ctx.addMutableState(cls, "snowflakeGen")
      ctx.addPartitionInitializationStatement(
        s"$term = new $cls((($baseNode + partitionIndex) % 1024));")
      import org.apache.spark.sql.catalyst.expressions.codegen.Block._
      ev.copy(
        code = code"final long ${ev.value} = $term.next();",
        isNull = codegen.FalseLiteral)
    }
    override def prettyName: String = "snowflake_id"
  }

  /** Repetition signals from an array<string> of tokens in ONE pass:
    * struct(n_words, dup_word_frac, top_bigram, top_bigram_n,
    * top_bigram_frac). The HOF formulation
    * (transform(array_distinct(bg), b -> size(filter(bg, …)))) is
    * O(distinct·total) per row AND re-evaluates the whole
    * split+concat chain inside every interpreted lambda call — it ran
    * minutes-per-partition at sf0.1; this is one hash-map loop. Ties
    * on the top bigram break to the lexicographically smallest, same
    * as the oracle's ORDER BY count DESC, gram. */
  case class RepetitionStats(child: Expression)
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = StructType(Seq(
      StructField("n_words", LongType, nullable = false),
      StructField("dup_word_frac", DoubleType, nullable = false),
      StructField("top_bigram", StringType, nullable = true),
      StructField("top_bigram_n", LongType, nullable = true),
      StructField("top_bigram_frac", DoubleType, nullable = true)))
    private def round6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    override def nullSafeEval(v: Any): Any = {
      val arr = v.asInstanceOf[ArrayData]
      val n = arr.numElements()
      val toks = new Array[String](n)
      var i = 0
      while (i < n) {
        toks(i) = if (arr.isNullAt(i)) "" else arr.getUTF8String(i).toString
        i += 1
      }
      val distinct = new java.util.HashSet[String]()
      i = 0
      while (i < n) { distinct.add(toks(i)); i += 1 }
      val dupFrac = if (n == 0) 0.0 else round6(1.0 - distinct.size.toDouble / n)
      if (n < 2)
        InternalRow(n.toLong, dupFrac, null, null, null)
      else {
        val counts = new java.util.HashMap[String, Int]()
        var topGram: String = null
        var topN = 0
        i = 0
        while (i < n - 1) {
          val g = toks(i) + " " + toks(i + 1)
          val c = counts.merge(g, 1, Integer.sum)
          // tie-break in UTF-8 byte order (what both engines' ORDER BY
          // uses), not Java's UTF-16 compareTo
          if (c > topN || (c == topN && UTF8String.fromString(g)
              .compareTo(UTF8String.fromString(topGram)) < 0)) {
            topGram = g; topN = c
          }
          i += 1
        }
        InternalRow(n.toLong, dupFrac, UTF8String.fromString(topGram),
          topN.toLong, round6(topN.toDouble / (n - 1)))
      }
    }
    override def prettyName: String = "repetition_stats"
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /** Bloom-filter membership probe over a pre-built bitset: the
    * broadcast-sketch side of decontamination / blocklist filtering at
    * corpus scale. `child` is the 64-bit key hash (compose with
    * Spark's codegen'd `xxhash64`); the two 32-bit halves drive a
    * Kirsch–Mitzenmacher double-hash probe of `numHashes` bit
    * positions in a power-of-two bitset. The bitset rides the
    * serialized expression into the task binary (Spark broadcasts
    * task binaries once per stage), so a 10M-key filter costs ~15 MB
    * per executor — an order of magnitude under the string set it
    * replaces, and probed without any join build side. Full
    * `doGenCode` so the probe stays inside the scan's whole-stage
    * span. False positives are expected; callers MUST exact-verify
    * survivors (see TextPipeline.contaminationHitsBloom).
    */
  case class BloomMightContain(child: Expression, bits: Array[Long], numHashes: Int)
      extends UnaryExpression {
    require(java.lang.Long.bitCount(bits.length.toLong * 64L) == 1,
      "bloom bitset length must be a power of two")
    override def dataType: DataType = BooleanType
    override def nullSafeEval(v: Any): Any =
      NativeExpressions.bloomContains(bits, numHashes, v.asInstanceOf[Long])
    override protected def doGenCode(ctx: codegen.CodegenContext,
                                     ev: codegen.ExprCode): codegen.ExprCode = {
      val bitsRef = ctx.addReferenceObj("bloomBits", bits, "long[]")
      defineCodeGen(ctx, ev, c =>
        s"graft.functions.NativeExpressions.bloomContains($bitsRef, $numHashes, $c)")
    }
    override def prettyName: String = "bloom_might_contain"
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /** Static probe for [[BloomMightContain]]'s generated code. */
  def bloomContains(bits: Array[Long], numHashes: Int, h: Long): Boolean = {
    val mask = bits.length.toLong * 64L - 1L
    val h1 = h & 0xffffffffL
    val h2 = (h >>> 32) | 1L // odd stride: never a degenerate single-bit probe
    var i = 0
    while (i < numHashes) {
      val pos = ((h1 + i * h2) & mask).toInt
      if ((bits(pos >>> 6) & (1L << (pos & 63))) == 0L) return false
      i += 1
    }
    true
  }

  /** Build-side twin of [[bloomContains]] — same position derivation. */
  def bloomAdd(bits: Array[Long], numHashes: Int, h: Long): Unit = {
    val mask = bits.length.toLong * 64L - 1L
    val h1 = h & 0xffffffffL
    val h2 = (h >>> 32) | 1L
    var i = 0
    while (i < numHashes) {
      val pos = ((h1 + i * h2) & mask).toInt
      bits(pos >>> 6) |= 1L << (pos & 63)
      i += 1
    }
  }

  // ---- Column wrappers --------------------------------------------
  def cosine_sim(a: Column, b: Column): Column =
    ExpressionUtils.column(CosineSimilarity(ExpressionUtils.expression(a), ExpressionUtils.expression(b)))
  def dot_product(a: Column, b: Column): Column =
    ExpressionUtils.column(DotProduct(ExpressionUtils.expression(a), ExpressionUtils.expression(b)))
  def simhash64(tokens: Column, useMd5: Boolean = false): Column =
    ExpressionUtils.column(SimHash64(ExpressionUtils.expression(tokens), useMd5))
  def signature_agreement(a: Column, b: Column): Column =
    ExpressionUtils.column(SignatureAgreement(ExpressionUtils.expression(a), ExpressionUtils.expression(b)))
  def snowflake_id(baseNode: Int = Snowflake.defaultNodeId): Column =
    ExpressionUtils.column(SnowflakeId(baseNode))
  def rolling_fingerprint(text: Column, k: Int = 16): Column =
    ExpressionUtils.column(RollingFingerprint(ExpressionUtils.expression(text), k))
  def word_shingles(tokens: Column, k: Int): Column =
    ExpressionUtils.column(WordShingles(ExpressionUtils.expression(tokens), k))
  def shingle_hashes(text: Column, k: Int): Column =
    ExpressionUtils.column(ShingleHashes(ExpressionUtils.expression(text), k))
  def sorted_intersect_count(a: Column, b: Column): Column =
    ExpressionUtils.column(SortedLongIntersectCount(
      ExpressionUtils.expression(a), ExpressionUtils.expression(b)))
  def token_hashes(text: Column): Column =
    ExpressionUtils.column(TokenHashes(ExpressionUtils.expression(text)))
  def shingle_hashes_all(text: Column, k: Int): Column =
    ExpressionUtils.column(ShingleHashesAll(ExpressionUtils.expression(text), k))
  def repeated_ngram_coverage(text: Column, ns: Seq[Int]): Column =
    ExpressionUtils.column(RepeatedNgramCoverage(ExpressionUtils.expression(text), ns))
  def ttr_stats(text: Column): Column =
    ExpressionUtils.column(TtrStats(ExpressionUtils.expression(text)))
  def remove_token_spans(text: Column, spans: Column): Column =
    ExpressionUtils.column(RemoveTokenSpans(
      ExpressionUtils.expression(text), ExpressionUtils.expression(spans)))
  def bigram_hashes(text: Column): Column =
    ExpressionUtils.column(BigramHashes(ExpressionUtils.expression(text)))
  def space_token_count(text: Column): Column =
    ExpressionUtils.column(SpaceTokenCount(ExpressionUtils.expression(text)))
  def classifier_score_text(text: Column): Column =
    ExpressionUtils.column(ClassifierScoreText(ExpressionUtils.expression(text)))
  def dsir_gram_buckets(text: Column, nBuckets: Int): Column =
    ExpressionUtils.column(DsirGramBuckets(ExpressionUtils.expression(text), nBuckets))
  def term_counts(text: Column, terms: Seq[String]): Column =
    ExpressionUtils.column(TermCounts(ExpressionUtils.expression(text), terms))
  def word_counts(text: Column): Column =
    ExpressionUtils.column(WordCounts(ExpressionUtils.expression(text)))
  def winnow_fingerprints(text: Column, k: Int, w: Int): Column =
    ExpressionUtils.column(WinnowFingerprints(ExpressionUtils.expression(text), k, w))
  def minhash_from_tokens(tokens: Column, k: Int, numHashes: Int, seed: Long = 42L,
      useMd5: Boolean = false): Column =
    ExpressionUtils.column(MinHashFromTokens(ExpressionUtils.expression(tokens), k, numHashes, seed, useMd5))
  def oneperm_minhash(tokens: Column, k: Int, numHashes: Int, seed: Long = 42L,
      useMd5: Boolean = false): Column =
    ExpressionUtils.column(OnePermMinHash(ExpressionUtils.expression(tokens), k, numHashes, seed, useMd5))
  def codepoint_split(s: Column): Column =
    ExpressionUtils.column(CodepointSplit(ExpressionUtils.expression(s)))
  def bpe_merge_step(sym: Column, left: String, right: String): Column =
    ExpressionUtils.column(BpeMergeStep(ExpressionUtils.expression(sym), left, right))
  def hyperplane_buckets(vec: Column, dim: Int, nPlanes: Int, nTables: Int,
      seed: Int = 42): Column =
    ExpressionUtils.column(HyperplaneBuckets(
      ExpressionUtils.expression(vec), dim, nPlanes, nTables, seed))
  def pq_encode_block(cents: Column, chunk: Column, m: Int): Column =
    ExpressionUtils.column(PqEncodeBlock(ExpressionUtils.expression(cents),
      ExpressionUtils.expression(chunk), m))
  def hamming_pairs_block(all: Column, probe: Column, maxHamming: Int): Column =
    ExpressionUtils.column(HammingPairsBlock(ExpressionUtils.expression(all),
      ExpressionUtils.expression(probe), maxHamming))
  def near_dup_block(all: Column, chunk: Column, threshold: Double): Column =
    ExpressionUtils.column(NearDupBlock(ExpressionUtils.expression(all),
      ExpressionUtils.expression(chunk), threshold))
  def nearest_centroid_block(cents: Column, chunk: Column): Column =
    ExpressionUtils.column(NearestCentroidBlock(ExpressionUtils.expression(cents),
      ExpressionUtils.expression(chunk)))
  def pii_scan(text: Column): Column =
    ExpressionUtils.column(PiiScan(ExpressionUtils.expression(text)))
  def repetition_stats(tokens: Column): Column =
    ExpressionUtils.column(RepetitionStats(ExpressionUtils.expression(tokens)))
  def bloom_might_contain(hash: Column, bits: Array[Long], numHashes: Int): Column =
    ExpressionUtils.column(BloomMightContain(ExpressionUtils.expression(hash), bits, numHashes))
}

/** The one list of graft's functions for SQL use (`SELECT
  * cosine_sim(a, b) FROM ...`). Passthrough queries get it through
  * [[GraftExtensions.register]] on the session they plan on. */
object GraftExtensions {
  import org.apache.spark.sql.catalyst.FunctionIdentifier
  import org.apache.spark.sql.catalyst.analysis.FunctionRegistry.FunctionBuilder
  import NativeExpressions._

  private def fn(name: String)(build: FunctionBuilder)
      : (FunctionIdentifier, ExpressionInfo, FunctionBuilder) =
    (FunctionIdentifier(name), new ExpressionInfo("graft", name), build)

  val functions: Seq[(FunctionIdentifier, ExpressionInfo, FunctionBuilder)] = Seq(
    fn("cosine_sim")(es => CosineSimilarity(es.head, es(1))),
    fn("dot_product")(es => DotProduct(es.head, es(1))),
    fn("simhash64")(es => SimHash64(es.head)),
    fn("minhash_signature")(es => MinHashSignature(es.head, 128, 42L)),
    fn("signature_agreement")(es => SignatureAgreement(es.head, es(1))),
    fn("snowflake_id")(_ => SnowflakeId(Snowflake.defaultNodeId)),
    fn("rolling_fingerprint")(es => RollingFingerprint(es.head, 16)),
    fn("word_shingles")(es => WordShingles(es.head, 5)),
    fn("minhash_from_tokens")(es => MinHashFromTokens(es.head, 5, 128, 42L, useMd5 = false)),
    fn("oneperm_minhash")(es => OnePermMinHash(es.head, 5, 128, 42L, useMd5 = false)),
    fn("hyperplane_buckets")(es => HyperplaneBuckets(es.head, 64, 8, 4, 42)),
    fn("pii_scan")(es => PiiScan(es.head)),
    fn("repetition_stats")(es => RepetitionStats(es.head)))

  /** Registers [[functions]] on `spark`'s own function registry; later
    * calls are no-ops. */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    registry.synchronized {
      if (!registry.functionExists(functions.head._1))
        functions.foreach { case (id, info, build) => registry.registerFunction(id, info, build) }
    }
  }
}

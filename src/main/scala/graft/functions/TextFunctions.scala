package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis column functions for training-data pipelines:
  * language ID, quality scoring, token counting, fingerprinting. All
  * row-local expressions (codegen'd, zero shuffles) so they compose
  * freely with any scan at any scale.
  */
object TextFunctions {

  def tokens(text: Column): Column = split(lower(text), "\\s+")

  // ---- token counting ---------------------------------------------

  /** Whitespace token count. */
  def wsTokenCount(text: Column): Column =
    size(split(text, "\\s+")).cast("long")

  /** Single-space token count, ≡ `size(split(text, " "))` (Spark's
    * split keeps all empty fields, so the count is spaces + 1) without
    * materializing the token array: one native UTF-8 byte walk with
    * full codegen ([[NativeExpressions.SpaceTokenCount]]). The earlier
    * length-arithmetic form (`length - length(replace(text,' ','')))`)
    * copied every string per row just to count — the copy was the
    * whole cost of `text_length_histogram` beyond the scan (2.6 s vs
    * 1.0 s raw scan at sf10). */
  def spaceTokenCount(text: Column): Column =
    NativeExpressions.space_token_count(text)

  /** BPE-ish sub-token count: letter runs, digit runs, and individual
    * punctuation each count as one token (regex-segmenter
    * approximation of byte-pair tokenizers). Takes the column NAME
    * (regexp_extract_all has no literal-pattern Scala builder here). */
  def subTokenCountExpr(textCol: String): Column =
    expr(s"size(regexp_extract_all($textCol, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\\\s]', 0))")
      .cast("long")

  // ---- quality scoring --------------------------------------------

  /** Character length, word count, mean word length, alpha ratio,
    * stopword ratio — the standard cheap quality signals. */
  def qualitySignals(text: Column): Seq[(String, Column)] = {
    val toks = tokens(text)
    val nChars = length(text).cast("long")
    val nWords = size(toks).cast("long")
    val meanWordLen = round((nChars - (nWords - 1)).cast("double") / nWords, 4)
    val alphaRatio = round(
      length(regexp_replace(text, "[^A-Za-z]", "")).cast("double") / nChars, 4)
    val stopRatio = round(
      size(filter(toks, t => t.isin(Stopwords.en.toSeq: _*))).cast("double") / nWords, 4)
    Seq("n_chars" -> nChars, "n_words" -> nWords, "mean_word_len" -> meanWordLen,
      "alpha_ratio" -> alphaRatio, "stopword_ratio" -> stopRatio)
  }

  /** The Gopher quality-rule bundle (Rae et al. 2021 §A1.1, as also
    * used by MassiveText/FineWeb-class curation): word-count bounds,
    * mean-word-length bounds, symbol-to-word ratio ('#' and '...'),
    * bullet-start / ellipsis-end line ratios, alpha-word ratio, and
    * the required-stopword check — plus the combined keep verdict.
    * Entirely row-local (one pass over words + one over lines, all
    * codegen'd HOFs): composes with any scan at any scale, zero
    * shuffle. Word convention: single-space split of lowercased text
    * (matches the oracle's `string_split(lower(text), ' ')`).
    */
  def gopherSignals(text: Column): Seq[(String, Column)] = {
    val words = split(lower(text), " ")
    val lines = split(text, "\n")
    val nWords = size(words).cast("long")
    val nLines = size(lines).cast("long")
    val nChars = length(text).cast("long")
    val meanWordLen = round((nChars - (nWords - 1)).cast("double") / nWords, 4)
    val hashCount = (length(text) - length(regexp_replace(text, "#", ""))).cast("long")
    val ellipsisCount = (size(split(text, "\\.\\.\\.")) - 1).cast("long")
    val symbolRatio = round((hashCount + ellipsisCount).cast("double") / nWords, 4)
    val bulletRatio = round(size(filter(lines, l =>
      l.startsWith("- ") || l.startsWith("* ") || l.startsWith("• ")))
      .cast("double") / nLines, 4)
    val ellipsisLineRatio = round(size(filter(lines, l => l.endsWith("...")))
      .cast("double") / nLines, 4)
    val alphaWordRatio = round(size(filter(words, w => w.rlike("[a-z]")))
      .cast("double") / nWords, 4)
    val stopHits = size(array_intersect(array_distinct(words),
      array(Stopwords.gopherRequired.map(lit): _*))).cast("long")
    val keep = nWords.between(50L, 100000L) &&
      meanWordLen.between(3.0, 10.0) &&
      symbolRatio < 0.1 && bulletRatio < 0.9 &&
      ellipsisLineRatio < 0.3 && alphaWordRatio > 0.8 &&
      stopHits >= 2L
    Seq("n_words" -> nWords, "mean_word_len" -> meanWordLen,
      "symbol_ratio" -> symbolRatio, "bullet_line_ratio" -> bulletRatio,
      "ellipsis_line_ratio" -> ellipsisLineRatio,
      "alpha_word_ratio" -> alphaWordRatio, "stop_hits" -> stopHits,
      "keep" -> keep)
  }

  // ---- language id ------------------------------------------------

  /** Stopword-profile language ID over en/de/es/fr/it: the language
    * whose stopword set intersects the token set most wins; ties and
    * zero evidence fall back to 'und'. N-gram profiles would refine
    * this; the operator shape (argmax over per-language row-local
    * scores) is the same. */
  def langId(text: Column): Column = {
    val toks = array_distinct(tokens(text))
    val scores = Stopwords.profiles.map { case (lang, words) =>
      lang -> size(array_intersect(toks, array(words.map(lit).toSeq: _*)))
    }
    val best = greatest(scores.map(_._2).toSeq: _*)
    scores.foldLeft(when(best <= 0, "und")) { case (acc, (lang, score)) =>
      acc.when(score === best, lang)
    }.otherwise("und")
  }

  // ---- fingerprinting ---------------------------------------------

  /** Document fingerprint: lexicographic min of md5 over all k-char
    * shingles (winnowing-style rolling fingerprint, k=16). Row-local;
    * near-copies that share any 16-char run can collide on it. Takes
    * the column NAME (substring with a lambda-var start position is
    * only reachable through SQL text). */
  def fingerprintExpr(textCol: String, k: Int = 16): Column =
    NativeExpressions.rolling_fingerprint(col(textCol), k)

  // ---- dataset splitting ------------------------------------------

  /** Deterministic train/val/test assignment from a stable id hash:
    * bucket = first 24 bits of md5(id) mod 100. Engine- and
    * run-independent (same doc lands in the same split everywhere),
    * which is what training pipelines need for leak-free splits. */
  def splitBucket(id: Column): Column =
    conv(substring(md5(id.cast("string")), 1, 6), 16, 10).cast("long") % 100

  def datasetSplit(id: Column, trainPct: Int = 80, valPct: Int = 10): Column = {
    val b = splitBucket(id)
    when(b < trainPct, "train")
      .when(b < trainPct + valPct, "val")
      .otherwise("test")
  }

  /** PII scrubbing — the redaction pass every public training corpus
    * runs (emails, IPv4s). The policy is DEFINED by two regexes in the
    * RE2 ∩ java.util.regex dialect (no lookaround, no backrefs) so any
    * engine can apply it identically — the DuckDB oracle does; the
    * EXECUTION is a single-pass native scanner
    * ([[NativeExpressions.PiiScan]]) that computes both counts and the
    * two-stage redaction in one expression (the chained
    * regexp_count/regexp_replace plan ran 8–9× slower than RE2 on
    * java.util.regex backtracking; spec'd equal to it). */
  val emailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val ipv4Pattern = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"

  /** struct(n_emails, n_ips, redacted) in one pass — project once,
    * select fields. */
  def piiScan(text: Column): Column = NativeExpressions.pii_scan(text)

  /** Deterministic stratified sampling: keep a row iff its md5-derived
    * per-mille bucket falls under its stratum's rate. Unlike
    * `df.stat.sampleBy` (seeded RNG, engine-specific), the hash makes
    * the SAMPLE itself reproducible anywhere md5 exists — the DuckDB
    * oracle draws the identical rows — and it is embarrassingly
    * parallel: a pure per-row filter, no shuffle, pushed into the
    * scan stage. Classic pipeline use: downsample the dominant
    * language/source while keeping the tail intact. */
  def stratifiedSampleKeep(id: Column, stratum: Column,
                           ratesPerMille: Map[String, Int],
                           defaultPerMille: Int): Column = {
    val bucket =
      conv(substring(md5(id.cast("string")), 1, 6), 16, 10).cast("long") % 1000
    val rate = ratesPerMille.foldLeft(lit(defaultPerMille)) {
      case (acc, (k, v)) => when(stratum === k, lit(v)).otherwise(acc)
    }
    bucket < rate
  }
}

/** Minimal public stopword profiles (top function words per language). */
object Stopwords {
  val en: Set[String] = Set("the", "a", "an", "of", "and", "to", "in", "is",
    "it", "that", "for", "on", "with", "as", "was", "at", "by", "be", "this", "are")
  /** The Gopher rule's required-stopword list (≥2 must appear). */
  val gopherRequired: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")
  val de: Set[String] = Set("der", "die", "das", "und", "ist", "ich", "nicht",
    "mit", "ein", "eine", "zu", "den", "von", "im", "auf", "für", "dem", "sich", "auch", "es")
  val es: Set[String] = Set("el", "la", "de", "que", "y", "en", "un", "una",
    "es", "no", "los", "las", "por", "con", "para", "su", "al", "lo", "como", "más")
  val fr: Set[String] = Set("le", "la", "les", "de", "et", "un", "une", "est",
    "en", "que", "qui", "dans", "pour", "pas", "sur", "au", "avec", "ne", "ce", "il")
  val it: Set[String] = Set("il", "la", "di", "che", "e", "un", "una", "è",
    "in", "per", "non", "con", "del", "della", "si", "da", "al", "le", "dei", "come")

  val profiles: Seq[(String, Set[String])] =
    Seq("en" -> en, "de" -> de, "es" -> es, "fr" -> fr, "it" -> it)
}

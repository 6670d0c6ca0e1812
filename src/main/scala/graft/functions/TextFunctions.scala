package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis column functions for training-data pipelines: normalization,
  * token statistics, quality scoring, language-ID heuristic, fingerprints.
  *
  * Everything is a codegen'd built-in expression or higher-order array
  * function — no UDFs, so whole-stage codegen spans stay wide and the
  * operators run at scan speed on 100 TB. Regex patterns are restricted to
  * the Java∩RE2 common dialect so the DuckDB oracle evaluates identically.
  */
object TextFunctions {

  /** Language stopword profiles for the n-gram/stopword language heuristic.
    * Deterministic argmax with ties broken by profile order; all-zero scores
    * fall through to "und" (undetermined).
    */
  val langProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "and", "of", "to", "in", "is"),
    "es" -> Seq("el", "la", "los", "de", "en", "y", "que"),
    "fr" -> Seq("le", "les", "et", "des", "du", "un", "une"),
    "de" -> Seq("der", "die", "das", "und", "ein", "mit", "von"),
    "zh" -> Seq("de", "shi", "bu", "le", "ren", "wo", "zai"))

  val defaultStopwords: Seq[String] =
    Seq("the", "a", "an", "and", "of", "to", "in", "is", "it", "that")

  /** lower → strip non-alphanumerics → collapse runs of spaces → trim. */
  def normalize(c: Column): Column =
    trim(regexp_replace(regexp_replace(lower(c), "[^a-z0-9 ]", ""), " +", " "))

  /** Unicode-aware normalize: NFKC compose, Locale.ROOT lower, keep
    * letters/numbers/space (`\p{L}\p{N}` — any script), squeeze, trim.
    * Backed by the native
    * [[org.apache.spark.sql.graftx.UnicodeNormalizeText]] (Spark has no
    * built-in Unicode normalization form, so this cannot be a Column-DSL
    * chain). The ASCII [[normalize]] maps CJK/Cyrillic/accented text to ""
    * — use this form for any multilingual corpus.
    */
  def normalizeUnicode(c: Column): Column =
    org.apache.spark.sql.graftx.VectorExpressions.normalizeUnicode(c)

  /** Whitespace tokens of the normalized text; empty text → empty array
    * (split of "" would yield [""]).
    */
  def tokens(c: Column): Column = {
    val n = normalize(c)
    when(length(n) === 0, array().cast("array<string>")).otherwise(split(n, " "))
  }

  /** Whitespace tokens of the Unicode-normalized text. */
  def tokensUnicode(c: Column): Column = {
    val n = normalizeUnicode(c)
    when(length(n) === 0, array().cast("array<string>")).otherwise(split(n, " "))
  }

  def wsTokenCountUnicode(c: Column): Column =
    size(tokensUnicode(c))

  def wsTokenCount(c: Column): Column = size(tokens(c))

  /** BPE-ish token count: alphanumeric runs or single non-space symbols —
    * the pre-tokenization regex shape used by byte-pair encoders.
    */
  val bpePattern = "[A-Za-z0-9]+|[^A-Za-z0-9\\s]"
  def bpeTokenCount(c: Column): Column = regexp_count(c, lit(bpePattern))

  /** Count of punctuation/symbol characters (non-alphanumeric, non-space). */
  def punctCount(c: Column): Column =
    length(c) - length(regexp_replace(c, "[^a-zA-Z0-9\\s]", ""))

  /** Tokens matching a stopword list. */
  def stopwordCount(c: Column, words: Seq[String] = defaultStopwords): Column =
    size(filter(tokens(c), t => t.isin(words.map(lit): _*)))

  /** Mean normalized-token length; 0.0 for empty text. Integer sum and count
    * divided as doubles — bit-identical in any IEEE engine.
    */
  def avgTokenLen(c: Column): Column = {
    val t = tokens(c)
    val sumLen = aggregate(t, lit(0), (acc, x) => acc + length(x))
    sumLen.cast("double") / greatest(size(t), lit(1)).cast("double")
  }

  /** Composite quality score in [0,1]: length saturation, low punctuation,
    * stopword presence, and word-length plausibility, equally weighted.
    * Pure IEEE arithmetic over exact integer inputs — deterministic.
    */
  def qualityScore(c: Column): Column = {
    val tok = wsTokenCount(c).cast("double")
    val punctRatio = punctCount(c).cast("double") /
      greatest(length(c), lit(1)).cast("double")
    val stopRatio = stopwordCount(c).cast("double") * lit(10.0) /
      greatest(wsTokenCount(c), lit(1)).cast("double")
    val lenTerm = lit(1.0) - least(lit(1.0),
      abs(avgTokenLen(c) - lit(5.0)) / lit(5.0))
    lit(0.25) * least(lit(1.0), tok / lit(50.0)) +
      lit(0.25) * (lit(1.0) - least(lit(1.0), punctRatio)) +
      lit(0.25) * least(lit(1.0), stopRatio) +
      lit(0.25) * lenTerm
  }

  /** Per-language stopword-hit score. */
  def langScore(c: Column, lang: String): Column = {
    val words = langProfiles.toMap.apply(lang)
    size(filter(tokens(c), t => t.isin(words.map(lit): _*)))
  }

  /** Heuristic language guess: argmax of profile scores, ties to the earlier
    * profile, all-zero → "und".
    */
  def langGuess(c: Column): Column = {
    val scores = langProfiles.map { case (l, _) => l -> langScore(c, l) }
    val maxScore = greatest(scores.map(_._2): _*)
    scores.foldRight(lit("und"): Column) { case ((l, s), acc) =>
      when(maxScore > 0 && s === maxScore, l).otherwise(acc)
    }
  }

  /** Content fingerprint: md5 of the normalized text — the exact-dedup key
    * that survives whitespace/punctuation/case jitter.
    */
  def fingerprintMd5(c: Column): Column = md5(normalize(c))

  /** Unicode-aware content fingerprint: md5 of the Unicode-normalized text
    * (UTF-8 bytes — identical hex in any engine). On text free of
    * compatibility characters it mirrors DuckDB's
    * `md5(nfc_normalize`-chain`)`; NFKC also folds ligatures/full-width
    * forms (a better dedup key, spec-locked engine-side).
    */
  def fingerprintMd5Unicode(c: Column): Column =
    md5(normalizeUnicode(c))

  /** 64-bit rolling hash over normalized tokens: chained
    * `acc ← xxhash64(acc, token)` — an order-sensitive document fingerprint
    * (same tokens reordered → different fingerprint, unlike a set hash).
    * Hash-chaining instead of polynomial `acc*31 + h`: multiplicative
    * accumulation overflows Long, which throws under ANSI mode.
    * Backed by the native [[org.apache.spark.sql.graftx.RollingFingerprint]];
    * [[rollingFingerprintHof]] is the bit-identical built-in reference.
    */
  def rollingFingerprint(c: Column): Column =
    org.apache.spark.sql.graftx.VectorExpressions.rollingFp(c)

  /** HOF reference formulation of [[rollingFingerprint]] — bit-identical,
    * kept for cross-checking the native expression (and surfaced at the
    * driver gate by the `t_rolling_fp_check` query).
    */
  def rollingFingerprintHof(c: Column): Column =
    aggregate(tokens(c), lit(0L), (acc, t) => xxhash64(acc, t))
}

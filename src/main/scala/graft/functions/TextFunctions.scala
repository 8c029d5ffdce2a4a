package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis column builders (BASELINE.json north-star: language
  * ID, quality scoring, token counting, fingerprinting over the
  * `documents` table). Everything is built from codegen'd built-ins —
  * no UDFs — so the expressions stay inside whole-stage codegen and
  * push down column pruning to the scan.
  *
  * Every formula is rational arithmetic over counts (no libm), so the
  * DuckDB oracle reproduces results bit-exactly.
  */
object TextFunctions {

  /** Lowercased whitespace tokens, empties removed.
    *
    * Codegen note: the obvious `filter(split(...), _ =!= "")` uses a
    * higher-order function (CodegenFallback) in every text hot path.
    * After `trim`, `split('\s+')` cannot produce empty tokens (empties
    * only arise at the leading boundary; Spark drops trailing ones),
    * so the equivalent below stays fully codegen'd. The only edge is
    * the all-whitespace/empty document, handled explicitly.
    */
  def tokens(text: Column): Column = {
    // regexp trim, not trim(): the builtin strips spaces only, while
    // the \s+ tokenizer must also ignore leading/trailing \t\n
    val t = regexp_replace(lower(text), "^\\s+|\\s+$", "")
    when(length(t) === 0, array().cast("array<string>"))
      .otherwise(split(t, "\\s+"))
  }

  def tokenCount(text: Column): Column = size(tokens(text))

  /** BPE-ish token count: runs of letters, runs of digits, or single
    * non-alphanumeric symbols — the usual pre-tokenizer regex shape.
    */
  val bpeIshPattern = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]"
  def bpeTokenCount(text: Column): Column = regexp_count(text, lit(bpeIshPattern))

  def punctCount(text: Column): Column = regexp_count(text, lit("[^a-zA-Z0-9\\s]"))

  /** Occurrence count of tokens found in `words`. */
  def stopwordHits(text: Column, words: Seq[String]): Column =
    size(filter(tokens(text), t => array_contains(lit(words.toArray), t)))

  /** Tiny per-language stopword lists for the n-gram-free heuristic
    * language ID. Order matters: ties resolve to the earlier entry.
    */
  val langStopwords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "a", "in", "is", "it", "that", "for"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "un", "es", "no", "por"),
    "fr" -> Seq("le", "la", "de", "et", "un", "en", "que", "il", "pour", "au"),
    "de" -> Seq("der", "die", "das", "und", "ist", "ich", "nicht", "ein", "zu", "es"),
  )

  /** Heuristic language ID: argmax of stopword-hit counts with a
    * deterministic priority-order tiebreak; no hits at all → "und".
    */
  def langId(text: Column): Column = {
    val scores = langStopwords.map { case (lang, words) =>
      lang -> stopwordHits(text, words)
    }
    val anyHit = scores.map(_._2).reduce(_ + _) > 0
    val best = scores.tail.foldLeft(when(lit(true), scores.head._1)) {
      case (acc, (lang, score)) =>
        // lang wins only if strictly greater than every earlier score
        val earlier = scores.takeWhile(_._1 != lang).map(_._2)
        when(earlier.map(score > _).reduce(_ && _), lang).otherwise(acc)
    }
    when(anyHit, best).otherwise(lit("und"))
  }

  /** Composite quality score in [0,1]: length saturation, punctuation
    * penalty, stopword density — rational arithmetic only.
    */
  def qualityScore(text: Column): Column = {
    val n = tokenCount(text).cast("double")
    val punct = punctCount(text).cast("double")
    val stops = stopwordHits(text, langStopwords.head._2).cast("double")
    round(
      lit(0.4) * least(lit(1.0), n / 50.0) +
      lit(0.3) * (lit(1.0) - least(lit(1.0), punct / greatest(n, lit(1.0)))) +
      lit(0.3) * least(lit(1.0), lit(5.0) * stops / greatest(n, lit(1.0))), 6)
  }

  /** Whitespace-normalized exact-content fingerprint. */
  def contentFingerprint(text: Column): Column =
    md5(regexp_replace(trim(lower(text)), "\\s+", " "))

  /** Order-insensitive bag-of-words fingerprint: catches shuffled
    * near-duplicates that byte-level hashing misses.
    */
  def bagFingerprint(text: Column): Column =
    md5(concat_ws(" ", array_sort(array_distinct(tokens(text)))))

  /** Order-SENSITIVE rolling-hash fingerprint (Rabin-Karp shape) over
    * the token stream: h = (h*131 + tokenCode) mod 1e9+7, where
    * tokenCode folds length and first codepoint. Kept in modular
    * arithmetic so both engines stay inside exact BIGINT range
    * (DuckDB errors on 64-bit overflow where the JVM wraps).
    * This HOF form is CodegenFallback; q24 runs the fused codegen'd
    * [[graft.functions.RollingHash]] Expression, asserted bit-equal
    * to this form in PipelineSpec.
    */
  def rollingFingerprintHof(text: Column): Column =
    aggregate(tokens(text), lit(0L), (h, t) =>
      (h * 131L + (length(t).cast("long") * 31L +
        coalesce(ascii(substring(t, 1, 1)).cast("long"), lit(0L)))) % 1000000007L)

  /** Fused codegen'd form of [[rollingFingerprintHof]]. */
  def rollingFingerprint(text: Column): Column =
    graft.functions.RollingHash.rollingHash(tokens(text))
}

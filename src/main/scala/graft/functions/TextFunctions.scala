package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, DoubleType}

/** Text-analysis scalar functions for large-scale training-data
  * pipelines, all as pure Catalyst column expressions (codegen'd, no
  * UDFs): tokenization, shingling, language-ID scoring, quality
  * metrics, fingerprinting. Everything here is deterministic and
  * mirror-expressible in ANSI SQL, which is how the DuckDB oracle
  * validates it.
  */
object TextFunctions {

  /** Whitespace tokenization (single-space convention of the corpus). */
  def tokens(text: Column): Column = split(text, " ")

  def tokenCount(text: Column): Column = size(tokens(text))

  def distinctTokenCount(text: Column): Column = size(array_distinct(tokens(text)))

  /** Word n-gram shingles from a pre-materialized token-array column:
    * `["a b c", "b c d", ...]`; empty when the document has fewer than
    * `n` tokens. `toks` must be a bound column (project `tokens(text)`
    * first): inlining `split` here would re-evaluate it for every
    * shingle index inside the higher-order lambda — O(tokens²) per
    * document.
    */
  def shinglesFromTokens(toks: Column, n: Int = 3): Column = {
    val cnt = size(toks)
    when(cnt >= n,
      transform(sequence(lit(1), cnt - (n - 1)),
        i => concat_ws(" ", (0 until n).map(o => element_at(toks, i + o)): _*)))
      .otherwise(array().cast("array<string>"))
  }

  /** Word n-gram shingles straight from text — convenience for tiny
    * inputs; hot paths should project the token array and use
    * [[shinglesFromTokens]].
    */
  def wordShingles(text: Column, n: Int = 3): Column =
    shinglesFromTokens(tokens(text), n)

  /** Character n-grams (with duplicates); 1-based substring, so it
    * mirrors `substr(text, i, n)` in SQL exactly.
    */
  def charNgrams(text: Column, n: Int = 3): Column =
    when(length(text) >= n,
      transform(sequence(lit(1), length(text) - (n - 1)),
        i => text.substr(i, lit(n))))
      .otherwise(array().cast("array<string>"))

  /** Count of tokens that appear in a fixed stopword list. */
  def stopwordHits(text: Column, stopwords: Seq[String]): Column =
    size(filter(tokens(text), t => t.isInCollection(stopwords)))

  /** Tiny per-language stopword lists for the n-gram-heuristic
    * language scorer. Order = tiebreak priority.
    */
  val langStopwords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "on", "for", "with"),
    "es" -> Seq("el", "la", "de", "y", "que", "en", "un", "una", "es", "por"),
    "de" -> Seq("der", "die", "das", "und", "ist", "ein", "eine", "mit", "von", "zu"),
    "fr" -> Seq("le", "les", "et", "une", "est", "dans", "pour", "sur", "au", "ce"))

  /** Mean token length over single-space-joined text, exact-integer
    * numerator with one final double division (oracle-stable).
    */
  def avgTokenLen(text: Column): Column = {
    val n = tokenCount(text)
    (length(text) - (n - 1)).cast(DoubleType) / n
  }

  /** Simple [0,1] quality score: saturating length component ×
    * distinct-token ratio. Two divisions + one multiply in a fixed
    * order — deterministic across engines.
    */
  def qualityScore(text: Column): Column = {
    val n = tokenCount(text)
    (least(n, lit(100)).cast(DoubleType) / 100) *
      (distinctTokenCount(text).cast(DoubleType) / n)
  }

  /** Content fingerprint: md5 of the raw text bytes (UTF-8). */
  def fingerprint(text: Column): Column = md5(text.cast(BinaryType))
}

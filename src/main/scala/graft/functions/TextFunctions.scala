package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Column-level text-analysis building blocks for large-scale training-data
  * pipelines: tokenization, n-gram shingles, language-ID scoring, quality
  * metrics, token counting, and document fingerprinting.
  *
  * Everything here is composed from Catalyst built-ins (split / filter /
  * transform / aggregate higher-order functions) — codegen-friendly pure
  * projections, no UDFs, no shuffle: they scale to 100 TB by construction
  * and each has an exactly-mirrorable DuckDB oracle expression.
  */
object TextFunctions {

  /** Whitespace tokens, lowercased, empties removed. */
  def tokens(text: Column): Column =
    filter(split(lower(text), " "), t => t =!= "")

  /** DuckDB twin of [[tokens]] over a `text` column, for oracle SQL. */
  val tokensSql = "list_filter(string_split(lower(text), ' '), x -> x != '')"

  /** Distinct token set (for Jaccard / set-overlap work). */
  def tokenSet(text: Column): Column = array_distinct(tokens(text))

  /** Word n-gram shingles: array of space-joined n-grams. */
  def shingles(text: Column, n: Int): Column = {
    val toks = tokens(text)
    filter(
      transform(sequence(lit(0), greatest(size(toks) - n, lit(0))),
        i => array_join(slice(toks, i + 1, lit(n)), " ")),
      s => s =!= "")
  }

  /** Per-language marker-word sets for the heuristic language ID. Tiny on
    * purpose: broadcastable as literals straight into the plan. */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "is", "and", "of", "to"),
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "es" -> Seq("el", "la", "los", "es", "y"),
    "fr" -> Seq("le", "la", "les", "est", "et"),
    "zh" -> Seq("de5", "shi4", "le5"))

  /** Marker-overlap score for one language. */
  def langScore(text: Column, markers: Seq[String]): Column =
    size(array_intersect(tokenSet(text), array(markers.map(lit): _*)))

  /** Heuristic language ID: argmax marker overlap, first-listed language
    * wins ties, "und" (undetermined) when nothing matches. */
  def langId(text: Column): Column = {
    val scores = langMarkers.map { case (l, m) => (l, langScore(text, m)) }
    val best = scores.map(_._2).reduce((a, b) => greatest(a, b))
    scores.foldRight(lit("und"): Column) { case ((l, s), acc) =>
      when(s === best && best > 0, lit(l)).otherwise(acc)
    }
  }

  /** Whitespace token count. */
  def tokenCount(text: Column): Column = size(tokens(text))

  /** BPE-ish token count: letter runs, digit runs, and single punctuation
    * marks each count as one token (a cheap proxy for subword counts). */
  def bpeishTokenCount(text: Column): Column =
    size(regexp_extract_all(lower(text), lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"),
      lit(0)))

  /** Punctuation/symbol count (anything outside [a-z0-9 ] after lowering). */
  def punctCount(text: Column): Column =
    size(regexp_extract_all(lower(text), lit("[^a-z0-9 ]"), lit(0)))

  private val stopwords =
    Seq("the", "a", "is", "and", "of", "to", "in", "that", "it")

  /** Unrounded stopword fraction (internal: feeding a rounded value into
    * downstream arithmetic manufactures exact round-half boundaries that
    * engines break differently). private[graft] so the rater/feature
    * queries (q_kappa, q_mcnemar, q_logreg) share THIS definition instead
    * of drift-prone copies of the stop list. */
  private[graft] def rawStopwordRatio(text: Column): Column = {
    val stops = array(stopwords.map(lit): _*)
    size(filter(tokens(text), t => array_contains(stops, t)))
      .cast("double") / greatest(tokenCount(text), lit(1))
  }

  /** Fraction of tokens that are stopwords (rounded for oracle parity). */
  def stopwordRatio(text: Column): Column = round(rawStopwordRatio(text), 6)

  /** Mean token length. */
  def avgTokenLen(text: Column): Column =
    round(length(regexp_replace(text, " ", "")).cast("double")
      / greatest(tokenCount(text), lit(1)), 6)

  /** Composite document-quality score in [0,1]-ish range: rewards
    * mid-length tokens and some stopword presence, penalizes punctuation
    * soup — the standard cheap pre-filter before expensive dedup/embedding
    * stages in a training-data pipeline. */
  def qualityScore(text: Column): Column = round(
    lit(0.5) * least(tokenCount(text).cast("double") / 20.0, lit(1.0))
      + lit(0.3) * least(rawStopwordRatio(text) * 5.0, lit(1.0))
      + lit(0.2) * (lit(1.0) - least(punctCount(text).cast("double")
        / greatest(length(text), lit(1)), lit(1.0))), 6)

  /** Polynomial rolling-hash fingerprint over characters:
    * h = fold(h * 31 + codepoint) mod 1e9+7. Order-sensitive (a true
    * content fingerprint), engine-portable, and O(len) per row. */
  def fingerprint(text: Column): Column =
    aggregate(split(text, ""), lit(0L),
      (acc, ch) => (acc * 31 + ascii(ch)) % 1000000007L)
}

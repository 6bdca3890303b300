package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis building blocks for the training-data pipeline surface
  * (SURVEY §7.6): tokenization, shingling, a deterministic polynomial
  * string hash, language-ID heuristics, quality components, and document
  * fingerprints.
  *
  * Everything here is built from codegen'd higher-order functions
  * (transform/aggregate/zip_with) — no UDFs — so the hot path stays
  * inside whole-stage codegen and scales linearly with input bytes.
  *
  * Each primitive has an exact DuckDB-SQL twin in
  * [[graft.queries.AnalyticsQueries.Sql]]; determinism across engines is
  * part of the contract (same fold order, same integer arithmetic).
  */
object TextFunctions {

  /** Modulus for the polynomial hash (fits 31·p + maxCodepoint in a
    * long with lots of headroom). */
  val HashP = 1000000007L

  /** Whitespace tokens of trimmed text (mirrors
    * `string_split_regex(trim(s), '\s+')`). */
  def words(text: Column): Column = split(trim(text), "\\s+")

  /** Polynomial rolling hash over code points:
    * fold(h = (31·h + code) mod p), h0 = 0. Backed by the native
    * codegen'd [[graft.expressions.PolyHash]] expression — the HOF
    * formulation (split per char + aggregate) measured ~60× slower
    * once projection collapsing re-inlined it into lambda bodies. */
  def polyHash(s: Column): Column = graft.expressions.PolyHash(s)

  /** Distinct n-word shingles at positions 1..len-n (joined by a single
    * space). Matches the oracle's `range(1, len-(n-1))` enumeration. */
  def wordShingles(text: Column, n: Int): Column =
    array_distinct(wordShinglesAll(text, n))

  def tokenCount(text: Column): Column = size(words(text))

  /** Marker-word tables for the language-ID heuristic. */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "is", "a"),
    "de" -> Seq("der", "die", "und", "ist", "ein"),
    "es" -> Seq("el", "la", "que", "los", "una"),
    "fr" -> Seq("le", "et", "les", "dans", "une"))

  /** Heuristic language-ID: count distinct marker words present per
    * language; highest score wins, earlier language wins ties, all-zero
    * → "und" (undetermined). */
  def langId(text: Column): Column = {
    val distinctWords = array_distinct(words(text))
    val scores = LangMarkers.map { case (lang, markers) =>
      lang -> size(array_intersect(distinctWords, array(markers.map(lit): _*)))
    }
    // priority chain: en beats de beats es beats fr on ties
    val Seq(en, de, es, fr) = scores.map(_._2)
    when(en === 0 && de === 0 && es === 0 && fr === 0, lit("und"))
      .when(en >= de && en >= es && en >= fr, lit("en"))
      .when(de >= es && de >= fr, lit("de"))
      .when(es >= fr, lit("es"))
      .otherwise(lit("fr"))
  }

  /** Lexical diversity ×10⁴, floored (distinct words / words). Floor of
    * a double division with identical operands is engine-stable. */
  def lexicalDiversity4(text: Column): Column = {
    val w = words(text)
    floor(size(array_distinct(w)).cast("double") * 10000 / size(w)).cast("long")
  }

  /** Mean word length ×10⁴, floored. */
  def avgWordLen4(text: Column): Column = {
    val w = words(text)
    floor(length(regexp_replace(trim(text), "\\s+", "")).cast("double") * 10000 / size(w))
      .cast("long")
  }

  /** Document fingerprint: polynomial hash of the full normalized text. */
  def fingerprint(text: Column): Column = polyHash(trim(text))

  /** PII redaction patterns — RE2-compatible (no backrefs/lookaround)
    * so the Java and DuckDB regex engines match identically. */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhoneRe = "[0-9]{3}-[0-9]{3,}"

  /** Redact emails/phones (training pipelines scrub PII before
    * tokenization). regexp_replace replaces every occurrence. */
  def redactPii(text: Column): Column =
    regexp_replace(regexp_replace(text, EmailRe, "<EMAIL>"), PhoneRe, "<PHONE>")

  /** ALL n-word shingles (multiset, positions 1..len-n — same
    * enumeration as [[wordShingles]] but without the distinct), for
    * repetition analysis where multiplicity is the signal. */
  def wordShinglesAll(text: Column, n: Int): Column = {
    val w = words(text)
    when(size(w) < n + 1, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(1), size(w) - n),
        i => concat_ws(" ", slice(w, i, lit(n)))))
  }
}

package graft.functions

import java.util.regex.Pattern

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis operators for a training-data pipeline: language ID
  * (marker-word heuristic), quality scoring (length/punct/stopword
  * ratios), token counting (whitespace + regex), document fingerprinting.
  * All pure Catalyst built-ins over the canonicalized text — no UDFs, so
  * everything stays in whole-stage codegen and is ANSI-SQL-expressible
  * (each has a DuckDB-oracle twin in queries.Catalog).
  */
object TextAnalysis {

  def words(text: Column): Column = split(Normalize.canonicalText(text), " ")

  private def countWord(ws: Column, w: String): Column =
    size(filter(ws, x => x === lit(w)))

  /** Exact-token occurrence count of any of `tokens` in a CANONICAL text
    * (single-space separated, trimmed): one codegen'd regexp_count pass
    * instead of one interpreted higher-order filter per token. The
    * anchors reproduce split-token equality exactly — a match must be
    * flanked by start/space and space/end, so "is." or "(the" never
    * match — and canonical text never has doubled spaces, so the
    * consumed leading separator cannot hide a following token.
    * Measured round 6: the HOF form ran text_quality's projection at
    * ~0.26 ms/row, all in one interpreted task. Each token is quoted, so
    * a token such as "a.b" matches only itself, never "axb".
    */
  private[graft] def countTokens(canon: Column, tokens: Seq[String]): Column =
    regexp_count(canon,
      lit(tokens.map(Pattern.quote).mkString("(?:^| )(?:", "|", ")(?= |$)")))

  /** Marker-word language scores. The marker lists are fixed constants —
    * a real corpus would use per-language stopword tables; the mechanism
    * (count markers per language, argmax with deterministic tie order) is
    * the production shape.
    */
  val EnMarkers = Seq("the", "a", "value", "row")
  val EsMarkers = Seq("data", "table", "part")
  val DeMarkers = Seq("window", "group", "batch")

  def langScores(text: Column): (Column, Column, Column) = {
    val c = Normalize.canonicalText(text)
    (countTokens(c, EnMarkers), countTokens(c, EsMarkers), countTokens(c, DeMarkers))
  }

  /** argmax(en, es, de) with ties resolved in that fixed order. */
  def langId(text: Column): Column = {
    val (en, es, de) = langScores(text)
    when(en >= es && en >= de, lit("en"))
      .when(es >= de, lit("es"))
      .otherwise(lit("de"))
  }

  val Stopwords = Seq("the", "a", "of", "and", "to", "in", "is")

  /** Quality features + a composite score in [0,1]:
    * word count, mean word length, stopword ratio, punctuation ratio.
    */
  def wordCount(text: Column): Column = {
    val c = Normalize.canonicalText(text)
    when(length(c) === 0, lit(0)).otherwise(size(split(c, " ")))
  }

  def meanWordLen(text: Column): Column = {
    val c = Normalize.canonicalText(text)
    val ws = split(c, " ")
    // sum of word lengths == length(canon) - (word count - 1): canonical
    // text is single-space separated, so the arithmetic replaces the
    // interpreted aggregate() lambda with pure codegen — this is the
    // exact formula the DuckDB oracle twin already uses
    when(size(ws) === 0 || (size(ws) === 1 && element_at(ws, 1) === ""), lit(0.0))
      .otherwise(
        (length(c) - (size(ws) - 1)).cast("double") / size(ws))
  }

  def stopwordRatio(text: Column): Column = {
    val c = Normalize.canonicalText(text)
    val ws = split(c, " ")
    when(size(ws) === 0, lit(0.0))
      .otherwise(countTokens(c, Stopwords).cast("double") / size(ws))
  }

  def punctRatio(text: Column): Column = {
    val t = Normalize.emptyIfNull(text)
    when(length(t) === 0, lit(0.0)).otherwise(
      (length(t) - length(regexp_replace(t, "[^a-zA-Z0-9 ]", ""))).cast("double") / length(t))
  }

  /** Composite quality score: long-enough docs with natural stopword rates
    * and low punctuation score high. Weights are fixed heuristics.
    */
  def qualityScore(text: Column): Column = {
    val wc = wordCount(text).cast("double")
    val lenScore = least(wc / lit(100.0), lit(1.0))
    val stopScore = least(stopwordRatio(text) * lit(5.0), lit(1.0))
    val punctPenalty = greatest(lit(1.0) - punctRatio(text) * lit(4.0), lit(0.0))
    round(lit(0.4) * lenScore + lit(0.3) * stopScore + lit(0.3) * punctPenalty, 4)
  }

  /** BPE-ish token estimate: alphanumeric runs + each punctuation char
    * counts as one token (regexp over the raw text).
    */
  def regexTokenCount(text: Column): Column =
    regexp_count(Normalize.emptyIfNull(text), lit("[a-zA-Z0-9]+|[^a-zA-Z0-9\\s]"))

  def whitespaceTokenCount(text: Column): Column = wordCount(text)

  // ---- PII scrubbing (training-data redaction) ----------------------

  /** Conservative PII patterns, written in the common subset of Java
    * regex (Spark) and RE2 (DuckDB) so the oracle twin matches
    * byte-for-byte. Real pipelines carry larger pattern sets; the
    * redact-and-count mechanism is the production shape.
    */
  val EmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhonePattern = "\\b\\d{3}[-. ]\\d{3}[-. ]\\d{4}\\b"

  def emailCount(text: Column): Column =
    regexp_count(Normalize.emptyIfNull(text), lit(EmailPattern))

  def phoneCount(text: Column): Column =
    regexp_count(Normalize.emptyIfNull(text), lit(PhonePattern))

  /** Redact emails then phones (order matters and is part of the spec:
    * an email is never half-eaten by the phone pattern).
    */
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(Normalize.emptyIfNull(text), EmailPattern, "[EMAIL]"),
      PhonePattern, "[PHONE]")

  // ---- Repetition filters (Gopher/C4-style quality heuristics) ------

  /** Word count over an already-materialized word array (split of a
    * canonical text: empty text splits to [""], which counts as 0).
    */
  def wordCountOf(ws: Column): Column =
    when(size(ws) === 0 || (size(ws) === 1 && element_at(ws, 1) === ""), lit(0))
      .otherwise(size(ws))

  /** Fraction of words that are distinct — low values flag the repeated
    * boilerplate a Gopher-style filter drops. 0.0 for empty docs.
    * Operates on a BOUND word-array column: callers must materialize
    * `words(text)` into a named column first — a lambda re-evaluates
    * outer expressions per element, so referencing the split inline
    * costs one regex pass per element access (measured 16x slower on
    * text_repetition).
    */
  def uniqueWordFracOf(ws: Column): Column =
    when(wordCountOf(ws) === 0, lit(0.0))
      .otherwise(size(array_distinct(ws)).cast("double") / size(ws))

  /** Word bigrams over a bound word-array column (same binding rule as
    * uniqueWordFracOf) — for the top-bigram-fraction repetition signal,
    * computed by explode + groupBy in the catalog query, the shape that
    * scales past per-row array aggregation.
    */
  def wordBigramsOf(ws: Column): Column =
    when(size(ws) < 2, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(1), size(ws) - 1),
        i => concat_ws(" ", element_at(ws, i), element_at(ws, i + 1))))

  def uniqueWordFrac(text: Column): Column = uniqueWordFracOf(words(text))

  def wordBigrams(text: Column): Column = wordBigramsOf(words(text))

  /** Content fingerprint: md5 of the canonical text (exact-dedup key,
    * join-stable across engines).
    */
  def docFingerprint(text: Column): Column = md5(Normalize.canonicalText(text))

  /** Rolling-hash fingerprint (1-perm MinHash over char shingles) — cheap
    * near-dup prefilter (custom kernel, codegen'd).
    */
  def rollingFingerprint(text: Column, width: Int = 8): Column =
    org.apache.spark.sql.GraftBridge.column(
      RollingMinHash(org.apache.spark.sql.GraftBridge.expression(
        Normalize.canonicalText(text)), width))

  // ---- URL canonicalization (web-corpus curation) -------------------

  /** Tracking query parameters stripped during URL canonicalization.
    * Java-regex/RE2 common subset (no backtracking constructs) so the
    * DuckDB oracle twin matches byte-for-byte.
    */
  val TrackingParamPattern = "(?:utm_[A-Za-z0-9_]+|fbclid|gclid|msclkid|ref)"

  def urlScheme(url: Column): Column =
    lower(regexp_extract(url, "^([A-Za-z][A-Za-z0-9+.-]*)://", 1))

  /** Raw authority component (still mixed-case, port kept). */
  def urlHostPort(url: Column): Column =
    regexp_extract(url, "^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)", 1)

  /** Canonical URL for exact-dedup by address: scheme and host
    * lowercased, default port stripped, fragment dropped, tracking
    * params removed from the QUERY component only (with delimiter
    * repair so real params survive), bare-root path dropped. The path
    * is preserved byte-for-byte — case and '&' are legal, significant
    * path characters (RFC 3986 pchar), so the param stripping must
    * never touch it. Pure Catalyst; a non-URL input canonicalizes to
    * "://" — callers filter on urlScheme =!= "" when the corpus may
    * hold junk rows.
    */
  def canonicalUrl(url: Column): Column = {
    val u = Normalize.emptyIfNull(url)
    val scheme = urlScheme(u)
    val host0 = lower(urlHostPort(u))
    val host = when(scheme === "http", regexp_replace(host0, ":80$", ""))
      .when(scheme === "https", regexp_replace(host0, ":443$", ""))
      .otherwise(host0)
    val rest0 = regexp_extract(u, "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^#]*)", 1)
    val path0 = regexp_extract(rest0, "^([^?]*)", 1)
    val query0 = regexp_extract(rest0, "(\\?.*)$", 1)
    val r1 = regexp_replace(query0, "([?&])" + TrackingParamPattern + "=[^&]*", "$1")
    val r2 = regexp_replace(r1, "[?&]+$", "")
    val r3 = regexp_replace(r2, "\\?[?&]+", "?")
    val query = regexp_replace(r3, "&&+", "&")
    val path = regexp_replace(path0, "^/$", "")
    concat(scheme, lit("://"), host, path, query)
  }

  /** Registered domain: authority minus port and a leading www., last
    * two labels (a real pipeline consults the public-suffix list; the
    * extract-and-group mechanism is the production shape).
    */
  def registeredDomain(url: Column): Column =
    regexp_extract(
      regexp_replace(regexp_replace(lower(urlHostPort(url)), ":[0-9]+$", ""), "^www\\.", ""),
      "([^.]+\\.[^.]+)$", 1)
}

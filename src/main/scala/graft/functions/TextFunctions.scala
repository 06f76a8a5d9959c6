package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis scalar surface, built entirely from codegen'd Spark
  * built-ins (`org.apache.spark.sql.functions`) — no UDFs, so every
  * expression stays inside WholeStageCodegen and is safe at 100 TB.
  *
  * Covers the "text analysis" pillar of the engine: tokenization,
  * quality scoring, language-ID, fingerprinting. The reference engine
  * (rom1504/img2dataset) processes captions as opaque strings; these
  * operators extend the surface to what an LLM-training-data pipeline
  * needs over a `documents(text)` table.
  */
object TextFunctions {

  /** `lower(text)` without Spark's first-call ICU table build
    * ([[graft.plans.LowerUtf8]]). */
  private[graft] def lowerText(text: Column): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}
    column(graft.plans.LowerUtf8(expression(text)))
  }

  /** Lower-cased whitespace tokenization. `split` on \s+ after trim. */
  def tokens(text: Column): Column =
    split(trim(lowerText(text)), "\\s+")

  /** Whitespace token count. */
  def tokenCount(text: Column): Column =
    size(tokens(text))

  /** BPE-ish token count: word pieces + isolated punctuation, the
    * standard pre-tokenizer regex family. `regexp_extract_all` is a
    * codegen'd built-in in Spark 3.1+.
    */
  def bpeishTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[A-Za-z0-9_]+|[^A-Za-z0-9_\\s]"), lit(0)))

  /** Ratio of punctuation characters to total characters, in [0,1]. */
  def punctRatio(text: Column): Column = {
    val punct = length(regexp_replace(text, "[^.,!?;:'\"()\\-]", ""))
    when(length(text) === 0, lit(0.0)).otherwise(punct.cast("double") / length(text))
  }

  /** English stopword list used for quality scoring / language ID. */
  val enStopwords: Seq[String] =
    Seq("the", "a", "an", "and", "or", "of", "to", "in", "is", "are",
        "was", "for", "on", "with", "as", "at", "by", "it", "this", "that")
  val esStopwords: Seq[String] =
    Seq("el", "la", "los", "las", "de", "en", "y", "que", "un", "una",
        "es", "por", "con", "para", "del", "se", "no", "su", "al", "lo")
  val deStopwords: Seq[String] =
    Seq("der", "die", "das", "und", "in", "den", "von", "zu", "mit",
        "ist", "des", "im", "ein", "eine", "auf", "als", "auch", "es", "an", "fuer")
  val frStopwords: Seq[String] =
    Seq("le", "la", "les", "de", "des", "et", "en", "un", "une", "du",
        "est", "que", "qui", "dans", "pour", "sur", "au", "pas", "plus", "par")

  private def hitCount(toks: Column, words: Seq[String]): Column =
    size(filter(toks, t => t.isInCollection(words)))

  /** Number of tokens that are stopwords of `words` (default English). */
  def stopwordHits(text: Column, words: Seq[String] = enStopwords): Column =
    hitCount(tokens(text), words)

  /** stopword_hits / token_count in [0,1]. */
  def stopwordRatio(text: Column, words: Seq[String] = enStopwords): Column = {
    val n = tokenCount(text)
    when(n === 0, lit(0.0)).otherwise(stopwordHits(text, words).cast("double") / n)
  }

  /** n-gram-heuristic language ID over {en, es, de, fr}: pick the
    * language with the highest stopword hit count; deterministic
    * tie-break in that order; "und" (undetermined) when all zero.
    */
  def langId(text: Column): Column = {
    val toks = tokens(text)
    val en = hitCount(toks, enStopwords)
    val es = hitCount(toks, esStopwords)
    val de = hitCount(toks, deStopwords)
    val fr = hitCount(toks, frStopwords)
    when(en === 0 && es === 0 && de === 0 && fr === 0, lit("und"))
      .when(en >= es && en >= de && en >= fr, lit("en"))
      .when(es >= de && es >= fr, lit("es"))
      .when(de >= fr, lit("de"))
      .otherwise(lit("fr"))
  }

  /** Heuristic quality score in [0,1]: rewards mid-length documents,
    * a healthy stopword ratio, and light punctuation. All-arithmetic,
    * fully codegen'd.
    */
  def qualityScore(text: Column): Column = {
    val n = tokenCount(text).cast("double")
    val lenScore = least(n / 64.0, lit(1.0)) * least(lit(1.0), lit(4096.0) / greatest(n, lit(1.0)))
    val swScore  = least(stopwordRatio(text) * 4.0, lit(1.0))
    val punScore = lit(1.0) - least(punctRatio(text) * 4.0, lit(1.0))
    MathFunctions.roundTo(lenScore * 0.5 + swScore * 0.3 + punScore * 0.2, 6)
  }

  /** Whitespace-normalized lower-cased text: canonical form for
    * fingerprinting / exact dedup.
    */
  def normalizeText(text: Column): Column =
    regexp_replace(trim(lowerText(text)), "\\s+", " ")

  /** Exact-dup fingerprint: md5 of the normalized text. */
  def fingerprint(text: Column): Column =
    md5(normalizeText(text))

  /** 64-bit rolling polynomial hash of the normalized text (base 131,
    * mod 2^61-1), computed as a fold over characters with `aggregate` —
    * a pure Catalyst expression, no UDF. Used as a cheap numeric
    * document fingerprint.
    */
  def rollingHash(text: Column): Column = {
    // Prime below 2^50 so acc*131 stays < 2^58 — no ANSI long overflow,
    // and the same fold is expressible exactly in other engines.
    val p = lit(1125899906842597L)
    aggregate(
      split(normalizeText(text), ""),
      lit(0L),
      (acc, ch) => pmod(acc * 131L + coalesce(ascii(ch).cast("long"), lit(0L)), p)
    )
  }

  /** PII scrubbing for training-data curation: replace emails, URLs
    * and IPv4 addresses with typed placeholder tokens. Patterns use
    * explicit ASCII classes (no `\d`/`\S`/`\w`) so Java regex (Spark)
    * and RE2 (DuckDB/most engines) agree byte-for-byte — the oracle
    * replicates the same chain with the `g` flag. Chained
    * `regexp_replace` built-ins: codegen'd, scan-speed, no UDF.
    * Order matters and is fixed: URLs first (they may contain
    * email-/IP-shaped substrings), then emails, then bare IPs.
    */
  val UrlPattern = "https?://[^ \\t\\r\\n]+"
  val EmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z][A-Za-z]+"
  val Ipv4Pattern = "([0-9]{1,3}\\.){3}[0-9]{1,3}"

  def scrubPii(text: Column): Column = {
    val noUrl = regexp_replace(text, UrlPattern, "<URL>")
    val noEmail = regexp_replace(noUrl, EmailPattern, "<EMAIL>")
    regexp_replace(noEmail, Ipv4Pattern, "<IP>")
  }

  /** Count of PII placeholders after scrubbing — the audit column a
    * curation pipeline logs alongside the scrubbed text.
    */
  def piiCount(text: Column): Column = {
    val scrubbed = scrubPii(text)
    size(regexp_extract_all(scrubbed, lit("<URL>|<EMAIL>|<IP>"), lit(0)))
  }

  /** Distinct word n-gram shingles of the normalized text, as strings.
    * The shingle set is the input to MinHash / Jaccard dedup. Native
    * single-pass expression ([[graft.plans.WordShinglesExpr]]) —
    * semantically `array_distinct(transform(sequence(...), i ->
    * concat_ws(" ", slice(toks, i+1, n))))` but evaluated as one
    * compiled loop instead of interpreted lambdas.
    */
  def wordShingles(text: Column, n: Int): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}
    val toks = split(normalizeText(text), " ")
    column(graft.plans.WordShinglesExpr(expression(toks), n))
  }
}

package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.functions.NativeFunctions.textGate

/** Text-analysis operators for training-data pipelines: language ID,
  * quality scoring, token counting, document fingerprinting, redaction.
  * All are map-side column expressions with no shuffle. `langId` and
  * `qualityScore` read their counts from one native `TextGate` pass and
  * `redactPii`/`contentKey` are built-in regex/hash functions, so these
  * run inside whole-stage codegen. `words` and the forms built on it
  * (`tokenCountWs`, `tokenCountBpe`, `fingerprint`, `repetition`) use
  * higher-order functions (`filter`, `aggregate`, `transform`), which
  * Spark evaluates interpreted, per element.
  */
object TextOps {

  /** The engine's cross-engine token contract (lowercase, split on
    * non-letter/digit/apostrophe runs, drop empties) — shared by
    * q_token_count and TrainPrep's n-gram surface, whose DuckDB oracles
    * replay exactly this expression; keep the two sides in lockstep.
    */
  def words(text: Column): Column =
    filter(split(lower(text), "[^\\p{L}\\p{N}']+"), w => length(w) > 0)

  /** Whitespace token count. */
  def tokenCountWs(text: Column): Column = size(words(text))

  /** BPE-ish token count: split on word boundaries AND punctuation runs,
    * counting sub-word chunks of ≤4 chars (a cheap, deterministic proxy
    * for byte-pair tokenizers: ~chars/4 for long words, 1 per short word
    * or punctuation run).
    */
  def tokenCountBpe(text: Column): Column =
    aggregate(
      filter(split(text, "\\s+"), w => length(w) > 0),
      lit(0L),
      (acc, w) => acc + ceil(length(w).cast("double") / 4.0).cast("long"))

  /** Per-language stopword lexicon: the one list `langId`, `qualityScore`
    * and their DuckDB oracles (TextQueries) read.
    */
  val lexicon: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "is", "in", "that", "it", "for", "with"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "mit", "für", "auf"),
    "fr" -> Seq("le", "la", "les", "et", "est", "une", "pour", "dans", "que", "des"),
    "es" -> Seq("el", "la", "los", "y", "es", "una", "para", "con", "que", "por"),
    "it" -> Seq("il", "la", "di", "e", "che", "per", "con", "una", "sono", "del"))

  /** Language ID by stopword-hit voting over `lexicon` — the classic
    * n-gram/stopword heuristic. Returns the language code with the most
    * distinct stopwords present, 'und' if none. Deterministic tie-break
    * by list order.
    */
  def langId(text: Column): Column = {
    val g = textGate(text, lexicon)
    val hits = lexicon.map { case (lang, _) => lang -> g.getField(s"hits_$lang") }
    val best = greatest(hits.map(_._2): _*)
    // ties → earlier language in lexicon order wins; no hit (or no text) → und
    hits.foldLeft(when(best === 0, "und")) { case (c, (lang, h)) => c.when(h === best, lang) }
      .otherwise("und")
  }

  /** Quality score in [0,1]: blend of length sanity, alpha ratio,
    * punctuation ratio, stopword presence, and mean word length — the
    * standard cheap quality gates of web-scale corpus cleaning.
    */
  def qualityScore(text: Column): Column = {
    val g = textGate(text, lexicon)
    val len = g.getField("chars").cast("double")
    val nWords = g.getField("words").cast("double")
    val alpha = g.getField("alpha").cast("double")
    val punct = g.getField("punct").cast("double")
    val stopHits = g.getField("stop_hits").cast("double")
    val lenScore = least(len / 200.0, lit(1.0))
    val alphaScore = when(len > 0, alpha / len).otherwise(0.0)
    val punctScore = lit(1.0) - least(when(len > 0, punct / len * 10).otherwise(1.0), lit(1.0))
    val stopScore = least(when(nWords > 0, stopHits / nWords * 5).otherwise(0.0), lit(1.0))
    val meanWord = when(nWords > 0, alpha / nWords).otherwise(0.0)
    val wordScore = when(meanWord >= 3 && meanWord <= 10, 1.0).otherwise(0.5)
    round((lenScore + alphaScore + punctScore + stopScore + wordScore) / 5.0, 4)
  }

  /** Rolling fingerprint over the word sequence: order-sensitive,
    * whitespace-normalized — unlike a raw md5 it is stable under
    * whitespace/case noise. Chained xxhash64(acc, word) rather than a
    * polynomial so ANSI mode can't overflow.
    */
  def fingerprint(text: Column): Column =
    aggregate(words(text), lit(0L), (acc, w) => xxhash64(acc, w))

  /** Exact content key for hash-dedupe: md5 of NFC-ish normalized text. */
  def contentKey(text: Column): Column =
    md5(trim(regexp_replace(lower(text), "\\s+", " ")).cast("binary"))

  /** PII redaction (training-data scrubbing): rewrite emails, SSNs,
    * credit-card numbers, IPv4 addresses and phone numbers to typed
    * placeholder tokens. Patterns are RE2-safe (no lookaround/backrefs),
    * so the identical regexes drive the DuckDB oracle and any RE2-based
    * production scrubber. Order matters: the more specific shapes run
    * first so a card number isn't half-eaten by the phone rule.
    * Map-side, codegen'd — scan speed at 100 TB.
    */
  val PiiPatterns: Seq[(String, String)] = Seq(
    "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}" -> "<EMAIL>",
    "\\b\\d{3}-\\d{2}-\\d{4}\\b" -> "<SSN>",
    "\\b\\d{4}[ -]\\d{4}[ -]\\d{4}[ -]\\d{4}\\b" -> "<CARD>",
    "\\b(?:\\d{1,3}\\.){3}\\d{1,3}\\b" -> "<IP>",
    "\\+\\d[\\d ().-]{6,}\\d" -> "<PHONE>")

  def redactPii(text: Column): Column =
    PiiPatterns.foldLeft(text) { case (c, (p, t)) => regexp_replace(c, p, t) }

  /** Word n-grams over `ws`, a word array (`words(text)`): one
    * space-joined gram per window of `n` consecutive words, empty when
    * there are fewer than `n` words. Bind `ws` in a projection of its
    * own and pass the column: an inline `words(text)` inside the gram
    * lambda would re-run the split per gram — the interpreted-HOF trap,
    * BENCH.md §2 (Catalyst does not collapse a non-cheap alias that is
    * referenced more than once).
    */
  def wordNgrams(ws: Column, n: Int): Column = {
    require(n > 0)
    when(size(ws) >= n,
      transform(sequence(lit(1), size(ws) - (n - 1)), i => concat_ws(" ", slice(ws, i, lit(n)))))
      .otherwise(array().cast("array<string>"))
  }

  /** Gopher-style repetition gate: the fraction of duplicated word
    * n-grams (1 − distinct/total) — the standard cheap filter for
    * boilerplate/looping text in web-scale corpus cleaning.
    */
  def repetition(df: org.apache.spark.sql.DataFrame, text: Column, n: Int = 3,
      out: String = "repetition"): org.apache.spark.sql.DataFrame =
    df.withColumn("__ws", words(text))
      .withColumn("__ngrams", wordNgrams(col("__ws"), n))
      .withColumn(out,
        when(size(col("__ngrams")) > 0,
          round(lit(1.0) -
            size(array_distinct(col("__ngrams"))).cast("double") /
              size(col("__ngrams")).cast("double"), 4))
          .otherwise(0.0))
      .drop("__ws", "__ngrams")
}

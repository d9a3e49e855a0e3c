package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.NativeFunctions.tokenCount
import graft.ops.TextOps
import graft.sources.Tables

/** Text-analysis queries over `documents` (training-data pipeline ops):
  * token counting (whitespace + BPE-ish), language-ID by stopword voting,
  * quality scoring, document fingerprinting. All pure column math — they
  * run at scan speed map-side with zero shuffles.
  */
object TextQueries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_token_count" -> ((s, dir) => {
      Tables.documents(s, dir).select(
        col("doc_id"),
        TextOps.tokenCountWs(col("text")).as("tok_ws"),
        TextOps.tokenCountBpe(col("text")).as("tok_bpe"))
    }),

    "q_lang_id" -> ((s, dir) => {
      Tables.documents(s, dir).select(
        col("doc_id"), col("lang"),
        TextOps.langId(col("text")).as("lang_pred"))
    }),

    "q_quality" -> ((s, dir) => {
      Tables.documents(s, dir).select(
        col("doc_id"),
        TextOps.qualityScore(col("text")).as("quality"))
    }),

    // the SAME token count through the native codegen'd Expression
    // (graft.functions.TokenCount) — one fused pass, no array
    // materialization; validated against the identical DuckDB oracle.
    "q_token_count_native" -> ((s, dir) => {
      Tables.documents(s, dir).select(
        col("doc_id"),
        tokenCount(col("text")).as("tok_ws"))
    }),

    // PII scrubbing: deterministic PII is planted into every document
    // (both engines build the identical string), then redacted — each
    // pattern family is exercised against the oracle's identical RE2
    // regexes.
    "q_redact_pii" -> ((s, dir) => {
      val planted = concat(col("text"), format_string(
        " contact u%d@ex-%d.com or +1 (555) 010-%04d, card 4111 1111 1111 %04d, ssn 123-45-%04d, host 10.0.%d.%d.",
        col("doc_id"), pmod(col("doc_id"), lit(7)), pmod(col("doc_id"), lit(10000)),
        pmod(col("doc_id"), lit(10000)), pmod(col("doc_id"), lit(10000)),
        pmod(col("doc_id"), lit(256)), pmod(col("doc_id") * 7, lit(256))))
      Tables.documents(s, dir).select(
        col("doc_id"), TextOps.redactPii(planted).as("redacted"))
    }),

    // Gopher-style repetition gate over text with a deterministically
    // duplicated prefix (so the duplicate-n-gram fraction is non-trivial
    // on the synthetic corpus).
    "q_repetition" -> ((s, dir) => {
      val aug = Tables.documents(s, dir).withColumn("text",
        concat(col("text"), lit(" "), substring(col("text"), 1, 60),
          lit(" "), substring(col("text"), 1, 60)))
      TextOps.repetition(aug, col("text"), 3)
        .select(col("doc_id"), col("repetition"))
    }),

    // rolling polynomial fingerprint (xxhash64-based → rows-only check;
    // stability/sensitivity asserted in TextOpsSpec).
    "q_fingerprint" -> ((s, dir) => {
      Tables.documents(s, dir).select(
        col("doc_id"),
        TextOps.fingerprint(col("text")).as("fp"),
        TextOps.fingerprint(regexp_replace(upper(col("text")), " ", "  ")).as("fp_noisy"))
    }))

  private val wordsSql =
    "list_filter(string_split_regex(lower(text), '[^\\p{L}\\p{N}'']+'), w -> len(w) > 0)"

  private def hitsSql(stops: Seq[String]) =
    s"len(list_intersect($wordsSql, [${stops.map(w => s"'$w'").mkString(",")}]))"

  /** The identical RE2 patterns as TextOps.PiiPatterns, applied in the
    * same order with DuckDB's 'g' flag (Spark replaces all by default).
    */
  private val redactSql: String = {
    val planted =
      """text || printf(' contact u%d@ex-%d.com or +1 (555) 010-%04d, card 4111 1111 1111 %04d, ssn 123-45-%04d, host 10.0.%d.%d.',
        |    doc_id, doc_id % 7, doc_id % 10000, doc_id % 10000, doc_id % 10000, doc_id % 256, (doc_id * 7) % 256)""".stripMargin
    val chain = graft.ops.TextOps.PiiPatterns.foldLeft(s"($planted)") {
      case (inner, (pat, tok)) =>
        // DuckDB single-quoted strings take backslashes literally; only
        // quotes need escaping
        s"regexp_replace($inner, '${pat.replace("'", "''")}', '$tok', 'g')"
    }
    s"SELECT doc_id, $chain AS redacted FROM documents"
  }

  private val repetitionSql: String =
    s"""SELECT doc_id,
       |  CASE WHEN nt > 0 THEN round(1.0 - nd / nt, 4) ELSE 0.0 END AS repetition
       |FROM (
       |  SELECT doc_id,
       |    CAST(len(ngrams) AS DOUBLE) AS nt,
       |    CAST(len(list_distinct(ngrams)) AS DOUBLE) AS nd
       |  FROM (
       |    SELECT doc_id,
       |      CASE WHEN len(ws) >= 3
       |        THEN list_transform(range(1, len(ws) - 1), i -> array_to_string(ws[i:i+2], ' '))
       |        ELSE CAST([] AS VARCHAR[]) END AS ngrams
       |    FROM (SELECT doc_id, $wordsSql AS ws
       |          FROM (SELECT doc_id, text || ' ' || substr(text, 1, 60) || ' ' || substr(text, 1, 60) AS text
       |                FROM documents))))""".stripMargin

  val oracles: Map[String, String] = Map(
    "q_redact_pii" -> redactSql,
    "q_repetition" -> repetitionSql,
    "q_token_count_native" ->
      s"""SELECT doc_id, CAST(len($wordsSql) AS INT) AS tok_ws
         |FROM documents""".stripMargin,
    "q_token_count" ->
      s"""SELECT doc_id,
         |  len($wordsSql) AS tok_ws,
         |  CAST(coalesce(list_sum(list_transform(
         |    list_filter(string_split_regex(text, '\\s+'), w -> len(w) > 0),
         |    w -> CAST(ceil(len(w) / 4.0) AS BIGINT))), 0) AS BIGINT) AS tok_bpe
         |FROM documents""".stripMargin,
    "q_lang_id" -> {
      val hitCols = TextOps.lexicon.map { case (l, st) => s"${hitsSql(st)} AS h_$l" }.mkString(",\n  ")
      // first-max-wins in lexicon order, as in TextOps.langId
      val caseChain = TextOps.lexicon.map { case (l, _) => s"WHEN h_$l = m THEN '$l'" }.mkString(" ")
      s"""SELECT doc_id, lang,
         |  CASE WHEN m = 0 THEN 'und' $caseChain END AS lang_pred
         |FROM (
         |  SELECT doc_id, lang,
         |    greatest(${TextOps.lexicon.map("h_" + _._1).mkString(", ")}) AS m,
         |    ${TextOps.lexicon.map("h_" + _._1).mkString(", ")}
         |  FROM (SELECT doc_id, lang,
         |    $hitCols
         |  FROM documents))""".stripMargin
    },
    "q_quality" -> {
      val allStops = TextOps.lexicon.flatMap(_._2).distinct.map(w => s"'$w'").mkString(",")
      s"""SELECT doc_id, round((
         |    least(len0 / 200.0, 1.0)
         |  + CASE WHEN len0 > 0 THEN alpha / len0 ELSE 0.0 END
         |  + (1.0 - least(CASE WHEN len0 > 0 THEN punct / len0 * 10 ELSE 1.0 END, 1.0))
         |  + least(CASE WHEN nw > 0 THEN stop_hits / nw * 5 ELSE 0.0 END, 1.0)
         |  + CASE WHEN (CASE WHEN nw > 0 THEN alpha / nw ELSE 0.0 END) BETWEEN 3 AND 10
         |         THEN 1.0 ELSE 0.5 END
         |  ) / 5.0, 4) AS quality
         |FROM (
         |  SELECT doc_id,
         |    CAST(length(text) AS DOUBLE) AS len0,
         |    CAST(len($wordsSql) AS DOUBLE) AS nw,
         |    CAST(length(regexp_replace(text, '[^\\p{L}]', '', 'g')) AS DOUBLE) AS alpha,
         |    CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS DOUBLE) AS punct,
         |    CAST(len(list_intersect($wordsSql, [$allStops])) AS DOUBLE) AS stop_hits
         |  FROM documents)""".stripMargin
    }
  )
}

package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.NativeFunctions.tokenCount
import graft.ops.TrainPrep
import graft.sources.Tables

/** Training-data preparation queries over `documents`: deterministic
  * stratified sampling + split assignment, and token-budget sequence
  * packing. Both are pure integer/window arithmetic, so both carry FULL
  * DuckDB oracles (the thresholds and the hash are built from the same
  * TrainPrep constants on both sides — they cannot drift apart).
  */
object TrainQueries {

  private val SampleSeed = 7L
  private val SplitSeed = 13L
  private val Budget = 2048L
  private val Shards = 16
  private val NGram = 8
  private val ShuffleSeed = 29L

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Quota sampling (keep 50% of en, 30% of de, 20% of the rest) + a
    // deterministic 80/10/10 train/val/test assignment on an independent
    // seed. Map-side filter: no shuffle, no RNG state, retry-stable.
    "q_sample_stratified" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      TrainPrep.stratifiedSample(docs, col("doc_id"), col("lang"),
          Map("en" -> 0.5, "de" -> 0.3), default = 0.2, seed = SampleSeed)
        .select(col("doc_id"), col("lang"),
          TrainPrep.assignSplit(col("doc_id"),
            Seq("train" -> 80, "val" -> 10, "test" -> 10), seed = SplitSeed).as("split"))
    }),

    // Benchmark decontamination: flag every document sharing an 8-word
    // n-gram with the planted "benchmark" subset (doc_id % 97 == 0 —
    // deterministic, no external data). Corpus side is a shuffle-free
    // flatMap; the eval gram set and the contaminated-id set broadcast.
    "q_decontaminate" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val evalSet = docs.filter(col("doc_id") % 97 === 0)
      TrainPrep.decontaminate(docs, evalSet, col("doc_id"), col("text"), n = NGram)
        .select(col("doc_id"), col("contaminated"))
    }),

    // Deterministic training-order shuffle: seeded pseudorandom
    // permutation as (shard, pos) — one hash shuffle into 16 independent
    // sort partitions, retry-stable (no rand()), re-drawn by seed.
    "q_shuffle" -> ((s, dir) =>
      TrainPrep.shuffleDeterministic(Tables.documents(s, dir),
          col("doc_id"), nShards = Shards, seed = ShuffleSeed)
        .select(col("doc_id"), col("shuffle_shard"), col("shuffle_pos"))),

    // Concat-and-chunk packing into 2048-token context windows, sharded
    // (lang × 16) so every window partition packs independently — no
    // global sort at any corpus size. Token counts via the native
    // codegen'd expression (same semantics as q_token_count_native).
    "q_pack_sequences" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
        .withColumn("tok0", tokenCount(col("text")).cast("long"))
      TrainPrep.packSequences(docs, col("doc_id"), col("tok0"),
          budget = Budget, nShards = Shards, strata = col("lang"))
        .select(col("doc_id"), col("lang"), col("shard"), col("tok"),
          col("start_off"), col("pack_first"), col("pack_last"))
    }))

  // ------------------------------------------------------------- oracles

  private def thr(f: Double): Long = (f * TrainPrep.M).toLong
  private val trainHi = 80L * TrainPrep.M / 100
  private val valHi = trainHi + 10L * TrainPrep.M / 100
  private val h7 = TrainPrep.splitHashSql("doc_id", SampleSeed)
  private val h13 = TrainPrep.splitHashSql("doc_id", SplitSeed)

  // q_token_count's proven cross-engine word splitter (TextQueries).
  private val tokSql =
    "len(list_filter(string_split_regex(lower(text), '[^\\p{L}\\p{N}'']+'), w -> len(w) > 0))"

  private val hShuffle = TrainPrep.splitHashSql("doc_id", ShuffleSeed)

  val oracles: Map[String, String] = Map(
    "q_shuffle" ->
      s"""SELECT doc_id, shuffle_shard, shuffle_pos FROM (
         |  SELECT doc_id,
         |    CAST(h % $Shards AS INT) AS shuffle_shard,
         |    CAST(row_number() OVER (PARTITION BY h % $Shards ORDER BY h, doc_id) - 1 AS BIGINT) AS shuffle_pos
         |  FROM (SELECT doc_id, $hShuffle AS h FROM documents))""".stripMargin,
    "q_decontaminate" ->
      s"""WITH w AS (
         |  SELECT doc_id,
         |    list_filter(string_split_regex(lower(text), '[^\\p{L}\\p{N}'']+'),
         |                x -> len(x) > 0) AS ws
         |  FROM documents),
         |g AS (
         |  SELECT doc_id,
         |    unnest(list_transform(range(1, len(ws) - $NGram + 2),
         |                          i -> array_to_string(ws[i : i + $NGram - 1], ' '))) AS gram
         |  FROM w WHERE len(ws) >= $NGram),
         |eg AS (SELECT DISTINCT gram FROM g WHERE doc_id % 97 = 0),
         |hit AS (SELECT DISTINCT g.doc_id FROM g JOIN eg USING (gram))
         |SELECT d.doc_id, (h.doc_id IS NOT NULL) AS contaminated
         |FROM documents d LEFT JOIN hit h USING (doc_id)""".stripMargin,
    "q_sample_stratified" ->
      s"""SELECT doc_id, lang,
         |  CASE WHEN $h13 < $trainHi THEN 'train'
         |       WHEN $h13 < $valHi THEN 'val'
         |       ELSE 'test' END AS split
         |FROM documents
         |WHERE $h7 < CASE lang WHEN 'en' THEN ${thr(0.5)}
         |                      WHEN 'de' THEN ${thr(0.3)}
         |                      ELSE ${thr(0.2)} END""".stripMargin,
    "q_pack_sequences" ->
      s"""SELECT doc_id, lang, shard, tok, start_off,
         |  start_off // $Budget AS pack_first,
         |  (start_off + tok - 1) // $Budget AS pack_last
         |FROM (
         |  SELECT doc_id, lang, shard, tok,
         |    CAST(sum(tok) OVER (PARTITION BY lang, shard ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |      AS BIGINT) - tok AS start_off
         |  FROM (
         |    SELECT doc_id, lang, doc_id % $Shards AS shard,
         |      CAST($tokSql AS BIGINT) AS tok
         |    FROM documents)
         |  WHERE tok > 0)""".stripMargin
  )
}

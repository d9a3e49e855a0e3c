package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.NativeFunctions.{ngramJaccard, simhash64}
import graft.ops.{Dedupe, TextOps}
import graft.sources.Tables

/** Deduplication family queries (SURVEY.md §2.7 `dedupe` + the
  * training-data extensions): exact hash dedupe with a DuckDB oracle;
  * MinHash+LSH / SimHash signatures (xxhash64-based — no DuckDB
  * equivalent, so rows-only checks; ScalaTest DedupeSpec carries the
  * semantic assertions); n-gram Jaccard with a full oracle.
  */
object DedupeQueries {
  private val T = Tables.TranscriptsCte

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // exact first-writer-wins dedupe on normalized content hash
    // (reference: internal/old/processor/dedupe.go:78-81,128-170).
    "q_dedupe_exact" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      Dedupe.exactFirst(
        docs.withColumn("ckey", TextOps.contentKey(col("text"))),
        col("ckey"), col("doc_id"))
        .select("doc_id", "ckey")
    }),

    // character-3-gram Jaccard similarity of each doc against its neighbor
    // — the exact verifier of the near-dup pipeline, oracle-checked.
    "q_ngram_jaccard" -> ((s, dir) => {
      // native fused pass (graft.functions.NgramJaccard): the HOF ngram
      // build + intersect/union pays an interpreted lambda per character
      // (11 s → 0.3 s for 5k docs at sf0.1); parity with the HOF form is
      // pinned in NativeFunctionsSpec
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), lower(col("text")).as("lt"))
      val b = docs.select((col("doc_id") - 1).as("doc_id"), col("lt").as("lt_b"))
      docs.join(b, Seq("doc_id"))
        .select(col("doc_id"),
          round(ngramJaccard(col("lt"), col("lt_b"), 3), 6)
            .as("jac"))
    }),

    // MinHash+LSH near-dup pairs, Jaccard-verified (shingle→minhash→band→
    // bucket-join; xxhash64 → rows-only check here, semantics asserted in
    // DedupeSpec). The corpus has no real near-dups, so the query plants
    // deterministic duplicates (every 50th doc re-appears with a shifted
    // id) among the 98% distractors — the LSH must find exactly that
    // population without scanning all O(n²) pairs. Production-shaped
    // parameters: 4-row bands keep the candidate set sparse (a 2-row band
    // on a small-vocabulary corpus collides for nearly every pair).
    "q_minhash_pairs" -> ((s, dir) => {
      val docs = Tables.documents(s, dir).select("doc_id", "text")
      val planted = docs.filter(pmod(col("doc_id"), lit(50)) === 0)
        .select((col("doc_id") + 10000000L).as("doc_id"), col("text"))
      Dedupe.minhashDupPairs(docs.unionByName(planted), col("doc_id"),
        col("text"), threshold = 0.5, k = 5, numHashes = 20, bands = 5)
        .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 6).as("jaccard"))
    }),

    // Duplicate-cluster resolution: near-dup EDGES (here the oracle-able
    // consecutive-pair Jaccard ≥ 0.55 — τ chosen with no corpus value
    // within 1e-6 of the boundary at either SF) become connected
    // components via alternating large-star/small-star contraction; every
    // doc gets the min doc_id of its duplicate chain as cluster_id and a
    // first-wins keep flag. The transitive-chain step every corpus-dedup
    // pipeline needs after pair finding; chains up to ~10 docs exist in
    // the corpus, so convergence genuinely iterates. Oracle: DuckDB
    // recursive-CTE reachability closure + min.
    "q_dup_clusters" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), lower(col("text")).as("lt"))
      val b = docs.select((col("doc_id") - 1).as("doc_id"), col("lt").as("lt_b"))
      val edges = docs.join(b, Seq("doc_id"))
        .filter(round(ngramJaccard(col("lt"), col("lt_b"), 3), 6)
          >= 0.55)
        .select(col("doc_id").as("doc_a"), (col("doc_id") + 1).as("doc_b"))
      Dedupe.clustersOverEdges(
        Tables.documents(s, dir).select(col("doc_id")), edges)
    }),

    // SimHash 64-bit signatures + Hamming distance to the neighbor doc
    // (rows-only: xxhash64-based). Uses the native codegen'd expression —
    // the interpreted 64-bit×token fold is ~3800× slower (BENCH.md §2);
    // NativeFunctionsSpec pins their equality.
    "q_simhash" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), simhash64(col("text")).as("sig"))
      val nxt = docs.select((col("doc_id") - 1).as("doc_id"), col("sig").as("sig_b"))
      docs.join(nxt, Seq("doc_id"))
        .select(col("doc_id"), col("sig"),
          Dedupe.hamming(col("sig"), col("sig_b")).as("ham_next"))
    }))

  val oracles: Map[String, String] = Map(
    "q_dedupe_exact" ->
      """SELECT doc_id, md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS ckey
        |FROM documents
        |QUALIFY row_number() OVER (
        |  PARTITION BY md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g')))
        |  ORDER BY doc_id) = 1""".stripMargin,
    "q_ngram_jaccard" ->
      """WITH ng AS (
        |  SELECT doc_id, list_distinct(list_filter(
        |    list_transform(range(1, greatest(len(lower(text)) - 2, 1) + 1),
        |      i -> substr(lower(text), CAST(i AS INT), 3)),
        |    s -> len(s) = 3)) AS g
        |  FROM documents)
        |SELECT a.doc_id,
        |  round(CASE WHEN len(list_distinct(list_concat(a.g, b.g))) = 0 THEN 0.0
        |    ELSE CAST(len(list_intersect(a.g, b.g)) AS DOUBLE)
        |         / len(list_distinct(list_concat(a.g, b.g))) END, 6) AS jac
        |FROM ng a JOIN ng b ON b.doc_id = a.doc_id + 1""".stripMargin,
    "q_dup_clusters" ->
      """WITH RECURSIVE ng AS (
        |  SELECT doc_id, list_distinct(list_filter(
        |    list_transform(range(1, greatest(len(lower(text)) - 2, 1) + 1),
        |      i -> substr(lower(text), CAST(i AS INT), 3)),
        |    s -> len(s) = 3)) AS g
        |  FROM documents),
        |edges AS (
        |  SELECT a.doc_id AS u, a.doc_id + 1 AS v
        |  FROM ng a JOIN ng b ON b.doc_id = a.doc_id + 1
        |  WHERE round(CASE WHEN len(list_distinct(list_concat(a.g, b.g))) = 0 THEN 0.0
        |    ELSE CAST(len(list_intersect(a.g, b.g)) AS DOUBLE)
        |         / len(list_distinct(list_concat(a.g, b.g))) END, 6) >= 0.55),
        |und AS (SELECT u, v FROM edges UNION SELECT v, u FROM edges),
        |cc(node, reach) AS (
        |  SELECT u, u FROM und
        |  UNION
        |  SELECT und.v, cc.reach FROM cc JOIN und ON und.u = cc.node),
        |mn AS (SELECT node, min(reach) AS comp FROM cc GROUP BY node)
        |SELECT d.doc_id,
        |  CAST(coalesce(mn.comp, d.doc_id) AS BIGINT) AS cluster_id,
        |  CAST(d.doc_id = coalesce(mn.comp, d.doc_id) AS INT) AS keep
        |FROM documents d LEFT JOIN mn ON mn.node = d.doc_id""".stripMargin
  )
}

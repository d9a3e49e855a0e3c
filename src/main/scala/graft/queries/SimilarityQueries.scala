package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.NativeFunctions
import graft.ops.Similarity
import graft.sources.Tables

/** Similarity-search queries over `embeddings` (64-dim FLOAT vectors):
  * brute-force cosine scoring plus the LSH-bucketed / IVF ANN scale paths.
  *
  * Every query here is fully DuckDB-oracle-checked. Top-k queries use the
  * kth-with-ties form (`Similarity.topKWithTies`): a bare LIMIT k ranks
  * last-ulp float ties at the boundary differently across engines, while
  * emitting every row that ties-or-beats the k-th ROUNDED score is a
  * deterministic set on both. The LSH bucket hash is oracle-expressible
  * because its hyperplane weights depend only on (dim, bit, seed): the
  * oracle embeds the same integer weight table as literals
  * (`Similarity.lshWeightInt`) and replays the identical IEEE double
  * fold. The IVF centroid sample uses a plain integer multiplicative
  * hash (`Similarity.sampleHash`) for the same reason.
  */
object SimilarityQueries {

  /** The query vector is the corpus's own vec_id=0 row — deterministic,
    * no external data. Collecting one 64-float row driver-side is the
    * broadcast-a-query pattern, not a driver-side loop.
    */
  private def queryVec(s: SparkSession, dir: String): Seq[Float] = {
    Tables.embeddings(s, dir).filter(col("vec_id") === 0)
      .select(col("embedding")).head().getSeq[Float](0)
  }

  private val K = 20

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // brute-force cosine vs vec 0, thresholded (a LIMIT k would make the
    // boundary row depend on last-ulp float differences across engines;
    // the threshold on a rounded score is cross-engine stable).
    "q_cosine_score" -> ((s, dir) => {
      val q = queryVec(s, dir)
      Tables.embeddings(s, dir)
        .filter(col("vec_id") =!= 0)
        .select(col("vec_id"),
          round(Similarity.cosine(col("embedding"),
            array(q.map(v => lit(v)): _*)), 4).as("sim"))
        .filter(col("sim") >= 0.2)
    }),

    // the SAME cosine scoring through the native codegen'd Expression
    // (graft.functions.CosineSim) — same element-order double
    // accumulation, so it matches the identical DuckDB oracle bit-exactly.
    "q_cosine_score_native" -> ((s, dir) => {
      val q = queryVec(s, dir)
      Tables.embeddings(s, dir)
        .filter(col("vec_id") =!= 0)
        .select(col("vec_id"),
          round(NativeFunctions.cosine(col("embedding"),
            array(q.map(v => lit(v)): _*)), 4).as("sim"))
        .filter(col("sim") >= 0.2)
    }),

    // brute-force top-k, kth-with-ties on the rounded score (full oracle).
    "q_cosine_topk" -> ((s, dir) => {
      val q = queryVec(s, dir)
      val scored = Tables.embeddings(s, dir)
        .filter(col("vec_id") =!= 0)
        .select(col("vec_id"),
          round(NativeFunctions.cosine(col("embedding"),
            array(q.map(v => lit(v)): _*)), 4).as("sim"))
      Similarity.topKWithTies(scored, "sim", K)
    }),

    // ANN: fused native LSH bucket probe then exact cosine in-bucket,
    // kth-with-ties (full oracle via the literal weight table).
    "q_ann_topk" -> ((s, dir) => {
      val q = queryVec(s, dir)
      val scored = Similarity.annScores(
        Tables.embeddings(s, dir).filter(col("vec_id") =!= 0),
        col("embedding"), q, bits = 4)
        .select(col("vec_id"), round(col("sim"), 4).as("sim"))
      Similarity.topKWithTies(scored, "sim", K)
    }),

    // IVF ANN: deterministic coarse centroids (portable integer sample
    // hash), nProbe nearest cells scanned exactly, kth-with-ties (full
    // oracle; full-probe == brute-force equivalence also in
    // SimilaritySpec).
    "q_ivf_topk" -> ((s, dir) => {
      val q = queryVec(s, dir)
      val scored = Similarity.ivfScores(
        Tables.embeddings(s, dir).filter(col("vec_id") =!= 0),
        col("vec_id"), col("embedding"), q, nCells = 16, nProbe = 4)
        .select(col("id").as("vec_id"), round(col("sim"), 4).as("sim"))
      Similarity.topKWithTies(scored, "sim", K)
    }),

    // IVF over k-means-TRAINED cells (spherical Lloyd's, 3 rounds from
    // the seeded sample): rows-only by nature — the trained centroids
    // depend on engine-internal float summation order, so no cross-engine
    // oracle can exist; convergence, unit-norm, full-probe==brute-force
    // and model-reuse semantics are pinned in SimilaritySpec.
    "q_ivf_kmeans_topk" -> ((s, dir) => {
      val q = queryVec(s, dir)
      Similarity.ivfTopKKmeans(
        Tables.embeddings(s, dir).filter(col("vec_id") =!= 0),
        col("vec_id"), col("embedding"), q, k = K, nCells = 16, nProbe = 4,
        iters = 3)
        .select(col("id").as("vec_id"), round(col("sim"), 4).as("sim"))
    }),

    // int8 quantization of the embedding column — the transform is
    // deterministic in IEEE double, so it gets a full DuckDB oracle
    // (per-vector scale + sum/min/max of the quantized values).
    "q_quantize" -> ((s, dir) => {
      Similarity.quantizeInt8(Tables.embeddings(s, dir), col("vec_id"), col("embedding"))
        .select(col("id").as("vec_id"), col("scale"),
          aggregate(col("q"), lit(0L), (a, b) => a + b.cast("long")).as("q_sum"),
          array_min(col("q")).cast("int").as("q_min"),
          array_max(col("q")).cast("int").as("q_max"))
    }),

    // brute-force top-k over the int8 index, kth-with-ties (full oracle:
    // both engines quantize the query and corpus with identical IEEE
    // rounding, then rank on the identical double fold).
    "q_quantize_topk" -> ((s, dir) => {
      val q = queryVec(s, dir)
      val idx = Similarity.quantizeInt8(
        Tables.embeddings(s, dir).filter(col("vec_id") =!= 0),
        col("vec_id"), col("embedding"))
      val scored = Similarity.int8Scores(idx, q)
        .select(col("id").as("vec_id"), round(col("sim"), 4).as("sim"))
      Similarity.topKWithTies(scored, "sim", K)
    }),

    // embedding near-dup pairs, LSH-bucketed (rows-only: pair generation
    // via the bucket join is order-insensitive but the xxhash64 bucket
    // values themselves are exercised above; semantics in DedupeSpec).
    "q_cosine_dup_pairs" -> ((s, dir) => {
      Similarity.cosineDupPairs(Tables.embeddings(s, dir), col("vec_id"),
        col("embedding"), threshold = 0.35, bits = 4)
        .select(col("id_a"), col("id_b"), round(col("sim"), 4).as("sim"))
    }))

  /** DuckDB cosine of `$a.embedding` × `$b.embedding`, built with the same
    * left-to-right fold as the Spark `aggregate` / native-Expression
    * implementations, element-wise in double, so both engines produce
    * bit-identical sums (list_cosine_similarity may not).
    */
  private def cosExpr(a: String, b: String, fld: String = "embedding"): String =
    s"""list_sum(list_transform(range(1, 65),
       |      i -> CAST($a.$fld[CAST(i AS INT)] AS DOUBLE) * CAST($b.$fld[CAST(i AS INT)] AS DOUBLE)))
       |  / (sqrt(list_sum(list_transform(range(1, 65),
       |      i -> CAST($a.$fld[CAST(i AS INT)] AS DOUBLE) * CAST($a.$fld[CAST(i AS INT)] AS DOUBLE))))
       |   * sqrt(list_sum(list_transform(range(1, 65),
       |      i -> CAST($b.$fld[CAST(i AS INT)] AS DOUBLE) * CAST($b.$fld[CAST(i AS INT)] AS DOUBLE)))))""".stripMargin

  private val cosSql = cosExpr("e", "q")

  /** Wrap a `scored(vec_id, sim)` CTE body with the kth-with-ties cut. */
  private def topKSql(scoredBody: String, k: Int = K): String =
    s"""WITH scored AS (
       |$scoredBody)
       |SELECT vec_id, sim FROM scored
       |WHERE sim >= (SELECT min(sim) FROM
       |  (SELECT sim FROM scored ORDER BY sim DESC LIMIT $k) b)""".stripMargin

  private val cosineScoreSql =
    s"""SELECT vec_id, sim FROM (
       |  SELECT e.vec_id, round($cosSql, 4) AS sim
       |  FROM embeddings e, (SELECT embedding FROM embeddings WHERE vec_id = 0) q
       |  WHERE e.vec_id <> 0)
       |WHERE sim >= 0.2""".stripMargin

  /** The LSH hyperplane weight table as SQL literals: weight (j, b) is
    * `(CAST(h AS DOUBLE)/500.0 - 1.0)` with h = the same xxhash64-chain
    * integer the Spark column/native forms derive (Similarity
    * .lshWeightInt) — the identical IEEE expression on both engines.
    */
  private def lshWeightListSql(b: Int, dims: Int = 64): String =
    (0 until dims).map(j =>
      s"(CAST(${Similarity.lshWeightInt(j, b)} AS DOUBLE)/500.0 - 1.0)")
      .mkString("[", ",", "]")

  /** `bucket` over column `$a.embedding` for `bits` hyperplanes: bit b is
    * set when the ordered-fold projection against weight row b is >= 0 —
    * the exact Spark fold, so buckets agree bit-for-bit.
    */
  private def lshBucketSql(a: String, bits: Int): String =
    (0 until bits).map { b =>
      s"""(CASE WHEN list_sum(list_transform(range(1, 65),
         |      i -> CAST($a.embedding[CAST(i AS INT)] AS DOUBLE) * (w.w$b)[CAST(i AS INT)])) >= 0
         |  THEN ${1L << b} ELSE 0 END)""".stripMargin
    }.mkString(" + ")

  private def annTopkSql(bits: Int = 4): String = {
    val wCte = (0 until bits).map(b => s"${lshWeightListSql(b)} AS w$b").mkString(", ")
    topKSql(
      s"""  WITH w AS (SELECT $wCte),
         |  buck AS (
         |    SELECT e.vec_id, e.embedding, ${lshBucketSql("e", bits)} AS bucket
         |    FROM embeddings e, w)
         |  SELECT b.vec_id, round(${cosExpr("b", "q")}, 4) AS sim
         |  FROM buck b,
         |       (SELECT embedding FROM embeddings WHERE vec_id = 0) q,
         |       (SELECT bucket FROM buck WHERE vec_id = 0) qb
         |  WHERE b.vec_id <> 0 AND b.bucket = qb.bucket""".stripMargin)
  }

  /** IVF oracle: centroid sample by the portable integer hash, cell
    * assignment by row_number over (sim DESC, cell DESC) — the same rule
    * as Spark's array_max over (sim, cell) structs, where the larger cell
    * wins exact cosine ties — probe cells by
    * sim DESC, cell ASC (Spark's stable driver-side sort), then
    * kth-with-ties over the probed rows.
    */
  private def ivfTopkSql(nCells: Int = 16, nProbe: Int = 4): String =
    topKSql(
      s"""  WITH corpus AS (
         |    SELECT vec_id, embedding FROM embeddings WHERE vec_id <> 0),
         |  cent AS (
         |    SELECT row_number() OVER (ORDER BY h, vec_id) AS cell, embedding
         |    FROM (SELECT vec_id, embedding,
         |            (vec_id * 2654435761) % 1000000007 AS h
         |          FROM corpus ORDER BY h, vec_id LIMIT $nCells)),
         |  assigned AS (
         |    SELECT vec_id, cell FROM (
         |      SELECT vec_id, cell,
         |        row_number() OVER (PARTITION BY vec_id
         |                           ORDER BY sim DESC, cell DESC) AS rn
         |      FROM (SELECT e.vec_id, c.cell, ${cosExpr("e", "c")} AS sim
         |            FROM corpus e CROSS JOIN cent c))
         |    WHERE rn = 1),
         |  probe AS (
         |    SELECT cell FROM (
         |      SELECT c.cell, ${cosExpr("c", "q")} AS csim
         |      FROM cent c, (SELECT embedding FROM embeddings WHERE vec_id = 0) q)
         |    ORDER BY csim DESC, cell ASC LIMIT $nProbe)
         |  SELECT e.vec_id, round(${cosExpr("e", "q")}, 4) AS sim
         |  FROM assigned a
         |  JOIN corpus e ON a.vec_id = e.vec_id,
         |       (SELECT embedding FROM embeddings WHERE vec_id = 0) q
         |  WHERE a.cell IN (SELECT cell FROM probe)""".stripMargin)

  /** int8-quantized vectors for corpus and query, then the kth-with-ties
    * cosine rank on the quantized values — both engines round
    * half-away-from-zero on bit-identical doubles (the q_quantize
    * pattern), so the quantized grids agree exactly.
    */
  private val quantizeTopkSql: String = {
    def quant(src: String) =
      s"""SELECT vec_id,
         |      CASE WHEN maxabs = 0 THEN list_transform(embedding, x -> CAST(0 AS TINYINT))
         |           ELSE list_transform(embedding, x ->
         |             CAST(round(CAST(x AS DOUBLE) * 127.0 / CAST(maxabs AS DOUBLE)) AS TINYINT)) END AS qv
         |    FROM (SELECT vec_id, embedding,
         |            list_max(list_transform(embedding, x -> abs(x))) AS maxabs
         |          FROM embeddings WHERE $src)""".stripMargin
    topKSql(
      s"""  WITH quant AS (
         |    ${quant("vec_id <> 0")}),
         |  qq AS (
         |    ${quant("vec_id = 0")})
         |  SELECT e.vec_id, round(${cosExpr("e", "q", "qv")}, 4) AS sim
         |  FROM quant e, qq q""".stripMargin)
  }

  val oracles: Map[String, String] = Map(
    "q_quantize" ->
      """SELECT vec_id,
        |  CAST(maxabs AS DOUBLE) / 127.0 AS scale,
        |  CAST(coalesce(list_sum(qv), 0) AS BIGINT) AS q_sum,
        |  CAST(list_min(qv) AS INT) AS q_min,
        |  CAST(list_max(qv) AS INT) AS q_max
        |FROM (
        |  SELECT vec_id, maxabs,
        |    CASE WHEN maxabs = 0 THEN list_transform(embedding, x -> CAST(0 AS TINYINT))
        |         ELSE list_transform(embedding, x ->
        |           CAST(round(CAST(x AS DOUBLE) * 127.0 / CAST(maxabs AS DOUBLE)) AS TINYINT)) END AS qv
        |  FROM (SELECT vec_id, embedding,
        |          list_max(list_transform(embedding, x -> abs(x))) AS maxabs
        |        FROM embeddings))""".stripMargin,
    "q_cosine_score_native" -> cosineScoreSql,
    "q_cosine_score" -> cosineScoreSql,
    "q_cosine_topk" -> topKSql(
      s"""  SELECT e.vec_id, round($cosSql, 4) AS sim
         |  FROM embeddings e, (SELECT embedding FROM embeddings WHERE vec_id = 0) q
         |  WHERE e.vec_id <> 0""".stripMargin),
    "q_ann_topk" -> annTopkSql(bits = 4),
    "q_ivf_topk" -> ivfTopkSql(nCells = 16, nProbe = 4),
    "q_quantize_topk" -> quantizeTopkSql
  )
}

package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-data preparation operators: deterministic (seedable,
  * retry-stable) sampling / split assignment, and sequence packing into
  * fixed token-budget context windows.
  *
  * Neither exists in the reference (Benthos moves messages; it does not
  * curate corpora) — they are the "operations a large-scale training-data
  * pipeline needs" beyond the reference surface, in the same family as the
  * dedupe/ANN/quality operators (SURVEY.md §2.7 extension).
  *
  * Design constraints at 100 TB:
  *  - Sampling must be a MAP-SIDE FILTER: no shuffle, no RNG state, no
  *    driver round-trip — and reproducible across task retries, which
  *    rules out `rand()` (Spark re-draws on retry; a retried partition
  *    would emit a different sample). A deterministic hash of a stable key
  *    gives retry-stable, seedable sampling at scan speed — and pushes
  *    into the scan when the key is a partition column.
  *  - Packing must never need a GLOBAL sort or a single-task window: rows
  *    are sharded by hash(key) into `strata × nShards` independent window
  *    partitions that pack concurrently (each a few GB at any corpus
  *    size — nShards scales with the cluster, not the data).
  *
  * The per-row hash is pure integer arithmetic (a MINSTD multiplicative
  * step followed by a quadratic mix, all mod the Mersenne prime 2^31-1),
  * so any engine computes the identical value — which is what makes these
  * operators fully DuckDB-oracle-able, unlike xxhash64-based signatures.
  */
object TrainPrep {

  /** Modulus 2^31-1 (Mersenne prime M31, the MINSTD modulus). */
  val M: Long = 2147483647L
  private val A: Long = 48271L // MINSTD multiplier

  /** Deterministic hash of `key` into [0, M). The seed is injected
    * BETWEEN two quadratic rounds, never added to the key: an additive
    * pre-mix seed makes any two seeds mere key-space shifts of one
    * another (hash(k, s2) == hash(k + (s2-s1), s1) when the pipeline is
    * affine in k+s), which silently correlates a sample drawn under one
    * seed with the split assigned under another. With the seed inside
    * the nonlinearity, equal outputs across seeds require a per-key
    * quadratic coincidence, not a fixed offset. All stages are
    * overflow-safe in 64-bit signed arithmetic: h ≤ M-1, so
    * h*h + h + s < 2^62 + 2^32 < Long.MaxValue.
    */
  def splitHash(key: Column, seed: Long): Column = {
    val h0 = pmod(key, lit(M))
    val h1 = pmod(h0 * lit(A), lit(M))
    val h2 = pmod(h1 * h1 + h1 + lit(seed % M), lit(M))
    pmod(h2 * h2 + h2, lit(M))
  }

  /** The identical hash as engine-portable SQL (DuckDB oracle twin).
    * Plain `%` follows the dividend's sign in SQL, so the first stage
    * double-mods to stay non-negative for negative keys, matching
    * `pmod`; every later stage is non-negative by construction.
    */
  def splitHashSql(key: String, seed: Long): String = {
    val h0 = s"((($key) % $M + $M) % $M)"
    val h1 = s"(($h0 * $A) % $M)"
    val h2 = s"((($h1) * ($h1) + ($h1) + ${seed % M}) % $M)"
    s"((($h2) * ($h2) + ($h2)) % $M)"
  }

  /** Keep a deterministic `fraction` of rows, keyed on `key`. */
  def hashSample(df: DataFrame, key: Column, fraction: Double, seed: Long): DataFrame =
    df.filter(splitHash(key, seed) < lit((fraction * M).toLong))

  /** Stratified sampling: an independent fraction per stratum value
    * (quota sampling — e.g. keep 50% of English, 10% of everything else).
    * One CASE over the stratum column; still a map-side filter.
    */
  def stratifiedSample(df: DataFrame, key: Column, strata: Column,
      fractions: Map[String, Double], default: Double, seed: Long): DataFrame = {
    val threshold = fractions.foldLeft(lit((default * M).toLong)) {
      case (rest, (value, frac)) =>
        when(strata === lit(value), lit((frac * M).toLong)).otherwise(rest)
    }
    df.filter(splitHash(key, seed) < threshold)
  }

  /** Assign train/validation/test splits by cumulative percentage (e.g.
    * Seq(("train", 80), ("val", 10), ("test", 10))). Deterministic in the
    * key: re-running the pipeline — or retrying a task — never migrates a
    * document across splits (train/test leakage via retry is a real
    * large-scale failure mode).
    */
  def assignSplit(key: Column, splits: Seq[(String, Int)], seed: Long): Column = {
    require(splits.map(_._2).sum == 100, "split percentages must total 100")
    val h = splitHash(key, seed)
    val (cases, _) = splits.init.foldLeft((List.empty[(Column, String)], 0L)) {
      case ((acc, cum), (name, pct)) =>
        val hi = cum + pct * M / 100
        ((h < lit(hi), name) :: acc, hi)
    }
    cases.reverse.foldRight(lit(splits.last._1): Column) {
      case ((cond, name), rest) => when(cond, lit(name)).otherwise(rest)
    }
  }

  /** Deterministic global training-order shuffle: assigns every row a
    * (shuffle_shard, shuffle_pos) so that reading shards in order, each
    * shard in pos order, visits the corpus in a seeded pseudorandom
    * permutation. The training loader's requirements drive the shape:
    * reproducible across reruns AND task retries (rules out `rand()` and
    * any zipWithIndex-style physical-order scheme — both re-draw on
    * retry), re-shuffled by changing `seed`, and — because shard
    * membership is itself hash-pseudorandom — every shard and every
    * prefix of the read order is an unbiased corpus sample.
    *
    * 100 TB shape: ONE hash shuffle into `nShards` independent window
    * partitions (nShards scales with the cluster, not the data; each
    * shard sorts a corpus/nShards slice). No global sort, no single-task
    * window, no driver state. `key` must be unique (it is the final
    * tie-breaker, keeping the permutation total).
    */
  def shuffleDeterministic(df: DataFrame, key: Column, nShards: Int, seed: Long): DataFrame = {
    require(nShards > 0)
    val withH = df.withColumn("__h", splitHash(key, seed))
      .withColumn("shuffle_shard", pmod(col("__h"), lit(nShards.toLong)).cast("int"))
    val w = Window.partitionBy(col("shuffle_shard")).orderBy(col("__h"), key)
    withH
      .withColumn("shuffle_pos", (row_number().over(w) - 1).cast("bigint"))
      .drop("__h")
  }

  /** Benchmark decontamination (the training-data hygiene step: drop or
    * flag any document sharing an `n`-gram with an evaluation/benchmark
    * set, so test questions never leak into training data).
    *
    * 100 TB shape: the corpus side is a pure flatMap (n-gram explode over
    * the pruned (id, text) projection — no shuffle at any corpus size);
    * the eval side is small by construction (benchmarks are thousands of
    * documents), so its DISTINCT gram set is BROADCAST to the corpus-side
    * inner join. Only the matched (id) pairs — bounded by the
    * contamination rate, not the corpus — pass through the one small
    * DISTINCT exchange, and the surviving contaminated-id set broadcasts
    * back onto the corpus for the flag column. The corpus is never
    * shuffled and never carries text through an exchange.
    */
  def decontaminate(docs: DataFrame, evalSet: DataFrame, id: Column,
      text: Column, n: Int): DataFrame = {
    // the word array binds once per row in its own projection
    def grams(ws: Column) = explode(TextOps.wordNgrams(ws, n)).as("gram")
    val evalGrams = evalSet.select(TextOps.words(text).as("__ws"))
      .select(grams(col("__ws"))).distinct()
    val hit = docs.select(id.as("__did"), TextOps.words(text).as("__ws"))
      .select(col("__did"), grams(col("__ws")))
      .join(broadcast(evalGrams), "gram")
      .select(col("__did")).distinct()
      .withColumn("contaminated", lit(true))
    docs.join(broadcast(hit), id === col("__did"), "left")
      .drop("__did")
      .withColumn("contaminated", coalesce(col("contaminated"), lit(false)))
  }

  /** Concat-and-chunk sequence packing (the GPT-style pretraining shape):
    * within each (strata, shard) stream, documents are laid head-to-tail
    * in `key` order and the token stream is sliced into `budget`-sized
    * context windows; a document occupies token offsets
    * [start_off, start_off + tokens) and may straddle a window boundary —
    * `pack_first`/`pack_last` are the windows it lands in (equal when it
    * fits inside one). Rows with tokens <= 0 are dropped (they occupy no
    * tokens).
    *
    * `key` MUST be unique (a document id): it is both the layout order
    * and the only tie-breaker. With duplicate keys the layout order of
    * the peers is undefined, so no windowed formulation can assign them
    * disjoint spans deterministically — the ROWS frame below keeps each
    * row's span disjoint even then, but which peer comes first is
    * engine-dependent.
    *
    * All arithmetic is integer (DIV, not floating division), so offsets
    * stay exact past 2^53 tokens per shard.
    */
  def packSequences(df: DataFrame, key: Column, tokens: Column, budget: Long,
      nShards: Int, strata: Column): DataFrame = {
    require(budget > 0 && nShards > 0)
    val shard = pmod(key, lit(nShards.toLong))
    // ROWS, not the default RANGE frame: RANGE sums all ORDER BY peers
    // into every peer's cumulative, so duplicate keys would get equal
    // overlapping offsets instead of consecutive disjoint ones
    val w = Window.partitionBy(strata, shard).orderBy(key)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.filter(tokens > 0)
      .withColumn("tok", tokens.cast("long"))
      .withColumn("shard", shard)
      .withColumn("start_off", sum(col("tok")).over(w) - col("tok"))
      .withColumn("pack_first", expr(s"start_off DIV $budget"))
      .withColumn("pack_last", expr(s"(start_off + tok - 1) DIV $budget"))
  }
}

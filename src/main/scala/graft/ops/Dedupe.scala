package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.NativeFunctions

/** Deduplication family. The reference's `dedupe` processor is an exact
  * first-writer-wins drop against a seen-key cache (reference:
  * internal/old/processor/dedupe.go:78-81,128-170). At training-data scale
  * we extend it with the standard near-duplicate detectors (MinHash+LSH,
  * SimHash, n-gram Jaccard, embedding cosine), all expressed as shuffles on
  * bounded-width keys — no pairwise O(n²) stage ever materializes except
  * within an LSH bucket.
  */
object Dedupe {

  /** Exact dedupe, deterministic first-wins: keep the row with the smallest
    * `ord` per key. (dropDuplicates is nondeterministic about the survivor;
    * the reference keeps the first seen, so we pin the order.)
    * One shuffle on the key; the window and filter fuse into it.
    */
  def exactFirst(df: DataFrame, key: Column, ord: Column): DataFrame = {
    val w = Window.partitionBy(key).orderBy(ord)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** Streaming exact dedupe: Spark's dropDuplicates with watermark-bounded
    * state — the TTL'd seen-cache of the reference (cache TTL ≈ watermark).
    */
  def streamingDedupe(df: DataFrame, tsCol: String, ttl: String, keyCols: Seq[String]): DataFrame =
    df.withWatermark(tsCol, ttl).dropDuplicates(keyCols :+ tsCol)

  // ------------------------------------------------------------- shingles /

  /** Normalized word tokens of a text column. */
  def wordsOf(text: Column): Column =
    split(lower(regexp_replace(text, "[^a-zA-Z0-9 ]", " ")), "\\s+")

  /** k-shingles over an ALREADY-BOUND words array column.
    *
    * Perf contract: pass a projected attribute (`.select(wordsOf(text)
    * .as("w"))` first, then `shinglesOfWords(col("w"), k)`), never the
    * `wordsOf` expression itself — higher-order functions are interpreted
    * and re-evaluate their free subexpressions per element, turning the
    * tokenizer into O(words²) per document (measured 13s → <1s on 5k docs).
    */
  def shinglesOfWords(words: Column, k: Int): Column = {
    val n = size(words)
    array_distinct(
      filter(
        transform(sequence(lit(0), greatest(n - k, lit(0))),
          i => array_join(slice(words, i + 1, lit(k)), " ")),
        s => length(s) > 0))
  }

  /** Normalized word k-shingles straight from text — convenience form for
    * single-pass use; hot paths should bind via `wordsOf` (see above).
    */
  def shingles(text: Column, k: Int): Column = shinglesOfWords(wordsOf(text), k)

  /** MinHash signature: for each of `numHashes` seeded permutations, the
    * minimum xxhash64 over the shingle set. Pure map-side column math —
    * codegen'd, no UDF, no shuffle.
    */
  def minhashSignature(shinglesCol: Column, numHashes: Int): Column =
    array((0 until numHashes).map { i =>
      array_min(transform(shinglesCol, s => xxhash64(s, lit(i))))
    }: _*)

  /** MinHash + LSH banding: split the signature into `bands` bands of
    * `rowsPerBand` hashes; rows sharing any band bucket are candidate
    * duplicates. Emits narrow (bucket, doc_id) pairs — the classic
    * shingle→minhash→band→bucket-join pipeline; shingle sets are NOT
    * carried through the shuffle (at 100 TB the banded exchange must be
    * two thin columns, not the document payload).
    */
  /** (doc_id, shingles) with the words array bound through a projection
    * (see `shinglesOfWords` perf contract; CollapseProject keeps the
    * alias when it is consumed inside a lambda, so the projection split
    * is enough — but NO filter may reference `sh`: PushDownPredicates
    * would inline the whole shingle expression into a pre-projection
    * Filter and pay the per-element re-evaluation there, measured 12 s on
    * 5 k docs). Token-less docs keep an empty `sh`; they are harmless —
    * the LSH path excludes them via the signature's null instead.
    */
  private def shingled(df: DataFrame, idCol: Column, text: Column, k: Int): DataFrame =
    df.select(idCol.as("doc_id"), wordsOf(text).as("__words"))
      .select(col("doc_id"), shinglesOfWords(col("__words"), k).as("sh"))

  def minhashLsh(
      df: DataFrame,
      idCol: Column,
      text: Column,
      k: Int = 5,
      numHashes: Int = 20,
      bands: Int = 5): DataFrame = {
    val rowsPerBand = numHashes / bands
    // native one-pass signature: the HOF form costs ~numHashes×|shingles|
    // interpreted lambda calls per document (BENCH.md §2)
    df.select(idCol.as("doc_id"),
        NativeFunctions.minhashSig(text, k, numHashes).as("__sig"))
      .filter(col("__sig").isNotNull)
      .select(col("doc_id"),
        explode(
          transform(sequence(lit(0), lit(bands - 1)),
            b => xxhash64(b, array_join(
              slice(col("__sig"), b * rowsPerBand + 1, lit(rowsPerBand)), ","))))
          .as("bucket"))
  }

  /** Candidate near-duplicate pairs via LSH buckets, verified with exact
    * Jaccard ≥ threshold. Returns (doc_a, doc_b, jaccard) with doc_a <
    * doc_b.
    *
    * Scale shape: (1) bucket self-join on two thin columns; (2) DISTINCT
    * collapses multi-band collisions BEFORE verification so Jaccard runs
    * once per candidate pair; (3) shingle sets are re-attached by two
    * id-keyed joins (map-side recompute is cheaper than shuffling arrays
    * through the bucket exchange). Skewed buckets are handled by AQE
    * skew-join (on by default).
    */
  def minhashDupPairs(
      df: DataFrame,
      idCol: Column,
      text: Column,
      threshold: Double,
      k: Int = 5,
      numHashes: Int = 20,
      bands: Int = 5): DataFrame = {
    val withSh = shingled(df, idCol, text, k)
    val banded = minhashLsh(df, idCol, text, k, numHashes, bands)
    val candidates = banded.as("x")
      .join(banded.as("y"), Seq("bucket"))
      .filter(col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
    candidates
      .join(withSh.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), Seq("doc_a"))
      .join(withSh.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        (size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b")))).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** SimHash: 64-bit signature where bit i is the sign of the sum over
    * tokens of (token-hash bit i ? +1 : -1). Near-dups have small Hamming
    * distance. Column-only implementation via aggregate over bit positions.
    */
  def simhash(text: Column): Column = {
    val tokens = filter(
      split(lower(regexp_replace(text, "[^a-zA-Z0-9 ]", " ")), "\\s+"),
      t => length(t) > 0)
    val hashes = transform(tokens, t => xxhash64(t))
    // For each bit position, count tokens with the bit set vs total.
    val nTokens = size(hashes)
    aggregate(
      sequence(lit(0), lit(63)),
      lit(0L),
      (acc, bit) => {
        val ones = aggregate(hashes, lit(0L),
          (a, h) => a + call_function("shiftright", h, bit).bitwiseAND(lit(1L)))
        acc + when(ones * 2 > nTokens, call_function("shiftleft", lit(1L), bit))
          .otherwise(lit(0L))
      })
  }

  /** Hamming distance between two simhash signatures. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** Character n-grams over an ALREADY-BOUND lowercased attribute. Same
    * perf contract as `shinglesOfWords`: the lambda references `t` per
    * element, and an inlined expression (e.g. `lower(text)`) would be
    * re-evaluated per CHARACTER by the interpreted HOF — O(len²) per doc
    * (measured: q_ngram_jaccard 7.6 s → 0.6 s at sf0.1 after binding).
    */
  def charNgramsOfBound(t: Column, n: Int): Column =
    array_distinct(
      filter(
        transform(sequence(lit(1), greatest(length(t) - (n - 1), lit(1))),
          i => t.substr(i, lit(n))),
        s => length(s) === n))

  /** N-gram (character) Jaccard similarity of two texts — the exact
    * verifier used standalone for small candidate sets. Convenience form;
    * hot paths must bind `lower(text)` through a projection first and use
    * `charNgramsOfBound` (see its perf contract).
    */
  def charNgrams(text: Column, n: Int): Column =
    charNgramsOfBound(lower(text), n)

  def jaccard(a: Column, b: Column): Column =
    when(size(array_union(a, b)) === 0, 0.0)
      .otherwise(size(array_intersect(a, b)).cast("double") / size(array_union(a, b)))

  // ------------------------------------------------- duplicate clusters /

  /** Connected components over an undirected edge list, via alternating
    * large-star / small-star contraction (Kiveris et al., "Connected
    * Components in MapReduce and Beyond", SoCC'14). Returns
    * `(node: long, comp: long)` where `comp` is the smallest node id in
    * the node's component; isolated nodes (absent from `edges`) do not
    * appear — callers left-join and coalesce to self.
    *
    * Scale shape: the pair-finding stages (MinHash/LSH) emit duplicate
    * EDGES; resolving them into clusters so one canonical doc survives is
    * a graph problem whose components do NOT fit a groupBy key at corpus
    * scale (transitive chains). This algorithm converges in O(log² n)
    * rounds — O(log n) observed — where each round is two hash shuffles
    * over a two-long-column edge set; no component is ever materialized
    * on one task, no driver-side graph. Per-round LAZY `localCheckpoint`s
    * truncate the iterative lineage and are materialized by the same
    * single action that computes the round's convergence signature (an
    * order-insensitive (count, xxhash64-xor) of the edge set) — ONE
    * driver round-trip per round, not four; the large-star identity is
    * confirmed with one extra action only on the round that converges.
    *
    * Star steps (each preserves components; fixpoint = star graphs rooted
    * at the component min):
    *  - large-star: every node attaches its LARGER neighbors to the
    *    minimum of its closed neighborhood;
    *  - small-star: every node attaches its smaller-or-self neighborhood
    *    to that neighborhood's minimum.
    */
  def connectedComponents(edges: DataFrame, maxIter: Int = 50): DataFrame = {
    val cols = edges.columns
    require(cols.length >= 2, s"edge frame needs two columns, got ${cols.mkString(",")}")
    var e = edges
      .select(col(cols(0)).cast("long").as("u"), col(cols(1)).cast("long").as("v"))
      .filter(col("u") =!= col("v") && col("u").isNotNull && col("v").isNotNull)
      .distinct()
    if (e.isEmpty) return e.select(col("u").as("node"), col("v").as("comp"))

    def largeStar(in: DataFrame): DataFrame = {
      val d = in.union(in.select(col("v").as("u"), col("u").as("v")))
      val mins = d.groupBy("u")
        .agg(min(col("v")).as("__mn"))
        .select(col("u"), least(col("__mn"), col("u")).as("m"))
      d.join(mins, "u")
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .filter(col("u") =!= col("v"))
        .distinct()
    }

    // Operates on (child > parent)-oriented edges — large-star output.
    def smallStar(in: DataFrame): DataFrame = {
      val mins = in.groupBy("u").agg(min(col("v")).as("m"))
      in.join(mins, "u")
        .select(explode(array(
          struct(col("v").as("a"), col("m").as("b")),
          struct(col("u").as("a"), col("m").as("b")))).as("p"))
        .select(col("p.a").as("u"), col("p.b").as("v"))
        .filter(col("u") =!= col("v"))
        .distinct()
    }

    // order-insensitive edge-set signature; xor (not sum) because the
    // edge set is distinct and full-range hash sums overflow under ANSI
    def sig(df: DataFrame): (Long, Long) = {
      val r = df.agg(count(lit(1)), bit_xor(xxhash64(col("u"), col("v")))).head()
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }

    var converged = false
    var iter = 0
    var sigE = sig(e)
    while (!converged && iter < maxIter) {
      // lazy checkpoints: sig(s) is the round's ONLY action — computing
      // s's checkpoint pulls l's through, so both materialize in one job
      val l = largeStar(e).localCheckpoint(false)
      val s = smallStar(l).localCheckpoint(false)
      val sigS = sig(s)
      // s == e means smallStar∘largeStar is identity on e's signature;
      // confirm largeStar was identity too (guards a would-be 2-cycle
      // where the composition is stable but l != e) — final round only
      converged = sigS == sigE && sig(l) == sigE
      e = s
      sigE = sigS
      iter += 1
    }
    if (!converged)
      throw new IllegalStateException(s"connectedComponents: no fixpoint after $maxIter rounds")
    // Fixpoint is a star per component: (child, root) edges; add the roots.
    e.select(col("u").as("node"), col("v").as("comp"))
      .union(e.select(col("v").as("node"), col("v").as("comp")))
      .distinct()
  }

  /** End-to-end duplicate clustering: MinHash/LSH candidate pairs verified
    * by Jaccard ≥ `threshold` become edges; connected components resolve
    * transitive duplicate chains; every document gets a `cluster_id` (the
    * smallest doc_id of its duplicate cluster — isolated docs cluster with
    * themselves). `keep = (doc_id == cluster_id)` is the deterministic
    * first-wins survivor set, the standard corpus-dedup contract.
    */
  def dupClusters(
      df: DataFrame,
      idCol: Column,
      text: Column,
      threshold: Double,
      k: Int = 5,
      numHashes: Int = 20,
      bands: Int = 5): DataFrame = {
    val pairs = minhashDupPairs(df, idCol, text, threshold, k, numHashes, bands)
      .select(col("doc_a"), col("doc_b"))
    clustersOverEdges(df.select(idCol.cast("long").as("doc_id")), pairs)
  }

  /** Cluster assignment for every id in `docs` given duplicate `edges`
    * (two id columns): (doc_id, cluster_id, keep). */
  def clustersOverEdges(docs: DataFrame, edges: DataFrame): DataFrame = {
    val cc = connectedComponents(edges)
    docs.join(cc.withColumnRenamed("node", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("comp"), col("doc_id")).as("cluster_id"))
      .withColumn("keep", (col("doc_id") === col("cluster_id")).cast("int"))
  }
}

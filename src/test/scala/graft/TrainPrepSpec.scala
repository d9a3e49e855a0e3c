package graft

import org.apache.spark.sql.functions._
import graft.ops.TrainPrep

/** Training-data prep semantics: deterministic sampling (retry-stable,
  * fraction-accurate, stratified quotas), split assignment (exhaustive,
  * leak-proof), and concat-and-chunk sequence packing (contiguous offsets,
  * exact shard totals, correct window straddling).
  */
class TrainPrepSpec extends SparkTestBase {
  import spark.implicits._

  private def keys(n: Int) = spark.range(n.toLong).toDF("k")

  test("splitHash is deterministic and spread over [0, M)") {
    val h = keys(10000).select(TrainPrep.splitHash(col("k"), 7).as("h"))
    val again = keys(10000).select(TrainPrep.splitHash(col("k"), 7).as("h"))
    assert(h.collect().map(_.getLong(0)).toSeq ==
      again.collect().map(_.getLong(0)).toSeq)
    val stats = h.agg(min("h"), max("h"), countDistinct("h")).head()
    assert(stats.getLong(0) >= 0L && stats.getLong(1) < TrainPrep.M)
    assert(stats.getLong(2) > 9990) // near-collision-free on 10k keys
    // seed independence: a different seed reshuffles, not shifts
    val h2 = keys(10000).select(TrainPrep.splitHash(col("k"), 8).as("h"))
    assert(h.collect().map(_.getLong(0)).zip(h2.collect().map(_.getLong(0)))
      .count { case (a, b) => a == b } < 5)
    // and specifically NOT a key-space shift: with the seed added to the
    // key before the multiply (the rejected design), hash(k, 13) equals
    // hash(k + 6, 7) for EVERY k — the seed must enter the nonlinearity
    val viaSeed13 = keys(10000).select(TrainPrep.splitHash(col("k"), 13))
      .collect().map(_.getLong(0))
    val viaShift6 = keys(10000).select(TrainPrep.splitHash(col("k") + lit(6), 7))
      .collect().map(_.getLong(0))
    assert(viaSeed13.zip(viaShift6).count { case (a, b) => a == b } < 5,
      "seeds are key-space shifts of each other")
  }

  test("splitHash matches its SQL twin (the oracle cannot drift)") {
    val viaSql = keys(1000)
      .selectExpr(TrainPrep.splitHashSql("k", 7) + " AS h")
      .collect().map(_.getLong(0)).toSeq
    val viaCol = keys(1000).select(TrainPrep.splitHash(col("k"), 7))
      .collect().map(_.getLong(0)).toSeq
    assert(viaSql == viaCol)
  }

  test("hashSample keeps the requested fraction, deterministically") {
    val n = 20000
    val kept = TrainPrep.hashSample(keys(n), col("k"), 0.25, seed = 3).count()
    assert(math.abs(kept.toDouble / n - 0.25) < 0.02, s"kept $kept of $n")
    val kept2 = TrainPrep.hashSample(keys(n), col("k"), 0.25, seed = 3).count()
    assert(kept == kept2)
    // subset property: a larger fraction at the same seed strictly contains
    // the smaller one (thresholding one hash — lets you grow a sample
    // without resampling what's already processed)
    val small = TrainPrep.hashSample(keys(n), col("k"), 0.1, seed = 3)
    val large = TrainPrep.hashSample(keys(n), col("k"), 0.3, seed = 3)
    assert(small.except(large).count() == 0)
  }

  test("stratifiedSample applies per-stratum quotas") {
    val df = spark.range(30000).select(col("id").as("k"),
      when(pmod(col("id"), lit(3)) === 0, "en")
        .when(pmod(col("id"), lit(3)) === 1, "de").otherwise("fr").as("lang"))
    val out = TrainPrep.stratifiedSample(df, col("k"), col("lang"),
      Map("en" -> 0.5, "de" -> 0.3), default = 0.1, seed = 7)
      .groupBy("lang").count().as[(String, Long)].collect().toMap
    assert(math.abs(out("en") / 10000.0 - 0.5) < 0.03)
    assert(math.abs(out("de") / 10000.0 - 0.3) < 0.03)
    assert(math.abs(out("fr") / 10000.0 - 0.1) < 0.03)
  }

  test("assignSplit labels every row, at the requested proportions") {
    val out = keys(50000).select(TrainPrep.assignSplit(col("k"),
      Seq("train" -> 80, "val" -> 10, "test" -> 10), seed = 13).as("s"))
      .groupBy("s").count().as[(String, Long)].collect().toMap
    assert(out.values.sum == 50000)
    assert(math.abs(out("train") / 50000.0 - 0.8) < 0.02)
    assert(math.abs(out("val") / 50000.0 - 0.1) < 0.01)
    assert(math.abs(out("test") / 50000.0 - 0.1) < 0.01)
    // independence from the sampling seed: the split of a sampled subset
    // keeps the proportions (no correlated-seed leakage)
    val sampled = TrainPrep.hashSample(keys(50000), col("k"), 0.5, seed = 7)
      .select(TrainPrep.assignSplit(col("k"),
        Seq("train" -> 80, "val" -> 10, "test" -> 10), seed = 13).as("s"))
      .groupBy("s").count().as[(String, Long)].collect().toMap
    assert(math.abs(sampled("train").toDouble / sampled.values.sum - 0.8) < 0.02)
  }

  test("packSequences: contiguous offsets, exact totals, straddle math") {
    val docs = spark.range(5000).select(
      col("id").as("k"),
      (pmod(col("id") * 37, lit(400)) + 1).as("tok"),
      when(pmod(col("id"), lit(2)) === 0, "en").otherwise("de").as("lang"))
    val packed = TrainPrep.packSequences(docs, col("k"), col("tok"),
      budget = 512, nShards = 4, strata = col("lang"))
      .select("k", "lang", "shard", "tok", "start_off", "pack_first", "pack_last")
      .as[(Long, String, Long, Long, Long, Long, Long)].collect()

    // per (lang, shard): offsets are a gap-free head-to-tail layout
    packed.groupBy(r => (r._2, r._3)).foreach { case (_, rows) =>
      val sorted = rows.sortBy(_._1)
      var expected = 0L
      sorted.foreach { case (_, _, _, tok, off, first, last) =>
        assert(off == expected, s"offset gap: $off != $expected")
        assert(first == off / 512 && last == (off + tok - 1) / 512)
        assert(first <= last)
        expected += tok
      }
      // shard total = sum of its token counts (nothing lost or duplicated)
      assert(expected == rows.map(_._4).sum)
    }

    // every row with tok > 0 survives packing
    assert(packed.length == 5000)
    // rows that fit the budget exactly at a boundary do not straddle
    val oneDoc = Seq((0L, 512L, "en")).toDF("k", "tok", "lang")
    val p = TrainPrep.packSequences(oneDoc, col("k"), col("tok"), 512, 1, col("lang"))
      .select("pack_first", "pack_last").as[(Long, Long)].head()
    assert(p == ((0L, 0L)))
  }

  test("decontaminate flags shared n-grams against the eval set, corpus never shuffled") {
    import org.apache.spark.sql.functions._
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight"), // contains the eval 8-gram
      (2L, "a completely different sentence with no overlap at all here"),
      (3L, "short doc"), // fewer than n words -> no grams -> clean
      (4L, "prefix words then the quick brown fox jumps over the lazy dog and suffix") // near-dup
    ).toDF("doc_id", "text")
    val evalSet = Seq((100L, "the quick brown fox jumps over the lazy dog")).toDF("doc_id", "text")
    val out = graft.ops.TrainPrep.decontaminate(docs, evalSet, col("doc_id"), col("text"), n = 8)
      .select("doc_id", "contaminated").as[(Long, Boolean)].collect().toMap
    assert(out == Map(1L -> true, 2L -> false, 3L -> false, 4L -> true))
    // the eval-gram side broadcasts; the corpus side must not exchange
    val plan = graft.ops.TrainPrep.decontaminate(docs, evalSet, col("doc_id"), col("text"), n = 8)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoopJoin"))
  }

  test("wordNgrams matches the token-count word contract") {
    import org.apache.spark.sql.functions._
    val got = Seq("One two, THREE four five").toDF("t")
      .select(graft.ops.TextOps.wordNgrams(graft.ops.TextOps.words(col("t")), 3)).as[Seq[String]].head()
    assert(got == Seq("one two three", "two three four", "three four five"))
    val short = Seq("one two").toDF("t")
      .select(graft.ops.TextOps.wordNgrams(graft.ops.TextOps.words(col("t")), 3)).as[Seq[String]].head()
    assert(short.isEmpty)
  }

  test("shuffleDeterministic: total permutation, partitioning-invariant, seed-sensitive") {
    import org.apache.spark.sql.functions._
    val docs = (0L until 1000L).map(i => (i, s"doc$i")).toDF("doc_id", "text")
    val out = TrainPrep.shuffleDeterministic(docs, col("doc_id"), nShards = 8, seed = 5L)
      .select("doc_id", "shuffle_shard", "shuffle_pos")
      .as[(Long, Int, Long)].collect().toSeq
    assert(out.map(_._1).sorted == (0L until 1000L)) // every row exactly once
    // positions are contiguous 0..n_s-1 within each shard (a permutation)
    out.groupBy(_._2).foreach { case (_, rows) =>
      assert(rows.map(_._3).sorted == (0L until rows.size)) }
    // shards are hash-balanced (each an unbiased ~1/8 sample)
    val sizes = out.groupBy(_._2).values.map(_.size)
    assert(sizes.size == 8 && sizes.min > 80 && sizes.max < 170)
    // physical partitioning cannot change the assignment
    val re = TrainPrep.shuffleDeterministic(docs.repartition(7), col("doc_id"), 8, 5L)
      .select("doc_id", "shuffle_shard", "shuffle_pos")
      .as[(Long, Int, Long)].collect().toSeq
    assert(re.sorted == out.sorted)
    // a different seed draws a different permutation
    val other = TrainPrep.shuffleDeterministic(docs, col("doc_id"), 8, 6L)
      .select("doc_id", "shuffle_shard", "shuffle_pos")
      .as[(Long, Int, Long)].collect().toSeq
    assert(other.sorted != out.sorted)
  }

  test("packSequences drops zero-token rows and keeps integer exactness") {
    val docs = Seq((1L, 0L, "en"), (2L, 5L, "en")).toDF("k", "tok", "lang")
    val out = TrainPrep.packSequences(docs, col("k"), col("tok"), 512, 1, col("lang"))
    assert(out.count() == 1)
    assert(out.select("start_off").as[Long].head() == 0L)
  }
}

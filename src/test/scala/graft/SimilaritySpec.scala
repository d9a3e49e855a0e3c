package graft

import org.apache.spark.sql.functions._
import graft.ops.Similarity

/** Similarity-search semantics: exact cosine values, brute-force top-k
  * ranking, ANN bucket probe recall against brute force on planted
  * vectors, and LSH bucket determinism.
  */
class SimilaritySpec extends SparkTestBase {
  import spark.implicits._

  private def vec(xs: Float*): Seq[Float] = xs.toSeq

  test("cosine: identity = 1, orthogonal = 0, opposite = -1") {
    val rows = Seq(
      (1L, vec(1f, 0f, 0f)),
      (2L, vec(0f, 1f, 0f)),
      (3L, vec(-1f, 0f, 0f))).toDF("id", "emb")
    val q = array(lit(1f), lit(0f), lit(0f))
    val sims = rows.select(col("id"), Similarity.cosine(col("emb"), q))
      .as[(Long, Double)].collect().toMap
    assert(math.abs(sims(1L) - 1.0) < 1e-12)
    assert(math.abs(sims(2L)) < 1e-12)
    assert(math.abs(sims(3L) + 1.0) < 1e-12)
  }

  test("brute-force top-k returns the k nearest by cosine") {
    val n = 100
    val dim = 8
    val rnd = new scala.util.Random(7)
    val base = Array.fill(dim)(rnd.nextFloat() - 0.5f)
    // vec i = base + noise/i: smaller i => noisier => lower cosine
    val data = (1 to n).map { i =>
      (i.toLong, base.zipWithIndex.map { case (v, j) =>
        v + (if (j == 0) 2.0f / i else 0f) }.toSeq)
    }
    val df = data.toDF("id", "emb")
    val got = Similarity.bruteForceTopK(df, col("emb"), base.toSeq, 5)
      .select("id").as[Long].collect().toSet
    // exact answer computed in plain Scala
    def cos(a: Seq[Float], b: Seq[Float]): Double = {
      val d = a.zip(b).map { case (x, y) => x.toDouble * y }.sum
      d / (math.sqrt(a.map(x => x.toDouble * x).sum) * math.sqrt(b.map(x => x.toDouble * x).sum))
    }
    val expected = data.sortBy { case (_, e) => -cos(e, base.toSeq) }.take(5).map(_._1).toSet
    assert(got == expected)
  }

  test("int8 quantization: cosine error bounded, top-k recall vs float baseline") {
    val n = 200
    val dim = 32
    val rnd = new scala.util.Random(11)
    val data = (1 to n).map(i =>
      (i.toLong, Seq.fill(dim)(rnd.nextFloat() - 0.5f)))
    val df = data.toDF("id", "emb")
    val query = Seq.fill(dim)(rnd.nextFloat() - 0.5f)

    // per-pair quantized-vs-float cosine error stays inside the int8 grid
    val idx = Similarity.quantizeInt8(df, col("id"), col("emb"))
    val qSims = Similarity.bruteForceTopKInt8(idx, query, n)
      .select("id", "sim").as[(Long, Double)].collect().toMap
    def cos(a: Seq[Float], b: Seq[Float]): Double = {
      val d = a.zip(b).map { case (x, y) => x.toDouble * y }.sum
      val nn = math.sqrt(a.map(x => x.toDouble * x).sum) *
        math.sqrt(b.map(x => x.toDouble * x).sum)
      if (nn == 0) 0.0 else d / nn
    }
    val maxErr = data.map { case (id, e) => math.abs(qSims(id) - cos(e, query)) }.max
    assert(maxErr < 0.02, s"quantization cosine error $maxErr")

    // recall@10 of the quantized probe against the float brute force
    val floatTop = data.sortBy { case (_, e) => -cos(e, query) }.take(10).map(_._1).toSet
    val int8Top = Similarity.bruteForceTopKInt8(idx, query, 10)
      .select("id").as[Long].collect().toSet
    val recall = (floatTop & int8Top).size / 10.0
    assert(recall >= 0.8, s"int8 recall@10 $recall")

    // scales reconstruct magnitudes: |q| * scale ≈ |emb|
    val scales = idx.select("id", "scale").as[(Long, Double)].collect().toMap
    val qvecs = idx.select("id", "q").as[(Long, Seq[Byte])].collect().toMap
    data.take(20).foreach { case (id, e) =>
      val qn = math.sqrt(qvecs(id).map(v => v.toDouble * v).sum) * scales(id)
      val en = math.sqrt(e.map(v => v.toDouble * v).sum)
      assert(math.abs(qn - en) <= en * 0.01 + 1e-9, s"id=$id |q|*s=$qn |e|=$en")
    }
  }

  test("ANN bucket probe finds the planted exact-duplicate neighbor") {
    val rnd = new scala.util.Random(13)
    val target = Seq.fill(16)(rnd.nextFloat() - 0.5f)
    val noise = (1 to 200).map(i => (i.toLong, Seq.fill(16)(rnd.nextFloat() - 0.5f)))
    val df = (noise :+ (999L, target)).toDF("id", "emb")
    val got = Similarity.annTopK(df, col("emb"), target, k = 1, bits = 4)
      .select("id").as[Long].collect()
    // identical vector hashes to the query's bucket and has cosine 1
    assert(got.headOption.contains(999L))
  }

  test("lshBucket is deterministic and within range") {
    val df = (1 to 50).map(i => (i.toLong, Seq.fill(8)(i * 0.1f))).toDF("id", "emb")
    val a = df.select(Similarity.lshBucket(col("emb"), 6)).as[Long].collect()
    val b = df.select(Similarity.lshBucket(col("emb"), 6)).as[Long].collect()
    assert(a.toSeq == b.toSeq)
    assert(a.forall(x => x >= 0 && x < 64))
  }

  test("lshBucketLocal (driver-side Scala) equals the lshBucket column form") {
    val rnd = new scala.util.Random(31)
    val vecs = (1 to 40).map(i => (i.toLong, Seq.fill(12)(rnd.nextFloat() - 0.5f)))
    val fromCol = vecs.toDF("id", "emb")
      .select(col("id"), Similarity.lshBucket(col("emb"), 8))
      .as[(Long, Long)].collect().toMap
    vecs.foreach { case (id, v) =>
      assert(Similarity.lshBucketLocal(v, 8) == fromCol(id), s"id=$id")
    }
  }

  test("IVF probe finds the planted duplicate and ranks like brute force") {
    val rnd = new scala.util.Random(17)
    val target = Seq.fill(16)(rnd.nextFloat() - 0.5f)
    val noise = (1 to 300).map(i => (i.toLong, Seq.fill(16)(rnd.nextFloat() - 0.5f)))
    val df = (noise :+ (999L, target)).toDF("id", "emb")
    val got = Similarity.ivfTopK(df, col("id"), col("emb"), target, k = 1,
      nCells = 8, nProbe = 3).select("id").as[Long].collect()
    // the duplicate's cell is by construction the query's top probe cell
    assert(got.headOption.contains(999L))
    // probing ALL cells must equal brute force exactly
    val all = Similarity.ivfTopK(df, col("id"), col("emb"), target, k = 5,
      nCells = 8, nProbe = 8).select("id").as[Long].collect().toSeq
    val brute = Similarity.bruteForceTopK(df, col("emb"), target, 5)
      .select("id").as[Long].collect().toSeq
    assert(all.toSet == brute.toSet)
  }

  test("kmeans centroids converge onto well-separated clusters; full probe == brute force") {
    // three orthogonal-ish clusters: base direction + small deterministic jitter
    val bases = Seq(
      Seq(1f, 0f, 0f, 0f), Seq(0f, 1f, 0f, 0f), Seq(0f, 0f, 1f, 0f))
    // jitter is distinct per i (i² mod 97 is injective for i ≤ 40), so no
    // two vectors tie in cosine and set-comparisons at the k boundary are
    // well-defined
    val data = for {
      (b, c) <- bases.zipWithIndex
      i <- 1 to 40
    } yield ((c * 100 + i).toLong,
      b.zipWithIndex.map { case (v, d) =>
        v + 0.05f * (((i * i + d * 31) % 97) - 48) / 48f })
    val df = data.toDF("id", "emb")
    val cents = Similarity.kmeansCentroids(df, col("id"), col("emb"), k = 3, iters = 5)
    assert(cents.size == 3)
    // every trained centroid aligns strongly with exactly one true base,
    // and all three bases are claimed (the clusters were found, not merged)
    val claimed = cents.map { case (_, ce) =>
      val sims = bases.map(b => Similarity.cosineLocal(ce, b))
      assert(sims.max > 0.98, s"centroid aligns ${sims.max}")
      sims.indexOf(sims.max)
    }
    assert(claimed.toSet.size == 3)
    // unit-length invariant (spherical k-means)
    cents.foreach { case (_, ce) =>
      assert(math.abs(math.sqrt(ce.map(x => x.toDouble * x).sum) - 1.0) < 1e-5)
    }
    // probing all trained cells must equal brute force exactly
    val q = Seq(0.9f, 0.1f, 0f, 0f)
    val all = Similarity.ivfTopKKmeans(df, col("id"), col("emb"), q, k = 5,
      nCells = 3, nProbe = 3, iters = 5).select("id").as[Long].collect().toSeq
    val brute = Similarity.bruteForceTopK(df, col("emb"), q, 5)
      .select("id").as[Long].collect().toSeq
    assert(all.toSet == brute.toSet)
    // a trained model is reusable without retraining
    val reused = Similarity.ivfTopKKmeans(df, col("id"), col("emb"), q, k = 5,
      nCells = 3, nProbe = 3, centroids = Some(cents))
      .select("id").as[Long].collect().toSeq
    assert(reused.toSet == brute.toSet)
  }

  test("kmeans with zero iterations returns the seeded sample; empty-cell rule holds") {
    val df = (1 to 20).map(i => (i.toLong, Seq(i * 0.1f, 1f))).toDF("id", "emb")
    val seeded = Similarity.kmeansCentroids(df, col("id"), col("emb"), k = 4, iters = 0)
    assert(seeded.size == 4)
    // k > distinct directions: some cells may empty out — training must
    // still return k centroids (empty cells keep their previous vector)
    val tight = (1 to 10).map(i => (i.toLong, Seq(1f, 0f))).toDF("id", "emb")
    val cents = Similarity.kmeansCentroids(tight, col("id"), col("emb"), k = 3, iters = 3)
    assert(cents.size == 3)
  }

  test("bucket-partitioned index: probe prunes partitions and finds the neighbor") {
    val rnd = new scala.util.Random(41)
    val target = Seq.fill(16)(rnd.nextFloat() - 0.5f)
    val rows = ((1 to 300).map(i => (i.toLong, Seq.fill(16)(rnd.nextFloat() - 0.5f)))
      :+ (999L, target))
    val dir = tempDir("ann-index").toString + "/idx"
    Similarity.writeBucketedIndex(rows.toDF("id", "emb"), col("id"), col("emb"),
      bits = 4, path = dir)
    val probe = Similarity.annTopKIndexed(spark, dir, target, k = 1, bits = 4)
    assert(probe.select("id").as[Long].collect().headOption.contains(999L))
    // the probe must reach the scan as a PARTITION filter (directory
    // pruning), with NO row-level data filter left — i.e. the scan never
    // touches the other buckets' files
    val plan = probe.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(bucket"), plan)
    assert(plan.contains("(bucket"), plan)
    assert(plan.contains("DataFilters: []"), plan)
  }

  test("cosineDupPairs reports planted duplicates above threshold") {
    val rnd = new scala.util.Random(29)
    val v = Seq.fill(12)(rnd.nextFloat() - 0.5f)
    val rows = Seq((1L, v), (2L, v)) ++
      (3 to 40).map(i => (i.toLong, Seq.fill(12)(rnd.nextFloat() - 0.5f)))
    val got = Similarity.cosineDupPairs(rows.toDF("id", "emb"), col("id"),
      col("emb"), threshold = 0.99, bits = 4)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(got.contains((1L, 2L)))
  }
}

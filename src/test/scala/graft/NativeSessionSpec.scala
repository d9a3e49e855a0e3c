package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.{Dedupe, KafkaPartition, Similarity}
import graft.sources.Tables

/** Every operator and query built on a native expression plans and runs in
  * a session that had no registration step (`spark.newSession()` shares
  * only the SparkContext), and returns the rows it returns in the suite's
  * shared session.
  */
class NativeSessionSpec extends SparkTestBase {

  private val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")

  private val vecs: Seq[(Long, Seq[Float])] = {
    val rnd = new scala.util.Random(5)
    val base = (1L to 40L).map(i => (i, Seq.fill(8)(rnd.nextFloat() - 0.5f)))
    // a planted near-duplicate of vector 1, so cosineDupPairs has a pair
    base :+ ((41L, base.head._2.map(_ * 1.001f)))
  }
  private val query: Seq[Float] = vecs.head._2
  private val cembs: Seq[(Int, Seq[Float])] = vecs.take(4).map(_._2).zipWithIndex.map(_.swap)

  private def emb(s: SparkSession): DataFrame = s.createDataFrame(vecs).toDF("id", "emb")
  private def keys(s: SparkSession): DataFrame =
    s.createDataFrame(Seq("conv-000001", "conv-000042", "x", "").map(Tuple1(_))).toDF("k")

  private val cases: Seq[(String, SparkSession => DataFrame)] = Seq(
    "Similarity.kmeansIterationSums" -> (s => Similarity.kmeansIterationSums(emb(s), cembs, 8)),
    "Similarity.annScores" -> (s => Similarity.annScores(emb(s), col("emb"), query, bits = 4)),
    "Similarity.ivfTopKKmeans with passed centroids" -> (s => Similarity.ivfTopKKmeans(
      emb(s), col("id"), col("emb"), query, k = 3, nProbe = 2, centroids = Some(cembs))),
    "Similarity.int8Scores" -> (s => Similarity.int8Scores(
      Similarity.quantizeInt8(emb(s), col("id"), col("emb")), query)),
    "Similarity.cosineDupPairs" -> (s =>
      Similarity.cosineDupPairs(emb(s), col("id"), col("emb"), threshold = 0.99)),
    "KafkaPartition.assign fnv1a_hash" -> (s => KafkaPartition.assign(keys(s), "fnv1a_hash", col("k"), 12)),
    "KafkaPartition.assign murmur2_hash" -> (s => KafkaPartition.assign(keys(s), "murmur2_hash", col("k"), 12)),
    "Dedupe.minhashLsh" -> (s =>
      Dedupe.minhashLsh(Tables.documents(s, dir), col("doc_id"), col("text"))),
    "q_simhash" -> (s => SparkEntry.queries("q_simhash")(s, dir)),
    "q_ngram_jaccard" -> (s => SparkEntry.queries("q_ngram_jaccard")(s, dir)),
    "q_token_count_native" -> (s => SparkEntry.queries("q_token_count_native")(s, dir)))

  cases.foreach { case (name, build) =>
    test(s"$name plans and runs in a session with no registration step") {
      val got = build(spark.newSession()).collect().map(_.toString).sorted
      assert(got.nonEmpty)
      assert(got.toSeq == build(spark).collect().map(_.toString).sorted.toSeq)
    }
  }
}

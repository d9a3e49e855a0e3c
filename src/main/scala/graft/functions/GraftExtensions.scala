package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Lower}

/** SparkSessionExtensions registrar for the engine's native expressions —
  * the public plugin surface, mirroring the reference's Bloblang plugin
  * registration (reference: public/bloblang/environment.go
  * RegisterFunctionV2). Activate with
  * `SparkSession.builder().withExtensions(new GraftExtensions)` or
  * `spark.sql.extensions=graft.functions.GraftExtensions`; the functions
  * then resolve in SQL and `expr(...)` as `graft_token_count`,
  * `graft_simhash64`, `graft_cosine`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.builders.foreach { case (name, usage, builder) =>
      ext.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage, ""),
        builder))
    }
}

object GraftExtensions {
  private val builders: Seq[(String, String, Seq[Expression] => Expression)] = Seq(
    ("graft_token_count", "one-pass whitespace-family token count",
      args => TokenCount(Lower(args.head))),
    ("graft_simhash64", "one-pass 64-bit SimHash signature",
      args => SimHash64(args.head)),
    ("graft_cosine", "cosine similarity of two ARRAY<FLOAT> columns",
      args => CosineSim(args(0), args(1))),
    ("graft_cosine_i8", "cosine similarity of two ARRAY<TINYINT> columns",
      args => {
        if (args.length != 2)
          throw new org.apache.spark.sql.AnalysisException(
            errorClass = "INTERNAL_ERROR",
            messageParameters = Map("message" ->
              "graft_cosine_i8 expects exactly (a: ARRAY<TINYINT>, b: ARRAY<TINYINT>)"))
        CosineSimI8(args(0), args(1))
      }),
    ("graft_ngram_jaccard", "character n-gram Jaccard of two strings (a, b, n)",
      args => {
        if (args.length != 3 || !args(2).foldable)
          throw new org.apache.spark.sql.AnalysisException(
            errorClass = "INTERNAL_ERROR",
            messageParameters = Map("message" ->
              "graft_ngram_jaccard expects (a, b, n: literal int)"))
        NgramJaccard(args(0), args(1), args(2).eval().asInstanceOf[Number].intValue())
      }),
    ("graft_lsh_bucket", "random-hyperplane LSH bucket id (emb, bits, seed)",
      args => {
        if (args.length != 3 || !args(1).foldable || !args(2).foldable)
          throw new org.apache.spark.sql.AnalysisException(
            errorClass = "INTERNAL_ERROR",
            messageParameters = Map("message" ->
              "graft_lsh_bucket expects (emb, bits: literal int, seed: literal int)"))
        LshBucket(args(0),
          args(1).eval().asInstanceOf[Number].intValue(),
          args(2).eval().asInstanceOf[Number].intValue())
      }),
    ("graft_fnv1a32", "FNV-1a 32-bit of a binary key as signed int (kafka fnv1a_hash partitioner hash)",
      args => Fnv1a32(args.head)),
    ("graft_murmur2", "Kafka-compatible murmur2 of a binary key as signed int (kafka murmur2_hash partitioner hash)",
      args => Murmur2Kafka(args.head)),
    ("graft_minhash_sig", "one-pass MinHash signature (text, k, numHashes)",
      args => {
        // k/numHashes shape the output schema, so they must be literal at
        // resolution time; validate instead of letting eval() on an
        // unresolved argument surface as an opaque Catalyst error.
        if (args.length != 3 || !args(1).foldable || !args(2).foldable)
          throw new org.apache.spark.sql.AnalysisException(
            errorClass = "INTERNAL_ERROR",
            messageParameters = Map("message" ->
              "graft_minhash_sig expects (text, k: literal int, numHashes: literal int)"))
        MinHashSig(args(0),
          args(1).eval().asInstanceOf[Number].intValue(),
          args(2).eval().asInstanceOf[Number].intValue())
      }))

  /** Idempotent in-session registration, for sessions built without
    * `withExtensions` (e.g. the driver's own Verify/Bench sessions).
    */
  def ensure(spark: org.apache.spark.sql.SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    builders.foreach { case (name, _, builder) =>
      reg.createOrReplaceTempFunction(name, builder, "built-in")
    }
  }
}

package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.NativeFunctions

/** The kafka output's partitioner family (reference:
  * internal/old/output/writer/kafka.go:214-231 `strToPartitioner`):
  * `fnv1a_hash` (sarama NewHashPartitioner), `murmur2_hash` (sarama
  * custom hash with `WithAbsFirst()` — the Java client's
  * `toPositive(h) % n`), `round_robin`, `random`, and `manual` (explicit
  * partition field, kafka.go:125-130's required-field contract).
  *
  * Spark-first reading: a kafka partition assignment is a derived column,
  * not a side effect — downstream sinks route on it (e.g.
  * `df.repartition(n, col("part_id"))` to co-locate, or
  * `partitionBy("part_id")` on write). The two hash strategies are native
  * codegen'd expressions over the key bytes (`NativeFunctions.fnv1a32` /
  * `murmur2`), so assignment runs at scan speed inside WholeStageCodegen
  * with no shuffle of its own.
  *
  * Partition math (both pinned by reference golden vectors in
  * KafkaPartitionSpec; kafka_test.go:8-23):
  *  - fnv1a_hash: sarama's signed `int32(hash) % n`, negated when
  *    negative (mod-then-abs — NOT the Java client's mask).
  *  - murmur2_hash: `WithAbsFirst()` = Kafka Java semantics
  *    `(hash & 0x7fffffff) % n`.
  */
object KafkaPartition {

  /** Signed FNV-1a 32 of the key bytes (string keys hash their UTF-8). */
  def fnv1a32(key: Column): Column = NativeFunctions.fnv1a32(key.cast("binary"))

  /** Kafka-compatible signed murmur2 of the key bytes. */
  def murmur2(key: Column): Column = NativeFunctions.murmur2(key.cast("binary"))

  /** sarama NewHashPartitioner: p = int32(fnv1a(key)) % n; if p < 0, -p.
    * (|h % n| < n, so the negation never overflows — including
    * h == Int.MinValue.)
    */
  def fnv1aPartition(key: Column, n: Int): Column = {
    val r = fnv1a32(key) % lit(n)
    when(r < 0, -r).otherwise(r)
  }

  /** murmur2_hash with WithAbsFirst: p = (murmur2(key) & 0x7fffffff) % n —
    * bit-compatible with the Java Kafka client's default partitioner, the
    * point of the reference's custom hash (kafka.go:218-223).
    */
  def murmur2Partition(key: Column, n: Int): Column =
    murmur2(key).bitwiseAND(lit(0x7fffffff)) % lit(n)

  /** round_robin, deterministic form: ordinal-in-`orderBy`-order % n.
    * sarama's round robin is a per-producer arrival counter; in a
    * deterministic batch engine the analogue is an explicit total order.
    * SCALE NOTE: the global row_number serializes into one task — this
    * form exists for verification and small routing tables. At scale use
    * [[roundRobinTask]], which is the reference's actual per-producer
    * semantics (each task = one producer) and embarrassingly parallel.
    */
  def roundRobin(df: DataFrame, n: Int, orderBy: Seq[Column], as: String = "part_id"): DataFrame =
    df.withColumn(as,
      ((row_number().over(Window.orderBy(orderBy: _*)) - 1) % n).cast("int"))

  /** round_robin, production form: a per-task counter mod n — one
    * "producer" per task, exactly sarama's per-producer counter semantics
    * when each task owns a producer. No shuffle, no coordination; the
    * assignment is balanced per task but not globally reproducible across
    * different input splits (neither is the reference's, across producer
    * restarts).
    */
  def roundRobinTask(df: DataFrame, n: Int, as: String = "part_id"): DataFrame =
    df.withColumn(as, (monotonically_increasing_id() % n).cast("int"))

  /** random, deterministic stand-in: seeded xxhash64 of the key bytes mod
    * n. sarama's NewRandomPartitioner draws from math/rand; a seeded hash
    * keeps the uniform-spread property while staying reproducible for the
    * oracle (disclosed deviation — randomness is not load-bearing).
    */
  def randomPartition(key: Column, n: Int, seed: Int = 42): Column =
    pmod(xxhash64(key, lit(seed)), lit(n)).cast("int")

  /** manual: route on an explicit partition column, with the reference's
    * required-field contract surfaced as the error flag (kafka.go:125-127
    * rejects a missing field at config time; out-of-range is the runtime
    * analogue). In-range rows carry their partition, out-of-range rows are
    * flagged and left unrouted (null).
    */
  def manual(df: DataFrame, partitionField: String, n: Int, as: String = "part_id"): DataFrame = {
    val p = col(partitionField).cast("int")
    val flagged = Errors.markError(
      df,
      p.isNull || p < 0 || p >= n,
      concat(lit(s"manual partitioner: partition out of range [0, $n): "),
        coalesce(p.cast("string"), lit("null"))))
    flagged.withColumn(as, when(col(Errors.ErrCol).isNull, p))
  }

  /** Strategy dispatcher mirroring strToPartitioner's names. */
  def assign(df: DataFrame, strategy: String, key: Column, n: Int,
             as: String = "part_id"): DataFrame = strategy match {
    case "fnv1a_hash"   => df.withColumn(as, fnv1aPartition(key, n))
    case "murmur2_hash" => df.withColumn(as, murmur2Partition(key, n))
    case "random"       => df.withColumn(as, randomPartition(key, n))
    case "round_robin"  => roundRobinTask(df, n, as)
    case "manual" =>
      // kafka.go:125-127's config-time contract, verbatim
      throw new IllegalArgumentException(
        "partition field required for 'manual' partitioner (use KafkaPartition.manual)")
    case other =>
      throw new IllegalArgumentException(s"partitioner not recognised: $other")
  }
}

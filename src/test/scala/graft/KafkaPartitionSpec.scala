package graft

import org.apache.spark.sql.functions._
import graft.functions.Native
import graft.ops.{Errors, KafkaPartition}

/** Kafka partitioner semantics (reference: internal/old/output/writer/
  * kafka.go:214-231): the murmur2 golden vectors from kafka_test.go:8-23,
  * FNV-1a cross-check, sarama vs Java-client partition math, manual
  * bounds error contract, and round-robin balance.
  */
class KafkaPartitionSpec extends SparkTestBase {
  import spark.implicits._

  test("murmur2 matches the reference's golden vectors (kafka_test.go:8-23)") {
    val vectors = Seq(
      "hello world" -> 1221641059,
      "21" -> -973932308,
      "foobar" -> -790332482,
      "a-little-bit-long-string" -> -985981536,
      "a-little-bit-longer-string" -> -1486304829,
      "lkjh234lh9fiuh90y23oiuhsafujhadof229phr9h19h89h8" -> -58897971,
      "abc" -> 479470107)
    vectors.foreach { case (s, expected) =>
      assert(Native.murmur2Kafka(s.getBytes("UTF-8")) == expected, s"murmur2($s)")
    }
    // multi-Write accumulation in the reference ("a","b","c") equals the
    // concatenated bytes — byte-stream semantics, which our one-shot form is
    assert(Native.murmur2Kafka("abc".getBytes("UTF-8")) == 479470107)
  }

  test("fnv1a32 matches the published FNV-1a test value and empty-input basis") {
    assert(Native.fnv1a32("hello".getBytes("UTF-8")) == 0x4f9f2cab)
    assert(Native.fnv1a32(Array.emptyByteArray) == 0x811c9dc5.toInt) // offset basis
  }

  test("native expressions agree with the JVM functions through the plan") {
    val keys = Seq("conv-000001", "conv-000042", "x", "").toDF("k")
    val got = keys.select(col("k"),
      KafkaPartition.fnv1a32(col("k")).as("f"),
      KafkaPartition.murmur2(col("k")).as("m"))
      .as[(String, Int, Int)].collect()
    got.foreach { case (k, f, m) =>
      assert(f == Native.fnv1a32(k.getBytes("UTF-8")), s"fnv1a($k)")
      assert(m == Native.murmur2Kafka(k.getBytes("UTF-8")), s"murmur2($k)")
    }
  }

  test("partition math: sarama mod-then-abs for fnv1a, Java toPositive mask for murmur2") {
    // keys chosen so the signed hashes cover both signs
    val ks = Seq("21", "foobar", "hello world", "abc", "conv-000123")
    val df = ks.toDF("k")
    val n = 12
    val rows = df.select(col("k"),
      KafkaPartition.fnv1aPartition(col("k"), n).as("pf"),
      KafkaPartition.murmur2Partition(col("k"), n).as("pm"))
      .as[(String, Int, Int)].collect()
    rows.foreach { case (k, pf, pm) =>
      val hf = Native.fnv1a32(k.getBytes("UTF-8"))
      val expectedF = { val r = hf % n; if (r < 0) -r else r }
      val hm = Native.murmur2Kafka(k.getBytes("UTF-8"))
      val expectedM = (hm & 0x7fffffff) % n
      assert(pf == expectedF && pf >= 0 && pf < n, s"fnv1a partition($k)")
      assert(pm == expectedM && pm >= 0 && pm < n, s"murmur2 partition($k)")
    }
  }

  test("manual partitioner: in-range routes, out-of-range carries the error flag") {
    val df = Seq((1L, 3), (2L, 11), (3L, 12), (4L, -1)).toDF("id", "p")
    val out = KafkaPartition.manual(df, "p", 12)
      .select(col("id"), col("part_id"), col(Errors.ErrCol))
      .as[(Long, Option[Int], Option[String])].collect().sortBy(_._1)
    assert(out(0) == ((1L, Some(3), None)))
    assert(out(1) == ((2L, Some(11), None)))
    assert(out(2)._2.isEmpty && out(2)._3.exists(_.contains("out of range")))
    assert(out(3)._2.isEmpty && out(3)._3.exists(_.contains("out of range")))
  }

  test("round robin: deterministic form cycles 0..n-1 in order; task form balances within tasks") {
    val df = (0 until 40).map(i => (f"k$i%03d", i)).toDF("k", "i")
    val rr = KafkaPartition.roundRobin(df, 4, Seq(col("k")))
      .select(col("i"), col("part_id")).as[(Int, Int)].collect().sortBy(_._1)
    rr.foreach { case (i, p) => assert(p == i % 4, s"ordinal $i") }

    val taskDf = spark.range(0, 1000, 1, numPartitions = 4).toDF("id")
    val counts = KafkaPartition.roundRobinTask(taskDf, 5)
      .groupBy(col("part_id")).count().as[(Int, Long)].collect().toMap
    assert(counts.keySet == (0 until 5).toSet)
    // per-task counters over 4 × 250 rows: every partition gets 200 ± 0
    assert(counts.values.forall(c => c == 200L), counts.toString)
  }

  test("assign dispatcher covers the strToPartitioner names and rejects unknowns") {
    val df = Seq("a", "b", "c").toDF("k")
    Seq("fnv1a_hash", "murmur2_hash", "random", "round_robin").foreach { s =>
      val out = KafkaPartition.assign(df, s, col("k"), 4)
      assert(out.columns.contains("part_id"), s)
      assert(out.select("part_id").as[Int].collect().forall(p => p >= 0 && p < 4), s)
    }
    intercept[IllegalArgumentException] {
      KafkaPartition.assign(df, "nope", col("k"), 4)
    }
    // the reference rejects 'manual' without a partition field at config
    // time (kafka.go:125-127) — the dispatcher mirrors that contract
    val e = intercept[IllegalArgumentException] {
      KafkaPartition.assign(df, "manual", col("k"), 4)
    }
    assert(e.getMessage.contains("partition field required"))
  }
}

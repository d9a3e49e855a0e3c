package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import graft.streaming.Metrics
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Per-partition metrics tap (BASELINE.json north_star: rows/sec, state
  * size, watermark lag exposed PER PARTITION): one PartitionMetric per
  * task execution, counts exact, skew visible, composes into a streaming
  * plan without perturbing results.
  */
class MetricsSpec extends AnyFunSuite with SparkTestBase {

  test("batch tap: one metric per partition, rows sum exactly, results unperturbed") {
    val acc = Metrics.partitionAccumulator(spark, "tap-batch")
    val df = spark.range(1000).toDF("v").repartition(8)
    val tapped = Metrics.tap(df, "map", acc)
    assert(tapped.count() === 1000)
    val ms = acc.value.asScala.toList
    assert(ms.size === 8)
    assert(ms.map(_.rows).sum === 1000L)
    assert(ms.map(_.partitionId).toSet === (0 until 8).toSet)
    assert(ms.forall(_.stage == "map"))
    assert(ms.forall(_.rowsPerSec > 0))
  }

  test("skew is visible per partition: the hot key's partition dwarfs siblings") {
    import spark.implicits._
    val acc = Metrics.partitionAccumulator(spark, "tap-skew")
    // 900 rows of one key + 10 distinct keys, hash-partitioned by key
    val df = ((1 to 900).map(_ => "hot") ++ (1 to 10).map(i => s"k$i"))
      .toDF("k").repartition(4, col("k"))
    Metrics.tap(df, "joinkey", acc).count()
    val rows = acc.value.asScala.toList.map(_.rows)
    assert(rows.sum === 910L)
    assert(rows.max >= 900L) // the hot partition carries the hot key whole
  }

  test("streaming tap: metrics accumulate per micro-batch partition, counts exact") {
    val srcDir = tempDir("tapstream").toString
    Files.write(java.nio.file.Paths.get(srcDir, "a.txt"), "1\n2\n3".getBytes)
    val acc = Metrics.partitionAccumulator(spark, "tap-stream")
    val stream = spark.readStream.text(srcDir)
    val tapped = Metrics.tap(stream.repartition(2), "stage1", acc)
    val q = tapped.writeStream.format("noop")
      .option("checkpointLocation", tempDir("tapckpt").toString)
      .start()
    try {
      q.processAllAvailable()
      Files.write(java.nio.file.Paths.get(srcDir, "b.txt"), "4\n5".getBytes)
      q.processAllAvailable()
    } finally q.stop()
    val ms = acc.value.asScala.toList.filter(_.rows > 0)
    assert(ms.map(_.rows).sum === 5L)
    // two micro-batches → (at least) two distinct task stages recorded
    assert(ms.map(_.stageId).distinct.size >= 2)
  }
}

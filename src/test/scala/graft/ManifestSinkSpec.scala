package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.connector.catalog.SupportsWrite
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, PhysicalWriteInfo}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryException
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import graft.model.PairedTurn
import graft.streaming.{ManifestSink, Sink}

/** The exactly-once sink's streaming entry point: every micro-batch
  * publishes its manifest, a failed write publishes nothing, and what a
  * write task receives stays small.
  */
class ManifestSinkSpec extends SparkTestBase {
  import spark.implicits._

  private def stage(dir: Path, name: String, rows: Seq[String]): Unit =
    Files.write(dir.resolve(name), rows.asJava, UTF_8): Unit

  private def names(dir: String): Set[String] =
    if (!Files.isDirectory(Paths.get(dir))) Set.empty
    else Files.list(Paths.get(dir)).iterator().asScala.map(_.getFileName.toString).toSet

  private def ids(dir: String): Set[Long] = names(dir).filter(_.forall(_.isDigit)).map(_.toLong)

  test("every micro-batch publishes its manifest, a no-data batch and one that emits no row too") {
    val in = tempDir("manifest-in")
    val (out, ck) = (tempDir("manifest-out").toString, tempDir("manifest-ck").toString)
    stage(in, "a.json", Seq(1, 2, 25).map(s => s"""{"ts":"1970-01-01T00:00:${"%02d".format(s)}Z"}"""))
    val counts = spark.readStream.schema("ts TIMESTAMP").json(in.toString)
      .withWatermark("ts", "10 seconds")
      .groupBy(window(col("ts"), "10 seconds")).count()
    val q = Sink.exactlyOnce(counts, out, ck).start()
    q.awaitTermination()
    val progress = q.recentProgress.map(p => p.batchId -> p.numInputRows).toMap
    // batch 0 reads the file and emits nothing; the watermark it leaves
    // closes the first window, which batch 1 emits without reading a row
    assert(progress == Map(0L -> 3L, 1L -> 0L))
    assert(ids(s"$ck/commits") == Set(0L, 1L))
    assert(ids(s"$out/_commits") == Set(0L, 1L))
    val got = Sink.readCommitted(spark, out).select("_batch_id", "count").as[(Long, Long)].collect()
    assert(got.toSeq == Seq(1L -> 2L))
  }

  test("a write task failing mid-partition publishes nothing; the retried batch commits once") {
    val in = tempDir("manifest-fail-in")
    val (out, ck) = (tempDir("manifest-fail-out").toString, tempDir("manifest-fail-ck").toString)
    val failOn = udf { (id: Int) =>
      if (id == ManifestSinkSpec.FailOn.get) throw new IllegalStateException(s"writer fails at $id")
      id
    }
    def run(): Unit = Sink.exactlyOnce(
      spark.readStream.schema("id INT").json(in.toString).select(failOn(col("id")).as("id")), out, ck)
      .start().awaitTermination()
    def committed(): Seq[(Long, Int)] =
      Sink.readCommitted(spark, out).select("_batch_id", "id").as[(Long, Int)].collect().toSeq.sortBy(_._2)

    stage(in, "a.json", (1 to 5).map(i => s"""{"id":$i}"""))
    run()
    val firstAttempt = names(s"$out/data")
    // one file, one partition: rows 6 to 9 reach the writer before 10 fails
    stage(in, "b.json", (6 to 10).map(i => s"""{"id":$i}"""))
    ManifestSinkSpec.FailOn.set(10)
    try intercept[StreamingQueryException](run())
    finally ManifestSinkSpec.FailOn.set(-1)
    assert(committed() == (1 to 5).map(0L -> _))
    assert(ids(s"$out/_commits") == Set(0L))
    assert(names(s"$out/data") == firstAttempt) // the failed attempt's dir is gone
    run()
    assert(committed() == (1 to 5).map(0L -> _) ++ (6 to 10).map(1L -> _))
    assert(ids(s"$out/_commits") == Set(0L, 1L))
  }

  test("the writer factory a task deserializes stays under 16 KB") {
    val pairs = spark.emptyDataset[PairedTurn].schema // the write reads the active session
    val table = new ManifestSink().getTable(new StructType(), Array.empty, Map.empty[String, String].asJava)
      .asInstanceOf[SupportsWrite]
    val info = new LogicalWriteInfo {
      override def options(): CaseInsensitiveStringMap =
        new CaseInsensitiveStringMap(Map("path" -> tempDir("manifest-size").toString).asJava)
      override def queryId(): String = "size"
      override def schema(): StructType = pairs
    }
    val factory = table.newWriteBuilder(info).build().toStreaming
      .createStreamingWriterFactory(new PhysicalWriteInfo { override def numPartitions(): Int = 4 })
    val bytes = org.apache.spark.SparkEnv.get.closureSerializer.newInstance().serialize(factory)
    assert(bytes.remaining() < 16 * 1024, s"${bytes.remaining()} bytes")
  }
}

object ManifestSinkSpec {
  /** The id the failing test's UDF throws on; -1 for none. */
  val FailOn = new AtomicInteger(-1)
}

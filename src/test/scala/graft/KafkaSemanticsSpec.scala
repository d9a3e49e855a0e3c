package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicLong
import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** The reference's kafka-input ordering/backpressure contract, spec'd
  * against the Spark file source — the closest broker-free analogue in
  * this sandbox (the kafka input itself is env-blocked, COVERAGE.md
  * §2.2). The contract (internal/old/input/kafka.go:55-114 and its
  * Ordering doc section):
  *
  *  1. messages of the SAME topic partition are processed in order
  *     (parallelism is across partitions, never within one);
  *  2. `checkpoint_limit` bounds the in-flight (processed-but-
  *     uncommitted) window, and the committed offset only advances over
  *     a CONTIGUOUS acknowledged prefix — commit never skips a gap;
  *  3. resuming from the committed offset neither loses nor duplicates
  *     messages.
  *
  * Spark mapping, asserted here: a conv-keyed staged file = a topic
  * partition (file rows in offset order, FileStreamSource replays files
  * in mtime order); `maxFilesPerTrigger` = the bounded in-flight window
  * (a micro-batch is exactly the set of uncommitted offsets);
  * the offset/commit-log protocol = the contiguous checkpointer (batch
  * N commits only after every row of batch N is durably sunk, and
  * resume re-reads only uncommitted batches — Sink.exactlyOnce).
  */
class KafkaSemanticsSpec extends SparkTestBase {
  import spark.implicits._

  /** Write `parts` "topic partitions": one parquet file each, rows in
    * offset order, strictly increasing mtimes in partition order.
    */
  private def stagePartitioned(parts: Int, rowsPer: Int): String = {
    val dir = tempDir("kafka-like").toString
    (0 until parts).foreach { p =>
      val df = (0 until rowsPer).map(o => (s"part-$p", o.toLong)).toDF("pkey", "offset")
      df.coalesce(1).write.parquet(s"$dir/f$p")
      Thread.sleep(5) // distinct mtimes so replay order is deterministic
    }
    // one flat dir of files, like a staged topic
    val flat = tempDir("kafka-like-flat").toString
    var i = 0
    (0 until parts).foreach { p =>
      val src = new java.io.File(s"$dir/f$p").listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val dst = new java.io.File(flat, f"part$p%03d.parquet")
      Files.copy(src.toPath, dst.toPath)
      dst.setLastModified(System.currentTimeMillis() - (parts - i) * 1000L): Unit
      i += 1
    }
    graft.util.Tmp.delete(dir)
    flat
  }

  test("per-partition processing order is preserved (kafka.go Ordering)") {
    val inDir = stagePartitioned(parts = 4, rowsPer = 200)
    KafkaSemanticsSpec.arrivals.clear()
    KafkaSemanticsSpec.clock.set(0)
    val stream = spark.readStream
      .schema("pkey STRING, offset LONG")
      .option("maxFilesPerTrigger", 2)
      .parquet(inDir)
    // observation tap: record (pkey, offset, global arrival tick) as rows
    // flow through the (narrow) pipeline
    val tapped = stream.as[(String, Long)].mapPartitions { it =>
      it.map { case (k, o) =>
        KafkaSemanticsSpec.arrivals.add((k, o, KafkaSemanticsSpec.clock.getAndIncrement()))
        (k, o)
      }
    }
    val q = tapped.writeStream.format("noop")
      .option("checkpointLocation", tempDir("kl-ck").toString)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()

    import scala.jdk.CollectionConverters._
    val byPart = KafkaSemanticsSpec.arrivals.asScala.toSeq.groupBy(_._1)
    assert(byPart.keySet.size == 4)
    byPart.foreach { case (k, obs) =>
      assert(obs.size == 200, s"$k saw ${obs.size} rows")
      // within one partition, arrival order == offset order, with no
      // interleaving regression: sort by arrival tick, offsets must be
      // strictly increasing (the reference processes one partition's
      // messages in lockstep order)
      val offsetsInArrivalOrder = obs.sortBy(_._3).map(_._2)
      assert(offsetsInArrivalOrder == offsetsInArrivalOrder.sorted,
        s"$k processed out of order")
    }
    graft.util.Tmp.delete(inDir)
  }

  test("bounded in-flight window commits contiguously and resumes exactly-once") {
    val inDir = stagePartitioned(parts = 6, rowsPer = 100)
    val outDir = tempDir("kl-out").toString
    val ckDir = tempDir("kl-ck2").toString
    val fpt = 2 // checkpoint_limit analogue: ≤2 files in flight per commit
    def run(): Unit = {
      val stream = spark.readStream
        .schema("pkey STRING, offset LONG")
        .option("maxFilesPerTrigger", fpt)
        .parquet(inDir)
        .withColumn("src", input_file_name())
      val q = graft.streaming.Sink.exactlyOnce(stream, outDir, ckDir,
        Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    run()
    val out = graft.streaming.Sink.readCommitted(spark, outDir)
      .select(col("_batch_id"), col("pkey"), col("offset"), col("src")).cache()
    // the in-flight bound: every committed batch covers at most `fpt`
    // source files (kafka.go checkpoint_limit bounds uncommitted offsets)
    val perBatch = out.groupBy("_batch_id")
      .agg(countDistinct(col("src")).as("files")).collect()
    assert(perBatch.nonEmpty)
    perBatch.foreach(r => assert(r.getLong(1) <= fpt,
      s"batch ${r.get(0)} had ${r.getLong(1)} files in flight"))
    // contiguous commit: batch ids form 0..N with no gaps, and a
    // partition's offsets never appear in a lower batch than a smaller
    // offset of the same partition (no commit past a gap)
    val batchIds = perBatch.map(_.getLong(0)).sorted.toSeq
    assert(batchIds == (batchIds.min to batchIds.max).toSeq)
    val regress = out.groupBy("pkey", "_batch_id")
      .agg(min("offset").as("mn"), max("offset").as("mx"))
      .collect().groupBy(_.getString(0))
    regress.foreach { case (k, rows) =>
      val sorted = rows.sortBy(_.getLong(1)) // by batch id
      sorted.sliding(2).foreach {
        case Array(a, b) => assert(a.getLong(3) < b.getLong(2),
          s"$k: batch ${b.getLong(1)} commits offsets behind batch ${a.getLong(1)}")
        case _ => ()
      }
    }
    // resume from the committed checkpoint: re-running over the same
    // input adds nothing (no duplicates), loses nothing
    val before = out.count()
    run()
    assert(graft.streaming.Sink.readCommitted(spark, outDir).count() == before)
    assert(before == 600)
    out.unpersist()
    graft.util.Tmp.delete(inDir)
  }
}

object KafkaSemanticsSpec {
  // shared with executor threads (local mode: same JVM)
  val arrivals = new ConcurrentLinkedQueue[(String, Long, Long)]()
  val clock = new AtomicLong(0)
}

package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._
import graft.streaming.Sink

/** Exactly-once sink protocol (BASELINE.json north_rule): idempotent
  * replay, orphan invisibility after a simulated crash, lineage columns,
  * and the fan-out / fallback output brokers.
  */
class SinkSpec extends SparkTestBase {
  import spark.implicits._

  private def freshDir() = tempDir("sink-spec").toString

  test("replayed batchId commits nothing twice") {
    val out = freshDir()
    val batch = Seq(1, 2, 3).toDF("v")
    Sink.writeBatchIdempotent(out)(batch, 0L)
    Sink.writeBatchIdempotent(out)(batch, 0L) // replay after "crash"
    Sink.writeBatchIdempotent(out)(batch, 1L)
    assert(Sink.readCommitted(spark, out).count() == 6)
  }

  test("a crash between data write and commit leaves orphans invisible") {
    val out = freshDir()
    Sink.writeBatchIdempotent(out)(Seq(1).toDF("v"), 0L)
    // simulate: batch 5 wrote data but crashed before the commit marker
    Seq(9, 9, 9).toDF("v").write.parquet(s"$out/data/b5-dead0000")
    assert(Sink.readCommitted(spark, out).count() == 1)
    // the re-attempt writes a fresh attempt dir and commits exactly once;
    // the crashed attempt's orphans stay invisible forever
    Sink.writeBatchIdempotent(out)(Seq(9, 9).toDF("v"), 5L)
    assert(Sink.readCommitted(spark, out).count() == 3)
  }

  test("a reader racing an in-flight re-attempt sees only committed rows") {
    val out = freshDir()
    Sink.writeBatchIdempotent(out)(Seq(1).toDF("v"), 0L)
    // batch 7's first attempt crashed mid-write: a PARTIAL file (not even
    // valid parquet) sits in its attempt dir, no manifest
    Files.createDirectories(Paths.get(out, "data", "b7-aaaa0000"))
    Files.write(Paths.get(out, "data", "b7-aaaa0000", "part-00000.parquet"),
      "partial garbage".getBytes)
    // a re-attempt is now in flight, also mid-write in ITS OWN dir
    Files.createDirectories(Paths.get(out, "data", "b7-bbbb1111"))
    Files.write(Paths.get(out, "data", "b7-bbbb1111", "part-00000.parquet"),
      "more garbage".getBytes)
    // the manifest protocol never lets a reader resolve an uncommitted
    // attempt dir, so the garbage is invisible — the read doesn't even fail
    assert(Sink.readCommitted(spark, out).count() == 1)
    // the re-attempt completes: exactly the committed rows appear
    Sink.writeBatchIdempotent(out)(Seq(7, 7).toDF("v"), 7L)
    assert(Sink.readCommitted(spark, out).count() == 3)
    // an in-flight manifest temp file (the pre-link write) is not a commit:
    // readers skip non-numeric names instead of failing on them
    Files.write(Paths.get(out, "_commits", ".tmp9-inflight"), "b9-cccc2222".getBytes)
    assert(Sink.readCommitted(spark, out).count() == 3)
  }

  test("concurrent attempts of one batch: one commits, the loser cleans up") {
    val out = freshDir()
    val batch = Seq(1, 2, 3).toDF("v")
    val t1 = new Thread(() => Sink.writeBatchIdempotent(out)(batch, 9L))
    val t2 = new Thread(() => Sink.writeBatchIdempotent(out)(batch, 9L))
    t1.start(); t2.start(); t1.join(); t2.join()
    assert(Sink.readCommitted(spark, out).count() == 3) // never twice
    // whichever interleaving happened, the losing attempt removed its dir:
    // only the manifest-named directory remains
    val dirs = Files.list(Paths.get(out, "data")).iterator()
      .asInstanceOf[java.util.Iterator[java.nio.file.Path]]
    val names = Iterator.continually(dirs).takeWhile(_.hasNext).map(_.next())
      .map(_.getFileName.toString).toList
    val named = new String(
      Files.readAllBytes(Paths.get(out, "_commits", "9")), "UTF-8").trim
    assert(names == List(named), s"leftover attempt dirs: $names vs committed $named")
  }

  test("lineage columns record batch and producing partition") {
    val out = freshDir()
    Sink.writeBatchIdempotent(out)(spark.range(10).toDF("v").repartition(3), 7L)
    val rows = Sink.readCommitted(spark, out)
    assert(rows.select("_batch_id").distinct().as[Long].collect().toSeq == Seq(7L))
    assert(rows.select("_partition_id").distinct().count() == 3)
  }

  test("fanOut writes every batch to all sinks; fallback stops at first success") {
    val out1 = freshDir(); val out2 = freshDir()
    val batch = Seq(1, 2).toDF("v")
    Sink.fanOut(Seq(
      Sink.writeBatchIdempotent(out1), Sink.writeBatchIdempotent(out2)))(batch, 0L)
    assert(Sink.readCommitted(spark, out1).count() == 2)
    assert(Sink.readCommitted(spark, out2).count() == 2)

    val okDir = freshDir()
    var attempts = 0
    Sink.fallback(Seq(
      (_, _) => { attempts += 1; throw new RuntimeException("down") },
      (b, id) => { attempts += 1; Sink.writeBatchIdempotent(okDir)(b, id) },
      (_, _) => { attempts += 1 }))(batch, 0L)
    assert(attempts == 2) // third sink never tried
    assert(Sink.readCommitted(spark, okDir).count() == 2)
  }

  test("lineageStats reports rows per (batch, producing partition)") {
    val out = freshDir()
    Sink.writeBatchIdempotent(out)(spark.range(12).toDF("v").repartition(3), 0L)
    Sink.writeBatchIdempotent(out)(spark.range(5).toDF("v").repartition(2), 1L)
    val stats = Sink.lineageStats(spark, out)
      .as[(Long, Int, Long)].collect().toSeq
    assert(stats.filter(_._1 == 0L).map(_._3).sum == 12)
    assert(stats.filter(_._1 == 1L).map(_._3).sum == 5)
    assert(stats.filter(_._1 == 0L).size == 3) // one row-group per partition
  }

  test("roundRobin deals every row to exactly one child sink") {
    val outs = Seq.fill(3)(freshDir())
    val batch = spark.range(100).toDF("v")
    Sink.roundRobin(outs.map(Sink.writeBatchIdempotent))(batch, 0L)
    val counts = outs.map(o => Sink.readCommitted(spark, o).count())
    assert(counts.sum == 100)
    assert(counts.forall(_ > 0)) // hash-modulo spreads across all children
    val union = outs.map(o => Sink.readCommitted(spark, o).select("v"))
      .reduce(_.unionAll(_)).distinct()
    assert(union.count() == 100) // no row dealt twice
  }

  test("retry re-attempts with backoff until the child sink succeeds") {
    val out = freshDir()
    var failures = 2
    Sink.retry({ (b, id) =>
      if (failures > 0) { failures -= 1; throw new RuntimeException("flaky") }
      Sink.writeBatchIdempotent(out)(b, id)
    }, maxAttempts = 5, backoffMs = 1)(Seq(1, 2).toDF("v"), 0L)
    assert(Sink.readCommitted(spark, out).count() == 2)
    intercept[RuntimeException] {
      Sink.retry((_, _) => throw new RuntimeException("always"),
        maxAttempts = 2, backoffMs = 1)(Seq(1).toDF("v"), 0L)
    }
  }

  test("fallback rethrows when every sink fails") {
    intercept[RuntimeException] {
      Sink.fallback(Seq((_, _) => throw new RuntimeException("a")))(Seq(1).toDF("v"), 0L)
    }
  }
}

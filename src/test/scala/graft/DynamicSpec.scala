package graft

import java.nio.file.Files

import graft.streaming.{Dynamic, Sink}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** `dynamic` input/output (reference: internal/impl/net/input_dynamic.go,
  * output_dynamic_fan_out.go + their tests): runtime add/remove by name,
  * upsert on duplicate add, lifecycle hooks, membership changes applying
  * at batch boundaries.
  */
class DynamicSpec extends AnyFunSuite with SparkTestBase {

  private def freshDir(tag: String) = tempDir(tag).toString

  test("dynamic input: members land tagged; add/remove at runtime; hooks fire") {
    import spark.implicits._
    val added = scala.collection.mutable.ArrayBuffer.empty[String]
    val removed = scala.collection.mutable.ArrayBuffer.empty[String]
    val fan = new Dynamic.FanIn(spark, freshDir("dynin"), added += _, removed += _)

    fan.add("foo", Seq("f1", "f2").toDF("content"))
    fan.add("bar", Seq("b1").toDF("content"))
    assert(fan.inputs === Seq("bar", "foo"))
    val got = fan.batch().as[(String, String)].collect().sorted
    assert(got === Array(("b1", "bar"), ("f1", "foo"), ("f2", "foo")))

    // removal deregisters but keeps already-staged rows (in-flight complete)
    fan.remove("bar")
    assert(fan.inputs === Seq("foo"))
    assert(fan.batch().count() === 3)
    // a new member is visible without restarting the consumer
    fan.add("baz", Seq("z9").toDF("content"))
    assert(fan.batch().filter(col("input") === "baz").count() === 1)
    assert(added.toList === List("foo", "bar", "baz"))
    assert(removed.toList === List("bar"))
    // non-string single-column members stringify into the text spool
    fan.add("nums", Seq(41, 42).toDF("n"))
    assert(fan.batch().filter(col("input") === "nums")
      .select("content").as[String].collect().sorted === Array("41", "42"))
    fan.close()
  }

  test("dynamic input: streaming member stages continuously; downstream never restarts") {
    import spark.implicits._
    val srcDir = freshDir("dynsrc")
    val fan = new Dynamic.FanIn(spark, freshDir("dynin2"))
    // a named member that is itself a stream (file source)
    fan.add("live", spark.readStream.text(srcDir).select(col("value").as("content")))

    val outDir = freshDir("dynout")
    val q = fan.stream().writeStream
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", freshDir("dynckpt"))
      .start()
    try {
      Files.write(java.nio.file.Paths.get(srcDir, "a.txt"), "r1\nr2".getBytes)
      // the member's stager picks the file up, then the downstream sees it
      def landed(): Long =
        try spark.read.parquet(outDir).count()
        catch { case _: org.apache.spark.sql.AnalysisException => 0L } // no files yet
      var tries = 0
      while (tries < 100 && landed() < 2) {
        q.processAllAvailable(); Thread.sleep(100); tries += 1
      }
      val rows = spark.read.parquet(outDir).as[(String, String)].collect().sorted
      assert(rows === Array(("r1", "live"), ("r2", "live")))
    } finally {
      q.stop()
      fan.close()
    }
  }

  test("dynamic input: duplicate add upserts (input_dynamic_fan_in SetInput semantics)") {
    import spark.implicits._
    val fan = new Dynamic.FanIn(spark, freshDir("dynup"))
    fan.add("x", Seq("v1").toDF("content"))
    fan.add("x", Seq("v2").toDF("content"))
    assert(fan.inputs === Seq("x"))
    // both stagings are visible (the reference completes in-flight rows);
    // provenance stays "x"
    val got = fan.batch().select("input").distinct().as[String].collect()
    assert(got === Array("x"))
    assert(fan.batch().count() === 2)
    fan.close()
  }

  test("dynamic output fan-out: registry snapshot per batch, exactly-once per member") {
    import spark.implicits._
    val removed = scala.collection.mutable.ArrayBuffer.empty[String]
    val fan = new Dynamic.FanOut(onRemove = removed += _)
    val (d1, d2, d3) = (freshDir("o1"), freshDir("o2"), freshDir("o3"))

    fan.add("a", d1)
    fan.add("b", d2)
    fan.sink(Seq(1, 2).toDF("v"), 0L)
    // membership change between batches
    fan.remove("b")
    fan.add("c", d3)
    assert(fan.names === Seq("a", "c"))
    fan.sink(Seq(3).toDF("v"), 1L)
    fan.sink(Seq(3).toDF("v"), 1L) // replay: idempotent per member

    assert(Sink.readCommitted(spark, d1).count() === 3) // both batches
    assert(Sink.readCommitted(spark, d2).count() === 2) // batch 0 only
    assert(Sink.readCommitted(spark, d3).count() === 1) // batch 1 only
    assert(removed.toList === List("b"))
  }
}

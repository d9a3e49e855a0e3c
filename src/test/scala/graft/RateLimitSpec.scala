package graft

import java.sql.Timestamp
import org.apache.spark.sql.functions._
import graft.ops.RateLimit

/** rate_limit semantics (reference internal/impl/pure/
  * rate_limit_local.go:75-92): token-bucket refill behavior under an
  * injected clock, the blocking pipeline-stage throttle, and the
  * event-time admission plan.
  */
class RateLimitSpec extends SparkTestBase {
  import spark.implicits._

  test("token bucket admits count per interval and refills after it") {
    var now = 0L
    val b = new RateLimit.TokenBucket(3, 1000L, () => now)
    assert((1 to 3).map(_ => b.accessMs()).forall(_ == 0L)) // bucket drained
    val wait = b.accessMs()
    assert(wait > 0 && wait <= 1000L) // 4th within the interval must wait
    now = 1001L
    assert(b.accessMs() == 0L) // refilled: admitted immediately
    assert(b.accessMs() == 0L) // count-1 remaining after refresh admission
    assert(b.accessMs() == 0L)
    assert(b.accessMs() > 0L) // drained again within the new interval
  }

  test("throttle passes every row through unchanged") {
    val df = (1 to 20).toDF("v")
    val out = RateLimit.throttle(df, count = 1000, intervalMs = 50L)
    assert(out.as[Int].collect().sorted.toSeq == (1 to 20))
  }

  test("annotateOverflow flags rows past count within each interval bucket") {
    def ts(s: Long) = new Timestamp(1700000000000L + s * 1000)
    // bucket size 60s: 3 rows in bucket 0, 1 row in bucket 1
    val df = Seq((1, ts(0)), (2, ts(10)), (3, ts(20)), (4, ts(70)))
      .toDF("id", "ts")
    val got = RateLimit.annotateOverflow(df, col("ts"), col("ts"), 2, 60L)
      .select("id", "throttled").as[(Int, Boolean)].collect().toMap
    assert(got == Map(1 -> false, 2 -> false, 3 -> true, 4 -> false))
  }

  test("streamAnnotate carries the admission counter across micro-batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    import graft.model.Turn
    def ts(s: Long) = new Timestamp(1700000000000L + s * 1000)
    def turn(i: Int, s: Long) = Turn(s"c$i", i, "user", "t", null, ts(s))
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[Turn]
    val outDir = tempDir("rl-out").toString
    val ckDir = tempDir("rl-ck").toString
    def runOnce(): Unit = {
      val q = RateLimit.streamAnnotate(mem.toDS(), count = 2, intervalSeconds = 60L, "10 seconds")
        .writeStream.format("parquet")
        .option("path", outDir).option("checkpointLocation", ckDir)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    // batch 1: two rows in bucket 0 exhaust the limit of 2
    mem.addData(turn(1, 0), turn(2, 10))
    runOnce()
    // batch 2 (separate micro-batch AND checkpoint resume): a third row in
    // bucket 0 must be throttled by the PERSISTED counter; bucket 1 is fresh
    mem.addData(turn(3, 20), turn(4, 70))
    runOnce()
    val got = spark.read.parquet(outDir)
      .select("turn_idx", "throttled").as[(Int, Boolean)].collect().toMap
    assert(got == Map(1 -> false, 2 -> false, 3 -> true, 4 -> false))
  }

  test("streamAnnotate buckets and ranks rows either side of the epoch like annotateOverflow") {
    import org.apache.spark.api.java.Optional
    import org.apache.spark.sql.streaming.{GroupStateTimeout, TestGroupState}
    import graft.model.Turn
    // 60 s buckets, count 2: -30 s, -1.5 s and -1.0 s share bucket -1,
    // +10 s is alone in bucket 0; one batch, in reverse event-time order
    val rows = Seq(10000L, -1000L, -1500L, -30000L).zipWithIndex.map { case (ms, i) =>
      Turn("c", 3 - i, "user", "t", null, new Timestamp(ms))
    }
    val batch = RateLimit.annotateOverflow(rows.toDF(), col("ts"), col("ts"), 2, 60L)
      .select("turn_idx", "throttled").as[(Int, Boolean)].collect().toMap
    assert(batch == Map(0 -> false, 1 -> false, 2 -> true, 3 -> false))
    // Spark's event-time stateful operator drops pre-1970 rows as late
    // (its watermark starts at 0), so the streaming form's key and
    // per-bucket update run directly
    val streamed = rows.groupBy(t => RateLimit.bucketOf(t.ts, 60L)).toSeq.flatMap { case (b, in) =>
      RateLimit.admit(2, 60L)(b, in.iterator, TestGroupState.create[RateLimit.BucketCount](
        Optional.empty(), GroupStateTimeout.EventTimeTimeout, 0L, Optional.of(0L), false))
    }.map(o => o.turn_idx -> o.throttled).toMap
    assert(streamed == batch)
  }

  test("switch fallthrough chains the next case's transform") {
    val df = Seq(("r1", 1), ("r2", 10), ("r3", 100)).toDF("id", "v")
    // case0 matches v<5 and falls through into case1's transform
    val out = graft.ops.Errors.switchProcFallthrough(df, "v", Seq(
      (col("v") < 5, (c: org.apache.spark.sql.Column) => c + 1000, true),
      (col("v") < 50, (c: org.apache.spark.sql.Column) => c * 2, false)))
      .select("id", "v").as[(String, Int)].collect().toMap
    // r1: (1+1000)*2 = 2002 (fallthrough); r2: 20 (case1 only); r3: untouched
    assert(out == Map("r1" -> 2002, "r2" -> 20, "r3" -> 100))
  }
}

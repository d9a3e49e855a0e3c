package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger
import graft.model.{BufTurn, PairedTurn, Turn}

/** Fractional (sub-second) timestamp agreement between the streaming
  * close predicate and the batch merge rule (round-4 ADVICE finding).
  *
  * Segmentation merges turns by FLOOR-SECOND gap (`sec2 - sec1 <= gap`),
  * so a turn with ts up to `(floorSec(last) + gap + 1) * 1000 - 1` still
  * merges. The old close predicate (`wm > lastTs + gap*1000`) could
  * close a session up to 999 ms before that: a non-late fractional turn
  * arriving in the window would merge in the batch oracle but open a new
  * session in streaming. Unreachable with TranscriptGen's whole-second
  * timestamps — these cases pin the general-input behavior.
  */
class SessionJoinFractionalSpec extends graft.SparkTestBase {
  import spark.implicits._

  private val gap = 1800L
  private def tsMs(ms: Long) = new Timestamp(ms)
  private def buf(idx: Int, ms: Long, role: String = "user") =
    BufTurn(idx, role, s"t$idx", null, tsMs(ms))

  test("splitClosed keeps a session open until the floor-second close point") {
    // session ends at 1000.500 s; latest mergeable turn is at
    // floorSec <= 1000 + 1800 = 2800, i.e. ts <= 2800.999 s
    val b = List(buf(0, 1000500L))
    // wm inside the 999 ms divergence window: old rule closed here
    val (closedEarly, openEarly, _) = SessionJoin.splitClosed(b, gap, 2800600L)
    assert(closedEarly.isEmpty && openEarly == b)
    // at the floor-second close point the session closes
    val (closedAt, openAt, _) = SessionJoin.splitClosed(b, gap, 2801000L)
    assert(closedAt == List(b) && openAt.isEmpty)
  }

  test("streaming merges a non-late fractional-gap turn like the batch oracle") {
    val u0 = Turn("c1", 0, "user", "hello", null, tsMs(1000500L))
    val a1 = Turn("c1", 1, "assistant", "hi", null, tsMs(1001000L))
    // floorSec 2800 - floorSec 1001 = 1799 <= gap: merges in batch; ts
    // 2800.999 s is NOT late vs the engineered watermark of 2800.600 s
    val a2 = Turn("c1", 2, "assistant", "follow-up", null, tsMs(2800999L))
    // watermark driver: after batch 1 the watermark is 3400.6s - 10min
    // = 2800.600 s — inside the divergence window
    val wmDriver = Turn("wm", 0, "user", "wm", null, tsMs(3400600L))
    val flush = Turn("zz", 0, "user", "flush", null, tsMs(100000000L))

    val allTurns = Seq(u0, a1, a2, wmDriver, flush)
    val expected = SessionJoin.pairBatch(allTurns.toDF(), gap)
      .as[PairedTurn].collect().toSeq
      .sortBy(p => (p.conv_id, p.session_id, p.reply_turn_idx))
    // the batch oracle merges all three c1 turns into ONE session
    assert(expected.map(p => (p.session_id, p.user_turn_idx, p.reply_turn_idx)) ==
      Seq((0L, 0, 1), (0L, 0, 2)))

    val outDir = tempDir("sjf-out").toString
    val ckDir = tempDir("sjf-ck").toString
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Turn]
    val paired = SessionJoin.pairStreaming(mem.toDS(), gap, "10 minutes")
    def cycle(data: Seq[Turn]): Unit = {
      if (data.nonEmpty) mem.addData(data)
      val q = Sink.exactlyOnce(paired, outDir, ckDir, Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    cycle(Seq(u0, a1, wmDriver)) // leaves wm at 2800.600 s
    cycle(Seq(a2)) // must merge, not open session 1
    cycle(Seq(flush)) // watermark past everything
    cycle(Nil) // let the armed timeout fire

    val got = Sink.readCommitted(spark, outDir)
      .drop("_batch_id", "_partition_id").as[PairedTurn].collect().toSeq
      .sortBy(p => (p.conv_id, p.session_id, p.reply_turn_idx))
    assert(got == expected)
  }
}

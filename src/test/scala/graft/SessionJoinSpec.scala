package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger
import graft.gen.TranscriptGen
import graft.model.{PairedTurn, Turn}
import graft.streaming.SessionJoin

/** The flagship operator: three forms (pure Scala spec, window-function
  * batch, flatMapGroupsWithState streaming over enveloped state) must
  * agree on the same input — and the streaming one must survive a
  * checkpoint stop/resume without duplicating or losing pairs
  * (exactly-once, BASELINE.json north_rule).
  */
class SessionJoinSpec extends SparkTestBase {
  import spark.implicits._

  private def ts(s: Long) = new Timestamp(s * 1000)
  private val gap = 1800L

  private val handAuthored: Seq[Turn] = Seq(
    // session 0: user -> assistant -> tool
    Turn("c1", 0, "user", "hello", null, ts(1000)),
    Turn("c1", 1, "assistant", "hi", null, ts(1010)),
    Turn("c1", 2, "tool", "search()", "search", ts(1020)),
    // gap > 30min: session 1; assistant before any user -> unpaired
    Turn("c1", 3, "assistant", "orphan", null, ts(4000)),
    Turn("c1", 4, "user", "question", null, ts(4010)),
    Turn("c1", 5, "assistant", "answer", null, ts(4020)),
    // second conversation, interleaved times
    Turn("c2", 0, "user", "q2", null, ts(1005)),
    Turn("c2", 1, "assistant", "a2", null, ts(1006)))

  test("pairTurns matches the hand-computed golden") {
    val got = SessionJoin.pairTurns(handAuthored.filter(_.conv_id == "c1"), gap)
    assert(got.map(p => (p.session_id, p.user_turn_idx, p.reply_turn_idx)) ==
      Seq((0L, 0, 1), (0L, 0, 2), (1L, 4, 5)))
    assert(got.head.user_text == "hello" && got.head.reply_text == "hi")
  }

  test("batch window-function form equals the pure spec") {
    val input = TranscriptGen.turnsFor(7L, 0) ++ TranscriptGen.turnsFor(7L, 1) ++
      TranscriptGen.turnsFor(7L, 2) ++ handAuthored
    val fromSpec = input.groupBy(_.conv_id).toSeq
      .flatMap { case (_, turns) => SessionJoin.pairTurns(turns, gap) }
    val fromBatch = SessionJoin.pairBatch(input.toDF(), gap).as[PairedTurn].collect()
    assert(sortPairs(fromBatch.toSeq) == sortPairs(fromSpec))
  }

  private def sortPairs(p: Seq[PairedTurn]) =
    p.sortBy(x => (x.conv_id, x.session_id, x.reply_turn_idx))

  test("streaming flatMapGroupsWithState equals batch, incl. checkpoint resume") {
    val input = (0L until 6L).flatMap(TranscriptGen.turnsFor(11L, _))
    val expected = sortPairs(SessionJoin.pairBatch(input.toDF(), gap)
      .as[PairedTurn].collect().toSeq)

    val outDir = tempDir("sj-out").toString
    val ckDir = tempDir("sj-ck").toString
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Turn]
    val paired = SessionJoin.pairStreaming(mem.toDS(), gap, "10 minutes")

    // first half, then stop (simulated crash), then resume from checkpoint
    val (h1, h2) = input.sortBy(_.ts.getTime).splitAt(input.size / 2)
    mem.addData(h1)
    val q1 = graft.streaming.Sink.exactlyOnce(paired, outDir, ckDir,
      Trigger.AvailableNow()).start()
    q1.awaitTermination()

    mem.addData(h2)
    // high-watermark flush: a final empty-ish batch so event-time passes
    // every session end (watermark only advances with data)
    mem.addData(Seq(Turn("zzz-flush", 0, "user", "flush", null,
      new Timestamp(input.map(_.ts.getTime).max + 10 * 3600 * 1000))))
    val q2 = graft.streaming.Sink.exactlyOnce(paired, outDir, ckDir,
      Trigger.AvailableNow()).start()
    q2.awaitTermination()
    // one more cycle so the timeout fires after the watermark advanced
    val q3 = graft.streaming.Sink.exactlyOnce(paired, outDir, ckDir,
      Trigger.AvailableNow()).start()
    q3.awaitTermination()

    val got = graft.streaming.Sink.readCommitted(spark, outDir)
      .drop("_batch_id", "_partition_id").as[PairedTurn].collect().toSeq
    assert(sortPairs(got) == expected)
  }

  test("state envelope rejects version tags 1, 2 and 4") {
    import graft.streaming.StateEnvelope
    // a tag followed by an empty state (flushedSessions 0, no turns)
    def tagged(v: Int) = Array[Byte](v.toByte, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0)
    assert(StateEnvelope.decode("c", tagged(StateEnvelope.CurrentVersion)) ==
      SessionJoin.ConvState(Nil, 0L))
    Seq(1, 2, 4).foreach { v =>
      val e = intercept[IllegalStateException](StateEnvelope.decode("c", tagged(v)))
      assert(e.getMessage.contains(s"unknown state version $v"))
    }
  }

  private def at(ms: Long, nanos: Int) = { val t = new Timestamp(ms); t.setNanos(nanos); t }

  test("state envelope round-trips microsecond timestamps") {
    import graft.streaming.StateEnvelope
    val fine = at(1704229670758L, 758444000) // .758444
    val preEpoch = at(-1L, 999001000) // 1969-12-31 23:59:59.999001
    val st = SessionJoin.ConvState(List(
      Turn("c1", 0, "user", "q", null, fine), Turn("c1", 1, "assistant", "a", null, preEpoch),
      Turn("c1", 2, "tool", "search()", "search", at(1000L, 0))), 3L)
    assert(StateEnvelope.decode("c1", StateEnvelope.encode(st)) == st)
  }

  test("state envelope v3 bytes are pinned: a stored value decodes and re-encodes unchanged") {
    import graft.streaming.StateEnvelope
    // a v3 value as checkpoints hold it: flushedSessions 3, then three
    // turns (UTF-8 text, null tool, microsecond and pre-1970 ts); conv_id
    // is the state key, not part of the value
    val stored = ("03" + "0000000000000003" + "00000003" +
      "00000000" + "00000004" + "75736572" + "00000008" + "6e61c3af76652071" + "ffffffff" +
      "00060dfce424282c" +
      "00000001" + "00000009" + "617373697374616e74" + "00000001" + "61" + "ffffffff" +
      "fffffffffffffc19" +
      "00000002" + "00000004" + "746f6f6c" + "00000008" + "7365617263682829" + "00000006" +
      "736561726368" + "ffffffffffe91ca0")
      .grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
    val expected = SessionJoin.ConvState(List(
      Turn("c1", 0, "user", "naïve q", null, at(1704229670758L, 758444000)),
      Turn("c1", 1, "assistant", "a", null, at(-1L, 999001000)),
      Turn("c1", 2, "tool", "search()", "search", at(-1500L, 500000000))), 3L)
    val got = StateEnvelope.decode("c1", stored)
    assert(got == expected)
    assert(got.buffered.forall(_.conv_id eq got.buffered.head.conv_id))
    assert(StateEnvelope.encode(got).toSeq == stored.toSeq)
  }

  test("enveloped streaming resumes from its checkpoint, exactly once") {
    val input = (0L until 6L).flatMap(TranscriptGen.turnsFor(13L, _))
    val expected = sortPairs(SessionJoin.pairBatch(input.toDF(), gap)
      .as[PairedTurn].collect().toSeq)

    val outDir = tempDir("sje-out").toString
    val ckDir = tempDir("sje-ck").toString
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Turn]
    def run(data: Seq[Turn]): Unit = {
      if (data.nonEmpty) mem.addData(data)
      val paired = SessionJoin.pairStreaming(mem.toDS(), gap, "10 minutes")
      val q = graft.streaming.Sink.exactlyOnce(paired, outDir, ckDir,
        Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    val (h1, h2) = input.sortBy(_.ts.getTime).splitAt(input.size / 2)
    // each run is a fresh query resuming the enveloped state the previous
    // one left in the checkpoint
    run(h1)
    run(h2)
    run(Seq(Turn("zzz-flush", 0, "user", "flush", null,
      new Timestamp(input.map(_.ts.getTime).max + 10 * 3600 * 1000))))
    run(Nil) // let the armed timeout fire

    val got = graft.streaming.Sink.readCommitted(spark, outDir)
      .drop("_batch_id", "_partition_id").as[PairedTurn].collect().toSeq
    assert(sortPairs(got) == expected)
  }

  test("conversation resuming after flush continues session numbering") {
    val gap = 600L
    def t(i: Int, role: String, sec: Long) =
      Turn("c1", i, role, s"t$i", null, new Timestamp(sec * 1000))
    val burst1 = Seq(t(0, "user", 1000), t(1, "assistant", 1010))
    val burst2 = Seq(t(2, "user", 50000), t(3, "assistant", 50010))
    val flush1 = Turn("zz1", 0, "user", "f", null, new Timestamp(20000L * 1000))
    val flush2 = Turn("zz2", 0, "user", "f", null, new Timestamp(99999L * 1000))

    val outDir = tempDir("sjn-out").toString
    val ckDir = tempDir("sjn-ck").toString
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Turn]
    val paired = SessionJoin.pairStreaming(mem.toDS(), gap, "1 minute")
    def runOnce(): Unit = {
      val q = graft.streaming.Sink.exactlyOnce(paired, outDir, ckDir,
        Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    mem.addData(burst1); runOnce()
    mem.addData(Seq(flush1)); runOnce(); runOnce() // burst1 session flushes
    mem.addData(burst2); runOnce()
    mem.addData(Seq(flush2)); runOnce(); runOnce() // burst2 flushes

    val got = graft.streaming.Sink.readCommitted(spark, outDir)
      .filter(!$"conv_id".startsWith("zz"))
      .select("session_id", "user_turn_idx", "reply_turn_idx")
      .as[(Long, Int, Int)].collect().toSeq.sorted
    // second burst is session 1 — numbering survived the first flush
    assert(got == Seq((0L, 0, 1), (1L, 2, 3)))
  }

  test("one flush after an earlier one closes two sessions and keeps the open tail") {
    val gap = 600L
    def t(i: Int, role: String, sec: Long) =
      Turn("c1", i, role, s"t$i", null, new Timestamp(sec * 1000))
    val session0 = Seq(t(0, "user", 1000), t(1, "assistant", 1010))
    val flush0 = Turn("zz0", 0, "user", "f", null, new Timestamp(5000L * 1000))
    // sessions 1 and 2 end long before the open session 3 starts; the
    // batch that brings them moves the watermark past both close points
    // (1 minute lateness: 40010 s - 60 s) but not past session 3's
    val later = Seq(t(2, "user", 10000), t(3, "assistant", 10010),
      t(4, "user", 20000), t(5, "tool", 20005),
      t(6, "user", 40000), t(7, "assistant", 40010))
    val tail = Seq(t(8, "assistant", 40020))
    val flush1 = Turn("zz1", 0, "user", "f", null, new Timestamp(99999L * 1000))
    val all = session0 ++ Seq(flush0) ++ later ++ tail ++ Seq(flush1)
    val expected = sortPairs(SessionJoin.pairBatch(all.toDF(), gap).as[PairedTurn].collect().toSeq)
    assert(expected.map(p => (p.session_id, p.user_turn_idx, p.reply_turn_idx)) ==
      Seq((0L, 0, 1), (1L, 2, 3), (2L, 4, 5), (3L, 6, 7), (3L, 6, 8)))

    val outDir = tempDir("sjm-out").toString
    val ckDir = tempDir("sjm-ck").toString
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Turn]
    val paired = SessionJoin.pairStreaming(mem.toDS(), gap, "1 minute")
    def runOnce(): Unit = graft.streaming.Sink.exactlyOnce(paired, outDir, ckDir,
      Trigger.AvailableNow()).start().awaitTermination()
    mem.addData(session0); runOnce()
    mem.addData(Seq(flush0)); runOnce(); runOnce() // session 0 flushes alone
    mem.addData(later); runOnce(); runOnce() // sessions 1 and 2 close, 3 stays open
    mem.addData(tail); runOnce()
    mem.addData(Seq(flush1)); runOnce(); runOnce() // session 3 flushes

    val committed = graft.streaming.Sink.readCommitted(spark, outDir)
    val got = committed.drop("_batch_id", "_partition_id").as[PairedTurn].collect().toSeq
    assert(sortPairs(got) == expected)
    // each session's pairs commit in one batch: 0 first, then 1 and 2
    // together, then 3
    val batchOf = committed.select("session_id", "_batch_id").distinct()
      .as[(Long, Long)].collect().toMap
    assert(batchOf.size == 4)
    assert(batchOf(0L) < batchOf(1L) && batchOf(1L) == batchOf(2L) && batchOf(2L) < batchOf(3L))
  }

  test("generator is deterministic across parallelism") {
    val a = TranscriptGen.transcripts(spark, 20, 42L).collect().sortBy(t => (t.conv_id, t.turn_idx))
    val b = TranscriptGen.transcripts(spark.newSession(), 20, 42L)
      .repartition(13).collect().sortBy(t => (t.conv_id, t.turn_idx))
    assert(a.toSeq == b.toSeq)
  }
}

package graft

import java.sql.Timestamp
import java.nio.file.Files
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

    val outDir = Files.createTempDirectory("sj-out").toString
    val ckDir = Files.createTempDirectory("sj-ck").toString
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
    assert(StateEnvelope.decode(tagged(StateEnvelope.CurrentVersion)) ==
      SessionJoin.ConvState(Nil, 0L))
    Seq(1, 2, 4).foreach { v =>
      val e = intercept[IllegalStateException](StateEnvelope.decode(tagged(v)))
      assert(e.getMessage.contains(s"unknown state version $v"))
    }
  }

  test("state envelope round-trips microsecond timestamps") {
    import graft.streaming.StateEnvelope
    import graft.model.BufTurn
    def at(ms: Long, nanos: Int) = { val t = new Timestamp(ms); t.setNanos(nanos); t }
    val fine = at(1704229670758L, 758444000) // .758444
    val preEpoch = at(-1L, 999001000) // 1969-12-31 23:59:59.999001
    val st = SessionJoin.ConvState(List(
      BufTurn(0, "user", "q", null, fine), BufTurn(1, "assistant", "a", null, preEpoch),
      BufTurn(2, "tool", "search()", "search", at(1000L, 0))), 3L)
    assert(StateEnvelope.decode(StateEnvelope.encode(st)) == st)
  }

  test("enveloped streaming resumes from its checkpoint, exactly once") {
    val input = (0L until 6L).flatMap(TranscriptGen.turnsFor(13L, _))
    val expected = sortPairs(SessionJoin.pairBatch(input.toDF(), gap)
      .as[PairedTurn].collect().toSeq)

    val outDir = Files.createTempDirectory("sje-out").toString
    val ckDir = Files.createTempDirectory("sje-ck").toString
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

    val outDir = Files.createTempDirectory("sjn-out").toString
    val ckDir = Files.createTempDirectory("sjn-ck").toString
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

  test("generator is deterministic across parallelism") {
    val a = TranscriptGen.transcripts(spark, 20, 42L).collect().sortBy(t => (t.conv_id, t.turn_idx))
    val b = TranscriptGen.transcripts(spark.newSession(), 20, 42L)
      .repartition(13).collect().sortBy(t => (t.conv_id, t.turn_idx))
    assert(a.toSeq == b.toSeq)
  }
}

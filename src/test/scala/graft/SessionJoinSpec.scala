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
  * checkpoint stop/resume, including one across a state-layout change,
  * without duplicating or losing pairs (exactly-once, BASELINE.json
  * north_rule).
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

  test("state envelope codec round-trips both versions; v1 migrates to slim") {
    import graft.streaming.{SessionJoin, StateEnvelope}
    import graft.model.BufTurn
    val st = SessionJoin.ConvState(List(
      BufTurn(0, "user", "hello", null, ts(1000)),
      BufTurn(1, "tool", "search()", "search", ts(1010))), 3L)
    assert(StateEnvelope.decode(StateEnvelope.encode("c9", st, 2)) == st)
    // v1 (legacy layout, conv_id inside every row) decodes to the SAME
    // slim state — the read-path migration
    val v1 = StateEnvelope.encode("c9", st, 1)
    assert(v1.length > StateEnvelope.encode("c9", st, 2).length)
    assert(StateEnvelope.decode(v1) == st)
    intercept[IllegalStateException] {
      StateEnvelope.decode(Array[Byte](9, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0))
    }
  }

  test("state envelope keeps microsecond timestamps; v2 state reads at ms precision") {
    import graft.streaming.StateEnvelope
    import graft.model.BufTurn
    def at(ms: Long, nanos: Int) = { val t = new Timestamp(ms); t.setNanos(nanos); t }
    val fine = at(1704229670758L, 758444000) // .758444
    val preEpoch = at(-1L, 999001000) // 1969-12-31 23:59:59.999001
    val st = SessionJoin.ConvState(List(
      BufTurn(0, "user", "q", null, fine), BufTurn(1, "assistant", "a", null, preEpoch)), 0L)
    assert(StateEnvelope.decode(StateEnvelope.encode("c", st)) == st)
    assert(StateEnvelope.decode(StateEnvelope.encode("c", st, 2)).buffered.map(_.ts) ==
      Seq(at(1704229670758L, 758000000), at(-1L, 999000000)))
  }

  test("enveloped streaming resumes across a state-schema change (v1 checkpoint -> v2 engine)") {
    val input = (0L until 6L).flatMap(TranscriptGen.turnsFor(13L, _))
    val expected = sortPairs(SessionJoin.pairBatch(input.toDF(), gap)
      .as[PairedTurn].collect().toSeq)

    val outDir = Files.createTempDirectory("sje-out").toString
    val ckDir = Files.createTempDirectory("sje-ck").toString
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Turn]
    def run(writeVersion: Int, data: Seq[Turn]): Unit = {
      if (data.nonEmpty) mem.addData(data)
      val paired = SessionJoin.pairStreaming(mem.toDS(), gap, "10 minutes", writeVersion)
      val q = graft.streaming.Sink.exactlyOnce(paired, outDir, ckDir,
        Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    val (h1, h2) = input.sortBy(_.ts.getTime).splitAt(input.size / 2)
    // phase 1 persists LEGACY-layout (v1) state into the checkpoint
    run(writeVersion = 1, h1)
    // phase 2: the upgraded engine reads the v1 checkpoint through the
    // migration shim and writes v2 — the schema change a Catalyst-encoded
    // state value would reject at restore
    run(writeVersion = 2, h2)
    // then on to the current layout, reading the v2 state it left
    val current = graft.streaming.StateEnvelope.CurrentVersion
    run(writeVersion = current, Seq(Turn("zzz-flush", 0, "user", "flush", null,
      new Timestamp(input.map(_.ts.getTime).max + 10 * 3600 * 1000))))
    run(writeVersion = current, Nil) // let the armed timeout fire

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

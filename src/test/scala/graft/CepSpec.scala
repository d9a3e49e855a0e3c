package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger
import graft.gen.TranscriptGen
import graft.model.Turn
import graft.ops.Cep

/** Sequence-pattern CEP: batch match semantics (leftmost non-overlapping,
  * greedy quantifiers, bounded repetition), the streaming twin's parity
  * with batch across a checkpoint resume, and the one-shuffle plan shape.
  */
class CepSpec extends SparkTestBase {
  import spark.implicits._

  private def ts(s: Long) = new Timestamp(s * 1000)

  private def turn(conv: String, idx: Int, role: String): Turn =
    Turn(conv, idx, role, s"$role $idx", if (role == "tool") "search" else null, ts(1000L + idx * 10))

  // e1 roles by turn_idx: u t t a u a t t t t t
  private val handAuthored: Seq[Turn] =
    Seq("user", "tool", "tool", "assistant", "user", "assistant",
      "tool", "tool", "tool", "tool", "tool").zipWithIndex.map { case (r, i) => turn("e1", i, r) } ++
      Seq(turn("e2", 0, "user"), turn("e2", 1, "assistant")) // no tool call: no ut+a match

  test("episodes: leftmost non-overlapping greedy matches, per-conv ordinals") {
    val got = Cep.episodes(handAuthored.toDF(), "ut+a")
      .as[(String, Int, String, Int)].collect().toSeq.sorted
    assert(got == Seq(("e1", 0, "utta", 4)))
    val loops = Cep.episodes(handAuthored.toDF(), "t{4,}")
      .as[(String, Int, String, Int)].collect().toSeq.sorted
    assert(loops == Seq(("e1", 0, "ttttt", 5)))
  }

  test("episodes: order is turn_idx, not arrival order") {
    val shuffled = scala.util.Random.shuffle(handAuthored)
    val got = Cep.episodes(shuffled.toDF().repartition(7), "ut+a")
      .as[(String, Int, String, Int)].collect().toSeq.sorted
    assert(got == Seq(("e1", 0, "utta", 4)))
  }

  test("streaming twin equals batch, incl. checkpoint resume") {
    val input = (0L until 6L).flatMap(TranscriptGen.turnsFor(11L, _)) ++ handAuthored
    val expected = Cep.episodes(input.toDF(), "ut+a")
      .as[(String, Int, String, Int)].collect().toSeq.sorted

    val outDir = tempDir("cep-out").toString
    val ckDir = tempDir("cep-ck").toString
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Turn]
    val eps = Cep.episodesStreaming(mem.toDF(), "ut+a", gapSeconds = 1800L, lateness = "10 minutes")

    val (h1, h2) = input.sortBy(_.ts.getTime).splitAt(input.size / 2)
    mem.addData(h1)
    val q1 = graft.streaming.Sink.exactlyOnce(eps, outDir, ckDir, Trigger.AvailableNow()).start()
    q1.awaitTermination()
    mem.addData(h2)
    mem.addData(Seq(Turn("zzz-flush", 0, "user", "flush", null,
      new Timestamp(input.map(_.ts.getTime).max + 10 * 3600 * 1000))))
    val q2 = graft.streaming.Sink.exactlyOnce(eps, outDir, ckDir, Trigger.AvailableNow()).start()
    q2.awaitTermination()
    val q3 = graft.streaming.Sink.exactlyOnce(eps, outDir, ckDir, Trigger.AvailableNow()).start()
    q3.awaitTermination()

    val got = graft.streaming.Sink.readCommitted(spark, outDir)
      .drop("_batch_id", "_partition_id")
      .filter($"conv_id" =!= "zzz-flush")
      .as[(String, Int, String, Int)].collect().toSeq.sorted
    assert(got == expected)
  }

  test("toolloop aggregation reuses the episodes shuffle: exactly one Exchange") {
    val plan = Cep.episodes(handAuthored.toDF(), "t{4,}")
      .groupBy($"conv_id").agg(org.apache.spark.sql.functions.max($"episode_len"))
      .queryExecution.executedPlan.toString
    assert("Exchange".r.findAllIn(plan).size == 1, plan)
  }
}

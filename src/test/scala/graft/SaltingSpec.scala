package graft

import org.apache.spark.sql.functions._
import graft.gen.TranscriptGen
import graft.streaming.SessionJoin

/** Hot-key handling (north_rule: "repartitions by hash(conv_id) with
  * salting for hot conversations to defeat skew"): salted repartition
  * must spread one hot conversation across many tasks for the map-heavy
  * stages without changing any downstream per-conv result.
  */
class SaltingSpec extends SparkTestBase {
  import spark.implicits._

  test("salted repartition spreads a hot conversation across partitions") {
    // conv 0 is hot (generator multiplies its turn count 20x)
    val df = TranscriptGen.transcripts(spark, 40, 42L, hotConvs = 1).toDF()
    val parts = 8

    val plain = df.repartition(parts, col("conv_id"))
      .select(col("conv_id"), spark_partition_id().as("p"))
    val salted = SessionJoin.saltedRepartition(df, parts, salt = 8)
      .select(col("conv_id"), spark_partition_id().as("p"))

    def hotSpread(d: org.apache.spark.sql.DataFrame): Long =
      d.filter(col("conv_id") === "conv-000000").select("p").distinct().count()

    assert(hotSpread(plain) == 1L)      // all hot rows hit one task
    assert(hotSpread(salted) >= 4L)     // salt spreads them
  }

  test("salting does not change the session-join result") {
    val df = TranscriptGen.transcripts(spark, 40, 42L, hotConvs = 1).toDF()
    val direct = SessionJoin.pairBatch(df, 1800L)
      .orderBy("conv_id", "session_id", "reply_turn_idx").collect().toSeq
    val viaSalt = SessionJoin.pairBatch(
      SessionJoin.saltedRepartition(df, 8, salt = 8), 1800L)
      .orderBy("conv_id", "session_id", "reply_turn_idx").collect().toSeq
    assert(direct == viaSalt)
  }

  // The optimizer trap the skew-heavy bench block measured (+12% instead of +92%,
  // BENCH.md §1 "Salting measured where it pays"): heavy per-turn work
  // expressed as a Filter after the salted repartition gets pushed back
  // BELOW the exchange by PushPredicateThroughNonJoin — re-concentrating
  // the hot conversation's map work in its single scan task. Work that
  // must run salted has to ride a projection, which stays above. Pin
  // both placements so the trap can't silently return.
  test("heavy map work stays above the salted exchange as a projection, " +
      "but a filter form is pushed below it") {
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project, RepartitionByExpression}
    val df = TranscriptGen.transcripts(spark, 40, 42L, hotConvs = 1).toDF()
    val heavy = graft.ops.TextOps.qualityScore(col("text"))

    def placement(plan: LogicalPlan): (Boolean, Boolean) = {
      // does any node ABOVE/BELOW the repartition evaluate the heavy expr?
      def containsHeavy(p: LogicalPlan): Boolean = p.expressions.exists(
        _.find(e => e.isInstanceOf[org.apache.spark.sql.catalyst.expressions.RegExpReplace]).isDefined)
      var above = false; var below = false; var seenRepart = false
      // walk root→leaf: nodes visited before the repartition are above it
      def walk(p: LogicalPlan): Unit = {
        p match {
          case _: RepartitionByExpression => seenRepart = true
          case n if containsHeavy(n) => if (seenRepart) below = true else above = true
          case _ =>
        }
        p.children.foreach(walk)
      }
      walk(plan)
      (above, below)
    }

    val salted = SessionJoin.saltedRepartition(df, 8, salt = 8)
    // projection form (what Flagship.runStaged heavyMap does)
    val projForm = salted.withColumn("text",
      when(heavy >= 0.0, regexp_replace(col("text"), "a", "b")).otherwise(col("text")))
    val (pAbove, pBelow) = placement(projForm.queryExecution.optimizedPlan)
    assert(pAbove && !pBelow, "projection must stay above the salted exchange")

    // filter form (the trap): predicate is pushed below the repartition
    val filtForm = salted
      .withColumn("__q", heavy)
      .filter(regexp_replace(col("text"), "a", "b") =!= lit("~"))
      .drop("__q")
    val (_, fBelow) = placement(filtForm.queryExecution.optimizedPlan)
    assert(fBelow, "the filter form IS pushed below (the documented trap)")
  }
}

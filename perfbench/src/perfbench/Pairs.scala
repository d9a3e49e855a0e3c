package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.streaming.SessionJoin

/** The exact correctness check: the committed pair multiset against the
  * batch oracle `SessionJoin.pairBatch` over the same input after the same
  * map, restricted to the sessions the run's final watermark closed (a
  * bounded replay emits only those).
  */
object Pairs {

  /** Every column of a pair. session_id is left out: the streaming engine
    * restarts a conversation's session numbering after evicting its
    * tombstone (documented in `SessionJoin.processConv`), while the batch
    * form numbers sessions over the whole input. Every other field, the
    * mapped texts included, must match.
    */
  val Key: Seq[String] = Seq("conv_id", "user_turn_idx", "user_text", "reply_turn_idx",
    "reply_role", "reply_text", "reply_tool", "user_ts", "reply_ts")

  private def rowHash: Column = xxhash64(Key.map(col): _*)

  /** Order-independent multiset digest: row count and the exact sum of the
    * rows' xxhash64 values. A dropped row or a duplicate moves both.
    */
  final case class Digest(rows: Long, hashSum: BigDecimal)

  def digest(pairs: DataFrame): Digest = {
    val r = pairs.agg(count(lit(1)), sum(rowHash.cast("decimal(38,0)"))).head()
    Digest(r.getLong(0), Option(r.getDecimal(1)).map(BigDecimal(_)).getOrElse(BigDecimal(0)))
  }

  /** Missing and extra committed pairs, counted as multisets. */
  final case class Diff(oracle: Long, committed: Long, missing: Long, extra: Long) {
    def errorShare: Double = if (oracle == 0) (if (extra == 0) 0.0 else 1.0)
      else (missing + extra).toDouble / oracle
  }

  def diff(oracle: DataFrame, committed: DataFrame): Diff = {
    val o = digest(oracle)
    val c = digest(committed)
    if (o == c) Diff(o.rows, c.rows, 0, 0)
    else {
      def counts(df: DataFrame, n: String) = df.select(rowHash.as("h")).groupBy("h").agg(count(lit(1)).as(n))
      val r = counts(oracle, "o").join(counts(committed, "c"), Seq("h"), "full_outer")
        .select(coalesce(col("o"), lit(0L)).as("o"), coalesce(col("c"), lit(0L)).as("c"))
        .agg(sum(greatest(col("o") - col("c"), lit(0L))), sum(greatest(col("c") - col("o"), lit(0L))))
        .head()
      Diff(o.rows, c.rows, r.getLong(0), r.getLong(1))
    }
  }

  /** Oracle pairs of `mapped` whose session the watermark `wmMs` closed:
    * `(floor(lastTs / 1000) + gap + 1) * 1000 <= wm`, the same close point
    * the streaming operator flushes at. Sessions are segmented with the
    * batch form's rule, so the join to pairBatch's session_id is exact.
    */
  def oracle(mapped: DataFrame, wmMs: Long,
      gapSeconds: Long = SessionJoin.DefaultGapSeconds): DataFrame = {
    val w = Window.partitionBy(col("conv_id")).orderBy(col("ts"), col("turn_idx"))
    val prev = lag(col("ts"), 1).over(w)
    val isNew = when(prev.isNull ||
      unix_timestamp(col("ts")) - unix_timestamp(prev) > gapSeconds, 1).otherwise(0)
    val closed = mapped
      .withColumn("session_id", sum(isNew).over(w.rowsBetween(Window.unboundedPreceding, 0)) - lit(1))
      .groupBy("conv_id", "session_id").agg(max(col("ts")).as("__last"))
      .filter((floor(unix_micros(col("__last")) / 1000000L) + gapSeconds + 1) * 1000L <= wmMs)
      .select("conv_id", "session_id")
    SessionJoin.pairBatch(mapped, gapSeconds).join(closed, Seq("conv_id", "session_id"))
  }
}

package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.gen.TranscriptGen
import graft.model.Turn
import graft.ops.{Dedupe, Windows}

/** Streaming/batch parity for the windowing and dedupe operators: the
  * same declarative pipeline run as a micro-batched stream must produce
  * the batch answer once the watermark closes every window (SURVEY.md
  * §2.8; the reference's flush-on-clock semantics re-expressed as
  * data-driven watermarks).
  */
class StreamingParitySpec extends SparkTestBase {
  import spark.implicits._

  private val input: Seq[Turn] =
    (0L until 30L).flatMap(TranscriptGen.turnsFor(5L, _))

  /** Run a streaming pipeline over the input in `nChunks` arrival batches
    * + a far-future flush sentinel, complete mode off, append results.
    */
  private def runStream(pipeline: DataFrame => DataFrame, nChunks: Int): DataFrame = {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Turn]
    val outDir = tempDir("parity-out").toString
    val ckDir = tempDir("parity-ck").toString
    val sorted = input.sortBy(_.ts.getTime)
    val flushTs = new java.sql.Timestamp(input.map(_.ts.getTime).max + 48L * 3600 * 1000)
    val chunks = sorted.grouped(math.max(1, sorted.size / nChunks)).toSeq :+
      Seq(Turn("zz-flush", 0, "user", "flush", null, flushTs))
    val stream = pipeline(mem.toDS().toDF())
    chunks.foreach { c =>
      mem.addData(c)
      val q = stream.writeStream.format("parquet")
        .option("path", outDir).option("checkpointLocation", ckDir)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    spark.read.parquet(outDir).filter(col("conv_id") =!= "zz-flush")
  }

  test("streaming tumbling windowed agg equals the batch answer") {
    def agg(df: DataFrame): DataFrame =
      Windows.windowedAgg(df, col("conv_id"), "ts", "1 hour", "10 minutes",
        Seq(count(lit(1)).as("n"), sum(length(col("text"))).as("chars")))
        .select(col("conv_id"), unix_timestamp(col("window.start")).as("ws"),
          col("n"), col("chars"))

    val expected = input.toDF()
      .groupBy(col("conv_id"), window(col("ts"), "1 hour").getField("start").as("w"))
      .agg(count(lit(1)).as("n"), sum(length(col("text"))).as("chars"))
      .select(col("conv_id"), unix_timestamp(col("w")).as("ws"), col("n"), col("chars"))
      .as[(String, Long, Long, Long)].collect().toSet

    val got = runStream(agg, 3).as[(String, Long, Long, Long)].collect().toSet
    assert(got == expected)
  }

  test("streaming dedupe equals batch exact dedupe on the same keys") {
    // duplicate every turn (same conv/turn/ts) to force drops
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Turn]
    val outDir = tempDir("dd-out").toString
    val ckDir = tempDir("dd-ck").toString
    val doubled = (input ++ input).sortBy(_.ts.getTime)
    mem.addData(doubled)
    val dd = Dedupe.streamingDedupe(mem.toDS().toDF(), "ts", "1 hour",
      Seq("conv_id", "turn_idx"))
    val q = dd.writeStream.format("parquet")
      .option("path", outDir).option("checkpointLocation", ckDir)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(spark.read.parquet(outDir).count() == input.size)
  }

  test("rate-source topology builds a running streaming query (generate input)") {
    val t = graft.topo.Topology.fromRate(100)
      .proc(_.withColumn("even", pmod(col("value"), lit(2)) === 0))
    val q = t.build(spark).writeStream.format("memory")
      .queryName("rate_smoke").trigger(Trigger.ProcessingTime("1 second")).start()
    try {
      // NOT processAllAvailable(): a rate source always has more data
      // pending, so that wait is unbounded under load (it hung a full CI
      // run for 30+ min). The assertion only needs the sink table's
      // schema, which exists once the query starts — poll bounded.
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      def cols: Set[String] =
        try spark.table("rate_smoke").columns.toSet catch { case _: Exception => Set.empty }
      while (cols != Set("timestamp", "value", "even") && System.nanoTime() < deadline)
        Thread.sleep(100)
      assert(cols == Set("timestamp", "value", "even"))
    } finally q.stop()
  }
}

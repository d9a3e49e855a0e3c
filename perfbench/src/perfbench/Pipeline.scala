package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.model.{PairedTurn, Turn}
import graft.streaming.{SessionJoin, Sink}

/** The flagship streaming pipeline, composed from the same public calls
  * `graft.Flagship.runStaged` makes: parquet file stream → per-turn map →
  * `SessionJoin.pairStreaming` (hash(conv_id) exchange into RocksDB state)
  * → `Sink.writeBatchIdempotent` exactly-once commit. Composing it here,
  * rather than calling runStaged, lets the benchmark choose the trigger,
  * keep the committed output for the pair check and wrap the sink call;
  * the self-test checks it commits the same pairs as runStaged.
  */
object Pipeline {

  /** The `runStaged(heavyMap = true)` gate chain: quality and language
    * scores decide whether a turn is redacted or tagged, so Catalyst
    * cannot fold the work away.
    */
  def textOpsGate(df: DataFrame): DataFrame = {
    val q = graft.ops.TextOps.qualityScore(col("text"))
    val lang = graft.ops.TextOps.langId(col("text"))
    df.withColumn("text",
      when(q >= 0.0 && lang =!= lit("--"), graft.ops.TextOps.redactPii(col("text")))
        .otherwise(concat(lit("<low-quality> "), col("text"))))
  }

  /** A Bloblang normalisation step compiled to Catalyst. It writes `text`,
    * which the session join carries into every pair, so no stage can be
    * pruned.
    */
  val BloblangProgram: String =
    """root.text = this.text.re_replace_all("[0-9]+", "#").replace_all("  ", " ").trim()"""

  /** The heavy per-turn map: TextOps gate chain, then the Bloblang step. */
  def heavyMap(df: DataFrame): DataFrame = {
    val gated = textOpsGate(df)
    val stage = graft.blob.BloblangCompiler.stage(BloblangProgram, gated.schema)
      .getOrElse(throw new IllegalStateException("benchmark Bloblang program left the compiled subset"))
    stage(gated)
  }

  def mapFor(heavy: Boolean): DataFrame => DataFrame =
    if (heavy) heavyMap else identity

  /** The paired stream before the sink. */
  def paired(spark: SparkSession, inDir: String, filesPerTrigger: Option[Int],
      heavy: Boolean): org.apache.spark.sql.Dataset[PairedTurn] = {
    import spark.implicits._
    val reader = spark.readStream.schema(Stage.Schema)
    val raw = filesPerTrigger.fold(reader)(n => reader.option("maxFilesPerTrigger", n.toLong))
      .parquet(inDir)
    SessionJoin.pairStreaming(mapFor(heavy)(raw).as[Turn],
      SessionJoin.DefaultGapSeconds, "10 minutes")
  }

  /** Start the pipeline. `wrapSink` is None for untraced runs, which use
    * `Sink.exactlyOnce` exactly as the flagship does; a traced run passes a
    * wrapper that times each `writeBatchIdempotent` call.
    */
  def start(spark: SparkSession, inDir: String, outDir: String, ckDir: String,
      filesPerTrigger: Option[Int], heavy: Boolean, trigger: Trigger,
      wrapSink: Option[(Long, () => Unit) => Unit]): StreamingQuery = {
    val ds = paired(spark, inDir, filesPerTrigger, heavy)
    wrapSink match {
      case None => Sink.exactlyOnce(ds, outDir, ckDir, trigger).start()
      case Some(wrap) =>
        ds.writeStream
          .option("checkpointLocation", ckDir)
          .trigger(trigger)
          .foreachBatch { (b: org.apache.spark.sql.Dataset[PairedTurn], id: Long) =>
            wrap(id, () => Sink.writeBatchIdempotent(outDir)(b.toDF(), id))
          }
          .start()
    }
  }
}

package graft

import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.gen.TranscriptGen
import graft.model.Turn
import graft.streaming.{Metrics, SessionJoin, Sink}

/** The flagship end-to-end streaming pipeline (BASELINE.json north_star):
  * transcripts stream → watermark → stateful session join of user turns to
  * assistant/tool replies (flatMapGroupsWithState on conv_id) → idempotent
  * exactly-once sink with per-partition lineage → per-stage metrics.
  *
  * `stage` writes a deterministic transcript stream to parquet once;
  * `runStaged` replays it through the pipeline and returns throughput
  * (turns/sec), p99 batch latency and state-store size — the metrics
  * BASELINE.md asks for. graft.Bench measures it through its
  * `tools.TrialBlock` children.
  */
object Flagship {

  case class Result(
      turns: Long,
      pairs: Long,
      elapsedSec: Double,
      turnsPerSec: Double,
      p99LatencyMs: Long,
      maxStateRows: Long,
      maxStateBytes: Long,
      // watermark at shutdown (epoch ms): a bounded replay only emits
      // sessions the final watermark closed, so the pair count is a
      // function of this value — carrying it makes run-to-run pair-count
      // shifts self-explaining (they track watermark progress, not bugs).
      watermarkMs: Long = 0L,
      // per-driver-phase totals across batches (walCommit, commitOffsets,
      // queryPlanning, addBatch, …) — where the per-batch serial term goes
      durationTotals: Map[String, Long] = Map.empty)

  /** Stage a deterministic transcript stream to parquet: sorted by ts so
    * file order ≈ arrival order (the generator's late stragglers stay late
    * within a file). Returns the input dir. Staged once, replayed at
    * multiple parallelism levels by Bench for the scaling measurement.
    *
    * `slices` > 1 stages conv-keyed — the partitioning a conv_id-keyed
    * ingest (e.g. a Kafka topic keyed by conv_id, the reference's kafka
    * input shape) hands the engine. Under hot-key skew that concentrates
    * a hot conversation's per-turn map work in ONE scan task, which is
    * exactly the regime the salted repartition exists for (Bench's
    * skew_heavy block). The replay stays TIME-COHERENT: rows are cut
    * into `slices` equal-frequency event-time slabs, each slab conv-keyed
    * into nFiles/slices files and written in slab order, so a
    * maxFilesPerTrigger = nFiles/slices replay advances every
    * conversation's event time together — exactly how a real conv-keyed
    * Kafka topic is consumed (all partitions drain in rough arrival
    * order). A conv-keyed layout without slabs would let every file span
    * the corpus's whole event-time range, so the watermark set by the
    * FIRST trigger (10-min lateness vs hot conversations spanning years
    * of event time) would make the engines' explicit late-drop rule
    * discard most later triggers' turns — a replay-harness artifact, not
    * a pipeline property (the round-3 skew-heavy records measured exactly
    * that; see BENCH.md §"Salting measured where it pays"); it is not
    * offered.
    */
  def stage(spark: SparkSession, nConvs: Long, nFiles: Int = 16,
      hotConvs: Int = 0, hotMult: Int = 20, slices: Int = 1): String = {
    val work = graft.util.Tmp.dir("flagship")
    val inDir = s"$work/in"
    val ds = TranscriptGen.transcripts(spark, nConvs, 42L, hotConvs, hotMult)
    if (slices > 1) {
      val filesPerSlice = math.max(1, nFiles / slices)
      val df = ds.toDF().withColumn("__sec", unix_timestamp(col("ts"))).persist()
      // equal-frequency slice boundaries (approx quantiles of event time):
      // equal-WIDTH slabs would put ~all light conversations in slab 0
      // (their starts span ~42 days; a hot conversation spans years)
      val bounds = df.stat.approxQuantile("__sec",
        (1 until slices).map(_.toDouble / slices).toArray, 1e-4)
      (0 until slices).foreach { i =>
        val lo = if (i == 0) lit(true) else col("__sec") >= bounds(i - 1)
        val hi = if (i == slices - 1) lit(true) else col("__sec") < bounds(i)
        // sequential writes => strictly increasing file mtimes, which is
        // the order FileStreamSource replays (latestFirst=false default)
        df.filter(lo && hi).drop("__sec")
          .repartition(filesPerSlice, col("conv_id"))
          .write.mode("append").parquet(inDir)
      }
      df.unpersist()
    } else {
      ds.orderBy(col("ts")).coalesce(nFiles).write.parquet(inDir)
      // One parallel write job gives every part file the SAME mtime, and
      // FileStreamSource replays by mtime — so the "time-ordered" layout
      // actually replayed in arbitrary order (part-NNNNN numbering does
      // NOT follow the sort's range order under AQE): an early trigger
      // could carry the global max ts, late-dropping later triggers' rows
      // at the state stage and (watermark already maxed) suppressing the
      // final no-data batch that flushes the tail. Stamp strictly
      // increasing mtimes in ACTUAL per-file event-time order.
      val order = spark.read.parquet(inDir)
        .groupBy(input_file_name().as("f")).agg(min(col("ts")).as("mn"))
        .orderBy(col("mn")).collect().map(_.getString(0))
      val base = System.currentTimeMillis() - order.length * 1000L
      order.zipWithIndex.foreach { case (uri, i) =>
        val p = java.nio.file.Paths.get(java.net.URI.create(uri))
        Files.setLastModifiedTime(p,
          java.nio.file.attribute.FileTime.fromMillis(base + i * 1000L))
      }
    }
    inDir
  }

  /** The pipeline's heavy per-turn map work (north_star: tokenization,
    * quality scoring, redaction BEFORE the join). Real gates, not
    * busywork: the quality/language scores gate which rows get redacted
    * vs tagged, so Catalyst cannot fold the work away. Deliberately a
    * pure PROJECTION, not a Filter: `PushPredicateThroughNonJoin` pushes
    * filters through RepartitionByExpression, which would move the
    * expensive predicate BACK below the salted exchange into the
    * (hot-key-concentrated) scan task — the exact skew the salt exists
    * to defeat. A projection stays put; column pruning only pushes the
    * raw-column Project below the exchange. When the input is conv-keyed
    * (stage(slices > 1)) this stage is where hot-conversation skew
    * lands — and what the salted repartition spreads.
    */
  def textOpsGate(df: DataFrame): DataFrame = {
    val q = graft.ops.TextOps.qualityScore(col("text"))
    val lang = graft.ops.TextOps.langId(col("text"))
    df.withColumn("text",
      when(q >= 0.0 && lang =!= lit("--"), graft.ops.TextOps.redactPii(col("text")))
        .otherwise(concat(lit("<low-quality> "), col("text"))))
  }

  /** Run the pipeline over an already-staged input dir. `salt` > 0
    * inserts the north_star's hot-key salted repartition before the
    * stateful stage: the hot conversation's per-turn map work spreads over
    * `salt` tasks instead of landing in one (the state stage itself
    * re-shuffles on conv_id regardless).
    */
  def runStaged(spark: SparkSession, inDir: String, filesPerTrigger: Int = 4,
      salt: Int = 0, heavyMap: Boolean = false): Result = {
    import spark.implicits._
    val work = graft.util.Tmp.dir("flagship-run")
    val metrics = Metrics.install(spark)
    val raw = spark.readStream
      .schema("conv_id STRING, turn_idx INT, role STRING, text STRING, tool STRING, ts TIMESTAMP")
      .option("maxFilesPerTrigger", filesPerTrigger)
      .parquet(inDir)
    val salted =
      if (salt <= 0) raw
      else {
        val parts = spark.conf.get("spark.sql.shuffle.partitions").toInt
        SessionJoin.saltedRepartition(raw, parts, salt)
      }
    val mapped = if (heavyMap) textOpsGate(salted) else salted
    val turns = mapped.as[Turn]

    val paired = SessionJoin.pairStreaming(turns, SessionJoin.DefaultGapSeconds, "10 minutes")

    val t0 = System.nanoTime()
    val q = Sink.exactlyOnce(paired, s"$work/out", s"$work/ck", Trigger.AvailableNow()).start()
    q.awaitTermination()
    val elapsed = (System.nanoTime() - t0) / 1e9

    val nTurns = metrics.totalInputRows
    val nPairs = Sink.readCommitted(spark, s"$work/out").count()
    val snaps = metrics.snapshots
    spark.streams.removeListener(metrics)
    // This run's state-store providers are dead the moment the query
    // stops (the checkpoint is single-use), but they stay in the
    // executor-global provider cache holding their native RocksDB block
    // cache + memtables until the next maintenance tick — which Bench
    // defers 10 min so it can't fire MID-trial. Left alone, back-to-back
    // runs accumulate GBs of dead native memory and every later trial
    // pays kernel reclaim for it (observed as monotonically declining
    // throughput across a session's trials). Unload explicitly instead.
    org.apache.spark.sql.execution.streaming.state.GraftStateStoreAccess.unloadAll()
    graft.util.Tmp.delete(work) // checkpoint + sink are ephemeral per run
    Result(nTurns, nPairs, elapsed, nTurns / elapsed, metrics.p99LatencyMs,
      if (snaps.isEmpty) 0 else snaps.map(_.stateRows).max,
      if (snaps.isEmpty) 0 else snaps.map(_.stateBytes).max,
      metrics.maxWatermarkMs, metrics.durationTotals)
  }
}

package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._

/** Spans and counts at each layer boundary of the traced run, kept in
  * memory and written out at the end. Everything is observed from outside
  * the program: a StreamingQueryListener (micro-batch phases, state
  * operator), a SparkListener (stages and tasks, tied to their micro-batch
  * through the `streaming.sql.batchId` job property) and a timing wrapper
  * around the sink call.
  */
final class Trace extends SparkListener {

  final case class Batch(id: Long, startMs: Long, durations: Map[String, Long],
      inputRows: Long, updateMs: Long, removalMs: Long, commitMs: Long, stateRows: Long,
      stateBytes: Long, rowsUpdated: Long, cacheHits: Long, cacheMisses: Long) {
    def endMs: Long = startMs + durations.getOrElse("triggerExecution", 0L)
  }
  final case class Task(stage: Int, partition: Int, startMs: Long, endMs: Long, runMs: Long,
      inputRows: Long, shuffleWriteBytes: Long, shuffleWriteNs: Long,
      fetchWaitMs: Long, shuffleReadRows: Long)
  final case class StageSpan(stage: Int, name: String, startMs: Long, endMs: Long)
  final case class Job(batch: Option[Long], stages: Seq[Int], startMs: Long, var endMs: Long = -1L)
  final case class SinkCall(batch: Long, startMs: Long, endMs: Long)

  val batches = mutable.ArrayBuffer.empty[Batch]
  val tasks = mutable.ArrayBuffer.empty[Task]
  val stages = mutable.ArrayBuffer.empty[StageSpan]
  val jobs = mutable.LinkedHashMap.empty[Int, Job]
  val sinkCalls = mutable.ArrayBuffer.empty[SinkCall]

  val progress: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = {
      val p = e.progress
      val ops = p.stateOperators.toSeq
      def opSum(f: org.apache.spark.sql.streaming.StateOperatorProgress => Long) = ops.map(f).sum
      def custom(k: String) = opSum(o => Option(o.customMetrics.get(k)).map(_.longValue).getOrElse(0L))
      val b = Batch(p.batchId, java.time.Instant.parse(p.timestamp).toEpochMilli,
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap, p.numInputRows,
        opSum(_.allUpdatesTimeMs), opSum(_.allRemovalsTimeMs), opSum(_.commitTimeMs),
        opSum(_.numRowsTotal), opSum(_.memoryUsedBytes), opSum(_.numRowsUpdated),
        custom("rocksdbReadBlockCacheHitCount"), custom("rocksdbReadBlockCacheMissCount"))
      Trace.this.synchronized(batches += b)
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val batch = Option(e.properties).flatMap(p => Option(p.getProperty("streaming.sql.batchId"))).map(_.toLong)
    jobs(e.jobId) = Job(batch, e.stageIds, e.time)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    stages += StageSpan(i.stageId, i.name, i.submissionTime.getOrElse(0L), i.completionTime.getOrElse(0L))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) synchronized {
      tasks += Task(e.stageId, e.taskInfo.index, e.taskInfo.launchTime, e.taskInfo.finishTime,
        m.executorRunTime, m.inputMetrics.recordsRead,
        m.shuffleWriteMetrics.bytesWritten, m.shuffleWriteMetrics.writeTime,
        m.shuffleReadMetrics.fetchWaitTime, m.shuffleReadMetrics.recordsRead)
    }
  }

  /** The sink-call timing wrapper handed to `Pipeline.start`. */
  def timeSink(batch: Long, call: () => Unit): Unit = {
    val t0 = System.currentTimeMillis()
    try call()
    finally {
      val t1 = System.currentTimeMillis()
      synchronized(sinkCalls += SinkCall(batch, t0, t1))
    }
  }

  /** Per-layer figures of everything traced so far (see README.md). */
  def layers(): Map[String, Double] = synchronized {
    def dur(k: String) = batches.map(_.durations.getOrElse(k, 0L)).sum.toDouble
    val mb = 1024.0 * 1024.0
    val scan = tasks.filter(_.inputRows > 0)
    // the state stage reads the conv_id shuffle; a partition's load is
    // summed over all micro-batches before taking max / median
    val stateTasks = tasks.filter(_.shuffleReadRows > 0)
    def skew(f: Task => Double): Double = {
      val perPart = stateTasks.groupMapReduce(_.partition)(f)(_ + _).values.toSeq
      if (perPart.isEmpty) 0.0 else { val m = Stats.median(perPart); if (m <= 0) 0.0 else perPart.max / m }
    }
    val peak = batches.maxByOption(_.stateRows)
    val hits = batches.map(_.cacheHits).sum
    val misses = batches.map(_.cacheMisses).sum
    val publish = sinkCalls.map { c =>
      val ended = jobs.values.filter(j => j.batch.contains(c.batch) && j.startMs >= c.startMs &&
        j.endMs >= 0 && j.endMs <= c.endMs).map(_.endMs)
      c.endMs - (if (ended.isEmpty) c.startMs else ended.max)
    }
    Map(
      "sources.latest_offset_ms" -> (dur("latestOffset") + dur("getBatch")),
      "sources.scan_task_ms" -> scan.map(_.runMs).sum.toDouble,
      "exchange.shuffle_write_mb" -> tasks.map(_.shuffleWriteBytes).sum / mb,
      "exchange.shuffle_write_ms" -> tasks.map(_.shuffleWriteNs).sum / 1e6,
      "exchange.fetch_wait_ms" -> tasks.map(_.fetchWaitMs).sum.toDouble,
      "exchange.task_ms_skew" -> skew(_.runMs.toDouble),
      "exchange.rows_skew" -> skew(_.shuffleReadRows.toDouble),
      "state.update_ms" -> batches.map(_.updateMs).sum.toDouble,
      "state.removal_ms" -> batches.map(_.removalMs).sum.toDouble,
      "state.commit_ms" -> batches.map(_.commitMs).sum.toDouble,
      "state.rows_max" -> peak.map(_.stateRows.toDouble).getOrElse(0.0),
      "state.mb_max" -> batches.map(_.stateBytes).maxOption.getOrElse(0L) / mb,
      "state.bytes_per_row" -> peak.filter(_.stateRows > 0)
        .map(b => b.stateBytes.toDouble / b.stateRows).getOrElse(0.0),
      "state.rows_updated" -> batches.map(_.rowsUpdated).sum.toDouble,
      "state.block_cache_hit_ratio" -> (if (hits + misses == 0) 0.0 else hits.toDouble / (hits + misses)),
      "sink.call_ms" -> sinkCalls.map(c => c.endMs - c.startMs).sum.toDouble,
      "sink.publish_ms" -> publish.sum.toDouble,
      "microbatch.count" -> batches.size.toDouble,
      "microbatch.query_planning_ms" -> dur("queryPlanning"),
      "microbatch.wal_commit_ms" -> dur("walCommit"),
      "microbatch.commit_offsets_ms" -> dur("commitOffsets"),
      "microbatch.trigger_ms" -> dur("triggerExecution"))
  }

  /** Spans as JSON-ready maps: each micro-batch is a parent; its stages
    * (and their tasks) and its sink call are children. A trace covers one
    * query, so a batch id names its micro-batch.
    */
  def spans(): Seq[Map[String, Any]] = synchronized {
    val stageBatch: Map[Int, Long] =
      jobs.values.toSeq.flatMap(j => j.batch.toSeq.flatMap(b => j.stages.map(_ -> b))).toMap
    def bid(b: Long) = s"batch:$b"
    batches.toSeq.map { b =>
      Map("id" -> bid(b.id), "parent" -> null, "name" -> "microbatch",
        "start_ms" -> b.startMs, "end_ms" -> b.endMs, "input_rows" -> b.inputRows)
    } ++ stages.map { s =>
      Map("id" -> s"stage:${s.stage}", "parent" -> stageBatch.get(s.stage).map(bid).orNull,
        "name" -> s.name, "start_ms" -> s.startMs, "end_ms" -> s.endMs)
    } ++ tasks.map { t =>
      Map("id" -> s"task:${t.stage}:${t.partition}", "parent" -> s"stage:${t.stage}",
        "name" -> "task", "start_ms" -> t.startMs, "end_ms" -> t.endMs, "run_ms" -> t.runMs)
    } ++ sinkCalls.map { c =>
      Map("id" -> s"sink:${c.batch}", "parent" -> bid(c.batch),
        "name" -> "Sink.writeBatchIdempotent", "start_ms" -> c.startMs, "end_ms" -> c.endMs)
    }
  }
}

object Trace {
  def install(spark: SparkSession): Trace = {
    val t = new Trace
    spark.sparkContext.addSparkListener(t)
    spark.streams.addListener(t.progress)
    t
  }

  def remove(spark: SparkSession, t: Trace): Unit = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    spark.streams.removeListener(t.progress)
    spark.sparkContext.removeSparkListener(t)
  }
}

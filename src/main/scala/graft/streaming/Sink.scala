package graft.streaming

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}

/** Exactly-once sink (BASELINE.json north_rule): every batch is written
  * once through one DataSource V2 table, `ManifestSink`, with
  * per-partition lineage columns, and is resumable from checkpoint.
  *
  * The reference is at-least-once — acks propagate to the source and
  * failed batches redeliver (reference: internal/message/
  * transaction.go:55-69, internal/old/output/async_writer.go). We upgrade
  * to exactly-once: Structured Streaming's WAL gives deterministic
  * (batchId → offset range) replay, and this sink makes the write
  * idempotent per batchId, so replays after a crash commit nothing twice.
  *
  * No Iceberg jars ship in this sandbox, so the commit protocol is
  * implemented directly over parquet files + a commit manifest — the same
  * two-phase shape as an Iceberg append (write data files invisible to
  * readers, then atomically publish a manifest):
  *
  *   1. each write of batch `id` — a streaming query's micro-batch, or one
  *      `writeBatchIdempotent` call — writes its own attempt directory
  *      `data/b<id>-<nonce>/`, one `part-<partition>.parquet` per task,
  *      with lineage columns `_batch_id` and `_partition_id` (the task's
  *      partition). A task writes under a hidden name and renames on
  *      commit, so a failed task leaves nothing a reader lists.
  *   2. after every task committed, the driver atomically creates
  *      `_commits/<id>` (a hard link of a written temp file) whose CONTENT
  *      names the attempt directory (the manifest-names-the-files Iceberg
  *      shape). If the manifest already exists — a replay after a crash
  *      between this step and the checkpoint's commit log, or the loser of
  *      a concurrent-attempt race — the attempt deletes its own directory;
  *      it never touches the published one. A replayed micro-batch runs in
  *      full, so its stateful operators still commit their state version.
  *   3. a failed write job deletes its attempt directory.
  *
  * Readers resolve `_commits` manifests to the named directories (see
  * `readCommitted`), so a crash between 1 and 2 leaves invisible orphans,
  * never duplicates — and because no attempt ever writes into a directory
  * a manifest can already name, a reader racing an in-flight re-attempt
  * can never observe partial files (SinkSpec pins this).
  */
object Sink {

  /** Write `batch` as batch `batchId` of `outDir` (the `foreachBatch`
    * brokers' child sink).
    */
  def writeBatchIdempotent(outDir: String)(batch: DataFrame, batchId: Long): Unit =
    batch.write.format(classOf[ManifestSink].getName).mode("append")
      .option("path", outDir).option(ManifestSink.BatchIdOption, batchId).save()

  /** Streaming writer into the exactly-once sink: each micro-batch is one
    * write of `outDir`.
    */
  def exactlyOnce[T](
      ds: Dataset[T],
      outDir: String,
      checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow()): DataStreamWriter[T] =
    ds.writeStream
      .format(classOf[ManifestSink].getName)
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)

  /** Read back only committed batches: each `_commits/<id>` manifest names
    * the attempt directory that was published for that batch.
    */
  def readCommitted(spark: org.apache.spark.sql.SparkSession, outDir: String): DataFrame = {
    val commitDir = Paths.get(outDir, "_commits")
    val committed: Seq[(Long, String)] =
      if (!Files.exists(commitDir)) Seq.empty
      else {
        val s = Files.list(commitDir)
        try s.iterator().asScala
          // only all-digit names are manifests (skip in-flight .tmp files)
          .filter(p => p.getFileName.toString.forall(_.isDigit))
          .map { p =>
            val id = p.getFileName.toString.toLong
            val named = new String(Files.readAllBytes(p), "UTF-8").trim
            require(named.nonEmpty, s"commit manifest $p names no attempt directory")
            id -> named
          }.toSeq
        finally s.close()
      }
    if (committed.isEmpty)
      spark.emptyDataFrame
    else
      spark.read
        .parquet(committed.sortBy(_._1).map { case (_, d) => s"$outDir/data/$d" }: _*)
  }

  /** Fan-out broker (reference: internal/impl/pure/output_broker.go:90,164
    * `fan_out` pattern): persist the micro-batch once, then write to every
    * child sink; `fan_out_sequential` is the same loop (foreachBatch is
    * inherently sequential here).
    */
  def fanOut(sinks: Seq[(DataFrame, Long) => Unit])(batch: DataFrame, batchId: Long): Unit = {
    batch.persist()
    try sinks.foreach(s => s(batch, batchId))
    finally batch.unpersist()
  }

  /** Per-partition lineage report (north_star: "per-partition lineage and
    * metrics"): rows committed per (batchId, producing partition),
    * reconstructed from the lineage columns every committed row carries.
    */
  def lineageStats(spark: org.apache.spark.sql.SparkSession, outDir: String): DataFrame =
    readCommitted(spark, outDir)
      .groupBy(col("_batch_id"), col("_partition_id"))
      .agg(count(lit(1)).as("rows"))

  /** round_robin / greedy brokers (reference: internal/impl/pure/
    * output_broker_round_robin.go, output_broker_greedy.go): load-share
    * rows across N child sinks. The reference deals messages one at a
    * time; here the deal is a deterministic hash-modulo split so every
    * row goes to exactly one child regardless of partitioning or retries.
    */
  def roundRobin(sinks: Seq[(DataFrame, Long) => Unit])(batch: DataFrame, batchId: Long): Unit = {
    val n = sinks.size
    val ticket = pmod(hash(batch.columns.map(col).toSeq: _*), lit(n))
    batch.persist()
    try sinks.zipWithIndex.foreach { case (s, i) => s(batch.filter(ticket === i), batchId) }
    finally batch.unpersist(): Unit
  }

  /** retry output wrapper (reference: internal/impl/pure/output_retry.go):
    * re-attempt the child sink with exponential backoff until it succeeds
    * or attempts are exhausted. Safe to combine with the idempotent
    * committer — a retried batch that already committed publishes nothing.
    */
  def retry(
      sink: (DataFrame, Long) => Unit,
      maxAttempts: Int = 3,
      backoffMs: Long = 50)(batch: DataFrame, batchId: Long): Unit = {
    var attempt = 0
    var done = false
    val suppressed = scala.collection.mutable.ArrayBuffer.empty[Throwable]
    while (!done) {
      attempt += 1
      // NonFatal only: OutOfMemoryError and friends must propagate, and an
      // interrupt must not be swallowed into a sleep loop.
      try { sink(batch, batchId); done = true }
      catch {
        case e: InterruptedException =>
          Thread.currentThread().interrupt(); throw e
        case scala.util.control.NonFatal(e) if attempt < maxAttempts =>
          suppressed += e
          Thread.sleep(backoffMs * (1L << (attempt - 1)))
        case scala.util.control.NonFatal(e) =>
          // exhausted: attach the per-attempt failures for diagnosability
          suppressed.foreach(e.addSuppressed)
          throw e
      }
    }
  }

  /** fallback/try broker (internal/impl/pure/output_fallback.go): attempt
    * sinks in order until one succeeds.
    */
  def fallback(sinks: Seq[(DataFrame, Long) => Unit])(batch: DataFrame, batchId: Long): Unit = {
    var lastErr: Throwable = null
    val ok = sinks.exists { s =>
      try { s(batch, batchId); true }
      catch { case scala.util.control.NonFatal(e) => lastErr = e; false }
    }
    if (!ok && lastErr != null) throw lastErr
  }
}

package graft.streaming

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}

/** Exactly-once sink (BASELINE.json north_rule): idempotent `foreachBatch`
  * commit with per-partition lineage columns, resumable from checkpoint.
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
  *   1. if `_commits/<batchId>` exists → batch already published: run it
  *      to the `noop` sink only, so its stateful operators still commit
  *      their state version (Spark fails a batch whose state stores did
  *      not all commit), and publish nothing (the replay path after a
  *      crash between write and checkpoint).
  *   2. write `data/b<id>-<attempt>/` parquet — a UNIQUE directory per
  *      attempt — with lineage columns `_batch_id` and `_partition_id`
  *      (spark_partition_id of the task that produced each row).
  *   3. atomically create `_commits/<batchId>` (CREATE_NEW) whose CONTENT
  *      names the attempt directory (the manifest-names-the-files Iceberg
  *      shape). The loser of a concurrent-attempt race deletes its own
  *      directory; it never touches the winner's files.
  *
  * Readers resolve `_commits` manifests to the named directories (see
  * `readCommitted`), so a crash between 2 and 3 leaves invisible orphans,
  * never duplicates — and because no attempt ever writes into a directory
  * a manifest can already name, a reader racing an in-flight re-attempt
  * can never observe partial files (SinkSpec pins this).
  */
object Sink {

  def writeBatchIdempotent(outDir: String)(batch: DataFrame, batchId: Long): Unit = {
    val commitDir = Paths.get(outDir, "_commits")
    Files.createDirectories(commitDir)
    val marker = commitDir.resolve(batchId.toString)
    if (Files.exists(marker)) { // replayed batch: already published
      batch.write.format("noop").mode("overwrite").save()
      return
    }
    // unique per-attempt dir: re-attempts never overwrite data a reader
    // could be resolving, and orphans of crashed attempts are invisible
    val attemptDir = s"b$batchId-${java.util.UUID.randomUUID().toString.take(8)}"
    batch
      .withColumn("_batch_id", lit(batchId))
      .withColumn("_partition_id", spark_partition_id())
      .write
      .parquet(s"$outDir/data/$attemptDir") // no leading '_': Spark hides such dirs
    // the marker must appear ATOMICALLY with its content: CREATE_NEW + write
    // leaves a window where a reader lists an empty manifest.
    // Write a hidden temp file, then hard-link it to the marker name — link
    // is atomic and fails if the marker exists (the concurrent-attempt race).
    val tmp = Files.createTempFile(commitDir, s".tmp$batchId-", "")
    try {
      Files.write(tmp, attemptDir.getBytes("UTF-8"))
      Files.createLink(marker, tmp)
    } catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        // lost a concurrent-attempt race: the other attempt's manifest is
        // the committed truth — remove this attempt's files
        deleteRecursively(Paths.get(outDir, "data", attemptDir))
    } finally Files.deleteIfExists(tmp)
  }

  private def deleteRecursively(p: java.nio.file.Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(f => Files.deleteIfExists(f))
      finally s.close()
    }

  /** Streaming writer wired to the idempotent committer. */
  def exactlyOnce[T](
      ds: Dataset[T],
      outDir: String,
      checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow()): DataStreamWriter[T] =
    ds.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch((b: Dataset[T], id: Long) => writeBatchIdempotent(outDir)(b.toDF(), id))

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
    * committer — a retried batch that already committed is a no-op.
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

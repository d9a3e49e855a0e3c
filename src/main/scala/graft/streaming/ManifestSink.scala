package graft.streaming

import java.nio.file.{Files, FileAlreadyExistsException, Paths}
import java.util
import scala.jdk.CollectionConverters._
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapred.JobConf
import org.apache.hadoop.mapreduce.{Job, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, JoinedRow}
import org.apache.spark.sql.connector.catalog.{SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetOutputWriter}
import org.apache.spark.sql.execution.streaming.sources.MicroBatchWrite
import org.apache.spark.sql.types.{IntegerType, LongType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import graft.util.Tmp

/** The exactly-once sink as a DataSource V2 table (`Sink.exactlyOnce`
  * streams into it, `Sink.writeBatchIdempotent` writes one batch into it).
  * Options: `path`, the output dir; `batchId`, the batch id of a batch
  * write (a streaming write takes each micro-batch's epoch id).
  *
  * Each write owns one attempt dir, `data/b<id>-<nonce>`. A task writes its
  * partition to a hidden file there through Spark's `ParquetOutputWriter`,
  * with the lineage columns `_batch_id` and `_partition_id` appended per
  * row, and renames it to `part-<partition>.parquet` on commit (Spark's
  * commit coordinator lets one attempt per partition commit). Partition 0
  * always leaves a file, so an empty batch still carries its schema. The
  * driver's commit then publishes the manifest (`Sink` documents the
  * protocol); its abort deletes the attempt dir.
  *
  * Tasks get the parquet write settings as a small map, not a Hadoop
  * `Configuration`: the session's holds ~1 000 properties, ~100 KB to
  * serialize and inflate for every task.
  */
class ManifestSink extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = new StructType()
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = ManifestSink.Table
}

object ManifestSink {

  val BatchIdOption = "batchId"

  private object Table extends SupportsWrite {
    override def name(): String = "graft-manifest-sink"
    override def schema(): StructType = new StructType()
    override def capabilities(): util.Set[TableCapability] = util.EnumSet.of(
      TableCapability.BATCH_WRITE, TableCapability.STREAMING_WRITE, TableCapability.ACCEPT_ANY_SCHEMA)
    override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = new WriteBuilder {
      override def build(): Write = new Write {
        // a batch write is one micro-batch of the same streaming write
        override def toBatch: BatchWrite =
          new MicroBatchWrite(info.options.get(BatchIdOption).toLong, new AttemptWrite(info))
        override def toStreaming: StreamingWrite = new AttemptWrite(info)
      }
    }
  }

  /** One attempt: the factory its tasks get, and the driver-side commit. */
  private final class AttemptWrite(info: LogicalWriteInfo) extends StreamingWrite {
    private val out = info.options.get("path")
    private val factory = Factory(out, java.util.UUID.randomUUID().toString.take(8),
      writeSettings(SparkSession.active, info.schema))

    override def createStreamingWriterFactory(p: PhysicalWriteInfo): Factory = factory
    override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit =
      publish(out, epochId, factory.attemptDir(epochId))
    override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit =
      Tmp.delete(s"$out/data/${factory.attemptDir(epochId)}")
  }

  /** What each task needs: the output dir, the attempt's nonce and the
    * parquet write settings.
    */
  final case class Factory(out: String, nonce: String, settings: Map[String, String])
      extends StreamingDataWriterFactory {
    def attemptDir(epochId: Long): String = s"b$epochId-$nonce"
    override def createWriter(partitionId: Int, taskId: Long, epochId: Long): DataWriter[InternalRow] =
      new PartWriter(new Path(s"$out/data/${attemptDir(epochId)}"), partitionId, taskId, epochId, settings)
  }

  private case object Committed extends WriterCommitMessage

  private final class PartWriter(dir: Path, partition: Int, taskId: Long, epochId: Long,
      settings: Map[String, String]) extends DataWriter[InternalRow] {
    private val hidden = new Path(dir, f".part-$partition%05d-$taskId.parquet")
    private val lineage = new GenericInternalRow(Array[Any](epochId, partition))
    private val row = new JoinedRow()
    private val context = new TaskAttemptContextImpl(conf(settings),
      new TaskAttemptID(new TaskID("graft", 0, TaskType.MAP, partition), taskId.toInt))
    private var file: ParquetOutputWriter = if (partition == 0) open() else null

    private def open() = new ParquetOutputWriter(hidden.toString, context)

    override def write(r: InternalRow): Unit = {
      if (file == null) file = open()
      file.write(row(r, lineage))
    }

    override def commit(): WriterCommitMessage = {
      if (file != null) {
        file.close()
        file = null
        val part = new Path(dir, f"part-$partition%05d.parquet")
        if (!hidden.getFileSystem(context.getConfiguration).rename(hidden, part))
          throw new java.io.IOException(s"could not rename $hidden to $part")
      }
      Committed
    }

    override def abort(): Unit = if (file != null) {
      try file.close()
      finally hidden.getFileSystem(context.getConfiguration).delete(hidden, false)
      file = null
    }

    override def close(): Unit = ()
  }

  /** The parquet write settings for rows of `schema` plus the lineage
    * columns: what `ParquetFileFormat.prepareWrite` sets on an empty
    * configuration, and the session's local file system class.
    */
  private def writeSettings(spark: SparkSession, schema: StructType): Map[String, String] = {
    val job = Job.getInstance(new Configuration(false))
    new ParquetFileFormat().prepareWrite(spark, job, Map.empty,
      schema.add("_batch_id", LongType, nullable = false).add("_partition_id", IntegerType, nullable = false))
    val fsImpl = Option(spark.sparkContext.hadoopConfiguration.get("fs.file.impl")).map("fs.file.impl" -> _)
    job.getConfiguration.iterator().asScala.map(e => e.getKey -> e.getValue).toMap ++ fsImpl
  }

  /** One configuration per JVM for the settings in use; tasks only read
    * it. A `JobConf`, because a task context copies any other
    * `Configuration` into a new one.
    */
  @volatile private var built: (Map[String, String], JobConf) = (Map.empty, null)

  private def conf(settings: Map[String, String]): JobConf = {
    val (key, c) = built
    if (c != null && key == settings) c
    else {
      val fresh = new JobConf(false)
      settings.foreach { case (k, v) => fresh.set(k, v) }
      built = (settings, fresh)
      fresh
    }
  }

  /** Publish `attemptDir` as batch `batchId`'s output: link a manifest
    * naming it to `_commits/<batchId>`. If that manifest already exists (a
    * replay, or a concurrent attempt won), delete this attempt's files.
    */
  private def publish(outDir: String, batchId: Long, attemptDir: String): Unit = {
    val commitDir = Files.createDirectories(Paths.get(outDir, "_commits"))
    // the marker must appear ATOMICALLY with its content: CREATE_NEW + write
    // leaves a window where a reader lists an empty manifest. Write a hidden
    // temp file, then hard-link it to the marker name: link is atomic and
    // fails if the marker exists.
    val tmp = Files.createTempFile(commitDir, s".tmp$batchId-", "")
    try {
      Files.write(tmp, attemptDir.getBytes("UTF-8"))
      Files.createLink(commitDir.resolve(batchId.toString), tmp)
    } catch {
      case _: FileAlreadyExistsException => Tmp.delete(s"$outDir/data/$attemptDir")
    } finally Files.deleteIfExists(tmp)
  }
}

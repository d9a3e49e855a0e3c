package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.util.GraftLocalDirs
import graft.util.{LocalFs, Tmp}

/** The one SparkSession builder every forked benchmark block uses, so a
  * measurement at 2 cores and one at 32 differ ONLY in core count and
  * explicitly-passed knobs. Mirrors the production shape for a large
  * stateful streaming job: RocksDB state store (state off-heap so GC cost
  * doesn't grow with state size), changelog checkpointing (per-batch
  * deltas, not full snapshots), block cache sized to the hot state
  * working set, maintenance deferred past bounded runs (a real cluster
  * runs it on idle executor threads; mid-trial it steals measured cores).
  * Each session's `spark.local.dir` is deleted when the session stops.
  */
object BenchSession {

  def build(cores: Int, shufflePartitions: Int = -1,
      blockCacheMB: Int = 512, appName: String = "graft-bench"): SparkSession = {
    val localDir = Tmp.dir("spark-local")
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"$appName-$cores")
      .config("spark.sql.shuffle.partitions",
        if (shufflePartitions > 0) shufflePartitions else cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", localDir)
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .config("spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled", "true")
      // the default 8 MB block cache forces every per-key get() of a
      // multi-hundred-MB-per-partition state store back to SST files +
      // block decompression — pure memory-bandwidth burn at high core
      // counts; on a real cluster pair this with boundedMemoryUsage
      .config("spark.sql.streaming.stateStore.rocksdb.blockCacheSizeMB", blockCacheMB.toString)
      .config("spark.sql.streaming.stateStore.rocksdb.writeBufferSizeMB", "256")
      .config("spark.sql.streaming.stateStore.rocksdb.maxWriteBufferNumber", "3")
      .config("spark.sql.streaming.stateStore.maintenanceInterval", "600s")
      // Every streaming query runs on a clone of the session, and with
      // artifact isolation on (the default) each clone's tasks get a new
      // executor class loader. Spark's generated-class cache is keyed by
      // class loader, so each query recompiled all its task-side classes
      // with Janino and ran them cold: 137 of one hotkey_heavymap run's
      // 224 compiles were repeats. No session here adds artifacts.
      .config("spark.sql.artifact.isolation.enabled", "false")
      // Every micro-batch broadcasts its stages' task binaries and two
      // Hadoop configurations (the state store's and the parquet scan's),
      // each serialized into a chunk of this size. Spark's 4 MB chunk is a
      // humongous object in a G1 heap of 2-8 GB; they piled up between
      // young collections until the heap was nearly full, which counts in
      // peak RSS. A 256 KB chunk is an ordinary young object.
      .config("spark.broadcast.blockSize", "256k")
    val s = LocalFs.getOrCreate(b)
    s.sparkContext.setLogLevel("WARN")
    s.sparkContext.addSparkListener(new SparkListener {
      override def onApplicationEnd(end: SparkListenerApplicationEnd): Unit = {
        GraftLocalDirs.clear()
        Tmp.delete(localDir)
      }
    })
    s
  }
}

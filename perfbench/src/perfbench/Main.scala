package perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.Trigger
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import graft.streaming.{Metrics, Sink}
import graft.util.Tmp

/** One benchmark run in its own JVM (launched by run.py with a deadline):
  * stage a seeded workload, set up, measure for `--seconds`, check every
  * committed pair multiset against the batch oracle, and rewrite the typed
  * record after every step so a killed run still leaves one.
  *
  * Untraced runs (`--trace 0`) report the end-to-end metrics. Traced runs
  * (`--trace 1`) run the workload once untraced and once traced, report
  * the per-layer metrics and the tracing overhead, and write the spans.
  */
object Main {

  val Json: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  /** The two workloads; README.md gives the reasons for each. Sizes are
    * per core of the host (run.py passes the core count).
    *
    * hotkey_heavymap: conv-keyed, time-sliced backlog drained in `HotSlices`
    * triggers of one slice each, with one hot conversation of `HotTurns`
    * turns and the heavy map. trickle: time-ordered small files released by
    * the open-loop feeder at `TrickleRatePerCore` turns/s per core for the
    * run's seconds, light map.
    */
  final case class Workload(name: String, heavy: Boolean, open: Boolean)

  val Workloads: Map[String, Workload] = Seq(
    Workload("hotkey_heavymap", heavy = true, open = false),
    Workload("trickle", heavy = false, open = true)).map(w => w.name -> w).toMap

  val HotLightConvsPerCore = 200L
  val HotTurns = 12000
  val HotSlices = 2
  val HotFilesPerSlicePerCore = 6
  val TrickleRatePerCore = 2500L
  val TrickleTurnsPerFile = 2000L
  val MeanTurnsPerConv = 21.0 // TranscriptGen: 2..40 turns, uniform
  val SetupRounds = 3

  val Units: Map[String, String] = ListMap(
    "turns_per_s" -> "turns/s", "batch_ms_p50" -> "ms", "commit_latency_ms_p50" -> "ms",
    "commit_latency_ms_tail" -> "ms", "setup_s" -> "s", "peak_rss_mb" -> "MB",
    "sources.latest_offset_ms" -> "ms", "sources.scan_task_ms" -> "ms", "sources.input_mb" -> "MB",
    "map.self_ms" -> "ms", "map.rows_per_s" -> "rows/s",
    "exchange.shuffle_write_mb" -> "MB", "exchange.shuffle_write_ms" -> "ms",
    "exchange.fetch_wait_ms" -> "ms", "exchange.task_ms_skew" -> "ratio", "exchange.rows_skew" -> "ratio",
    "state.update_ms" -> "ms", "state.removal_ms" -> "ms", "state.commit_ms" -> "ms",
    "state.rows_max" -> "count", "state.mb_max" -> "MB", "state.bytes_per_row" -> "B/row",
    "state.rows_updated" -> "count", "state.block_cache_hit_ratio" -> "ratio",
    "sink.call_ms" -> "ms", "sink.publish_ms" -> "ms", "sink.output_rows" -> "count", "sink.output_mb" -> "MB",
    "microbatch.count" -> "count", "microbatch.query_planning_ms" -> "ms",
    "microbatch.wal_commit_ms" -> "ms", "microbatch.commit_offsets_ms" -> "ms",
    "microbatch.trigger_ms" -> "ms", "jvm.gc_ms" -> "ms",
    "feeder.late_ms_max" -> "ms", "feeder.backlog_files_max" -> "count",
    "trace.overhead_turns_per_s" -> "turns/s", "check.pair_error_share" -> "ratio")

  // ------------------------------------------------------------ the record

  /** The typed record, rewritten atomically (temp file + rename). */
  final class Record(path: Path, head: ListMap[String, Any]) {
    private var fields: ListMap[String, Any] = head ++ ListMap("status" -> "running",
      "correct" -> false, "attempted" -> 0, "failed" -> 0, "metrics" -> ListMap.empty[String, Any])
    def put(k: String, v: Any): Unit = synchronized { fields = fields.updated(k, v); write() }
    private def write(): Unit = {
      val tmp = path.resolveSibling(path.getFileName.toString + ".tmp")
      Files.write(tmp, Json.writerWithDefaultPrettyPrinter().writeValueAsBytes(fields))
      Files.move(tmp, path, StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    }
    write()
  }

  def metric(v: Double, name: String): ListMap[String, Any] =
    ListMap("value" -> v, "unit" -> Units(name))

  // ------------------------------------------------- checkpoint and output

  /** file name → micro-batch that read it, from the checkpoint source log
    * (plain batch files and compacted ones both list `batchId` per entry).
    */
  def batchOfFile(ck: String): Map[String, Long] = {
    val dir = Paths.get(ck, "sources", "0")
    if (!Files.isDirectory(dir)) return Map.empty
    val s = Files.list(dir)
    try s.iterator().asScala.toSeq
      .filterNot(_.getFileName.toString.startsWith("."))
      .flatMap(p => Files.readAllLines(p).asScala.drop(1))
      .map { line =>
        val n = Json.readTree(line)
        Paths.get(java.net.URI.create(n.get("path").asText())).getFileName.toString -> n.get("batchId").asLong()
      }.toMap
    finally s.close()
  }

  /** batch id → commit instant: the mtime of the sink's `_commits/<id>`
    * manifest, which is written immediately before it is linked in.
    */
  def commitTimes(out: String): Map[Long, Long] = {
    val dir = Paths.get(out, "_commits")
    if (!Files.isDirectory(dir)) return Map.empty
    val s = Files.list(dir)
    try s.iterator().asScala.toSeq
      .filter(_.getFileName.toString.forall(_.isDigit))
      .map(p => p.getFileName.toString.toLong -> Files.getLastModifiedTime(p).toMillis).toMap
    finally s.close()
  }

  /** The watermark batch `id` ran with, from the offset log's metadata. */
  def batchWatermark(ck: String, id: Long): Long = {
    val lines = Files.readAllLines(Paths.get(ck, "offsets", id.toString)).asScala
    Json.readTree(lines(1)).path("batchWatermarkMs").asLong(0L)
  }

  def dirBytes(dir: String): Long = {
    val s = Files.walk(Paths.get(dir))
    try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
    finally s.close()
  }

  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)

  def gcMs(): Long = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ >= 0).sum

  // --------------------------------------------------------- one query run

  /** What one pipeline query did. `due`/`released` are per input file; a
    * drain has every file present (due and released) at query start.
    */
  final case class QueryRun(turns: Long, elapsedS: Double, batchMs: Seq[Double],
      latencyMs: Seq[Double], feed: Stats.Feed, wmMs: Long, readFiles: Seq[Path],
      out: String, work: String) {
    def turnsPerS: Double = turns / elapsedS
  }

  private def finish(spark: SparkSession, metrics: Metrics, inputs: Seq[Path], due: Seq[Long],
      released: Seq[Long], t0: Long, t1: Long, work: String): QueryRun = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    spark.streams.removeListener(metrics)
    val out = s"$work/out"
    val ck = s"$work/ck"
    val fileBatch = batchOfFile(ck)
    val commits = commitTimes(out)
    val lastBatch = if (commits.isEmpty) -1L else commits.keys.max
    val committedAt = inputs.map(p => fileBatch.get(p.getFileName.toString)
      .flatMap(commits.get).getOrElse(Long.MaxValue))
    val read = inputs.zip(committedAt).collect { case (p, c) if c != Long.MaxValue => p }
    val turns = if (read.isEmpty) 0L else spark.read.schema(Stage.Schema).parquet(read.map(_.toString): _*).count()
    val latency = due.zip(committedAt).collect { case (d, c) if c != Long.MaxValue => (c - d).toDouble }
    QueryRun(turns, (t1 - t0) / 1e9, metrics.snapshots.map(_.batchLatencyMs.toDouble).toSeq,
      latency, Stats.feed(due, released, committedAt),
      if (lastBatch < 0) 0L else batchWatermark(ck, lastBatch), read, out, work)
  }

  /** Drain a backlog with Trigger.AvailableNow at `fpt` files per trigger. */
  def drain(spark: SparkSession, inDir: String, inputs: Seq[Path], fpt: Int, heavy: Boolean,
      trace: Option[Trace]): QueryRun = {
    val work = Tmp.dir("perfbench-q")
    val metrics = Metrics.install(spark)
    val wall0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val q = Pipeline.start(spark, inDir, s"$work/out", s"$work/ck", Some(fpt), heavy,
      Trigger.AvailableNow(), trace.map(t => t.timeSink _))
    q.awaitTermination()
    val t1 = System.nanoTime()
    finish(spark, metrics, inputs, inputs.map(_ => wall0), inputs.map(_ => wall0), t0, t1, work)
  }

  /** Open loop: one feeder thread moves pre-staged files into the watched
    * directory by atomic rename on a fixed schedule (`rate` turns/s), never
    * waiting for the query; the query triggers back to back.
    */
  def openLoop(spark: SparkSession, pool: Seq[(Path, Long)], rate: Double, heavy: Boolean,
      trace: Option[Trace]): QueryRun = {
    val work = Tmp.dir("perfbench-q")
    val watch = Files.createDirectories(Paths.get(work, "watch"))
    val metrics = Metrics.install(spark)
    val t0 = System.nanoTime()
    val q = Pipeline.start(spark, watch.toString, s"$work/out", s"$work/ck", None, heavy,
      Trigger.ProcessingTime(0L), trace.map(t => t.timeSink _))
    val start = System.currentTimeMillis() + 200
    val offsets = pool.scanLeft(0L)(_ + _._2).init.map(turnsBefore => (turnsBefore * 1000.0 / rate).toLong)
    val due = offsets.map(start + _)
    val released = new Array[Long](pool.size)
    @volatile var failure: Option[Throwable] = None
    val feeder = new Thread(() => {
      try pool.zipWithIndex.foreach { case ((p, _), i) =>
        val wait = due(i) - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        Files.move(p, watch.resolve(p.getFileName), StandardCopyOption.ATOMIC_MOVE)
        released(i) = System.currentTimeMillis()
      } catch { case e: Throwable => failure = Some(e) }
    }, "perfbench-feeder")
    feeder.start()
    feeder.join()
    failure.foreach { e => q.stop(); throw e }
    q.processAllAvailable()
    q.stop()
    val t1 = System.nanoTime()
    finish(spark, metrics, pool.map(p => watch.resolve(p._1.getFileName)), due, released.toSeq, t0, t1, work)
  }

  // ------------------------------------------------------ correctness check

  /** The oracle's digest is a function of the files read and the final
    * watermark, so repeated drains of one input compute it once.
    */
  private val oracleDigests = scala.collection.mutable.Map.empty[(Seq[Path], Long), Pairs.Digest]

  def check(spark: SparkSession, r: QueryRun, heavy: Boolean): Pairs.Diff = {
    val input = spark.read.schema(Stage.Schema).parquet(r.readFiles.map(_.toString): _*)
    val oracle = Pairs.oracle(Pipeline.mapFor(heavy)(input), r.wmMs)
    val read = Sink.readCommitted(spark, r.out)
    val committed = if (read.columns.isEmpty) oracle.limit(0) else read
    val o = oracleDigests.getOrElseUpdate((r.readFiles, r.wmMs), Pairs.digest(oracle))
    val c = Pairs.digest(committed)
    if (o == c) Pairs.Diff(o.rows, c.rows, 0, 0) else Pairs.diff(oracle, committed)
  }

  // ------------------------------------------------------------- the run

  final case class Staged(root: String, dir: String, files: Seq[(Path, Long)])

  def stage(spark: SparkSession, w: Workload, cores: Int, seed: Long, seconds: Int): Staged = {
    val root = Tmp.dir(s"perfbench-${w.name}")
    val dir = s"$root/in"
    val files =
      if (w.open) {
        val turns = TrickleRatePerCore * cores * seconds
        Stage.timeOrdered(spark, dir, math.ceil(turns / MeanTurnsPerConv).toLong, seed,
          math.max(1, (turns / TrickleTurnsPerFile).toInt))
      } else {
        // conversation 0 is the hot one; its multiplier is set from its
        // seeded base length so every seed has the same hot share
        val base = graft.gen.TranscriptGen.turnsFor(seed, 0L).size
        Stage.keyedSliced(spark, dir, HotLightConvsPerCore * cores, seed, 1,
          math.max(1, HotTurns / base), HotSlices, HotFilesPerSlicePerCore * cores)
      }
    Staged(root, dir, files)
  }

  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("--selftest")) { SelfTest.run(); return }
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val w = Workloads.getOrElse(opts("workload"), throw new IllegalArgumentException(
      s"unknown workload ${opts("workload")}; one of ${Workloads.keys.mkString(", ")}"))
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toInt
    val traced = opts("trace") == "1"
    val cores = opts("cores").toInt
    val record = new Record(Paths.get(opts("record")), ListMap("workload" -> w.name, "seed" -> seed,
      "seconds" -> seconds, "trace" -> traced, "cores" -> cores,
      "heap_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024)))
    val diffs = scala.collection.mutable.ArrayBuffer.empty[Pairs.Diff]
    def checked(spark: SparkSession, r: QueryRun): Pairs.Diff = {
      val d = check(spark, r, w.heavy)
      diffs += d
      record.put("attempted", diffs.size)
      record.put("failed", diffs.count(_.errorShare != 0.0))
      record.put("pair_checks", diffs.map(d => ListMap("oracle" -> d.oracle, "committed" -> d.committed,
        "missing" -> d.missing, "extra" -> d.extra, "pair_error_share" -> d.errorShare)).toSeq)
      d
    }

    // set-up: session start, staging repeated SetupRounds times (the last
    // copy is measured), then one unmeasured warm-up pass of the workload
    val s0 = System.nanoTime()
    var spark = graft.tools.BenchSession.build(cores, cores, appName = "perfbench")
    val sessionS = (System.nanoTime() - s0) / 1e9
    val stagings = (1 to SetupRounds).map { _ =>
      val r0 = System.nanoTime()
      stage(spark, w, cores, seed, seconds) -> (System.nanoTime() - r0) / 1e9
    }
    stagings.init.foreach { case (st, _) => Tmp.delete(st.root) }
    val staged = stagings.last._1
    // a drain takes one slice per trigger; the open loop's staged input,
    // when drained, goes in 8 triggers
    val drainFpt = if (w.open) math.max(1, staged.files.size / 8) else HotFilesPerSlicePerCore * cores

    def once(trace: Option[Trace]): QueryRun =
      if (w.open) {
        // the feeder consumes its pool: feed a copy
        val pool = Paths.get(Tmp.dir("perfbench-pool"))
        val copies = staged.files.map { case (p, n) =>
          val to = pool.resolve(p.getFileName)
          Files.copy(p, to, StandardCopyOption.COPY_ATTRIBUTES)
          to -> n
        }
        try openLoop(spark, copies, (TrickleRatePerCore * cores).toDouble, w.heavy, trace)
        finally Tmp.delete(pool.toString)
      } else drain(spark, staged.dir, staged.files.map(_._1), drainFpt, w.heavy, trace)

    // the warm-up drains the first half of the staged files (hard links in
    // a directory of their own)
    val w0 = System.nanoTime()
    val warmDir = Files.createDirectories(Paths.get(staged.root, "warm"))
    val warmFiles = staged.files.take(staged.files.size / 2).map { case (p, _) =>
      Files.createLink(warmDir.resolve(p.getFileName), p)
    }
    Tmp.delete(drain(spark, warmDir.toString, warmFiles, drainFpt, w.heavy, None).work)
    val warmS = (System.nanoTime() - w0) / 1e9
    val setupS = sessionS + Stats.median(stagings.map(_._2)) + warmS
    record.put("setup", ListMap("session_s" -> sessionS, "staging_s" -> stagings.map(_._2),
      "warmup_s" -> warmS, "input_files" -> staged.files.size, "input_turns" -> staged.files.map(_._2).sum))

    def feeder(rs: Seq[QueryRun]) = ListMap(
      "feeder.late_ms_max" -> rs.map(_.feed.lateMsMax).max.toDouble,
      "feeder.backlog_files_max" -> rs.map(_.feed.backlogFilesMax).max.toDouble)

    if (!traced) {
      // drains repeat while another one ends nearer `seconds` of measured
      // time; the open loop lasts `seconds` by construction. The pair check
      // is not measured.
      val runs = scala.collection.mutable.ArrayBuffer.empty[QueryRun]
      def measured = runs.map(_.elapsedS).sum
      while (runs.isEmpty || (!w.open && measured + measured / runs.size / 2 < seconds)) {
        val r = once(None)
        runs += r
        record.put("runs", runs.map(r => ListMap("turns" -> r.turns, "elapsed_s" -> r.elapsedS,
          "turns_per_s" -> r.turnsPerS, "batches" -> r.batchMs.size, "watermark_ms" -> r.wmMs)).toSeq)
        checked(spark, r)
        Tmp.delete(r.work)
      }
      val rss = peakRssMb()
      val latencies = runs.flatMap(_.latencyMs).toSeq
      // with too few samples for any ladder percentile, the tail is the max
      val tail = Stats.tail(latencies).getOrElse(Stats.Tail(100.0, latencies.max, latencies.size, 0))
      record.put("commit_latency_tail", ListMap("percentile" -> tail.percentile,
        "samples" -> tail.samples, "beyond" -> tail.beyond))
      record.put("feeder", feeder(runs.toSeq))
      record.put("metrics", ListMap(
        "turns_per_s" -> metric(Stats.median(runs.map(_.turnsPerS).toSeq), "turns_per_s"),
        "batch_ms_p50" -> metric(Stats.median(runs.flatMap(_.batchMs).toSeq), "batch_ms_p50"),
        "commit_latency_ms_p50" -> metric(Stats.percentile(latencies.sorted.toIndexedSeq, 50.0),
          "commit_latency_ms_p50"),
        "commit_latency_ms_tail" -> metric(tail.value, "commit_latency_ms_tail"),
        "setup_s" -> metric(setupS, "setup_s"),
        "peak_rss_mb" -> metric(rss, "peak_rss_mb")))
    } else {
      val plain = once(None)
      checked(spark, plain)
      Tmp.delete(plain.work)
      val trace = Trace.install(spark)
      val g0 = gcMs()
      val r = once(Some(trace))
      val gc = gcMs() - g0
      Trace.remove(spark, trace)
      val outMb = dirBytes(s"${r.out}/data") / (1024.0 * 1024.0)
      val inMb = r.readFiles.map(Files.size).sum / (1024.0 * 1024.0)
      val d = checked(spark, r)
      Tmp.delete(r.work)

      // map layer: batch passes of scan+map and scan only over the staged
      // input, alternated, medians; the difference is the map's self time
      def pass(heavy: Boolean): Double = {
        val t0 = System.nanoTime()
        Pipeline.mapFor(heavy)(spark.read.schema(Stage.Schema).parquet(staged.dir))
          .write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e6
      }
      val passes = (1 to 3).map(_ => (pass(false), pass(w.heavy)))
      val mapSelfMs = Stats.median(passes.map(_._2)) - Stats.median(passes.map(_._1))
      val rows = staged.files.map(_._2).sum.toDouble
      val spansPath = Paths.get(opts("spans"))
      Files.write(spansPath, trace.spans().map(Json.writeValueAsString).mkString("", "\n", "\n").getBytes("UTF-8"))

      val layers = trace.layers() ++ feeder(Seq(r)) ++ ListMap(
        "sources.input_mb" -> inMb,
        "map.self_ms" -> mapSelfMs,
        // no measurable map work (self time within noise of zero): 0
        "map.rows_per_s" -> (if (mapSelfMs > 0) rows / (mapSelfMs / 1000.0) else 0.0),
        "sink.output_rows" -> d.committed.toDouble,
        "sink.output_mb" -> outMb,
        "jvm.gc_ms" -> gc.toDouble,
        "trace.overhead_turns_per_s" -> (r.turnsPerS - plain.turnsPerS),
        "check.pair_error_share" -> diffs.map(_.errorShare).max)
      record.put("spans", spansPath.toString)
      record.put("turns_per_s", ListMap("untraced" -> plain.turnsPerS, "traced" -> r.turnsPerS))
      record.put("metrics", ListMap(layers.toSeq.sortBy(_._1).map { case (k, v) => k -> metric(v, k) }: _*))

      // single-core baseline (reported, not gated): the warm-up half of the
      // open loop's staged input drained at local[n], then at local[1] with
      // the same shuffle partitions
      if (w.open) {
        def drained(): QueryRun = {
          val d = drain(spark, warmDir.toString, warmFiles, drainFpt, w.heavy, None)
          checked(spark, d)
          Tmp.delete(d.work)
          d
        }
        val n = drained()
        spark.stop()
        spark = graft.tools.BenchSession.build(1, cores, appName = "perfbench-1core")
        val one = drained()
        record.put("scaling", ListMap("turns_per_s_1core" -> one.turnsPerS,
          s"turns_per_s_${cores}core" -> n.turnsPerS,
          "efficiency_1_to_n" -> n.turnsPerS / (cores * one.turnsPerS)))
      }
    }
    Tmp.delete(staged.root)
    spark.stop()
    record.put("correct", diffs.nonEmpty && diffs.forall(_.errorShare == 0.0))
    record.put("status", "done")
  }
}

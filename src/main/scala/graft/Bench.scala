package graft

import graft.tools.{BenchRecord, Fork}

/** Driver-run benchmark. Prints ONE COMPACT machine-parseable JSON line
  * to stdout (size-bounded: the driver's captured output tail is finite,
  * and rounds 1–2 lost their perf record to an oversized line) and writes
  * the full detail — per-query timings, every trial of every block, the
  * skew comparisons — to `bench_detail.json`.
  *
  * ROUND-5 SHAPE: the parent is a THIN ORCHESTRATOR that never creates a
  * SparkSession. Every measurement block — sustained, staging, flagship,
  * skew, each scaling level, skew-heavy, the batch query sweep — runs in
  * a forked child JVM (tools.Fork) whose native RocksDB/allocator residue
  * dies with it, and every block's JSON is recorded INCREMENTALLY
  * (tools.BenchRecord): appended to `<detail>.parts.jsonl` and folded
  * into a rewritten `bench_detail.json` the moment the block completes.
  * Round 4's driver run was OOM-killed at minute 51 with every completed
  * block's result still unemitted in the parent; under this harness the
  * same kill costs ONE block — the final line reports it in
  * `lost_blocks` and carries everything else. BenchHarnessSpec
  * chaos-tests exactly that path (killed child → parseable record).
  *
  * Measurements, all on deterministic staged transcript streams:
  *  - per-query batch timings at SPARK_GRAFT_CPUS cores over
  *    SPARK_GRAFT_SF_DIR (tools.SweepBlock; exhausted via toRdd so
  *    projections are costed);
  *  - the flagship streaming session-join pipeline at full node width,
  *    BEST of a fixed SPARK_GRAFT_TRIALS trials, plus a latency-shaped
  *    trigger config (tools.FlagshipBlock);
  *  - the north_rule scaling measurement at BOTH level pairs — the
  *    BASELINE.md-spirited 2→8 proxy and the bandwidth-unsaturated 1→4
  *    proxy of record (BASELINE.md §"proxy of record": 4N executors
  *    bring 4× memory bandwidth, a 4×-core slice of one socket doesn't)
  *    — one FlagshipBlock child per (cores, input) combo, efficiency =
  *    (tps_hi/tps_lo)/(hi/lo), each pair's replay input sized to its
  *    high level (convsFor) so the fixed per-run cost stays under ~10%;
  *  - the skew regime (north_star: salting for hot conversations):
  *    hot-conversation input through the unsalted and salted session
  *    join (tools.SkewBlock);
  *  - the skew-HEAVY regime (salting-pays: conv-keyed time-sliced
  *    ingest + heavy per-turn map; graft.SkewHeavyBench child);
  *  - sustained (SPARK_GRAFT_SUSTAINED, default on): one long trial at
  *    ~3.4x the flagship input, corpus staged to DISK by a StageBlock
  *    child, block cache sized to the state working set.
  *
  * Every streaming block carries emission accounting (batch-oracle pair
  * count, streamed share, watermark at shutdown) so a replay that
  * silently drops join output (the round-3 staging artifact) fails
  * loudly instead of reading as throughput.
  *
  * Methodology (BENCH.md §1): every trial logged to stderr; reported
  * per-level numbers are BEST of a FIXED trial count (noise on a shared
  * host is strictly subtractive; no optional stopping); data layout and
  * shuffle/state partitioning IDENTICAL across scaling levels.
  */
object Bench {

  final case class Params(
      sfDir: String, cpus: Int, nConvs: Long, scaleBase: Long, nFiles: Int,
      fpt: Int, latFpt: Int, nTrials: Int,
      skewConvs: Long, hotConvs: Int, hotMult: Int, skewSalt: Int,
      pairs: Seq[(Int, Int)], detailPath: String) {
    def convsFor(hi: Int): Long = math.max(1000L, scaleBase * hi / 8)
  }

  private def f(d: Double): String =
    BigDecimal(d).setScale(3, BigDecimal.RoundingMode.HALF_UP).toString

  /** Assemble the (detail-file, compact-stdout-line) pair from whatever
    * blocks the record holds. Total function of the record: lost blocks
    * become nulls + a `lost_blocks` entry, never exceptions — this is
    * what lets a partially-killed run still emit a parseable record
    * (chaos-tested in BenchHarnessSpec).
    */
  def assemble(rec: BenchRecord, p: Params): (String, String) = {
    // scaling pairs from the per-combo blocks
    val pairJsons = p.pairs.map { case (lo, hi) =>
      val n = p.convsFor(hi)
      val tLo = rec.field(s"scaling_c${lo}_n$n", "turns_per_sec")
      val tHi = rec.field(s"scaling_c${hi}_n$n", "turns_per_sec")
      val eff =
        if (tLo == "null" || tHi == "null" || tLo.toDouble == 0) "null"
        else f((tHi.toDouble / tLo.toDouble) / (hi.toDouble / lo))
      s"""{"lo":$lo,"hi":$hi,"convs":$n,"tps_lo":$tLo,"tps_hi":$tHi,"efficiency":$eff}"""
    }
    val combosJson = p.pairs.flatMap { case (lo, hi) =>
      val n = p.convsFor(hi); Seq((lo, n), (hi, n))
    }.distinct.sortBy(x => (x._1, x._2)).map { case (c, n) =>
      s""""c${c}_n$n":${rec.json(s"scaling_c${c}_n$n")}"""
    }.mkString("{", ",", "}")

    val detail =
      s"""{"sf":"${p.sfDir}","cpus":${p.cpus},"n_convs":${p.nConvs},""" +
        s""""scale_base_convs":${p.scaleBase},"n_files":${p.nFiles},"fpt":${p.fpt},""" +
        s""""trials_per_level":${p.nTrials},""" +
        s""""flagship":${rec.json("flagship")},""" +
        s""""stage_flagship":${rec.json("stage_flagship")},""" +
        s""""skew":${rec.json("skew")},""" +
        s""""scaling":{"combos":$combosJson,"pairs":${pairJsons.mkString("[", ",", "]")}},""" +
        s""""skew_heavy":${rec.json("skew_heavy")},""" +
        s""""sustained":${rec.json("sustained")},""" +
        s""""sweep":${rec.json("sweep")},""" +
        s""""lost_blocks":${rec.lostJson}}"""

    // compact extracts of each block (full records live in the detail
    // sidecar; the stdout line stays size-bounded)
    val skewCompact =
      if (!rec.has("skew")) "null"
      else {
        val names = Seq("fmgws", "fmgws_salted", s"fmgws_fpt${p.latFpt}")
        names.map(n => s""""$n":${rec.field("skew", n, "best_tps")}""")
          .mkString(s"""{"hot":${p.hotConvs},"hot_mult":${p.hotMult},""", ",", "}")
      }
    val skewHeavyCompact =
      if (!rec.has("skew_heavy")) "null"
      else {
        val names = Seq("light_unsalted", "light_salted", "heavy_unsalted", "heavy_salted")
        val cfgs = names.map(n => s""""$n":${rec.field("skew_heavy", n, "best_tps")}""")
        (Seq(
          s""""sanity_ok":${rec.field("skew_heavy", "sanity_ok") != "0"}""",
          s""""pair_share":${rec.field("skew_heavy", "emitted_pair_share")}""") ++ cfgs)
          .mkString("{", ",", "}")
      }
    val sustainedCompact =
      if (!rec.has("sustained")) "null"
      else Seq("turns_per_sec", "max_state_rows", "pairs", "batch_pairs")
        .map(k => s""""$k":${rec.field("sustained", k)}""").mkString("{", ",", "}")

    val compact =
      s"""{"metric":"total","value":${rec.field("sweep", "total_query_sec")},"unit":"sec","sf":"${p.sfDir}",""" +
        s""""n_queries":${rec.field("sweep", "n_queries")},""" +
        s""""failed_queries":${rec.field("sweep", "failed_queries")},""" +
        s""""detail":"${p.detailPath}",""" +
        s""""flagship":${rec.json("flagship")},""" +
        s""""scaling":${pairJsons.mkString("[", ",", "]")},""" +
        s""""skew":$skewCompact,""" +
        s""""skew_heavy":$skewHeavyCompact,""" +
        s""""sustained":$sustainedCompact,""" +
        s""""lost_blocks":${rec.lostJson}}"""
    (detail, compact)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val nConvs = sys.env.getOrElse("SPARK_GRAFT_BENCH_CONVS", "1500000").toLong
    val nFiles = sys.env.getOrElse("SPARK_GRAFT_BENCH_FILES", "32").toInt
    // Each scaling pair replays an input sized to its HIGH level
    // (convsFor): a bounded replay carries ~4 s of per-run fixed cost
    // (stream query planning, per-partition RocksDB opens, commit
    // protocol) regardless of core count — a real cluster amortizes that
    // over hours of streaming, so the proxy must keep the high level's
    // trial long enough (>= ~1 min) that the fixed term stays under
    // ~10%, without the low level's trials blowing past ~4 min each.
    val scaleBase = sys.env.get("SPARK_GRAFT_SCALE_CONVS").map(_.toLong).getOrElse(2 * nConvs)
    val fpt = sys.env.getOrElse("SPARK_GRAFT_FPT", "16").toInt
    val latFpt = sys.env.getOrElse("SPARK_GRAFT_LAT_FPT", "2").toInt
    val nTrials = sys.env.getOrElse("SPARK_GRAFT_TRIALS", "3").toInt
    val pairs: Seq[(Int, Int)] = sys.env.getOrElse("SPARK_GRAFT_SCALE_PAIRS", "2:8,1:4")
      .split(",").toSeq.filter(_.nonEmpty)
      .map { p => val Array(a, b) = p.split(":"); (a.toInt, b.toInt) }
    // skew regime: 4 hot conversations at ~20000x the median turn count —
    // ~44% of all turns land in 4 keys, so a hot key is ~3x one
    // partition's whole baseline load
    val skewConvs = sys.env.getOrElse("SPARK_GRAFT_SKEW_CONVS", "100000").toLong
    val hotConvs = sys.env.getOrElse("SPARK_GRAFT_SKEW_HOT", "4").toInt
    val hotMult = sys.env.getOrElse("SPARK_GRAFT_SKEW_MULT", "20000").toInt
    val skewSalt = sys.env.getOrElse("SPARK_GRAFT_SKEW_SALT", "8").toInt
    val scalingOnly = sys.env.contains("SPARK_GRAFT_SCALING_ONLY")
    val skipSkew = scalingOnly || sys.env.get("SPARK_GRAFT_SKEW").contains("0")
    val detailPath = sys.env.getOrElse("SPARK_GRAFT_DETAIL", "bench_detail.json")
    val skipSkewHeavy = scalingOnly || sys.env.get("SPARK_GRAFT_SKEW_HEAVY").contains("0")
    val shConvs = sys.env.getOrElse("SPARK_GRAFT_SKEW_HEAVY_CONVS", "50000").toLong
    val shHot = sys.env.getOrElse("SPARK_GRAFT_SKEW_HEAVY_HOT", "1").toInt
    val shMult = sys.env.getOrElse("SPARK_GRAFT_SKEW_HEAVY_MULT", "50000").toInt
    val shSlices = sys.env.getOrElse("SPARK_GRAFT_SKEW_HEAVY_SLICES", "4").toInt
    val shFps = sys.env.getOrElse("SPARK_GRAFT_SKEW_HEAVY_FPS", "8").toInt
    // sustained block (BASELINE metric is SUSTAINED turns/sec): ON by
    // default; SPARK_GRAFT_SUSTAINED=0 disables, =<convs> resizes
    val sustainedConvs =
      if (scalingOnly) 0L
      else sys.env.getOrElse("SPARK_GRAFT_SUSTAINED", "1") match {
        case "0" | "false" => 0L
        case "1" | "true" => nConvs * 10 / 3 // ~3.4x the flagship input
        case n => n.toLong
      }
    val p = Params(sfDir, cpus, nConvs, scaleBase, nFiles, fpt, latFpt,
      nTrials, skewConvs, hotConvs, hotMult, skewSalt, pairs, detailPath)

    // An OOM-killed prior run skips its own cleanup; its staged corpora
    // keep occupying tmpfs RAM (round 4's killed driver run left ~11 GB
    // in /dev/shm — a standing tax on everything that ran next). Sweep
    // stale graft dirs from both temp bases before measuring.
    val prefixes = Seq("flagship", "spark-local", "qstream", "graft-")
    val swept = graft.util.Tmp.sweepStale(prefixes) +
      graft.util.Tmp.sweepStale(prefixes, baseDir = Some("/tmp"))
    if (swept > 0) System.err.println(s"[bench] swept $swept stale temp dirs")

    val rec = new BenchRecord(detailPath + ".parts.jsonl")
    try java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(rec.partsPath))
    catch { case _: Throwable => () }
    // record + immediately fold into the on-disk detail record, so the
    // detail file is complete-so-far at every point in the run
    def rc(name: String, json: Option[String]): Option[String] = {
      val v = rec.record(name, json)
      val (detail, _) = assemble(rec, p)
      try java.nio.file.Files.write(java.nio.file.Paths.get(detailPath),
        detail.getBytes("UTF-8"))
      catch { case e: Throwable => System.err.println(s"[bench] detail write failed: $e") }
      v
    }
    def deleteDir(d: String): Unit = graft.util.Tmp.delete(d)
    def dirOf(staged: String): Option[String] = BenchRecord.at(staged, "dir").map(_.asText)
    def batchPairsOf(staged: String): Option[Long] =
      BenchRecord.at(staged, "batch_pairs").map(_.asLong)

    // ---- sustained: staging child (disk corpus) + one Flagship child,
    // FIRST — the BASELINE metric's amortizing regime --------------------
    if (sustainedConvs > 0) {
      val staged = Fork.json("graft.tools.StageBlock",
        Seq(sustainedConvs.toString, nFiles.toString, cpus.toString, "0", "20", "1"),
        heapGB = 10, env = Map("GRAFT_TMP_BASE" -> "/tmp"))._1
      val assembled = for {
        s <- staged
        dir <- dirOf(s)
        bp <- batchPairsOf(s)
        line <- try Fork.json("graft.Flagship",
            Seq(sustainedConvs.toString, cpus.toString, fpt.toString,
              nFiles.toString, (2 * cpus).toString, dir),
            heapGB = 16,
            env = Map("SPARK_GRAFT_EXTRA_CONF" ->
              "spark.sql.streaming.stateStore.rocksdb.blockCacheSizeMB=2048"))._1
          finally deleteDir(dir)
      } yield {
        System.err.println(s"[bench] sustained $line")
        // one flat record: the run's own fields plus the block's inputs
        line.patch(1, s""""convs":$sustainedConvs,"batch_pairs":$bp,"block_cache_mb":2048,""", 0)
      }
      rc("sustained", assembled)
    }

    // ---- stage the warmup + flagship inputs (children) -----------------
    val warmStaged = Fork.json("graft.tools.StageBlock",
      Seq("2000", fpt.toString, cpus.toString, "0", "20", "0"), heapGB = 6)._1
    val warmDir = warmStaged.flatMap(dirOf)
    val inStaged = rc("stage_flagship", Fork.json("graft.tools.StageBlock",
      Seq(nConvs.toString, nFiles.toString, cpus.toString, "0", "20",
        if (scalingOnly) "0" else "1"), heapGB = 10)._1)
    val inDir = inStaged.flatMap(dirOf)
    val inBatchPairs = inStaged.flatMap(batchPairsOf).getOrElse(-1L)

    // ---- headline flagship at full node width --------------------------
    if (!scalingOnly) {
      val line = (inDir, warmDir) match {
        case (Some(d), Some(w)) =>
          Fork.json("graft.tools.FlagshipBlock",
            Seq(cpus.toString, (2 * cpus).toString, d, w, fpt.toString,
              nTrials.toString, latFpt.toString, inBatchPairs.toString),
            heapGB = 16)._1
        case _ => None
      }
      rc("flagship", line)
    }

    // ---- skew regime (child owns staging + all rigs) -------------------
    if (!skipSkew) {
      rc("skew", Fork.json("graft.tools.SkewBlock",
        Seq("8", skewConvs.toString, hotConvs.toString, hotMult.toString,
          skewSalt.toString, nTrials.toString, fpt.toString, latFpt.toString,
          nFiles.toString), heapGB = 12)._1)
    }

    // ---- scaling: per-pair staged input, one child per (cores, input) --
    // Data layout and shuffle partitioning IDENTICAL across levels (fixed
    // parts; a cluster resize changes executors, not partitioning).
    val extraSizes = pairs.map(x => p.convsFor(x._2)).distinct.filter(_ != nConvs)
    val extraDirs: Map[Long, String] = extraSizes.flatMap { c =>
      Fork.json("graft.tools.StageBlock",
        Seq(c.toString, nFiles.toString, cpus.toString, "0", "20", "0"),
        heapGB = 10)._1
        .flatMap(dirOf)
        .map(c -> _)
    }.toMap
    val scaleDirs: Map[Long, String] = extraDirs ++ inDir.map(nConvs -> _).toMap
    val parts = 2 * pairs.flatMap(x => Seq(x._1, x._2)).maxOption.getOrElse(8)
    val combos: Seq[(Int, Long)] = pairs.flatMap { case (lo, hi) =>
      val c = p.convsFor(hi); Seq((lo, c), (hi, c))
    }.distinct.sortBy(x => (x._1, x._2))
    combos.foreach { case (cores, convs) =>
      val line = (scaleDirs.get(convs), warmDir) match {
        case (Some(d), Some(w)) =>
          Fork.json("graft.tools.FlagshipBlock",
            Seq(cores.toString, parts.toString, d, w, fpt.toString,
              nTrials.toString, "-1", "-1"), heapGB = 16)._1
        case _ => None
      }
      line.foreach { l =>
        System.err.println(s"[bench] scaling c$cores n$convs $l")
      }
      rc(s"scaling_c${cores}_n$convs", line)
    }
    extraDirs.values.foreach(deleteDir)
    inDir.foreach(deleteDir)
    warmDir.foreach(deleteDir)

    // ---- skew-heavy regime (conv-keyed ingest + heavy per-turn map) ----
    if (!skipSkewHeavy) {
      val (line, exit) = Fork.json("graft.SkewHeavyBench",
        Seq("8", shConvs.toString, shHot.toString, shMult.toString,
          skewSalt.toString, nTrials.toString, shSlices.toString, shFps.toString),
        heapGB = 12, okExits = Set(0, 1))
      if (exit == 1)
        System.err.println("[bench] skew-heavy child reported a SANITY failure (see its stderr)")
      // record a failed sanity gate in the record itself, not just logs
      rc("skew_heavy", line.map(l => l.patch(1, s""""sanity_ok":${if (exit == 0) 1 else 0},""", 0)))
    }

    // ---- batch query sweep (LAST — order-insensitive; fresh JVM gives
    // it the same clean-codegen start every round) -----------------------
    if (!scalingOnly)
      rc("sweep", Fork.json("graft.tools.SweepBlock",
        Seq(sfDir, cpus.toString), heapGB = 12)._1)

    // ---- final assembly ------------------------------------------------
    val (detail, compact) = assemble(rec, p)
    try java.nio.file.Files.write(java.nio.file.Paths.get(detailPath),
      detail.getBytes("UTF-8"))
    catch { case e: Throwable => System.err.println(s"[bench] detail write failed: $e") }
    System.err.println(s"[bench-detail] $detail")
    if (rec.lost.nonEmpty)
      System.err.println(s"[bench] LOST BLOCKS: ${rec.lost.mkString(", ")}")
    println(compact)
  }
}

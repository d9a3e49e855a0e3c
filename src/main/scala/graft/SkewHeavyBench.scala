package graft

import org.apache.spark.sql.SparkSession

/** The salted-repartition experiment (north_star: "repartitions by
  * hash(conv_id) with salting for hot conversations to defeat skew").
  *
  * The standing skew block in `graft.Bench` showed salting ≈ unsalted on
  * the flagship because that pipeline's pre-state stage is thin AND its
  * time-ordered staging spreads each hot conversation's turns across
  * files anyway. Salting pays in a different, very real regime — both
  * conditions at once:
  *
  *   1. the ingest is conv-keyed (a Kafka topic keyed by conv_id — the
  *      reference's kafka input shape, kafka.go partitioner on the key),
  *      so a hot conversation lands WHOLLY inside one scan task; and
  *   2. the pipeline does real per-turn map work before the join
  *      (tokenize/quality/redact — the 100 TB training-prep shape), so
  *      that one task runs ~44 % of the corpus's map work alone.
  *
  * This main stages the skew input conv-keyed AND time-sliced
  * (`Flagship.stage(keyedByConv, slices)`): each event-time slab is
  * conv-keyed into `filesPerSlice` files and replayed one slab per
  * trigger, so the watermark advances coherently with the data — the
  * round-3 version staged each conversation wholly in one file, which
  * made every file span the corpus's whole event-time range and the
  * first trigger's watermark silently late-drop ~half the later
  * triggers' turns (an ADVICE.md finding; the salted/unsalted ratio
  * survived but absolute numbers did not). The run now EMITS
  * turns/pairs per config plus the batch-oracle expected pair count and
  * fails loudly if any config's join output diverges.
  *
  * It then interleaves {light, heavy} × {unsalted, salted} best-of-N at
  * `cores` (trial-outer config-inner, fresh session per run — Bench
  * methodology #1) and prints one JSON line with every trial AND the
  * full argv so the published table is reproducible from this entry
  * point (defaults == the recorded experiment: 50 k convs, ONE hot
  * conversation at 50,000×, salt=8).
  */
object SkewHeavyBench {

  private def session(cores: Int, parts: Int): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-skew-heavy")
      .config("spark.sql.shuffle.partitions", parts)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", graft.util.Tmp.dir("spark-local"))
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .config("spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled", "true")
      .config("spark.sql.streaming.stateStore.rocksdb.blockCacheSizeMB", "512")
      .config("spark.sql.streaming.stateStore.rocksdb.writeBufferSizeMB", "256")
      .config("spark.sql.streaming.stateStore.rocksdb.maxWriteBufferNumber", "3")
      .config("spark.sql.streaming.stateStore.maintenanceInterval", "600s")
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def f(d: Double): String =
    BigDecimal(d).setScale(1, BigDecimal.RoundingMode.HALF_UP).toString

  def main(args: Array[String]): Unit = {
    val cores = if (args.length > 0) args(0).toInt else 8
    val nConvs = if (args.length > 1) args(1).toLong else 50000L
    val hotConvs = if (args.length > 2) args(2).toInt else 1
    val hotMult = if (args.length > 3) args(3).toInt else 50000
    val salt = if (args.length > 4) args(4).toInt else 8
    val nTrials = if (args.length > 5) args(5).toInt else 3
    val slices = if (args.length > 6) args(6).toInt else 4
    val filesPerSlice = if (args.length > 7) args(7).toInt else 8
    val fpt = filesPerSlice // one time-slab per trigger

    val sGen = session(cores, 2 * cores)
    val inDir = Flagship.stage(sGen, nConvs, nFiles = slices * filesPerSlice,
      hotConvs = hotConvs, hotMult = hotMult, keyedByConv = true, slices = slices)
    val warmDir = Flagship.stage(sGen, 2000L, nFiles = 2 * fpt,
      keyedByConv = true, slices = 2)
    // ground truth for the sanity check: total staged turns, and the pair
    // count the batch (window-function, DuckDB-oracled) form produces on
    // the same input — a bounded streaming replay emits the subset of
    // those pairs whose session the final watermark closed, so the
    // streaming count must sit just under this and be IDENTICAL across
    // configs (salt/map must never change join output).
    val staged = sGen.read.parquet(inDir)
    val expTurns = staged.count()
    val batchPairs = graft.streaming.SessionJoin.pairBatch(staged).count()
    sGen.stop()

    // (name, salt, heavyMap)
    val configs: Seq[(String, Int, Boolean)] = Seq(
      ("light_unsalted", 0, false),
      ("light_salted", salt, false),
      ("heavy_unsalted", 0, true),
      ("heavy_salted", salt, true))

    locally { val s = session(cores, 2 * cores)
      Flagship.runStaged(s, warmDir, fpt, heavyMap = true); s.stop() }

    val all: Seq[(String, Flagship.Result)] = (1 to nTrials).flatMap { t =>
      configs.map { case (name, saltN, heavy) =>
        val s = session(cores, 2 * cores)
        val r = Flagship.runStaged(s, inDir, fpt, salt = saltN, heavyMap = heavy)
        s.stop()
        System.err.println(f"[skew-heavy] $name trial=$t turns_per_sec=${r.turnsPerSec}%.0f p99=${r.p99LatencyMs}ms elapsed=${r.elapsedSec}%.1fs turns=${r.turns} pairs=${r.pairs}")
        name -> r
      }
    }
    graft.util.Tmp.delete(warmDir)
    graft.util.Tmp.delete(inDir)

    // sanity: every run saw every staged turn, and every config emitted
    // the same pairs — a divergence means the replay harness is dropping
    // data (the round-3 failure mode), so say so loudly and exit nonzero.
    val badTurns = all.filter(_._2.turns != expTurns)
    val pairCounts = all.map(_._2.pairs).distinct
    val pairShare = all.head._2.pairs.toDouble / batchPairs
    badTurns.foreach { case (n, r) =>
      System.err.println(s"[skew-heavy] SANITY FAIL $n: saw ${r.turns} of $expTurns staged turns")
    }
    if (pairCounts.size > 1)
      System.err.println(s"[skew-heavy] SANITY FAIL: configs disagree on pairs: $pairCounts")
    if (pairShare < 0.9)
      System.err.println(f"[skew-heavy] SANITY FAIL: emitted ${all.head._2.pairs} of $batchPairs batch pairs (${pairShare * 100}%.1f%%) — replay is late-dropping")

    val parts = configs.map { case (name, _, _) =>
      val trials = all.collect { case (`name`, r) => r }
      val best = trials.maxBy(_.turnsPerSec)
      s""""$name":{"best_tps":${f(best.turnsPerSec)},"p99_ms":${best.p99LatencyMs},""" +
        s""""turns":${best.turns},"pairs":${best.pairs},""" +
        s""""trials_tps":${trials.map(r => f(r.turnsPerSec)).mkString("[", ",", "]")}}"""
    }
    println(parts.mkString(
      s"""{"argv":${args.mkString("[\"", "\",\"", "\"]").replace("[\"\"]", "[]")},""" +
        s""""cores":$cores,"convs":$nConvs,"hot":$hotConvs,"hot_mult":$hotMult,"salt":$salt,""" +
        s""""slices":$slices,"files_per_slice":$filesPerSlice,"fpt":$fpt,"trials":$nTrials,""" +
        s""""keyed_by_conv":true,"expected_turns":$expTurns,"batch_pairs":$batchPairs,""" +
        s""""emitted_pair_share":${BigDecimal(pairShare).setScale(4, BigDecimal.RoundingMode.HALF_UP)},""" +
        s""""watermark_at_shutdown_ms":${all.head._2.watermarkMs},""",
      ",", "}"))
    val ok = badTurns.isEmpty && pairCounts.size == 1 && pairShare >= 0.9
    if (!ok) sys.exit(1)
  }
}

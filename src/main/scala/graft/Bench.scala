package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node.ObjectNode
import graft.tools.{BenchRecord, Fork, StageBlock, TrialBlock}
import graft.tools.BenchRecord.{mapper, nul, obj}
import graft.tools.TrialBlock.Config

/** The bench entry point. Prints ONE COMPACT machine-parseable JSON line
  * to stdout (size-bounded: whoever runs it may keep only the output's tail)
  * and writes the full detail — per-query timings, every trial of every
  * block, per-block wall times — to `bench_detail.json`.
  *
  * The parent is a thin orchestrator that never creates a SparkSession.
  * It forks three kinds of children (tools.Fork, each under a deadline
  * derived from its block's size): StageBlock stages every input,
  * TrialBlock runs every streaming block, SweepBlock times the batch
  * queries. Every planned block starts out lost in the record
  * (tools.BenchRecord) and is replaced as it lands, and the record is
  * rewritten after every block; the compact line prints once, at the end
  * or from the shutdown hook when the run is killed. A killed child costs
  * one block, a killed parent the blocks still unfinished — both name
  * what is missing in `lost_blocks` (BenchHarnessSpec).
  *
  * Blocks, headline first:
  *  - sweep: every SparkEntry query over SPARK_GRAFT_SF_DIR;
  *  - flagship: the streaming session-join pipeline at node width, a
  *    throughput config and a small-trigger latency config;
  *  - scaling: the north_rule N→4N proxy — one block per (lo, hi) pair,
  *    its two core levels two configs run interleaved over one input
  *    sized to the high level, identical partitioning at both levels,
  *    efficiency = (tps_hi/tps_lo)/(hi/lo);
  *  - skew: a hot conversation through conv-keyed, time-sliced ingest,
  *    unsalted and salted, under the light and the heavy per-turn map
  *    (salting costs under the first and pays under the second); the
  *    compact line's `skew` reads the light pair, `skew_heavy` the heavy;
  *  - sustained: a long run over a disk-staged corpus sized from the
  *    child heap, block cache sized to match.
  *
  * Every streaming block runs each config `Trials` times and reports the
  * best run.
  *
  * Every streaming block carries its sanity gate (`sanity_ok`): every run
  * saw every staged turn, every config emitted the same pairs, and at
  * least 0.9 of the batch-oracle pair count — so a replay that silently
  * drops join output fails in the record instead of reading as
  * throughput.
  *
  * Sizes come from the host: SPARK_GRAFT_CPUS (default: the available
  * processors) cores, a child heap of a quarter of MemTotal clamped to
  * 2–8 GB, inputs per core. SPARK_GRAFT_SF_DIR and SPARK_GRAFT_DETAIL say
  * where the queries read and the detail goes.
  */
object Bench {

  val Trials = 3
  /** Files per staged input, files per trigger (throughput configs), and
    * the small-trigger latency probe.
    */
  val StagedFiles = 32
  val Fpt = 16
  val LatFpt = 2
  val ConvsPerCore = 25000L
  /** Each scaling pair replays ScaleConvsPerCore × hi convs (~21 turns
    * each), so the high level's trial lasts 40–60 s on a 4-core host and
    * the fixed per-run cost (query planning, RocksDB opens, commit
    * protocol: 4–5 s there, BENCH.md §0.6) is about a tenth of it. A
    * larger replay would not fit a full run into 2670 s on that host.
    */
  val ScaleConvsPerCore = 160000L
  val DefaultCacheMB = 512
  /** One hot conversation at 50000×, conv-keyed into 4 event-time slabs
    * of 8 files, one slab per trigger; salted configs spread it over
    * SkewSalt tasks.
    */
  val Skew = StageBlock.Spec(convs = 50000L, files = 32, hotConvs = 1, hotMult = 50000,
    slices = 4)
  val SkewSalt = 8

  final case class Params(sfDir: String, cpus: Int, heapMB: Int, detailPath: String) {
    val convs: Long = ConvsPerCore * cpus
    /** (lo, hi) core levels; each pair replays scaleConvs(hi) convs. */
    val pairs: Seq[(Int, Int)] = (if (cpus >= 8) Seq((2, 8)) else Nil) :+ ((1, 4))
    def scaleConvs(hi: Int): Long = ScaleConvsPerCore * hi
    /** Fixed across levels: a cluster resize changes executors, not
      * partitioning.
      */
    val scaleParts: Int = 2 * pairs.map(_._2).max
    /** ~4× the flagship input on a 4-core, 15 GB host; the block cache
      * keeps round 5's ratio (2048 MB at a 16 GB heap).
      */
    val sustainedConvs: Long = 100L * heapMB
    val sustainedCacheMB: Int = heapMB / 8
    def pairBlock(lo: Int, hi: Int): String = s"scaling_c${lo}_c$hi"
    val blocks: Seq[String] = Seq("sweep", "flagship") ++
      pairs.map((pairBlock _).tupled) ++ Seq("skew", "sustained")
  }

  /** A quarter of MemTotal, clamped to 2–8 GB (RocksDB state is native
    * memory on top of the heap).
    */
  def childHeapMB(): Int = {
    val memKB = scala.util.Try(scala.io.Source.fromFile("/proc/meminfo").getLines()
      .collectFirst { case l if l.startsWith("MemTotal:") => l.split("\\s+")(1).toLong }
      .get).getOrElse(8L << 20)
    math.max(2048, math.min(8192, memKB / 4 / 1024)).toInt
  }

  /** A streaming block's child spec: `configs` over the staged input
    * `in`, after a warm-up on `warm`, each config run `Trials` times.
    */
  def trialSpec(in: StageBlock.Staged, warm: StageBlock.Staged, parts: Int, cacheMB: Int,
      configs: Config*): TrialBlock.Spec =
    TrialBlock.Spec(in.dir, warm.dir, parts, Trials, cacheMB, in.turns, in.batchPairs, configs)

  /** Deadlines: bounds only a wedged child reaches. Staging is budgeted
    * at 500 convs/s; every trial run at 60 s of fixed cost plus its turns
    * at 3000 per core-second (1000 with the heavy map) — several times
    * below the rates measured on a 4-core host.
    */
  def stageDeadlineSec(s: StageBlock.Spec): Long = 180 + s.convs / 500
  def trialDeadlineSec(s: TrialBlock.Spec): Long =
    300 + s.configs.map { c =>
      val perSec = (if (c.heavyMap) 1000L else 3000L) * c.cores
      60 + s.trials * (60 + s.turns / perSec)
    }.sum
  /** Two passes (warm-up + timed) over every query, each budgeted 5 s
    * plus 1 s per 4 MB of input: ~5× the sweep's wall on a 4-core host.
    */
  def sweepDeadlineSec(sfDir: String): Long = {
    val mb = scala.util.Using(Files.walk(Paths.get(sfDir)))(_.iterator().asScala
      .filter(Files.isRegularFile(_)).map(Files.size).sum >> 20).getOrElse(0L)
    300 + 2L * SparkEntry.queries.size * (5 + mb / 4)
  }

  private def round3(d: Double): Double =
    BigDecimal(d).setScale(3, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** `fields` of a block as one object, each a (key, path) pair; JSON null
    * when the block did not land.
    */
  private def pick(rec: BenchRecord, block: String, fields: (String, Seq[String])*): JsonNode =
    if (!rec.has(block)) nul
    else fields.foldLeft(obj()) { case (o, (k, path)) => o.set[ObjectNode](k, rec.field(block, path: _*)) }

  /** Path to a field of a config's best run in a TrialBlock report. */
  private def best(config: String, field: String = "turns_per_sec"): Seq[String] =
    Seq("configs", config, "best", field)

  /** A scaling pair's config at `cores`. */
  private def level(cores: Int): String = s"c$cores"

  /** Assemble the (detail record, compact line) pair from whatever blocks
    * the record holds. Total function of the record: lost blocks become
    * nulls plus a `lost_blocks` entry, never exceptions.
    */
  def assemble(rec: BenchRecord, p: Params): (ObjectNode, ObjectNode) = {
    val scaling = mapper.createArrayNode()
    p.pairs.foreach { case (lo, hi) =>
      val b = p.pairBlock(lo, hi)
      val (tLo, tHi) = (rec.field(b, best(level(lo)): _*), rec.field(b, best(level(hi)): _*))
      val pair = scaling.addObject().put("lo", lo).put("hi", hi).put("convs", p.scaleConvs(hi))
      pair.set[ObjectNode]("tps_lo", tLo).set[ObjectNode]("tps_hi", tHi)
      if (tLo.isNumber && tHi.isNumber && tLo.asDouble > 0)
        pair.put("efficiency", round3((tHi.asDouble / tLo.asDouble) / (hi.toDouble / lo)))
      else pair.set[ObjectNode]("efficiency", nul)
      pair.set[ObjectNode]("sanity_ok", rec.field(b, "sanity_ok"))
    }
    val lost = mapper.valueToTree[JsonNode](rec.lost)
    def block(name: String): JsonNode = rec.get(name).getOrElse(nul)

    val detail = obj().put("sf", p.sfDir).put("cpus", p.cpus).put("child_heap_mb", p.heapMB)
      .put("convs", p.convs).put("trials", Trials).put("files", StagedFiles).put("fpt", Fpt)
      .put("lat_fpt", LatFpt).put("sustained_convs", p.sustainedConvs)
      .put("sustained_block_cache_mb", p.sustainedCacheMB)
    p.blocks.foreach(n => detail.set[ObjectNode](n, block(n)))
    detail.set[ObjectNode]("scaling", scaling)
    detail.set[ObjectNode]("wall_sec", rec.wallSec.foldLeft(obj()) { case (o, (n, s)) => o.put(n, round3(s)) })
    detail.set[ObjectNode]("lost_blocks", lost)

    val compact = obj().put("metric", "total")
      .set[ObjectNode]("value", rec.field("sweep", "total_query_sec"))
      .put("unit", "sec").put("sf", p.sfDir)
      .set[ObjectNode]("n_queries", rec.field("sweep", "n_queries"))
      .set[ObjectNode]("failed_queries", rec.field("sweep", "failed_queries"))
      .put("detail", p.detailPath)
      .set[ObjectNode]("flagship", pick(rec, "flagship",
        "turns_per_sec" -> best("throughput"), "p99_latency_ms" -> best("throughput", "p99_latency_ms"),
        "pairs" -> best("throughput", "pairs"), "batch_pairs" -> Seq("spec", "batch_pairs"),
        "pair_share" -> Seq("pair_share"), "sanity_ok" -> Seq("sanity_ok"),
        s"fpt${LatFpt}_tps" -> best("latency"),
        s"fpt${LatFpt}_p99_ms" -> best("latency", "p99_latency_ms")))
      .set[ObjectNode]("scaling", scaling)
      .set[ObjectNode]("skew", pick(rec, "skew",
        Seq("sanity_ok" -> Seq("sanity_ok")) ++
          Seq("light_unsalted", "light_salted").map(n => n -> best(n)): _*))
      .set[ObjectNode]("skew_heavy", pick(rec, "skew",
        Seq("sanity_ok" -> Seq("sanity_ok"), "pair_share" -> Seq("pair_share")) ++
          Seq("heavy_unsalted", "heavy_salted").map(n => n -> best(n)): _*))
      .set[ObjectNode]("sustained", pick(rec, "sustained",
        "turns_per_sec" -> best("throughput"), "max_state_rows" -> best("throughput", "max_state_rows"),
        "pairs" -> best("throughput", "pairs"), "batch_pairs" -> Seq("spec", "batch_pairs"),
        "sanity_ok" -> Seq("sanity_ok")))
      .set[ObjectNode]("lost_blocks", lost)
    (detail, compact)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)
    val detailPath = sys.env.getOrElse("SPARK_GRAFT_DETAIL", "bench_detail.json")
    val p = Params(sfDir, cpus, childHeapMB(), detailPath)

    // An OOM-killed prior run skips its own cleanup; its staged corpora
    // keep occupying tmpfs RAM, and a killed sweep child leaves its awk
    // worker dirs. Sweep stale dirs of dead runs from both temp bases
    // before measuring.
    val swept = graft.util.Tmp.sweepStale() + graft.util.Tmp.sweepStale(baseDir = Some("/tmp"))
    if (swept > 0) System.err.println(s"[bench] swept $swept stale temp dirs")

    val rec = new BenchRecord(p.detailPath, p.blocks)(assemble(_, p))
    rec.printOnExit()

    rec.record("sweep", Fork.json("graft.tools.SweepBlock", Seq(p.sfDir, p.cpus.toString),
      p.heapMB, sweepDeadlineSec(p.sfDir))._1)

    /** Stage `s` (at node width) for the body, then delete it (the
      * staged dir is `<fresh temp dir>/in`: the temp dir goes too).
      */
    def staged[A](s: StageBlock.Spec, env: Map[String, String] = Map.empty)(
        body: Option[StageBlock.Staged] => A): A = {
      val spec = s.copy(cores = p.cpus)
      val st = Fork.json("graft.tools.StageBlock", Seq(mapper.writeValueAsString(spec)),
        p.heapMB, stageDeadlineSec(spec), env)._1
        .map(mapper.treeToValue(_, classOf[StageBlock.Staged]))
      try body(st) finally st.foreach(x => graft.util.Tmp.delete(Paths.get(x.dir).getParent.toString))
    }

    staged(StageBlock.Spec(2000L, Fpt)) { warm =>
      def trial(name: String, in: Option[StageBlock.Staged], parts: Int, cacheMB: Int,
          configs: Config*): Unit =
        rec.record(name, for {
          s <- in
          w <- warm
          spec = trialSpec(s, w, parts, cacheMB, configs: _*)
          r <- Fork.json("graft.tools.TrialBlock", Seq(mapper.writeValueAsString(spec)),
            p.heapMB, trialDeadlineSec(spec))._1
        } yield r)
      val throughput = Config("throughput", p.cpus, Fpt)
      val onDisk = Map("GRAFT_TMP_BASE" -> "/tmp") // large corpora: disk, not tmpfs RAM

      staged(StageBlock.Spec(p.convs, StagedFiles)) { in =>
        trial("flagship", in, 2 * p.cpus, DefaultCacheMB,
          throughput, Config("latency", p.cpus, LatFpt))
      }
      p.pairs.foreach { case (lo, hi) =>
        staged(StageBlock.Spec(p.scaleConvs(hi), StagedFiles), onDisk) { in =>
          trial(p.pairBlock(lo, hi), in, p.scaleParts, DefaultCacheMB,
            Seq(lo, hi).map(c => Config(level(c), c, Fpt)): _*)
        }
      }
      staged(Skew) { in =>
        val fpt = Skew.files / Skew.slices // one event-time slab per trigger
        trial("skew", in, 2 * p.cpus, DefaultCacheMB,
          Config("light_unsalted", p.cpus, fpt), Config("light_salted", p.cpus, fpt, SkewSalt),
          Config("heavy_unsalted", p.cpus, fpt, heavyMap = true),
          Config("heavy_salted", p.cpus, fpt, SkewSalt, heavyMap = true))
      }
      staged(StageBlock.Spec(p.sustainedConvs, StagedFiles), onDisk) { in =>
        trial("sustained", in, 2 * p.cpus, p.sustainedCacheMB, throughput)
      }
    }

    if (rec.lost.nonEmpty) System.err.println(s"[bench] LOST BLOCKS: ${rec.lost.mkString(", ")}")
    rec.printLine()
  }
}

package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.TimeUnit
import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node.ObjectNode
import org.scalatest.funsuite.AnyFunSuite
import graft.tools.{BenchRecord, Fork, SweepBlock, TrialBlock}
import graft.tools.BenchRecord.{mapper, nul}

/** Chaos tests for the crash-isolated bench harness (no SparkSession —
  * this is plain process/JSON plumbing). A measurement child killed
  * mid-block (OOM killer → SIGKILL, no output) or wedged past its
  * deadline must cost exactly ONE block, and a parent killed by SIGTERM
  * must still print one parseable line: every block completed before the
  * kill present, every other one named in `lost_blocks`.
  */
class BenchHarnessSpec extends AnyFunSuite with TempDirs {

  private def parse(s: String): JsonNode = mapper.readTree(s)

  private val tmp = tempDir("bench-harness")

  private def tmpDetail(): String =
    Files.createTempDirectory(tmp, "run").resolve("detail.json").toString

  private def result(turns: Long, pairs: Long, tps: Double = 1.0) =
    Flagship.Result(turns, pairs, 1.0, tps, 42L, 10L, 100L, 0L, Map("addBatch" -> 5L))

  /** A trial child's report at `cores` with one config per (name, best
    * turns/s).
    */
  private def report(cores: Int, configs: (String, Double)*): Option[JsonNode] = {
    val spec = TrialBlock.Spec("/in", "/warm", cores, partitions = 16, trials = 3,
      blockCacheMB = 512, turns = 1000L, batchPairs = 100L,
      configs = configs.map(c => TrialBlock.Config(c._1, 16)))
    Some(mapper.valueToTree[JsonNode](TrialBlock.Report(spec, sanityOk = true, Nil,
      pairShare = 0.99, ListMap(configs.map { case (n, tps) =>
        n -> TrialBlock.Trials(result(1000L, 99L, tps), Seq(tps))
      }: _*))))
  }

  test("Fork.json returns the child's JSON line on clean exit") {
    val (line, exit) = Fork.json("graft.ChaosChild", Seq("ok"), heapMB = 256, deadlineSec = 60)
    assert(exit == 0)
    assert(line.isDefined)
    assert(line.get.get("turns_per_sec").asDouble() == 1234.5)
  }

  test("Fork.json skips non-JSON noise lines") {
    val (line, _) = Fork.json("graft.ChaosChild", Seq("noise-then-ok"), heapMB = 256, deadlineSec = 60)
    assert(line.isDefined)
    assert(line.get.get("turns_per_sec").asDouble() == 99.0)
  }

  test("Fork.json survives a child killed without output (halt 137)") {
    val (line, exit) = Fork.json("graft.ChaosChild", Seq("halt"), heapMB = 256, deadlineSec = 60)
    assert(line.isEmpty)
    assert(exit == 137)
  }

  test("a child past its deadline is killed with its descendants; its block comes back lost") {
    def grandchildAlive = ProcessHandle.allProcesses().iterator().asScala.exists { h =>
      h.isAlive && h.info().arguments().map[Boolean](_.toSeq == Seq("313")).orElse(false) &&
      h.info().command().map[Boolean](_.endsWith("sleep")).orElse(false)
    }
    val t0 = System.nanoTime()
    val (line, _) = Fork.json("graft.ChaosChild", Seq("hang"), heapMB = 256, deadlineSec = 5)
    assert((System.nanoTime() - t0) / 1e9 < 60)
    assert(line.isEmpty)
    val gone = System.nanoTime() + TimeUnit.SECONDS.toNanos(10)
    while (grandchildAlive && System.nanoTime() < gone) Thread.sleep(100)
    assert(!grandchildAlive, "the hung child's own child outlived the deadline")
    val rec = new BenchRecord(tmpDetail(), Seq("hung"))(_ => (nul, nul))
    rec.record("hung", line)
    assert(rec.lost == Seq("hung"))
  }

  test("BenchRecord appends each block incrementally and tracks lost ones") {
    // the detail holds every block (null = lost), the line the lost names
    val rec = new BenchRecord(tmpDetail(), Seq("a", "b", "c", "d"))(r =>
      (Seq("a", "b", "c", "d").foldLeft(mapper.createObjectNode()) { (o, n) =>
        o.set[ObjectNode](n, r.get(n).getOrElse(nul)) },
      mapper.createObjectNode().set[JsonNode]("lost_blocks", mapper.valueToTree(r.lost))))
    def onDisk(path: String): JsonNode = parse(new String(Files.readAllBytes(Paths.get(path))))
    assert(rec.lost == Seq("a", "b", "c", "d")) // planned blocks start lost
    rec.record("a", BenchRecord.parse("""{"x":1}"""))
    // both files are rewritten after every block
    assert(onDisk(rec.linePath).get("lost_blocks").size() == 3)
    assert(onDisk(rec.detailPath).get("a").get("x").asInt() == 1)
    assert(onDisk(rec.detailPath).get("b").isNull)
    rec.record("b", None) // the killed block stays lost
    assert(onDisk(rec.linePath).get("lost_blocks").size() == 3)
    rec.record("c", BenchRecord.parse("""{"y":{"z":2.5}}"""))
    // exponent-form number, and a nested field sharing the top-level name
    rec.record("d", BenchRecord.parse("""{"inner":{"tps":1.0},"tps":1.5E6,"ok":true,"s":"x"}"""))
    val d = onDisk(rec.detailPath)
    assert(d.get("a").get("x").asInt() == 1 && d.get("b").isNull)
    assert(d.get("c").get("y").get("z").asDouble() == 2.5)
    assert(d.get("d").get("tps").asDouble() == 1.5e6)
    assert(rec.get("a").get.get("x").asInt() == 1)
    assert(rec.get("b").isEmpty)
    assert(rec.get("never-recorded").isEmpty)
    assert(rec.lost == Seq("b"))
    assert(rec.wallSec.map(_._1) == Seq("a", "b", "c", "d"))
    assert(rec.field("c", "y", "z").asDouble() == 2.5)
    assert(rec.field("c", "missing", "z").isNull)
    assert(rec.field("b", "anything").isNull)
    assert(rec.field("d", "tps").asDouble() == 1.5e6)
    assert(rec.field("d", "inner", "tps").asDouble() == 1.0)
    assert(rec.field("d", "ok").asBoolean())
    assert(rec.field("d", "s").isNull) // not a number: never copied raw
    assert(onDisk(rec.linePath).get("lost_blocks").get(0).asText() == "b")
  }

  test("a killed measurement child costs one block, not the record") {
    val p = Bench.Params("/data/sf0.1", cpus = 32, heapMB = 8192, detailPath = tmpDetail())
    val rec = new BenchRecord(p.detailPath, p.blocks)(Bench.assemble(_, p))
    // the sweep landed, then the flagship child was OOM-killed, then the
    // run continued: all scaling levels, skew, skew-heavy and sustained
    rec.record("sweep", Some(mapper.valueToTree[JsonNode](SweepBlock.Sweep("/data/sf0.1",
      32, 101, 0, 250.5, ListMap("q1_agg" -> 1.5)))))
    rec.record("flagship", Fork.json("graft.ChaosChild", Seq("halt"), heapMB = 256, deadlineSec = 60)._1)
    for ((c, n) <- p.scaleCombos)
      rec.record(p.scalingBlock(c, n), report(c, "throughput" -> 100000.0 * c)) // linear scaling
    rec.record("skew", report(32, "fmgws" -> 500000.0, "fmgws_salted" -> 490000.0,
      "fmgws_fpt2" -> 200000.0))
    rec.record("skew_heavy", report(32, "light_unsalted" -> 1.0, "light_salted" -> 1.0,
      "heavy_unsalted" -> 1.0, "heavy_salted" -> 1.8))
    rec.record("sustained", report(32, "throughput" -> 2.4e6))

    val (detail, compact) = Bench.assemble(rec, p)
    // the on-disk artifacts are the assembled ones, and both parse
    val c = parse(new String(Files.readAllBytes(Paths.get(rec.linePath))))
    val d = parse(new String(Files.readAllBytes(Paths.get(p.detailPath))))
    assert(c.toString == compact.toString && d.toString == detail.toString)
    assert(d.get("flagship").isNull)
    assert(c.get("flagship").isNull)
    assert(d.get("lost_blocks").size() == 1)
    assert(d.get("lost_blocks").get(0).asText() == "flagship")
    assert(c.get("lost_blocks").get(0).asText() == "flagship")
    // completed blocks are all present with their values intact
    assert(c.get("value").asDouble() == 250.5)
    assert(c.get("n_queries").asInt() == 101)
    assert(c.get("sustained").get("turns_per_sec").asDouble() == 2400000.0)
    assert(c.get("sustained").get("batch_pairs").asLong() == 100L)
    assert(c.get("sustained").get("sanity_ok").asBoolean())
    assert(c.get("skew").get("fmgws").asDouble() == 500000.0)
    assert(c.get("skew_heavy").get("sanity_ok").asBoolean())
    assert(c.get("skew_heavy").get("heavy_salted").asDouble() == 1.8)
    // scaling efficiency computed from the per-level blocks
    val pairsNode = c.get("scaling")
    assert(pairsNode.size() == 2)
    assert(pairsNode.get(0).get("efficiency").asDouble() == 1.0)
    assert(pairsNode.get(1).get("efficiency").asDouble() == 1.0)
    assert(pairsNode.get(1).get("sanity_ok").asBoolean())
    // each detail combo key holds its own level's block
    val combos = d.get("scaling").get("combos")
    assert(combos.size() == 4)
    for ((c, hi) <- Seq((2, 8), (8, 8), (1, 4), (4, 4)))
      assert(combos.get(s"c${c}_n${p.scaleConvs(hi)}").get("spec").get("cores").asInt() == c)
    assert(d.get("wall_sec").size() == p.blocks.size)
  }

  test("an empty record still assembles to parseable artifacts") {
    val p = Bench.Params("/x", 4, 2048, tmpDetail())
    val rec = new BenchRecord(p.detailPath, p.blocks)(Bench.assemble(_, p))
    val (detail, compact) = Bench.assemble(rec, p)
    assert(parse(detail.toString).get("flagship").isNull)
    val c = parse(compact.toString)
    assert(c.get("value").isNull)
    assert(c.get("scaling").get(0).get("efficiency").isNull)
    assert(c.get("skew").isNull)
    assert(c.get("lost_blocks").size() == p.blocks.size)
  }

  test("a SIGTERM'd parent prints one parseable line naming the unfinished blocks") {
    val detail = tmpDetail()
    val pb = new ProcessBuilder(Fork.command("graft.ChaosChild", Seq("parent", detail), 256): _*)
    pb.redirectError(ProcessBuilder.Redirect.INHERIT)
    val proc = pb.start()
    val linePath = Paths.get(detail + ".line.json")
    val landed = System.nanoTime() + TimeUnit.SECONDS.toNanos(60)
    while (!Files.exists(linePath) && System.nanoTime() < landed) Thread.sleep(100)
    assert(Files.exists(linePath), "the parent never recorded its first block")
    proc.toHandle.destroy() // SIGTERM; Process.destroy would also close our end of stdout
    assert(proc.waitFor(30, TimeUnit.SECONDS))
    val out = new String(proc.getInputStream.readAllBytes(), "UTF-8").linesIterator
      .filter(_.nonEmpty).toSeq
    assert(out.size == 1, s"expected exactly one line, got: $out")
    val c = parse(out.last)
    assert(c.get("value").asDouble() == 3.5)
    val p = Bench.Params("/x", 4, 2048, detail)
    assert(c.get("lost_blocks").elements().asScala.map(_.asText).toSeq == p.blocks.tail)
    assert(c == parse(new String(Files.readAllBytes(linePath))))
  }

  test("bench sizes derive from the host") {
    val four = Bench.Params("/x", 4, 2048, "d.json")
    assert(four.pairs == Seq((1, 4)))
    assert(four.convs == 4 * Bench.ConvsPerCore)
    assert(four.scaleCombos == Seq((1, 4 * Bench.ScaleConvsPerCore), (4, 4 * Bench.ScaleConvsPerCore)))
    assert(four.blocks.head == "sweep" && four.blocks(1) == "flagship")
    assert(four.blocks.last == "sustained")
    assert(Bench.Params("/x", 8, 2048, "d.json").pairs == Seq((2, 8), (1, 4)))
    assert(Bench.Params("/x", 4, 4096, "d.json").sustainedConvs == 2 * four.sustainedConvs)
    val heap = Bench.childHeapMB()
    assert(heap >= 2048 && heap <= 8192)
  }

  test("the trial sanity gate fails on lost turns, diverging configs and late-dropped pairs") {
    assert(TrialBlock.sanity(1000L, 100L, Seq("a" -> result(1000, 95), "b" -> result(1000, 95))).isEmpty)
    assert(TrialBlock.sanity(1000L, 100L, Seq("a" -> result(999, 95))).head.contains("999 of 1000"))
    assert(TrialBlock.sanity(1000L, 100L, Seq("a" -> result(1000, 95), "b" -> result(1000, 94)))
      .exists(_.contains("disagree")))
    assert(TrialBlock.sanity(1000L, 100L, Seq("a" -> result(1000, 89))).head.contains("89 of 100"))
    assert(TrialBlock.sanity(1000L, 100L, Nil).nonEmpty)
  }
}

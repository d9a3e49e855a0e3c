package graft

import java.nio.file.{Files, Paths}
import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite
import graft.tools.{BenchRecord, Fork}

/** Chaos tests for the crash-isolated bench harness (no SparkSession —
  * this is plain process/JSON plumbing). The property under test is the
  * round-4 postmortem's fix: a measurement child killed mid-block (OOM
  * killer → SIGKILL, no output) must cost exactly ONE block — the parent
  * still emits a parseable detail record and compact line with that
  * block null and named in `lost_blocks`, and every block completed
  * before the kill still present.
  */
class BenchHarnessSpec extends AnyFunSuite {

  private val mapper = new ObjectMapper()
  private def parse(s: String) = mapper.readTree(s)

  private def tmpParts(): String =
    Files.createTempFile("bench-parts", ".jsonl").toString

  test("Fork.json returns the child's JSON line on clean exit") {
    val (line, exit) = Fork.json("graft.ChaosChild", Seq("ok"), heapGB = 1)
    assert(exit == 0)
    assert(line.isDefined)
    assert(parse(line.get).get("turns_per_sec").asDouble() == 1234.5)
  }

  test("Fork.json skips non-JSON noise lines") {
    val (line, _) = Fork.json("graft.ChaosChild", Seq("noise-then-ok"), heapGB = 1)
    assert(line.isDefined)
    assert(parse(line.get).get("turns_per_sec").asDouble() == 99.0)
  }

  test("Fork.json survives a child killed without output (halt 137)") {
    val (line, exit) = Fork.json("graft.ChaosChild", Seq("halt"), heapGB = 1)
    assert(line.isEmpty)
    assert(exit == 137)
  }

  test("BenchRecord appends each block incrementally and tracks lost ones") {
    val parts = tmpParts()
    val rec = new BenchRecord(parts)
    rec.record("a", Some("""{"x":1}"""))
    rec.record("b", None) // the killed block
    rec.record("c", Some("""{"y":{"z":2.5}}"""))
    // exponent-form number, and a nested field sharing the top-level name
    rec.record("d", Some("""{"inner":{"tps":1.0},"tps":1.5E6,"ok":true,"s":"x"}"""))
    val lines = Files.readAllLines(Paths.get(parts))
    assert(lines.size() == 4)
    lines.forEach(l => assert(parse(l).get("block") != null)) // each line parseable
    assert(parse(lines.get(1)).get("json").isNull)
    assert(rec.json("a") == """{"x":1}""")
    assert(rec.json("b") == "null")
    assert(rec.json("never-recorded") == "null")
    assert(rec.lost == Seq("b"))
    assert(rec.field("c", "y", "z") == "2.5")
    assert(rec.field("c", "missing", "z") == "null")
    assert(rec.field("b", "anything") == "null")
    assert(rec.field("d", "tps").toDouble == 1.5e6)
    assert(rec.field("d", "inner", "tps").toDouble == 1.0)
    assert(rec.field("d", "ok") == "true")
    assert(rec.field("d", "s") == "null") // not a number: never spliced raw
    Files.deleteIfExists(Paths.get(parts)): Unit
  }

  test("a killed measurement child costs one block, not the record") {
    val parts = tmpParts()
    val rec = new BenchRecord(parts)
    val p = Bench.Params(
      sfDir = "/root/testdata/sf0.1", cpus = 32, nConvs = 1500000L,
      scaleBase = 3000000L, nFiles = 32, fpt = 16, latFpt = 2, nTrials = 3,
      skewConvs = 100000L, hotConvs = 4, hotMult = 20000, skewSalt = 8,
      pairs = Seq((2, 8), (1, 4)), detailPath = "bench_detail.json")

    // sustained completed, then the flagship child was OOM-killed, then
    // the run continued: skew + all scaling combos + sweep landed
    rec.record("sustained",
      Some("""{"convs":5000000,"batch_pairs":100,"block_cache_mb":2048,""" +
        """"turns":105000000,"pairs":99,"turns_per_sec":2.4E6,"max_state_rows":5000000}"""))
    rec.record("stage_flagship", Some("""{"dir":"/dev/shm/x","batch_pairs":15758267}"""))
    rec.record("flagship", Fork.json("graft.ChaosChild", Seq("halt"), heapGB = 1)._1)
    rec.record("skew",
      Some("""{"cores":8,"convs":100000,"hot":4,"hot_mult":20000,"salt":8,""" +
        """"fmgws":{"best_tps":500000.0},"fmgws_salted":{"best_tps":490000.0},""" +
        """"fmgws_fpt2":{"best_tps":200000.0}}"""))
    for ((c, n) <- Seq((2, 3000000L), (8, 3000000L), (1, 1500000L), (4, 1500000L))) {
      val tps = 100000.0 * c // perfect linear scaling in the fixture
      rec.record(s"scaling_c${c}_n$n",
        Some(s"""{"cores":$c,"turns_per_sec":$tps,"trials_tps":[$tps]}"""))
    }
    rec.record("skew_heavy",
      Some("""{"sanity_ok":1,"emitted_pair_share":1.0,""" +
        """"light_unsalted":{"best_tps":1.0},"light_salted":{"best_tps":1.0},""" +
        """"heavy_unsalted":{"best_tps":1.0},"heavy_salted":{"best_tps":1.8}}"""))
    rec.record("sweep",
      Some("""{"n_queries":101,"failed_queries":0,"total_query_sec":250.5,""" +
        """"queries":{"q1_agg":1.5}}"""))

    val (detail, compact) = Bench.assemble(rec, p)
    val d = parse(detail) // both artifacts must parse despite the kill
    val c = parse(compact)
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
    assert(c.get("skew").get("fmgws").asDouble() == 500000.0)
    assert(c.get("skew_heavy").get("sanity_ok").asBoolean())
    assert(c.get("skew_heavy").get("heavy_salted").asDouble() == 1.8)
    // scaling efficiency computed from the per-combo blocks
    val pairsNode = c.get("scaling")
    assert(pairsNode.size() == 2)
    assert(pairsNode.get(0).get("efficiency").asDouble() == 1.0)
    assert(pairsNode.get(1).get("efficiency").asDouble() == 1.0)
    assert(d.get("scaling").get("combos").get("c2_n3000000").get("cores").asInt() == 2)
    Files.deleteIfExists(Paths.get(parts)): Unit
  }

  test("an empty record still assembles to parseable artifacts") {
    val rec = new BenchRecord(tmpParts())
    val p = Bench.Params("/x", 32, 1L, 2L, 32, 16, 2, 3, 1L, 4, 20000, 8,
      Seq((1, 4)), "d.json")
    val (detail, compact) = Bench.assemble(rec, p)
    assert(parse(detail).get("flagship").isNull)
    val c = parse(compact)
    assert(c.get("value").isNull)
    assert(c.get("scaling").get(0).get("efficiency").isNull)
    assert(c.get("skew").isNull)
  }
}

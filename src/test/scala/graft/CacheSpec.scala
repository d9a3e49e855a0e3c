package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.gen.TranscriptGen
import graft.model.Turn
import graft.ops.{CacheOps, Dedupe}
import graft.ops.CacheOps.{CacheOp, CacheOut}

/** Cache operator family (reference internal/old/processor/cache.go):
  * set/add/get/delete semantics in both tiers — the batch window form is
  * checked against a pure per-key state-machine replay, the streaming
  * keyed-state form against the reference's operator contracts including
  * per-key TTL; dedupe-via-add equals the dedicated dedupe operator.
  */
class CacheSpec extends SparkTestBase {
  import spark.implicits._

  private val turns: Seq[Turn] =
    (0L until 24L).flatMap(TranscriptGen.turnsFor(7L, _))

  private def opOf(t: Turn): String = t.role match {
    case "user" => "set"
    case "assistant" => "add"
    case _ => "delete"
  }

  /** Pure replay of the reference state machine for one key's op log. */
  private def replay(ops: Seq[(String, String)]): Option[String] =
    ops.foldLeft(Option.empty[String]) {
      case (_, ("set", v)) => Some(v)
      case (None, ("add", v)) => Some(v)
      case (st, ("add", _)) => st
      case (_, ("delete", _)) => None
      case (st, _) => st
    }

  test("materialize equals a pure per-key state-machine replay") {
    val ops = turns.toDF().select(
      col("conv_id"), col("turn_idx"), col("ts"),
      when(col("role") === "user", "set")
        .when(col("role") === "assistant", "add")
        .otherwise("delete").as("op"),
      col("text"))
    val got = CacheOps.materialize(ops, col("conv_id"), col("op"), col("text"),
      struct(col("ts"), col("turn_idx")))
      .select("key", "value").as[(String, String)].collect().toMap

    val expected = turns
      .groupBy(_.conv_id)
      .view.mapValues(ts =>
        replay(ts.sortBy(t => (t.ts.getTime, t.turn_idx)).map(t => (opOf(t), t.text))))
      .collect { case (k, Some(v)) => k -> v }
      .toMap
    assert(got == expected)
  }

  test("materialize TTL expires entries written more than ttl before asOf") {
    val ops = Seq(
      ("a", "set", "v1", Timestamp.valueOf("2025-01-01 00:00:00")),
      ("b", "set", "v2", Timestamp.valueOf("2025-01-01 00:59:00")))
      .toDF("k", "op", "v", "ts")
    val asOf = lit(Timestamp.valueOf("2025-01-01 01:00:00"))
    val live = CacheOps.materialize(ops, col("k"), col("op"), col("v"),
      col("ts"), tsCol = Some(col("ts")), ttlSeconds = 600L, asOf = Some(asOf))
    assert(live.select("key").as[String].collect().toSet == Set("b"))
  }

  test("dedupeViaAdd equals Dedupe.exactFirst") {
    val df = turns.toDF()
    val viaCache = CacheOps.dedupeViaAdd(df, col("conv_id"), struct(col("ts"), col("turn_idx")))
      .select("conv_id", "turn_idx").as[(String, Int)].collect().toSet
    val direct = Dedupe.exactFirst(df, col("conv_id"), struct(col("ts"), col("turn_idx")))
      .select("conv_id", "turn_idx").as[(String, Int)].collect().toSet
    assert(viaCache == direct)
  }

  test("streaming cache honors set/add/get/delete and per-key event-time TTL") {
    implicit val sqlCtx = spark.sqlContext
    def ts(s: Long) = new Timestamp(1700000000000L + s * 1000)
    val ttl = 60L
    val ops = Seq(
      CacheOp("k", "set", "v1", ts(0)),
      CacheOp("k", "get", null, ts(5)),       // hit → v1
      CacheOp("k", "add", "v2", ts(10)),      // exists → errored
      CacheOp("k", "get", null, ts(75)),      // expired → errored
      CacheOp("k", "add", "v3", ts(80)),      // expired → add succeeds
      CacheOp("k", "get", null, ts(85)),      // hit → v3
      CacheOp("k", "delete", null, ts(90)),
      CacheOp("k", "get", null, ts(95)),      // deleted → errored
      CacheOp("k2", "get", null, ts(1)))      // never set → errored
    val mem = MemoryStream[CacheOp]
    mem.addData(ops)
    val outDir = tempDir("cache-out").toString
    val ckDir = tempDir("cache-ck").toString
    val q = CacheOps.streamApply(mem.toDS(), ttl, "10 seconds")
      .writeStream.format("parquet")
      .option("path", outDir).option("checkpointLocation", ckDir)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val out = spark.read.parquet(outDir).as[CacheOut].collect()
      .map(o => (o.key, o.ts.getTime / 1000 % 100000) -> ((o.value, o.errored))).toMap
    def at(k: String, s: Long) = out((k, (1700000000L + s) % 100000))
    assert(at("k", 5) == (("v1", false)))
    assert(at("k", 10) == ((null, true)))    // add onto live key
    assert(at("k", 75) == ((null, true)))    // TTL expired
    assert(at("k", 80) == (("v3", false)))   // add after expiry
    assert(at("k", 85) == (("v3", false)))
    assert(at("k", 95) == ((null, true)))    // after delete
    assert(at("k2", 1) == ((null, true)))    // get on absent key
  }

  test("streaming add contention matches batch addAnnotate over a replayed log") {
    implicit val sqlCtx = spark.sqlContext
    val addOps = turns.map(t => CacheOp(t.conv_id, "add", t.text, t.ts, t.turn_idx))
    val mem = MemoryStream[CacheOp]
    mem.addData(addOps)
    val outDir = tempDir("cadd-out").toString
    val ckDir = tempDir("cadd-ck").toString
    val q = CacheOps.streamApply(mem.toDS(), ttlSeconds = 0L, lateness = "1 hour")
      .writeStream.format("parquet")
      .option("path", outDir).option("checkpointLocation", ckDir)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val streamed = spark.read.parquet(outDir)
      .groupBy("key").agg(
        count(lit(1)).as("n"),
        count(when(col("errored"), 1)).as("n_err"))
      .as[(String, Long, Long)].collect().toMap2
    val batch = CacheOps.addAnnotate(turns.toDF(), col("conv_id"), struct(col("ts"), col("turn_idx")))
      .groupBy(col("conv_id").as("key")).agg(
        count(lit(1)).as("n"),
        count(when(col("error").isNotNull, 1)).as("n_err"))
      .as[(String, Long, Long)].collect().toMap2
    assert(streamed == batch)
  }

  test("multilevel view: lowest level wins, fallthrough, get/add against the union (cache_multilevel.go)") {
    import spark.implicits._
    val l0 = Seq(("k1", "v1-l0")).toDF("key", "value")
    val l1 = Seq(("k1", "v1-l1"), ("k2", "v2-l1")).toDF("key", "value")
    val view = CacheOps.multilevelView(Seq(l0, l1))
    val m = view.collect().map(r => r.getString(0) -> ((r.getString(1), r.getInt(2)))).toMap
    // Get: first level holding the key serves it (cache_multilevel.go:109-128)
    assert(m == Map("k1" -> (("v1-l0", 0)), "k2" -> (("v2-l1", 1))))

    // get through the view: k2 falls through to L1, k3 errors as absent
    val probes = Seq("k1", "k2", "k3").toDF("k")
    val got = CacheOps.get(probes, view.select("key", "value"), col("k"), "cached")
      .select(col("k"), col("cached"), col(graft.ops.Errors.ErrCol))
      .collect().map(r => r.getString(0) -> ((r.getString(1), r.getString(2)))).toMap
    assert(got("k1") == (("v1-l0", null)))
    assert(got("k2") == (("v2-l1", null)))
    assert(got("k3") == ((null, CacheOps.KeyNotFound)))

    // Add contends if ANY level holds the key (cache_multilevel.go:145-163):
    // adding k2 (present only in L1) must error; k9 succeeds
    val addLog = view.select(col("key"), lit(0L).as("ord"))
      .unionByName(Seq(("k2", 1L), ("k9", 1L)).toDF("key", "ord"))
    val adds = CacheOps.addAnnotate(addLog, col("key"), col("ord"))
      .filter(col("ord") === 1L)
      .collect().map(r => r.getString(0) -> r.getString(2)).toMap
    assert(adds("k2") == CacheOps.KeyExists)
    assert(adds("k9") == null)
  }

  private implicit class Tup3Ops(rows: Array[(String, Long, Long)]) {
    def toMap2: Map[String, (Long, Long)] = rows.map(r => r._1 -> ((r._2, r._3))).toMap
  }
}

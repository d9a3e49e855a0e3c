package graft.queries

import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.model.Turn
import graft.ops.Windows
import graft.sources.Tables
import graft.streaming.{SessionJoin, Sink}

/** Oracle-checked queries for the windowing family (SURVEY.md §2.8):
  * tumbling / sliding / session windows, the window_end stamp, the session
  * join (batch AND full streaming engine), all cross-checked against
  * DuckDB's window functions.
  */
object WindowQueries {
  private val T = Tables.TranscriptsCte

  /** Session gap for the events-derived transcripts: 12h (the events table
    * spans 30 days at ~67 turns/conv, so a chat-scale 30min gap would make
    * nearly every turn its own session — 12h yields ~3 turns/session).
    */
  val GapSeconds = 43200L

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // tumbling event-time window + reduce (reference: internal/impl/pure/
    // buffer_system_window.go:96-127, alignment math :236-266).
    "q_tumbling_agg" -> ((s, dir) => {
      Tables.transcripts(s, dir)
        .groupBy(col("conv_id"), window(col("ts"), "1 hour").getField("start").as("w"))
        .agg(
          count(lit(1)).as("n_turns"),
          count(col("tool")).as("n_tool_turns"),
          sum(length(col("text"))).as("sum_chars"))
        .select(col("conv_id"), unix_timestamp(col("w")).as("window_start"),
          col("n_turns"), col("n_tool_turns"), col("sum_chars"))
    }),

    // sliding window: size 2h, slide 1h — each row lands in 2 windows
    // (reference: buffer_system_window.go docs lines 33-35, math :252-258).
    "q_sliding_agg" -> ((s, dir) => {
      Windows.sliding(Tables.transcripts(s, dir), col("ts"), "2 hours", "1 hour")
        .groupBy(col("conv_id"), col("window").getField("start").as("w"))
        .agg(count(lit(1)).as("n_turns"), sum(length(col("text"))).as("sum_chars"))
        .select(col("conv_id"), unix_timestamp(col("w")).as("window_start"),
          col("n_turns"), col("sum_chars"))
    }),

    // per-row window_end stamp (reference: buffer_system_window.go line 376
    // adds `window_end_timestamp` metadata to every flushed message).
    "q_window_end_stamp" -> ((s, dir) => {
      Windows.stampWindowEnd(
        Windows.tumbling(Tables.transcripts(s, dir), col("ts"), "1 hour"))
        .select(col("conv_id"), col("turn_idx"),
          unix_timestamp(col("window_end_timestamp")).as("window_end"))
    }),

    // session windows (north_rule; NOT in the reference, which only has
    // tumbling/sliding — SURVEY.md §2.8): gap-based sessionization + agg.
    "q_session_agg" -> ((s, dir) => {
      Windows.sessionize(Tables.transcripts(s, dir), col("conv_id"), col("ts"),
        GapSeconds, Seq(col("turn_idx")))
        .groupBy(col("conv_id"), col("session_id"))
        .agg(count(lit(1)).as("n_turns"),
          min(col("ts")).as("session_start"),
          max(col("ts")).as("session_end"),
          sum(length(col("text"))).as("sum_chars"))
    }),

    // Spark's NATIVE session_window operator (merge-on-overlap semantics:
    // strict `diff < gap` keeps a session alive, vs sessionize's
    // floor-second `diff <= gap` — the oracle mirrors the native rule on
    // exact microsecond timestamps).
    "q_session_window_native" -> ((s, dir) => {
      Tables.transcripts(s, dir)
        .groupBy(col("conv_id"), session_window(col("ts"), s"$GapSeconds seconds"))
        .agg(count(lit(1)).as("n_turns"), sum(length(col("text"))).as("sum_chars"))
        .select(col("conv_id"),
          col("session_window.start").as("session_start"),
          col("session_window.end").as("session_end"),
          col("n_turns"), col("sum_chars"))
    }),

    // the flagship join, batch window-function form: each assistant/tool
    // turn paired with the latest preceding user turn in its session
    // (reference pattern: config/examples/joining_streams.yaml:23-56).
    "q_session_join" -> ((s, dir) => {
      SessionJoin.pairBatch(Tables.transcripts(s, dir), GapSeconds)
    }),

    // the SAME join through the full streaming engine: parquet file stream
    // → watermark → flatMapGroupsWithState → exactly-once sink → read back
    // committed batches. The oracle is identical to q_session_join's —
    // streaming output must equal the batch/DuckDB result row-for-row.
    "q_stream_session_join" -> ((s, dir) => streamSessionJoin(s, dir)),

    // tumbling aggregation through the streaming engine (watermarked
    // groupBy(window) in Append mode, finalized windows only) — must
    // match q_tumbling_agg's DuckDB oracle row-for-row.
    "q_stream_tumbling_agg" -> ((s, dir) => streamTumblingAgg(s, dir)),

    // sliding aggregation through the streaming engine (each row in 2
    // overlapping windows, Append mode) — must match the batch
    // q_sliding_agg's DuckDB oracle row-for-row.
    "q_stream_sliding_agg" -> ((s, dir) =>
      replayStreamed(s, dir, "zzz-sentinel", { stream =>
        stream.withWatermark("ts", "40 days")
          .groupBy(col("conv_id"), window(col("ts"), "2 hours", "1 hour"))
          .agg(count(lit(1)).as("n_turns"), sum(length(col("text"))).as("sum_chars"))
          .select(col("conv_id"), unix_timestamp(col("window.start")).as("window_start"),
            col("n_turns"), col("sum_chars"))
      })),

    // the NATIVE session_window through the streaming engine: Spark's
    // merging session state in Append mode (sessions that overlap within
    // the gap merge as turns stream in; finalized when the watermark
    // passes session end) — same oracle as the batch
    // q_session_window_native.
    "q_stream_session_window" -> ((s, dir) =>
      replayStreamed(s, dir, "zzz-sentinel", { stream =>
        stream.withWatermark("ts", "40 days")
          .groupBy(col("conv_id"), session_window(col("ts"), s"$GapSeconds seconds"))
          .agg(count(lit(1)).as("n_turns"), sum(length(col("text"))).as("sum_chars"))
          .select(col("conv_id"),
            col("session_window.start").as("session_start"),
            col("session_window.end").as("session_end"),
            col("n_turns"), col("sum_chars"))
      })),

    // streaming dedupe through the engine: dropDuplicates keyed state
    // emits each content key exactly once across micro-batches (and
    // across checkpoint resumes). The output is the KEY SET alone — the
    // surviving row's identity depends on arrival order inside a batch,
    // so a survivor-free projection is the cross-engine-stable contract
    // (survivor determinism is the batch q_dedupe_exact's job; TTL-bounded
    // streaming dedupe state is Dedupe.streamingDedupe, StreamingParitySpec).
    "q_stream_dedupe" -> ((s, dir) => {
      val sentinelKey = java.security.MessageDigest.getInstance("MD5")
        .digest("sentinel".getBytes("UTF-8")).map("%02x".format(_)).mkString
      replayStreamed(s, dir, "zzz-sentinel", { stream =>
        stream.withWatermark("ts", "40 days")
          .select(graft.ops.TextOps.contentKey(substring(col("text"), 1, 16)).as("ckey"))
          .dropDuplicates("ckey")
      }, sentinelFilter = Some(col("ckey") =!= sentinelKey))
    }),

    // read_until through the real engine: consume the ts-ordered stream
    // until the first deep tool turn; that row is kept flagged
    // `read_until_final`, everything after it is dropped and the query
    // stops (reference: internal/impl/pure/input_read_until.go).
    "q_read_until" -> ((s, dir) => readUntilQuery(s, dir)))

  private def readUntilQuery(s: SparkSession, dir: String): DataFrame = inRunDir("readuntil") { work =>
    val inDir = s"$work/in"
    // total order across files so batch boundaries respect the cut order
    Tables.transcripts(s, dir)
      .orderBy(col("ts"), col("conv_id"), col("turn_idx"))
      .coalesce(8).write.parquet(inDir)
    val schema = "conv_id STRING, turn_idx INT, role STRING, text STRING, tool STRING, ts TIMESTAMP"
    val stream = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", 2).parquet(inDir)
    val ord = Seq(col("ts"), col("conv_id"), col("turn_idx"))
    val q = graft.streaming.ReadUntil.run(
      stream, col("role") === "tool" && col("turn_idx") >= 10, ord,
      (b, _) => b.write.mode("append").parquet(s"$work/out"), s"$work/ck")
    q.awaitTermination()
    s.read.parquet(s"$work/out").select("conv_id", "turn_idx", "role", "read_until_final")
  }

  /** The result of `run` in a fresh run dir (`<prefix>*` under the temp
    * base), held in Spark's block manager (an eager local checkpoint) so
    * that the dir can be deleted: a rig's staged input, checkpoint and
    * sink are single-use, and left behind they would occupy tmpfs until
    * the host reboots. On success and on failure alike, the run's
    * state-store providers are unloaded first, as `Flagship.runStaged`
    * does, so none is left pointing into the deleted checkpoint.
    */
  private def inRunDir(prefix: String)(run: String => DataFrame): DataFrame = {
    val work = graft.util.Tmp.dir(prefix)
    try run(work).localCheckpoint()
    finally {
      org.apache.spark.sql.execution.streaming.state.GraftStateStoreAccess.unloadAll()
      graft.util.Tmp.delete(work)
    }
  }

  /** Stage the derived transcripts as a file stream, run `pipeline` to an
    * exactly-once sink across three AvailableNow phases (ingest; sentinel
    * turn far enough ahead that the watermark passes everything; one more
    * cycle so event-time state flushes), and return the committed rows
    * minus the sentinel's, detached from the deleted run dir.
    */
  private[queries] def replayStreamed(
      s: SparkSession,
      dir: String,
      sentinelConv: String,
      pipeline: DataFrame => DataFrame,
      sentinelFilter: Option[org.apache.spark.sql.Column] = None): DataFrame = inRunDir("qstream") { work =>
    import s.implicits._
    val batch = Tables.transcripts(s, dir)
    val inDir = s"$work/in"
    // total order incl. tie-breaks: the rate-limit/cache rigs' outputs
    // depend on cross-micro-batch arrival order, so batch boundaries must
    // respect the oracle's (ts, conv_id, turn_idx) order exactly
    batch.orderBy(col("ts"), col("conv_id"), col("turn_idx")).coalesce(8).write.parquet(inDir)
    val schema = "conv_id STRING, turn_idx INT, role STRING, text STRING, tool STRING, ts TIMESTAMP"
    def turnsStream = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", 4).parquet(inDir)
    def runOnce(): Unit = {
      val q = Sink.exactlyOnce(pipeline(turnsStream),
        s"$work/out", s"$work/ck", Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    runOnce()
    val maxSec = batch.agg(max(unix_timestamp(col("ts")))).head().getLong(0)
    val sentinelTs = new java.sql.Timestamp(
      (maxSec + 40L * 86400 + GapSeconds + 86400) * 1000)
    Seq(Turn(sentinelConv, 0, "user", "sentinel", null, sentinelTs)).toDS()
      .coalesce(1).write.mode("append").parquet(inDir)
    runOnce()
    runOnce()
    Sink.readCommitted(s, s"$work/out")
      .filter(sentinelFilter.getOrElse(col("conv_id") =!= sentinelConv))
      .drop("_batch_id", "_partition_id")
  }

  private def streamTumblingAgg(s: SparkSession, dir: String): DataFrame =
    replayStreamed(s, dir, "zzz-sentinel", { stream =>
      // watermark delay spans the data so file-arrival order can't drop
      // rows as late (same reasoning as the session join's oracle run)
      stream.withWatermark("ts", "40 days")
        .groupBy(col("conv_id"), window(col("ts"), "1 hour"))
        .agg(
          count(lit(1)).as("n_turns"),
          count(col("tool")).as("n_tool_turns"),
          sum(length(col("text"))).as("sum_chars"))
        .select(col("conv_id"), unix_timestamp(col("window.start")).as("window_start"),
          col("n_turns"), col("n_tool_turns"), col("sum_chars"))
    })

  private def streamSessionJoin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // Watermark delay > the whole data span: file-arrival order is not
    // guaranteed to follow event time, so nothing may be dropped as late
    // here (the late-drop semantics are exercised by SessionJoinSpec).
    replayStreamed(s, dir, "zzz-sentinel",
      stream => SessionJoin.pairStreaming(stream.as[Turn], GapSeconds, "40 days").toDF())
  }

  // NOTE: the window-sum is CAST to BIGINT — DuckDB sum() over integers
  // yields HUGEINT, which the driver's canonicalizer hashes differently
  // from Spark's BIGINT (VERDICT r1 §wrong-1).
  private def sessionedCte(gap: Long): String =
    s"""sessioned AS (
       |  SELECT *, CAST(sum(CASE WHEN prev_ts IS NULL
       |      OR CAST(floor(epoch(ts)) AS BIGINT) - CAST(floor(epoch(prev_ts)) AS BIGINT) > $gap
       |      THEN 1 ELSE 0 END)
       |    OVER (PARTITION BY conv_id ORDER BY ts, turn_idx
       |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1 AS BIGINT) AS session_id
       |  FROM (SELECT *, lag(ts) OVER (PARTITION BY conv_id ORDER BY ts, turn_idx) AS prev_ts
       |        FROM transcripts))
       |""".stripMargin

  private val sessionJoinSql: String =
    T.stripSuffix("\n") + ", " + sessionedCte(GapSeconds) +
      """SELECT conv_id, session_id,
        |  u.turn_idx AS user_turn_idx, u.text AS user_text,
        |  turn_idx AS reply_turn_idx, role AS reply_role, text AS reply_text,
        |  tool AS reply_tool, u.ts AS user_ts, ts AS reply_ts
        |FROM (
        |  SELECT conv_id, session_id, turn_idx, role, text, tool, ts,
        |    last_value(CASE WHEN role = 'user'
        |        THEN struct_pack(turn_idx := turn_idx, text := text, ts := ts) END
        |      IGNORE NULLS)
        |      OVER (PARTITION BY conv_id, session_id ORDER BY ts, turn_idx
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS u
        |  FROM sessioned)
        |WHERE role <> 'user' AND u IS NOT NULL""".stripMargin

  private val oraclesBase: Map[String, String] = Map(
    "q_tumbling_agg" -> (T +
      """SELECT conv_id,
        |  CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS window_start,
        |  count(*) AS n_turns, count(tool) AS n_tool_turns,
        |  CAST(sum(length(text)) AS BIGINT) AS sum_chars
        |FROM transcripts GROUP BY 1, 2""".stripMargin),
    "q_sliding_agg" -> (T +
      """SELECT conv_id,
        |  CAST(epoch(date_trunc('hour', ts)) AS BIGINT) - off AS window_start,
        |  count(*) AS n_turns, CAST(sum(length(text)) AS BIGINT) AS sum_chars
        |FROM transcripts CROSS JOIN (SELECT unnest([0, 3600]) AS off)
        |GROUP BY 1, 2""".stripMargin),
    "q_window_end_stamp" -> (T +
      """SELECT conv_id, turn_idx,
        |  CAST(epoch(date_trunc('hour', ts)) AS BIGINT) + 3600 AS window_end
        |FROM transcripts""".stripMargin),
    "q_session_agg" -> (T.stripSuffix("\n") + ", " + sessionedCte(GapSeconds) +
      """SELECT conv_id, session_id, count(*) AS n_turns,
        |  min(ts) AS session_start, max(ts) AS session_end,
        |  CAST(sum(length(text)) AS BIGINT) AS sum_chars
        |FROM sessioned GROUP BY 1, 2""".stripMargin),
    "q_session_window_native" -> (T.stripSuffix("\n") +
      s""", sessioned AS (
         |  SELECT *, sum(CASE WHEN prev_ts IS NULL
         |      OR epoch(ts) - epoch(prev_ts) >= $GapSeconds THEN 1 ELSE 0 END)
         |    OVER (PARTITION BY conv_id ORDER BY ts, turn_idx
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
         |  FROM (SELECT *, lag(ts) OVER (PARTITION BY conv_id ORDER BY ts, turn_idx) AS prev_ts
         |        FROM transcripts))
         |SELECT conv_id, min(ts) AS session_start,
         |  max(ts) + INTERVAL $GapSeconds SECONDS AS session_end,
         |  count(*) AS n_turns, CAST(sum(length(text)) AS BIGINT) AS sum_chars
         |FROM sessioned GROUP BY conv_id, sid""".stripMargin),
    "q_session_join" -> sessionJoinSql,
    "q_stream_session_join" -> sessionJoinSql,
    "q_stream_tumbling_agg" -> (T +
      """SELECT conv_id,
        |  CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS window_start,
        |  count(*) AS n_turns, count(tool) AS n_tool_turns,
        |  CAST(sum(length(text)) AS BIGINT) AS sum_chars
        |FROM transcripts GROUP BY 1, 2""".stripMargin),
    "q_read_until" -> (T +
      """SELECT t.conv_id, t.turn_idx, t.role,
        |  (t.role = 'tool' AND t.turn_idx >= 10) AS read_until_final
        |FROM transcripts t, (
        |  SELECT ts, conv_id, turn_idx FROM transcripts
        |  WHERE role = 'tool' AND turn_idx >= 10
        |  ORDER BY ts, conv_id, turn_idx LIMIT 1) m
        |WHERE (t.ts, t.conv_id, t.turn_idx) <= (m.ts, m.conv_id, m.turn_idx)""".stripMargin)
  )

  /** The streaming engine runs answer to the same SQL as their batch twins. */
  val oracles: Map[String, String] = oraclesBase ++ Map(
    "q_stream_sliding_agg" -> oraclesBase("q_sliding_agg"),
    "q_stream_session_window" -> oraclesBase("q_session_window_native"),
    "q_stream_dedupe" -> (T +
      """SELECT DISTINCT md5(trim(regexp_replace(lower(substr(text, 1, 16)), '\s+', ' ', 'g'))) AS ckey
        |FROM transcripts""".stripMargin))
}

package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.model.{PairedTurn, Turn}
import graft.ops.Windows

/** The flagship stateful operator (BASELINE.json north_star): join each
  * assistant/tool turn to the most recent user turn within the same
  * session (gap-bounded), per conversation.
  *
  * This recreates the reference's cache-hydration join pattern
  * (reference: config/examples/joining_streams.yaml:23-56 — comments are
  * joined to their article via a keyed cache branch) as explicit keyed
  * state: the "cache" is the group state, the TTL is the session gap
  * enforced by event-time timeout against the watermark.
  *
  * Three forms, proven equal by SessionJoinSpec:
  *  - `pairTurns`      pure Scala on one conversation's turns (the spec)
  *  - `pairBatch`      window-function form (oracle-checkable in DuckDB)
  *  - `pairStreaming`  flatMapGroupsWithState over per-conversation state
  *                     stored through the versioned `StateEnvelope` codec
  *                     (the one streaming operator)
  */
object SessionJoin {

  val DefaultGapSeconds = 1800L

  /** Reference semantics on a single conversation, pure and total: cut
    * the turns into sessions (`sessions`); each assistant/tool turn pairs
    * with the latest user turn seen earlier in its session.
    */
  def pairTurns(turns: Seq[Turn], gapSeconds: Long = DefaultGapSeconds): Seq[PairedTurn] =
    sessions(turns, gapSeconds).zipWithIndex.flatMap { case (s, i) => pairSession(i, s) }

  /** The one session cut, shared by `pairTurns` and `splitClosed`: sort
    * by (ts, turn_idx) — ts at full precision, like the batch form's
    * window order (`before`) — and start a new session where the gap to
    * the previous turn exceeds `gapSeconds`. Gaps compare at SECOND
    * resolution (epoch-second floor, the `unix_timestamp` semantics of
    * the batch form) so all three forms agree on sub-second timestamps.
    */
  private def sessions(turns: Seq[Turn], gapSeconds: Long): List[List[Turn]] = {
    val out = List.newBuilder[List[Turn]]
    var cur = List.newBuilder[Turn]
    var prev = Long.MinValue
    turns.sortWith(before).foreach { t =>
      val sec = Math.floorDiv(t.ts.getTime, 1000L)
      if (prev != Long.MinValue && sec - prev > gapSeconds) { out += cur.result(); cur = List.newBuilder }
      cur += t
      prev = sec
    }
    if (prev != Long.MinValue) out += cur.result()
    out.result()
  }

  /** The pairs of one session, in order, numbered `sessionId`. */
  private def pairSession(sessionId: Long, session: List[Turn]): List[PairedTurn] = {
    var lastUser: Turn = null
    val out = List.newBuilder[PairedTurn]
    session.foreach { t =>
      if (t.role == "user") lastUser = t
      else if (lastUser != null)
        out += PairedTurn(t.conv_id, sessionId, lastUser.turn_idx, lastUser.text,
          t.turn_idx, t.role, t.text, t.tool, lastUser.ts, t.ts)
    }
    out.result()
  }

  /** (ts, turn_idx) order with ts at full precision: `Timestamp.compareTo`
    * compares the epoch millisecond, then the nanos, so it keeps the
    * microseconds a Spark timestamp (and the state envelope) carries and
    * `getTime` alone drops — two turns in one millisecond would otherwise
    * fall back to turn_idx order where the batch form orders them by ts.
    * A comparison, not a tuple key: it sorts without allocating.
    */
  private def before(a: Turn, b: Turn): Boolean = {
    val c = a.ts.compareTo(b.ts)
    c < 0 || (c == 0 && a.turn_idx < b.turn_idx)
  }

  /** Batch/window-function form — one shuffle on conv_id shared by both
    * window specs; DuckDB can replicate it verbatim (oracle in SparkEntry).
    */
  def pairBatch(df: DataFrame, gapSeconds: Long = DefaultGapSeconds): DataFrame = {
    val sessioned =
      Windows.sessionize(df, col("conv_id"), col("ts"), gapSeconds, Seq(col("turn_idx")))
    val ws = Window.partitionBy(col("conv_id"), col("session_id"))
      .orderBy(col("ts"), col("turn_idx"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val userStruct = when(col("role") === "user",
      struct(col("turn_idx"), col("text"), col("ts")))
    sessioned
      .withColumn("__u", last(userStruct, ignoreNulls = true).over(ws))
      .filter(col("role") =!= "user" && col("__u").isNotNull)
      .select(
        col("conv_id"), col("session_id"),
        col("__u.turn_idx").as("user_turn_idx"),
        col("__u.text").as("user_text"),
        col("turn_idx").as("reply_turn_idx"),
        col("role").as("reply_role"),
        col("text").as("reply_text"),
        col("tool").as("reply_tool"),
        col("__u.ts").as("user_ts"),
        col("ts").as("reply_ts"))
  }

  /** Keyed state: turns buffered until the watermark passes the end of the
    * conversation's last open session. Kept deliberately small
    * (SURVEY.md §7.3): at 10^12-turn scale state size per key is bounded
    * by one session's turns, and the event-time timeout guarantees
    * eviction. Persisted as a version-tagged binary value
    * (`StateEnvelope`), never as a Catalyst struct, so a layout change is
    * a decoder case, not a state rebuild.
    */
  case class ConvState(buffered: List[Turn], flushedSessions: Long)

  /** Streaming form. Emits a session's pairs exactly once, when the
    * watermark passes (last turn ts + gap) — the point the reference's
    * window buffer would flush (buffer_system_window.go:421-428), but
    * data-driven instead of wall-clock.
    *
    * Late-data contract: Spark 4.1's flatMapGroupsWithState already drops
    * input rows at or behind the late-events watermark
    * (`applyRemovingRowsOlderThanWatermark`, so pre-1970 rows never reach
    * the group function at watermark 0). `processConv` also drops turns
    * older than the current watermark — the reference's own rule
    * (messages older than the last flushed window are purged,
    * buffer_system_window.go:333-336); which of the two rules decides at
    * their boundary is not pinned by a spec. Turns arriving after their
    * conversation's flush but within the watermark open a NEW session.
    *
    * Flush happens on BOTH paths, not just timeout: a continuously-active
    * conversation receives data every micro-batch, so its timeout slot is
    * superseded forever and `hasTimedOut` never fires — without the eager
    * data-path flush its watermark-closed sessions would sit in state
    * until the conversation finally goes quiet (unbounded state for hot
    * keys at 10^12-turn scale, and pairs withheld arbitrarily long; found
    * by the skew-heavy bench's pair-count sanity gate, round 4). The eager
    * flush is guarded by a min-buffered-ts check so conversations with
    * nothing closable pay nothing.
    */
  def pairStreaming(
      turns: Dataset[Turn],
      gapSeconds: Long = DefaultGapSeconds,
      lateness: String = "10 minutes"): Dataset[PairedTurn] = {
    val spark = turns.sparkSession
    import spark.implicits._
    turns
      .withWatermark("ts", lateness)
      .groupByKey(_.conv_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        processConv(gapSeconds))
  }

  private def processConv(gapSeconds: Long)(
      convId: String,
      incoming: Iterator[Turn],
      state: GroupState[Array[Byte]]): Iterator[PairedTurn] = {
    val old = state.getOption.map(StateEnvelope.decode(convId, _)).getOrElse(ConvState(Nil, 0L))
    val wm = state.getCurrentWatermarkMs()
    if (state.hasTimedOut) {
      if (old.buffered.isEmpty) {
        // tombstone (counts only, nothing buffered): evict — bounded state
        // at 10^12-conv scale. A conv reappearing after this restarts its
        // session numbering, like the reference's expired cache entries.
        state.remove()
        Iterator.empty
      } else flushAndRearm(old, Nil, gapSeconds, wm, state)
    } else {
      // Drop turns behind the current watermark (Spark drops those behind
      // the late-events one before this runs): reference drop rule
      // buffer_system_window.go:333-336.
      val fresh = incoming.filter(t => wm == 0 || t.ts.getTime >= wm).toList
      if (old.buffered.isEmpty && fresh.isEmpty) Iterator.empty
      else flushAndRearm(old, fresh, gapSeconds, wm, state)
    }
  }

  /** Shared flush step for BOTH the data and the timeout path: append the
    * batch's turns, emit every watermark-closed session, keep the open
    * tail, and re-arm the timeout for the FIRST open session's close
    * point. The timer must target the first-open close, not the
    * buffer-max close: a multi-session buffer armed at (maxTs + gap)
    * only becomes flushable after the LAST session closes, which for a
    * conversation active until end-of-input is never — its earlier,
    * long-closed sessions would stay in state and their pairs would
    * never emit (found by the skew-heavy bench's pair-count sanity gate).
    * A timer may thus fire while the first session is still open; the
    * flush is then empty and the timer re-arms at the (now known exactly)
    * close point.
    */
  private def flushAndRearm(
      old: ConvState,
      freshTurns: List[Turn],
      gapSeconds: Long,
      wm: Long,
      state: GroupState[Array[Byte]]): Iterator[PairedTurn] = {
    val buf = old.buffered ++ freshTurns
    val (closed, open, firstOpenEnd) = splitClosed(buf, gapSeconds, wm)
    val pairs = closed.iterator.zipWithIndex
      .flatMap { case (s, i) => pairSession(old.flushedSessions + i, s) }
    state.update(StateEnvelope.encode(ConvState(open, old.flushedSessions + closed.size)))
    if (open.isEmpty)
      // everything closed: keep a tombstone one more gap (numbering
      // continuity for stragglers), then the timeout branch evicts it
      state.setTimeoutTimestamp(wm + gapSeconds * 1000)
    else
      state.setTimeoutTimestamp(math.max(closePointMs(firstOpenEnd, gapSeconds), wm + 1))
    pairs
  }

  /** The watermark value at which a session ending at `tsMs` is safely
    * closed. Must agree with the FLOOR-SECOND merge rule segmentation
    * uses (`sec2 - sec1 <= gap` merges): the latest mergeable turn has
    * ts up to `(floorSec(tsMs) + gap + 1) * 1000 - 1`, so only a
    * watermark AT or past the next millisecond guarantees any such turn
    * is late-droppable. Closing on the raw-millisecond rule
    * (`wm > tsMs + gap*1000`) left a 999 ms window where a non-late
    * fractional-timestamp turn would merge in the batch oracle but open
    * a new session in streaming (latent divergence — unreachable with
    * TranscriptGen's whole-second timestamps, real for general inputs;
    * pinned by SessionJoinSpec's fractional-timestamp case).
    */
  private[streaming] def closePointMs(tsMs: Long, gapSeconds: Long): Long =
    (Math.floorDiv(tsMs, 1000L) + gapSeconds + 1) * 1000L

  /** Split a conversation's buffer into watermark-closed leading sessions
    * and the still-open tail, cut by `sessions`; a session is closed when
    * the watermark reached its `closePointMs` — the same predicate as the
    * timeout slot. The third value is a lower bound on the first open
    * session's end ts (exact when the buffer was cut; the buffer min ts
    * on the guarded fast path) — what the caller's timer should target.
    * The O(n) min-ts guard keeps the common quiet-conversation case free
    * of any sorting or session cutting.
    */
  private[streaming] def splitClosed(
      buf: List[Turn], gapSeconds: Long, wm: Long): (List[List[Turn]], List[Turn], Long) = {
    if (buf.isEmpty) return (Nil, Nil, 0L)
    val minTs = buf.iterator.map(_.ts.getTime).min
    if (wm <= 0 || wm < closePointMs(minTs, gapSeconds)) return (Nil, buf, minTs)
    val (closed, open) = sessions(buf, gapSeconds)
      .span(s => wm >= closePointMs(s.last.ts.getTime, gapSeconds))
    (closed, open.flatten, open.headOption.map(_.last.ts.getTime).getOrElse(0L))
  }

  /** Hot-key salting (SURVEY.md §4 item 3): pre-shuffle the stream by
    * (conv_id, salt) so one hot conversation spreads over `salt` tasks for
    * the expensive per-turn work, before the final per-conv state stage.
    * Spark's stateful op re-shuffles on the group key regardless; salting
    * pays off for the map-heavy stages before it.
    */
  def saltedRepartition(df: DataFrame, partitions: Int, salt: Int): DataFrame =
    df.repartition(partitions,
      col("conv_id"), pmod(col("turn_idx"), lit(salt)))
}

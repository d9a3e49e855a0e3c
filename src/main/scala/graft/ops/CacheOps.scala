package graft.ops

import java.sql.Timestamp
import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** The reference's `cache` processor operator family — set / add / get /
  * delete against a named keyed store, its only cross-message state
  * primitive (reference: internal/old/processor/cache.go:40-45 operator
  * docs, :157 config; cookbook join config/examples/joining_streams.yaml).
  *
  * Two tiers, proven equivalent by CacheSpec:
  *
  *  - BATCH: an op log (key, op, value, ord) is a DataFrame; applying it is
  *    window math over one hash(key) shuffle — `materialize` yields the
  *    final store contents, `addAnnotate` marks failed `add`s, `get`
  *    hydrates rows from a store. This is the 100 TB shape: no driver
  *    state, one exchange, all per-key work fused into the window stage.
  *
  *  - STREAMING: `streamApply` runs the same op semantics as keyed state
  *    (mapGroupsWithState) with an event-time TTL — the reference's
  *    `default_ttl` — and watermark-driven eviction.
  *
  * Reference operator contracts (cache.go footnotes):
  *   set    — overwrite unconditionally
  *   add    — fails with "key already exists" when present (error flag)
  *   get    — replaces payload with the cached value; fails when absent
  *   delete — removes; no-op when absent
  */
object CacheOps {

  val KeyExists = "key already exists"
  val KeyNotFound = "key does not exist"

  // ------------------------------------------------------------ batch tier

  /** `add` over a batch: the first op per key (by `ord`) wins; every later
    * row gets the reference's "key already exists" error flag. The
    * reference's dedupe cookbook (cache.go example 1) is exactly this +
    * dropping errored rows — see `dedupeViaAdd`.
    */
  def addAnnotate(df: DataFrame, key: Column, ord: Column): DataFrame = {
    val w = Window.partitionBy(key).orderBy(ord)
    Errors.withErrorCol(df)
      .withColumn(Errors.ErrCol,
        when(row_number().over(w) > 1, lit(KeyExists)).otherwise(col(Errors.ErrCol)))
  }

  /** The reference's dedupe-via-cache pattern: `add` + drop errored rows
    * (`root = if errored() { deleted() }`). Equals Dedupe.exactFirst.
    */
  def dedupeViaAdd(df: DataFrame, key: Column, ord: Column): DataFrame =
    addAnnotate(df, key, ord).filter(col(Errors.ErrCol).isNull).drop(Errors.ErrCol)

  /** Replay an op log and return the final store contents (key, value).
    *
    * Per-key semantics, ops ordered by `ord`:
    * after the last `delete` (or from the start if none), the value is the
    * LAST `set` if any — `set` always overwrites — otherwise the FIRST
    * successful `add` (an `add` onto a live entry fails and writes
    * nothing). Pure window math: one shuffle on the key, two window
    * passes, no state machine materialized anywhere.
    *
    * With `ttlSeconds` + `asOf`, entries last written at or before
    * `asOf - ttl` have expired ("eligible for removal during the next
    * compaction", cache.go ttl field doc).
    */
  def materialize(
      ops: DataFrame,
      key: Column,
      op: Column,
      value: Column,
      ord: Column,
      tsCol: Option[Column] = None,
      ttlSeconds: Long = 0L,
      asOf: Option[Column] = None): DataFrame = {
    val w = Window.partitionBy(col("__k")).orderBy(col("__ord"))
    val wAll = Window.partitionBy(col("__k"))
    val base = ops.select(
      key.as("__k"), op.as("__op"), value.as("__v"), ord.as("__ord"),
      tsCol.getOrElse(lit(null).cast("timestamp")).as("__ts"))
      .withColumn("__rn", row_number().over(w))
    val staged = base
      .withColumn("__last_del",
        coalesce(max(when(col("__op") === "delete", col("__rn"))).over(wAll), lit(0)))
      .withColumn("__last_set",
        max(when(col("__op") === "set" && col("__rn") > col("__last_del"), col("__rn"))).over(wAll))
      .withColumn("__first_add",
        min(when(col("__op") === "add" && col("__rn") > col("__last_del"), col("__rn"))).over(wAll))
      .withColumn("__chosen", coalesce(col("__last_set"), col("__first_add")))
      .filter(col("__rn") === col("__chosen"))
    val live = (ttlSeconds, asOf) match {
      case (ttl, Some(now)) if ttl > 0 =>
        staged.filter(unix_timestamp(col("__ts")) + ttl > unix_timestamp(now))
      case _ => staged
    }
    live.select(col("__k").as("key"), col("__v").as("value"),
      col("__ts").as("written_at"))
  }

  /** `get`: hydrate each row with the store value for its key; rows whose
    * key is absent get the reference's "key does not exist" error flag
    * (cache.go `get` contract). The store is dimension-sized → broadcast;
    * the fact side is never shuffled.
    */
  def get(df: DataFrame, store: DataFrame, key: Column, outField: String): DataFrame = {
    val dim = broadcast(store.select(col("key").as("__gk"), col("value").as(outField)))
    Errors.withErrorCol(df)
      .join(dim, key === col("__gk"), "left")
      .withColumn(Errors.ErrCol,
        when(col("__gk").isNull, lit(KeyNotFound)).otherwise(col(Errors.ErrCol)))
      .drop("__gk")
  }

  /** cache_multilevel (internal/impl/pure/cache_multilevel.go:109-128 Get,
    * :130-143 write-through Set, :145-183 Add-contends-on-any-level): N
    * stores combined as levels — the lowest level holding a key serves it
    * (read-through; promotion is the persistence form of this combined
    * view), and `get`/`addAnnotate` against the view give exactly the
    * reference's multilevel get/add contracts because a key exists in the
    * view iff it exists in any level. One hash(key) shuffle over
    * dimension-sized stores; the winning level is kept as `level`.
    */
  def multilevelView(levels: Seq[DataFrame]): DataFrame = {
    require(levels.nonEmpty, "multilevel cache needs at least one level")
    val tagged = levels.zipWithIndex.map { case (l, i) =>
      l.select(col("key"), col("value"), lit(i).as("level"))
    }
    val w = Window.partitionBy(col("key")).orderBy(col("level"))
    tagged.reduce(_.unionByName(_))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  // -------------------------------------------------------- streaming tier

  /** One cache operation in a stream. `op` ∈ set|add|get|delete; `ord` is
    * a stable per-key ordinal that breaks exact-timestamp ties (the
    * oracle's ORDER BY ts, turn_idx — op name is not a safe stand-in once
    * two ops can share a ts).
    */
  final case class CacheOp(key: String, op: String, value: String, ts: Timestamp,
      ord: Int = 0)

  /** Result of one operation: `value` is the cached value for `get`s,
    * `errored` carries the reference's error-flag contract.
    */
  final case class CacheOut(key: String, op: String, value: String,
      errored: Boolean, ts: Timestamp)

  /** Keyed-state record: one live entry per key (public — the state
    * encoder's codegen needs constructor access).
    */
  final case class Entry(value: String, writtenAtMs: Long)

  /** Apply an op stream against keyed state with an event-time TTL.
    *
    * State per key is one Entry; expired entries (opTs - writtenAt > ttl)
    * read as absent, exactly the reference's per-key TTL. Eviction is
    * watermark-driven (EventTimeTimeout): a key whose entry has expired
    * AND whose timeout fires is removed — state is bounded by the live-key
    * count, never the stream length.
    */
  def streamApply(
      ops: Dataset[CacheOp],
      ttlSeconds: Long,
      lateness: String): Dataset[CacheOut] = {
    val spark = ops.sparkSession
    import spark.implicits._
    ops.withWatermark("ts", lateness)
      .groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        applyOps(ttlSeconds))
  }

  private[graft] def applyOps(ttlSeconds: Long)(
      key: String,
      incoming: Iterator[CacheOp],
      state: GroupState[Entry]): Iterator[CacheOut] = {
    val wm = state.getCurrentWatermarkMs()
    if (state.hasTimedOut) {
      // TTL passed with no fresh ops: compaction removes the entry.
      state.remove()
      Iterator.empty
    } else {
      var entry = state.getOption.orNull
      def liveAt(tMs: Long): Boolean =
        entry != null && (ttlSeconds <= 0 || tMs - entry.writtenAtMs < ttlSeconds * 1000)
      val out = Seq.newBuilder[CacheOut]
      // file-stream arrival order ≠ ts order: apply in event-time order so
      // replay equals the batch window form (CacheSpec parity).
      // `Timestamp.compareTo` orders by epoch ms, then nanos: full
      // precision, before 1970 too, without a key allocated per
      // comparison; `ord` (the caller's stable ordinal, e.g. turn_idx)
      // breaks exact-ts ties the same way the oracle's ORDER BY ts,
      // turn_idx does
      incoming.toSeq.sortWith { (a, b) =>
        val c = a.ts.compareTo(b.ts)
        c < 0 || (c == 0 && a.ord < b.ord)
      }.foreach { o =>
        val t = o.ts.getTime
        o.op match {
          case "set" =>
            entry = Entry(o.value, t)
            out += CacheOut(key, "set", o.value, errored = false, o.ts)
          case "add" =>
            if (liveAt(t)) out += CacheOut(key, "add", null, errored = true, o.ts)
            else { entry = Entry(o.value, t); out += CacheOut(key, "add", o.value, errored = false, o.ts) }
          case "get" =>
            if (liveAt(t)) out += CacheOut(key, "get", entry.value, errored = false, o.ts)
            else out += CacheOut(key, "get", null, errored = true, o.ts)
          case "delete" =>
            entry = null
            out += CacheOut(key, "delete", null, errored = false, o.ts)
          case other =>
            out += CacheOut(key, other, null, errored = true, o.ts)
        }
      }
      if (entry == null) state.remove()
      else {
        state.update(entry)
        if (ttlSeconds > 0)
          // evict once the watermark passes the entry's expiry
          state.setTimeoutTimestamp(
            math.max(entry.writtenAtMs + ttlSeconds * 1000 + 1, wm + 1))
      }
      out.result().iterator
    }
  }
}

package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The reference's `rate_limit` resource + processor (reference:
  * internal/impl/pure/rate_limit_local.go:54-92 token bucket;
  * internal/old/processor/rate_limit.go:45 pipeline-stage access).
  *
  * Three Spark-native mappings, by where the limit applies:
  *
  *  1. INGEST: `maxFilesPerTrigger` / `maxOffsetsPerTrigger` on the source
  *     (the Flagship already uses this) — the cluster-correct way to bound
  *     intake, applied by the engine, not per row.
  *
  *  2. PIPELINE STAGE (`tokenBucket` + `throttle`): the reference's exact
  *     X-per-Y blocking semantics for stages that guard an external
  *     service. Each partition gets its own bucket sized count/parallelism
  *     — how a distributed rate limit shards; the aggregate admission rate
  *     across P partitions is the configured count.
  *
  *  3. EVENT-TIME PLAN (`annotateOverflow`): the batch/replay analogue —
  *     rows beyond `count` within each event-time interval are flagged
  *     (route to drop_on/DLQ or defer downstream). Window math over one
  *     shuffle; SQL-expressible, so it carries the oracle for the family.
  */
object RateLimit {

  /** The reference's local token bucket, verbatim semantics
    * (rate_limit_local.go:75-92): `access()` returns 0 when admitted, else
    * the wait until the next refill. `clock` is injectable for tests.
    */
  final class TokenBucket(count: Int, intervalMs: Long,
      clock: () => Long = () => System.currentTimeMillis()) extends Serializable {
    require(count > 0, "count must be larger than zero")
    private var bucket = count
    private var lastRefresh = clock()

    def accessMs(): Long = synchronized {
      bucket -= 1
      if (bucket < 0) {
        bucket = 0
        val remaining = intervalMs - (clock() - lastRefresh)
        if (remaining > 0) return remaining
        bucket = count - 1
        lastRefresh = clock()
      }
      0L
    }

    /** Block until admitted — the processor's behavior (rate_limit.go:82). */
    def acquire(): Unit = {
      var wait = accessMs()
      while (wait > 0) { Thread.sleep(wait); wait = accessMs() }
    }
  }

  /** Pipeline-stage throttle: rows pass through at ≤ count per interval
    * aggregate. The bucket divides across partitions (ceil so the limit is
    * never under-provisioned to the point of starving a partition).
    */
  def throttle(df: DataFrame, count: Int, intervalMs: Long): DataFrame = {
    val parts = math.max(df.rdd.getNumPartitions, 1)
    // ceil: the limit is never under-provisioned to the point of starving
    // a partition. Note when parts > count every partition still gets a
    // 1-token bucket, so the aggregate admission rate is parts/interval >
    // count/interval — shrink the partition count (coalesce) if the
    // configured rate must be a hard aggregate bound.
    val perPart = math.max((count + parts - 1) / parts, 1)
    val enc = org.apache.spark.sql.Encoders.row(df.schema)
    df.mapPartitions { rows =>
      val bucket = new TokenBucket(perPart, intervalMs)
      rows.map { r => bucket.acquire(); r }
    }(enc)
  }

  /** Event-time admission plan: flag every row past `count` within its
    * `intervalSeconds` bucket (ordered by `ord` within the bucket) — the
    * replayable, deterministic form. One shuffle on the bucket key.
    *
    * Scale note: ranking within a bucket serializes that bucket into one
    * task, so this shape fits when rows-per-interval is task-sized (true
    * whenever the configured rate is the binding constraint — the point
    * of a rate limit). For intervals far above task size, shrink the
    * interval (count and interval scale together: 1M/min == 16.7k/s) —
    * the admission decision is per-interval-local, so the rewrite is
    * exact, not an approximation.
    */
  def annotateOverflow(
      df: DataFrame,
      ts: Column,
      ord: Column,
      count: Int,
      intervalSeconds: Long): DataFrame = {
    val bucket = floor(unix_timestamp(ts) / intervalSeconds)
    val w = Window.partitionBy(bucket).orderBy(ord)
    df.withColumn("throttled", row_number().over(w) > count)
  }

  /** One row's admission verdict from the streaming limiter. */
  final case class RlOut(conv_id: String, turn_idx: Int, throttled: Boolean,
      ts: java.sql.Timestamp)

  /** Keyed-state admission counter (public: state encoder codegen). */
  final case class BucketCount(admitted: Long)

  /** The rate limiter as a SHARED streaming stage: the admission counter
    * is keyed state on the event-time bucket, carried across micro-batches
    * and checkpoint resumes — the streaming analogue of the reference's
    * named rate_limit resource that multiple stages consult
    * (rate_limit_local.go:54-92; processor access rate_limit.go:45).
    * Rows beyond `count` within a bucket are flagged, exactly
    * `annotateOverflow`'s event-time rule (the oracle is shared). Bucket
    * state is one counter, evicted when the watermark passes bucket end.
    */
  def streamAnnotate(
      turns: org.apache.spark.sql.Dataset[graft.model.Turn],
      count: Int,
      intervalSeconds: Long,
      lateness: String): org.apache.spark.sql.Dataset[RlOut] = {
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    val spark = turns.sparkSession
    import spark.implicits._
    turns.withWatermark("ts", lateness)
      .groupByKey(t => bucketOf(t.ts, intervalSeconds))
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        admit(count, intervalSeconds))
  }

  /** `ts`'s event-time bucket: floored, like `annotateOverflow`'s, so a
    * pre-1970 second lands in a negative bucket, not in bucket 0.
    */
  private[graft] def bucketOf(ts: java.sql.Timestamp, intervalSeconds: Long): Long =
    Math.floorDiv(ts.getTime, intervalSeconds * 1000)

  private[graft] def admit(count: Int, intervalSeconds: Long)(
      bucket: Long,
      incoming: Iterator[graft.model.Turn],
      state: org.apache.spark.sql.streaming.GroupState[BucketCount]): Iterator[RlOut] = {
    if (state.hasTimedOut) {
      state.remove()
      Iterator.empty
    } else {
      // the counter ranks EVERY row (throttled included), matching the
      // row_number() form; within a batch, event-time order at FULL
      // microsecond precision (`Timestamp.compareTo`: epoch ms, then
      // nanos, before 1970 too, without a key allocated per comparison),
      // so two rows in the same bucket differing only sub-millisecond
      // are not re-ranked vs the oracle's ORDER BY ts
      var n = state.getOption.map(_.admitted).getOrElse(0L)
      val out = incoming.toSeq
        .sortWith { (a, b) =>
          val c = a.ts.compareTo(b.ts)
          if (c != 0) c < 0
          else {
            val k = a.conv_id.compareTo(b.conv_id)
            k < 0 || (k == 0 && a.turn_idx < b.turn_idx)
          }
        }
        .map { t =>
          n += 1
          RlOut(t.conv_id, t.turn_idx, n > count, t.ts)
        }
      state.update(BucketCount(n))
      state.setTimeoutTimestamp(math.max(
        (bucket + 1) * intervalSeconds * 1000 + 1,
        state.getCurrentWatermarkMs() + 1))
      out.iterator
    }
  }
}

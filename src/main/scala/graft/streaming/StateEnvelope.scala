package graft.streaming

import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets.UTF_8
import java.sql.Timestamp
import graft.model.BufTurn

/** Versioned state envelope: the codec for the session join's persisted
  * per-conversation state (`SessionJoin.pairStreaming`). The state value
  * is a BINARY blob carrying a 1-byte version tag, decoded through
  * per-version shims on read and written at the version the operator is
  * given (the current one unless a test builds a legacy checkpoint).
  * Spark validates a CATALYST state schema on restore, so any case-class
  * change (e.g. the conv_id slim) would force a full state rebuild; a
  * binary column's schema never changes, and the tag moves the
  * compatibility decision into this codec, where an old layout is a
  * read-path migration instead of a rebuild. SessionJoinSpec stops a
  * query writing VERSION 1 and resumes it writing later versions,
  * exactly-once output intact.
  *
  * Versions:
  *   1 — legacy layout (reference for migration): per buffered turn
  *       {conv_id, turn_idx, role, text, tool, tsMs}; the conv_id is
  *       redundant (it is the state key) and is DROPPED on read.
  *   2 — slim layout: {turn_idx, role, text, tool, tsMs}. Millisecond
  *       ts, so it truncated sub-millisecond input timestamps (emitted
  *       pairs then disagreed with the batch form on microsecond data).
  *   3 — current layout: v2 with ts as epoch MICROseconds (Spark's
  *       timestamp resolution). v1/v2 state reads with its ms precision.
  */
object StateEnvelope {

  val CurrentVersion = 3

  /** Epoch microseconds of `ts` — Spark's own timestamp resolution, so a
    * buffered turn's ts round-trips exactly.
    */
  private def toMicros(ts: Timestamp): Long =
    Math.floorDiv(ts.getTime, 1000L) * 1000000L + ts.getNanos / 1000

  private def fromMicros(us: Long): Timestamp = {
    val ts = new Timestamp(Math.floorDiv(us, 1000000L) * 1000L)
    ts.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
    ts
  }

  private def utf8(s: String): Array[Byte] = if (s == null) null else s.getBytes(UTF_8)

  /** Encode at an explicit version (tests write older versions to
    * exercise the migration shims; production writes CurrentVersion).
    * Big-endian; a string is its UTF-8 byte length (-1 for null), then
    * the bytes.
    */
  def encode(convId: String, st: SessionJoin.ConvState, version: Int = CurrentVersion): Array[Byte] = {
    if (version < 1 || version > CurrentVersion)
      throw new IllegalArgumentException(s"unknown state version $version")
    val key = if (version == 1) utf8(convId) else null // legacy layout carried the key
    val strs = st.buffered.iterator
      .flatMap(t => Iterator(utf8(t.role), utf8(t.text), utf8(t.tool))).toArray
    def sized(b: Array[Byte]) = 4 + (if (b == null) 0 else b.length)
    val perTurn = 4 + 8 + (if (version == 1) sized(key) else 0)
    val bb = ByteBuffer.allocate(1 + 8 + 4 + st.buffered.size * perTurn + strs.map(sized).sum)
    def putStr(b: Array[Byte]): Unit =
      if (b == null) bb.putInt(-1) else { bb.putInt(b.length); bb.put(b) }
    bb.put(version.toByte).putLong(st.flushedSessions).putInt(st.buffered.size)
    var i = 0
    st.buffered.foreach { t =>
      if (version == 1) putStr(key)
      bb.putInt(t.turn_idx)
      putStr(strs(i)); putStr(strs(i + 1)); putStr(strs(i + 2))
      i += 3
      bb.putLong(if (version < 3) t.ts.getTime else toMicros(t.ts))
    }
    bb.array()
  }

  /** Decode any known version — the migration shims live here. */
  def decode(bytes: Array[Byte]): SessionJoin.ConvState = {
    val bb = ByteBuffer.wrap(bytes)
    val ver = bb.get()
    if (ver < 1 || ver > CurrentVersion)
      throw new IllegalStateException(s"unknown state version $ver in checkpoint")
    def getStr(): String = {
      val n = bb.getInt()
      if (n < 0) null
      else {
        val s = new String(bytes, bb.position(), n, UTF_8)
        bb.position(bb.position() + n)
        s
      }
    }
    val flushed = bb.getLong()
    val n = bb.getInt()
    val buf = List.newBuilder[BufTurn]
    (0 until n).foreach { _ =>
      if (ver == 1) getStr(): Unit // legacy conv_id: redundant, dropped
      val idx = bb.getInt()
      val role = getStr()
      val text = getStr()
      val tool = getStr()
      val ts = if (ver < 3) new Timestamp(bb.getLong()) else fromMicros(bb.getLong())
      buf += BufTurn(idx, role, text, tool, ts)
    }
    SessionJoin.ConvState(buf.result(), flushed)
  }
}

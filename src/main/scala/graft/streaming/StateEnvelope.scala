package graft.streaming

import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets.UTF_8
import java.sql.Timestamp
import graft.model.Turn

/** Versioned state envelope: the codec for the session join's persisted
  * per-conversation state (`SessionJoin.pairStreaming`). The state value
  * is a BINARY blob carrying a 1-byte version tag. Spark validates a
  * CATALYST state schema on restore, so any case-class change would
  * force a full state rebuild; a binary column's schema never changes,
  * and the tag moves the compatibility decision into this codec: a value
  * written at another layout is rejected by its tag on read instead of
  * being misread.
  *
  * Layout (version 3): {flushedSessions, n, then per buffered turn
  * {turn_idx, role, text, tool, ts as epoch MICROseconds}} — conv_id is
  * the state key, so the value leaves it out and `decode` takes it back
  * from the caller; microsecond ts is Spark's timestamp resolution.
  * Versions 1 (conv_id per turn) and 2 (millisecond ts, which truncated
  * sub-millisecond input timestamps) are retired, and their tags are
  * rejected like any unknown one.
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

  /** Encode at `CurrentVersion`. Big-endian; a string is its UTF-8 byte
    * length (-1 for null), then the bytes.
    */
  def encode(st: SessionJoin.ConvState): Array[Byte] = {
    val strs = st.buffered.iterator
      .flatMap(t => Iterator(utf8(t.role), utf8(t.text), utf8(t.tool))).toArray
    def sized(b: Array[Byte]) = 4 + (if (b == null) 0 else b.length)
    val bb = ByteBuffer.allocate(1 + 8 + 4 + st.buffered.size * (4 + 8) + strs.map(sized).sum)
    def putStr(b: Array[Byte]): Unit =
      if (b == null) bb.putInt(-1) else { bb.putInt(b.length); bb.put(b) }
    bb.put(CurrentVersion.toByte).putLong(st.flushedSessions).putInt(st.buffered.size)
    var i = 0
    st.buffered.foreach { t =>
      bb.putInt(t.turn_idx)
      putStr(strs(i)); putStr(strs(i + 1)); putStr(strs(i + 2))
      i += 3
      bb.putLong(toMicros(t.ts))
    }
    bb.array()
  }

  /** Decode a `CurrentVersion` value of state key `convId`, which every
    * decoded turn shares; any other tag is rejected.
    */
  def decode(convId: String, bytes: Array[Byte]): SessionJoin.ConvState = {
    val bb = ByteBuffer.wrap(bytes)
    val ver = bb.get()
    if (ver != CurrentVersion)
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
    val buf = List.newBuilder[Turn]
    (0 until n).foreach { _ =>
      val idx = bb.getInt()
      val role = getStr()
      val text = getStr()
      val tool = getStr()
      buf += Turn(convId, idx, role, text, tool, fromMicros(bb.getLong()))
    }
    SessionJoin.ConvState(buf.result(), flushed)
  }
}

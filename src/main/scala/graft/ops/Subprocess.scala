package graft.ops

import java.io.{InputStream, OutputStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.StringType

/** subprocess processor (SURVEY.md §2.4; reference:
  * internal/old/processor/subprocess.go:76-87): pipe each message's content
  * to a long-lived external command's stdin and read one framed reply; a
  * stdout reply REPLACES the message, a stderr reply marks it failed (error
  * column set, content unchanged — subprocess.go:475-483 with the V2→V1
  * error wrap).
  *
  * Codec semantics are the reference's exactly
  * (subprocess.go:120-176, 253-301):
  *   - `lines`: payload split on '\n'; each line is sent + '\n' and one
  *     reply awaited before the next line is fed (subprocess.go:155-173);
  *     replies re-join with '\n'. A trailing empty line is preserved
  *     without a round-trip.
  *   - `length_prefixed_uint32_be`: 4-byte big-endian length prefix.
  *   - `netstring`: `<len>:<payload>,`.
  *
  * Spark mapping: [[Errors.rowLoop]] with ONE subprocess per partition — the
  * exact analogue of the reference's process-per-pipeline-thread
  * (pipeline.threads × subprocess, constructor.go:45-48): partition count
  * is the parallelism knob, rows stream through without materialising the
  * partition, and the process lives for the task's lifetime. At 100 TB
  * this is the only shape that works: no per-row fork, no driver funnel;
  * throughput scales with executors exactly like the reference scales with
  * threads. Like the reference ("It is required that subprocesses flush
  * their stdout and stderr pipes for each line"), the child must flush per
  * reply — `cat`, `sed -u`, `awk '{...; fflush()}'`.
  */
object Subprocess {

  /** Run `cmd` over `textCol`, replacing it with the subprocess reply,
    * through [[Errors.rowLoop]] (null = healthy error column). A stderr
    * reply fails its row only. A reply that misses `replyTimeoutSec`, or
    * a child that has stopped reading, fails its row and the child: it is
    * killed and a fresh one serves the rest of the partition.
    */
  def pipe(
      df: DataFrame,
      cmd: Seq[String],
      textCol: String = "text",
      codecSend: String = "lines",
      codecRecv: String = "lines",
      maxBuffer: Int = 1 << 20,
      replyTimeoutSec: Int = 60): DataFrame = {
    require(Codecs.contains(codecSend), s"unrecognized codec_send value: $codecSend")
    require(Codecs.contains(codecRecv), s"invalid codec_recv option: $codecRecv")
    val textIdx = df.schema.fieldIndex(textCol)
    require(df.schema(textIdx).dataType == StringType, s"$textCol must be STRING")
    Errors.rowLoop(df)(new Child(cmd, codecRecv, maxBuffer, replyTimeoutSec)) { (child, row) =>
      val payload = row.getString(textIdx)
      if (payload == null) Errors.Keep
      else child.roundTrip(codecSend, payload).fold(Errors.Fail(_), r => Errors.Put(textCol -> r))
    }
  }

  val Codecs: Set[String] = Set("lines", "length_prefixed_uint32_be", "netstring")

  /** A reply missed its deadline: the child is out of frame sync (its late
    * reply would answer the NEXT message) and must be replaced.
    */
  private[ops] final class NoReply(msg: String) extends java.io.IOException(msg)

  /** One live subprocess: framed writer + two pump threads multiplexing
    * stdout/stderr frames onto a tagged queue (the reference's
    * stdoutChan/stderrChan select, subprocess.go:441-457).
    */
  private[ops] final class Child(cmd: Seq[String], codecRecv: String, maxBuf: Int,
      timeoutSec: Int) extends Errors.Resource {
    private val pb = new ProcessBuilder(cmd: _*)
    private val process = pb.start()
    private val stdin: OutputStream = process.getOutputStream
    // (isErr, frame)
    private val replies = new LinkedBlockingQueue[(Boolean, Array[Byte])]()
    private val outPump = pump(process.getInputStream, isErr = false, framed = true)
    private val errPump = pump(process.getErrorStream, isErr = true, framed = false)

    private def pump(in: InputStream, isErr: Boolean, framed: Boolean): Thread = {
      val t = new Thread(() => {
        try {
          val codec = if (framed) codecRecv else "lines" // stderr is always line-scanned (subprocess.go:368-383)
          Frames.scan(in, codec, maxBuf)(frame => replies.put((isErr, frame)))
        } catch { case _: Throwable => () }
      })
      t.setDaemon(true)
      t.start()
      t
    }

    /** Send one message and await one reply; Left(stderr text) marks it
      * failed. Throws when the child is broken: [[NoReply]] past the
      * deadline, an IOException when it no longer reads its stdin.
      */
    def roundTrip(codecSend: String, payload: String): Either[String, String] =
      codecSend match {
        case "lines" =>
          // Multi-line messages: one round-trip per line, responses joined
          // (subprocess.go:155-173; trailing empty kept without a send).
          val lines = payload.split("\n", -1)
          val out = new ArrayBuffer[String](lines.length)
          var err: String = null
          var i = 0
          while (i < lines.length && err == null) {
            if (lines(i).isEmpty && lines.length > 1 && i == lines.length - 1) out += ""
            else send(lines(i).getBytes(UTF_8), None) match {
              case Right(r) => out += new String(r, UTF_8)
              case Left(e) => err = e
            }
            i += 1
          }
          if (err != null) Left(err) else Right(out.mkString("\n"))
        case "length_prefixed_uint32_be" =>
          val p = payload.getBytes(UTF_8)
          val pre = Array[Byte](
            (p.length >>> 24).toByte, (p.length >>> 16).toByte,
            (p.length >>> 8).toByte, p.length.toByte)
          send(p, Some((pre, Array.emptyByteArray))).map(new String(_, UTF_8))
        case "netstring" =>
          val p = payload.getBytes(UTF_8)
          send(p, Some((s"${p.length}:".getBytes(UTF_8), ",".getBytes(UTF_8))))
            .map(new String(_, UTF_8))
      }

    private def send(payload: Array[Byte],
        frame: Option[(Array[Byte], Array[Byte])]): Either[String, Array[Byte]] = {
      frame match {
        case Some((pro, epi)) =>
          stdin.write(pro); stdin.write(payload); stdin.write(epi)
        case None =>
          stdin.write(payload); stdin.write('\n')
      }
      stdin.flush()
      val reply = replies.poll(timeoutSec.toLong, TimeUnit.SECONDS)
      if (reply == null)
        throw new NoReply(s"subprocess ${cmd.head}: no reply within ${timeoutSec}s (child must flush per line)")
      else if (!reply._1) Right(reply._2)
      else {
        // Flush any immediately-following stderr frames into one error
        // (the reference's 1s flushErrLoop, subprocess.go:445-456).
        val buf = new ArrayBuffer[Byte]() ++= reply._2
        var more = replies.poll(50, TimeUnit.MILLISECONDS)
        while (more != null && more._1) {
          buf ++= more._2
          more = replies.poll(50, TimeUnit.MILLISECONDS)
        }
        if (more != null) replies.put(more) // stdout frame raced in; keep it
        Left(new String(buf.toArray, UTF_8))
      }
    }

    /** Kill the child and whatever it started (a `system()` call, a shell). */
    override def kill(): Unit = {
      graft.util.Proc.killTree(process.toHandle)
      try stdin.close() catch { case _: Throwable => () }
    }

    /** Close stdin and give the child 5 s to exit, then kill it and what
      * it started.
      */
    def close(): Unit = {
      try stdin.close() catch { case _: Throwable => () }
      if (!process.waitFor(5, TimeUnit.SECONDS)) graft.util.Proc.killTree(process.toHandle)
      outPump.join(1000)
      errPump.join(1000)
    }
  }

  /** Incremental frame scanners mirroring the reference split funcs
    * (subprocess.go:253-301): `lines` strips a trailing '\r' like Go's
    * bufio.ScanLines; netstring validates the leading length and trailing
    * comma; length-prefixed reads a u32 BE prefix.
    */
  private object Frames {
    def scan(in: InputStream, codec: String, maxBuf: Int)(emit: Array[Byte] => Unit): Unit =
      codec match {
        case "lines" => scanLines(in, maxBuf)(emit)
        case "length_prefixed_uint32_be" => scanLenPrefixed(in, maxBuf)(emit)
        case "netstring" => scanNetstring(in, maxBuf)(emit)
      }

    private def scanLines(in: InputStream, maxBuf: Int)(emit: Array[Byte] => Unit): Unit = {
      val buf = new ArrayBuffer[Byte]()
      var b = in.read()
      while (b >= 0) {
        if (b == '\n') {
          val n = if (buf.nonEmpty && buf.last == '\r') buf.length - 1 else buf.length
          emit(buf.take(n).toArray)
          buf.clear()
        } else {
          if (buf.length >= maxBuf) throw new IllegalStateException("subprocess reply exceeds max_buffer")
          buf += b.toByte
        }
        b = in.read()
      }
    }

    private def readN(in: InputStream, n: Int): Array[Byte] = {
      val out = new Array[Byte](n)
      var off = 0
      while (off < n) {
        val r = in.read(out, off, n - off)
        if (r < 0) throw new java.io.EOFException("subprocess closed mid-frame")
        off += r
      }
      out
    }

    private def scanLenPrefixed(in: InputStream, maxBuf: Int)(emit: Array[Byte] => Unit): Unit = {
      var eof = false
      while (!eof) {
        val b0 = in.read()
        if (b0 < 0) eof = true
        else {
          val pre = readN(in, 3)
          // u32 BE can exceed Int.MaxValue (negative after the shift) and a
          // corrupt child can claim gigabytes — both must error like the
          // other codecs, not allocate or kill the pump thread
          val len = ((b0 & 0xffL) << 24) | ((pre(0) & 0xffL) << 16) |
            ((pre(1) & 0xffL) << 8) | (pre(2) & 0xffL)
          if (len > maxBuf) throw new IllegalStateException(
            s"length-prefixed frame of $len bytes exceeds max_buffer")
          emit(readN(in, len.toInt))
        }
      }
    }

    private def scanNetstring(in: InputStream, maxBuf: Int)(emit: Array[Byte] => Unit): Unit = {
      var eof = false
      while (!eof) {
        var len = -1L
        var b = in.read()
        if (b < 0) eof = true
        else {
          if (b == ':') throw new IllegalStateException(
            "encountered invalid netstring: netstring starts with colon (':')")
          len = 0
          while (b != ':' && !eof) {
            if (b < '0' || b > '9') throw new IllegalStateException(
              s"encountered invalid netstring: unable to decode length")
            len = len * 10 + (b - '0')
            if (len > maxBuf) throw new IllegalStateException("netstring length exceeds max_buffer")
            b = in.read()
            if (b < 0) eof = true
          }
          if (!eof) {
            emit(readN(in, len.toInt))
            val comma = in.read()
            if (comma != ',') throw new IllegalStateException(
              "encountered invalid netstring: trailing comma-character is missing")
          }
        }
      }
    }
  }
}

package graft.sources

import java.io.{BufferedReader, InputStream, InputStreamReader, OutputStream}
import java.net.{InetSocketAddress, StandardProtocolFamily, UnixDomainSocketAddress}
import java.net.DatagramPacket
import java.nio.channels.{Channels, ServerSocketChannel, SocketChannel}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.UUID
import java.util.concurrent.atomic.AtomicBoolean

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** socket family (SURVEY.md §2.2/§2.3; reference:
  * internal/old/input/socket.go, socket_server.go,
  * internal/old/output/writer/socket.go): lines-codec messages over
  * tcp / unix / udp.
  *
  * Spark mapping: the server input is a receiver thread that stages each
  * connection's decoded messages as an atomically-renamed spool file which
  * a file stream consumes — durable and replayable (UPGRADE over the
  * reference's in-memory at-least-once: a crash between receive and
  * process replays from the spool, and the spool is the WAL a multi-node
  * cluster needs anyway since an executor-local socket would pin ingest to
  * one host). The client input maps to Spark's built-in `socket` format
  * (same client-connect lines semantics; Spark documents it as
  * non-fault-tolerant, matching the reference's ephemeral socket read).
  * The output writes lines over one connection per partition — the
  * per-pipeline-thread connection of the reference.
  */
object Socket {

  /** Running server handle: `address` is "host:port" (tcp), the socket
    * path (unix), or "host:port" (udp).
    */
  final class ServerHandle(val address: String, stopFlag: AtomicBoolean,
      closeable: AutoCloseable) {
    def stop(): Unit = { stopFlag.set(true); try closeable.close() catch { case _: Throwable => () } }
  }

  /** socket_server input (socket_server.go:27-35): bind, accept, decode
    * each connection's byte stream with the lines codec, stage to
    * `spoolDir`. tcp binds 127.0.0.1:0 when `address` is null.
    */
  def serverSource(network: String, address: String, spoolDir: String): ServerHandle = {
    Files.createDirectories(Paths.get(spoolDir))
    val stop = new AtomicBoolean(false)
    network match {
      case "tcp" =>
        val ch = ServerSocketChannel.open()
        ch.bind(if (address == null) new InetSocketAddress("127.0.0.1", 0)
          else { val Array(h, p) = address.split(":"); new InetSocketAddress(h, p.toInt) })
        val bound = ch.getLocalAddress.asInstanceOf[InetSocketAddress]
        acceptLoop(ch, stop, spoolDir)
        new ServerHandle(s"${bound.getHostString}:${bound.getPort}", stop, ch)
      case "unix" =>
        // with no address, the socket lives in a temp dir of its own that
        // goes when the server stops
        val own = if (address == null) Some(graft.util.Tmp.dir("graft-sock")) else None
        val path = own.fold(address)(d => s"$d/s.sock")
        val ch = ServerSocketChannel.open(StandardProtocolFamily.UNIX)
        ch.bind(UnixDomainSocketAddress.of(path))
        acceptLoop(ch, stop, spoolDir)
        new ServerHandle(path, stop, () => { ch.close(); own.foreach(graft.util.Tmp.delete) })
      case "udp" =>
        val sock = new java.net.DatagramSocket(
          if (address == null) new InetSocketAddress("127.0.0.1", 0)
          else { val Array(h, p) = address.split(":"); new InetSocketAddress(h, p.toInt) })
        val t = new Thread(() => {
          val buf = new Array[Byte](65536)
          while (!stop.get()) {
            try {
              val pkt = new DatagramPacket(buf, buf.length)
              sock.receive(pkt)
              // one datagram = one message (socket_server.go udp branch);
              // at scale batch packets per spool file via a flush interval
              spool(spoolDir, Seq(new String(pkt.getData, pkt.getOffset, pkt.getLength, UTF_8)))
            } catch { case _: Throwable => () }
          }
        })
        t.setDaemon(true); t.start()
        new ServerHandle(s"127.0.0.1:${sock.getLocalPort}", stop,
          () => sock.close())
      case other => throw new IllegalArgumentException(s"socket network '$other' is not supported")
    }
  }

  private def acceptLoop(ch: ServerSocketChannel, stop: AtomicBoolean, spoolDir: String): Unit = {
    val t = new Thread(() => {
      while (!stop.get()) {
        try {
          val conn = ch.accept()
          val worker = new Thread(() => handleConn(conn, spoolDir))
          worker.setDaemon(true); worker.start()
        } catch { case _: Throwable => () }
      }
    })
    t.setDaemon(true); t.start()
  }

  /** Read a connection with the lines codec; one spool file per
    * connection, renamed into place only when complete so the file stream
    * never sees a partial batch.
    */
  private def handleConn(conn: SocketChannel, spoolDir: String): Unit = {
    val lines = scala.collection.mutable.ArrayBuffer[String]()
    try {
      val r = new BufferedReader(new InputStreamReader(Channels.newInputStream(conn), UTF_8))
      var l = r.readLine()
      while (l != null) { lines += l; l = r.readLine() }
    } finally {
      try conn.close() catch { case _: Throwable => () }
      if (lines.nonEmpty) spool(spoolDir, lines.toSeq)
    }
  }

  private def spool(spoolDir: String, lines: Seq[String]): Unit = {
    val dir = Paths.get(spoolDir)
    val tmp = dir.resolve(s".tmp-${UUID.randomUUID()}")
    Files.write(tmp, lines.mkString("", "\n", "\n").getBytes(UTF_8))
    Files.move(tmp, dir.resolve(s"conn-${UUID.randomUUID()}.txt"),
      StandardCopyOption.ATOMIC_MOVE)
  }

  /** The staged stream over a server source's spool (streaming + batch). */
  def stream(spark: SparkSession, spoolDir: String): DataFrame =
    spark.readStream.text(spoolDir).select(col("value").as("content"))

  def batch(spark: SparkSession, spoolDir: String): DataFrame =
    spark.read.text(spoolDir).select(col("value").as("content"))

  /** socket input, client mode, bounded (codec consumes until the remote
    * closes): connect, read all lines, return a local DataFrame.
    */
  def clientBatch(spark: SparkSession, network: String, address: String): DataFrame = {
    val (in, _, close) = connect(network, address)
    val lines = scala.collection.mutable.ArrayBuffer[String]()
    try {
      val r = new BufferedReader(new InputStreamReader(in, UTF_8))
      var l = r.readLine()
      while (l != null) { lines += l; l = r.readLine() }
    } finally close()
    import spark.implicits._
    lines.toSeq.toDF("content")
  }

  /** socket output (writer/socket.go:41-63): write `textCol` as lines, one
    * connection per partition (executors connect directly — no driver
    * funnel; the reference's single connection per pipeline thread).
    */
  def write(df: DataFrame, network: String, address: String, textCol: String = "content"): Unit = {
    val idx = df.schema.fieldIndex(textCol)
    df.foreachPartition { (rows: Iterator[org.apache.spark.sql.Row]) =>
      if (rows.hasNext) {
        val (_, out, close) = connect(network, address)
        try {
          rows.foreach { r =>
            val s = r.getString(idx)
            if (s != null) { out.write(s.getBytes(UTF_8)); out.write('\n') }
          }
          out.flush()
        } finally close()
      }
    }
  }

  /** foreachBatch adapter for streaming writes. */
  def sink(network: String, address: String, textCol: String = "content")(
      batch: DataFrame, batchId: Long): Unit = write(batch, network, address, textCol)

  private def connect(network: String, address: String): (InputStream, OutputStream, () => Unit) =
    network match {
      case "tcp" =>
        val Array(h, p) = address.split(":")
        val s = new java.net.Socket(h, p.toInt)
        (s.getInputStream, s.getOutputStream, () => s.close())
      case "unix" =>
        val ch = SocketChannel.open(UnixDomainSocketAddress.of(address))
        (Channels.newInputStream(ch), Channels.newOutputStream(ch), () => ch.close())
      case other => throw new IllegalArgumentException(s"socket network '$other' is not supported")
    }
}

package graft

import java.io.{BufferedReader, InputStreamReader, PrintWriter}
import java.net.{ServerSocket, Socket => JSocket}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.sql.streaming.Trigger
import graft.sources.Socket

/** socket / socket_server input + socket output (reference:
  * internal/old/input/socket.go, socket_server.go,
  * internal/old/output/writer/socket.go; socket_test.go round-trips).
  */
class SocketSpec extends SparkTestBase {
  import spark.implicits._

  private def sendLines(network: String, address: String, lines: Seq[String]): Unit = {
    network match {
      case "tcp" =>
        val Array(h, p) = address.split(":")
        val s = new JSocket(h, p.toInt)
        val w = new PrintWriter(s.getOutputStream, true)
        lines.foreach(w.println)
        w.flush(); s.close()
      case "unix" =>
        val ch = java.nio.channels.SocketChannel.open(
          java.net.UnixDomainSocketAddress.of(address))
        val out = java.nio.channels.Channels.newOutputStream(ch)
        out.write(lines.mkString("", "\n", "\n").getBytes(UTF_8))
        out.flush(); ch.close()
    }
  }

  private def awaitSpool(dir: String, nFiles: Int): Unit = {
    val deadline = System.currentTimeMillis() + 10000
    while (Files.list(java.nio.file.Paths.get(dir)).filter(p =>
        !p.getFileName.toString.startsWith(".")).count() < nFiles
        && System.currentTimeMillis() < deadline) Thread.sleep(20)
  }

  test("tcp socket_server stages each connection and the stream reads it (socket_server.go)") {
    val spool = tempDir("sock-spool").toString
    val h = Socket.serverSource("tcp", null, spool)
    try {
      sendLines("tcp", h.address, Seq("a1", "a2"))
      sendLines("tcp", h.address, Seq("b1"))
      awaitSpool(spool, 2)
      assert(Socket.batch(spark, spool).as[String].collect().sorted.toSeq == Seq("a1", "a2", "b1"))
      // streaming form over the same spool
      val out = tempDir("sock-out").toString
      val ck = tempDir("sock-ck").toString
      Socket.stream(spark, spool).writeStream
        .format("parquet").option("path", out)
        .option("checkpointLocation", ck)
        .trigger(Trigger.AvailableNow()).start().awaitTermination(30000)
      assert(spark.read.parquet(out).as[String].collect().sorted.toSeq == Seq("a1", "a2", "b1"))
    } finally h.stop()
  }

  test("unix socket_server round-trips (Java 17 AF_UNIX)") {
    val spool = tempDir("sock-spool-u").toString
    val h = Socket.serverSource("unix", null, spool)
    try {
      sendLines("unix", h.address, Seq("u1", "u2", "u3"))
      awaitSpool(spool, 1)
      assert(Socket.batch(spark, spool).as[String].collect().sorted.toSeq == Seq("u1", "u2", "u3"))
    } finally h.stop()
  }

  test("udp socket_server: one datagram = one message") {
    val spool = tempDir("sock-spool-d").toString
    val h = Socket.serverSource("udp", null, spool)
    try {
      val Array(host, port) = h.address.split(":")
      val s = new java.net.DatagramSocket()
      for (m <- Seq("d1", "d2")) {
        val b = m.getBytes(UTF_8)
        s.send(new java.net.DatagramPacket(b, b.length,
          java.net.InetAddress.getByName(host), port.toInt))
      }
      s.close()
      awaitSpool(spool, 2)
      assert(Socket.batch(spark, spool).as[String].collect().sorted.toSeq == Seq("d1", "d2"))
    } finally h.stop()
  }

  test("socket client input, bounded: reads lines until remote closes (socket.go)") {
    val srv = new ServerSocket(0, 8, java.net.InetAddress.getByName("127.0.0.1"))
    val t = new Thread(() => {
      val c = srv.accept()
      val w = new PrintWriter(c.getOutputStream, true)
      Seq("c1", "c2", "c3").foreach(w.println)
      w.flush(); c.close()
    })
    t.setDaemon(true); t.start()
    val got = Socket.clientBatch(spark, "tcp", s"127.0.0.1:${srv.getLocalPort}")
      .as[String].collect().toSeq
    srv.close()
    assert(got == Seq("c1", "c2", "c3"))
  }

  test("socket output writes lines, one connection per partition (writer/socket.go)") {
    val received = new ConcurrentLinkedQueue[String]()
    val srv = new ServerSocket(0, 16, java.net.InetAddress.getByName("127.0.0.1"))
    val t = new Thread(() => {
      while (!srv.isClosed) {
        try {
          val c = srv.accept()
          val worker = new Thread(() => {
            val r = new BufferedReader(new InputStreamReader(c.getInputStream, UTF_8))
            var l = r.readLine()
            while (l != null) { received.add(l); l = r.readLine() }
            c.close()
          })
          worker.setDaemon(true); worker.start()
        } catch { case _: Throwable => () }
      }
    })
    t.setDaemon(true); t.start()
    val df = (1 to 20).map(i => s"row-$i").toDF("content").repartition(3)
    Socket.write(df, "tcp", s"127.0.0.1:${srv.getLocalPort}")
    val deadline = System.currentTimeMillis() + 10000
    while (received.size < 20 && System.currentTimeMillis() < deadline) Thread.sleep(20)
    srv.close()
    assert(received.size == 20)
    assert((1 to 20).map(i => s"row-$i").toSet ==
      scala.jdk.CollectionConverters.IteratorHasAsScala(received.iterator()).asScala.toSet)
  }
}

package graft

import java.net.URI
import java.net.http.{HttpClient => JHttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.sources.Http
import graft.ops.Errors

/** http_server input, sync_response output, http_client input/output, http
  * processor (reference: internal/old/input/http_server.go,
  * internal/old/output/sync_response.go + internal/transaction/
  * result_store.go, internal/old/input/http_client.go,
  * internal/old/processor/http.go).
  */
class HttpSpec extends SparkTestBase {
  import spark.implicits._

  private val client = JHttpClient.newBuilder().version(JHttpClient.Version.HTTP_1_1).build()

  private def post(url: String, body: String): String =
    client.send(
      HttpRequest.newBuilder(URI.create(url)).POST(HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.ofString()).body()

  test("http_server stages one message per POST body, with request ids (http_server.go:58)") {
    val spool = tempDir("http-spool").toString
    val h = Http.serverSource(spool)
    try {
      post(h.url(), "hello world")
      post(h.url(), "multi\nline body")
      val got = Http.batch(spark, spool)
      val rows = got.collect().map(r => (r.getString(0), r.getString(1)))
      assert(rows.map(_._1).sorted.toSeq == Seq("hello world", "multi\nline body"))
      assert(rows.map(_._2).distinct.length == 2)
      assert(rows.forall(_._2.matches("[0-9a-f-]{36}")))
      // streaming parity
      val out = tempDir("http-out").toString
      val ck = tempDir("http-ck").toString
      Http.stream(spark, spool).writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ck)
        .trigger(Trigger.AvailableNow()).start().awaitTermination(30000)
      assert(spark.read.parquet(out).select("content").as[String].collect().sorted.toSeq ==
        Seq("hello world", "multi\nline body"))
    } finally h.stop()
  }

  test("sync_response returns the processed payload to the originating request (sync_response.go doc example)") {
    val spool = tempDir("http-sync-spool").toString
    val h = Http.serverSource(spool, syncTimeoutMs = 30000)
    // pipeline: uppercase the staged stream, deliver via sync_response
    val ck = tempDir("http-sync-ck").toString
    val q = Http.stream(spark, spool)
      .withColumn("content", upper(col("content")))
      .writeStream
      .foreachBatch(Http.syncResponseSink(s"http://127.0.0.1:${h.port}") _)
      .option("checkpointLocation", ck)
      .trigger(Trigger.ProcessingTime("200 milliseconds"))
      .start()
    try {
      // the reference doc example: POST 'hello world' → respond 'HELLO WORLD'
      assert(post(h.url(), "hello world") == "HELLO WORLD")
      assert(post(h.url(), "second") == "SECOND")
    } finally { q.stop(); h.stop() }
  }

  test("http processor: 2xx response replaces content; failures mark the error column (http.go:103-113)") {
    val df = Seq((0, "abc"), (1, "def")).toDF("id", "text")
    val out = Http.enrich(df, Http.echoUpperUrl)
      .orderBy("id").select("text", Errors.ErrCol).as[(String, String)].collect()
    assert(out.toSeq == Seq(("ABC", null), ("DEF", null)))

    val bad = Http.enrich(df, "http://127.0.0.1:1/upper")
      .orderBy("id").select("text", Errors.ErrCol).as[(String, String)].collect()
    assert(bad.forall { case (t, e) => (t == "abc" || t == "def") && e != null })
  }

  test("http_client input polls and decodes lines (http_client.go)") {
    // serve two lines per GET
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 16)
    val n = new java.util.concurrent.atomic.AtomicInteger(0)
    server.createContext("/feed", (ex: com.sun.net.httpserver.HttpExchange) => {
      val i = n.incrementAndGet()
      val body = s"tick-$i\ntock-$i\n".getBytes(UTF_8)
      ex.sendResponseHeaders(200, body.length.toLong)
      ex.getResponseBody.write(body)
      ex.close()
    })
    server.start()
    try {
      val got = Http.clientPoll(spark, s"http://127.0.0.1:${server.getAddress.getPort}/feed", 2)
        .as[String].collect().toSeq
      assert(got == Seq("tick-1", "tock-1", "tick-2", "tock-2"))
    } finally server.stop(0)
  }

  test("http_client output POSTs one request per row") {
    val received = new ConcurrentLinkedQueue[String]()
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 16)
    server.setExecutor(java.util.concurrent.Executors.newCachedThreadPool())
    server.createContext("/sink", (ex: com.sun.net.httpserver.HttpExchange) => {
      received.add(new String(ex.getRequestBody.readAllBytes(), UTF_8))
      ex.sendResponseHeaders(200, -1)
      ex.close()
    })
    server.start()
    try {
      val df = (1 to 10).map(i => s"msg-$i").toDF("content").repartition(3)
      Http.post(df, s"http://127.0.0.1:${server.getAddress.getPort}/sink")
      assert(scala.jdk.CollectionConverters.IteratorHasAsScala(received.iterator())
        .asScala.toSet == (1 to 10).map(i => s"msg-$i").toSet)
    } finally server.stop(0)
  }
}

package graft.sources

import java.net.{InetSocketAddress, URI}
import java.net.http.{HttpClient => JHttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.UUID
import java.util.concurrent.{ConcurrentHashMap, Executors, LinkedBlockingQueue, TimeUnit}

import com.sun.net.httpserver.{HttpExchange, HttpServer}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.Errors

/** HTTP family (SURVEY.md §2.2/§2.3/§2.4; reference:
  * internal/old/input/http_server.go, internal/old/output/sync_response.go +
  * internal/transaction/result_store.go:98-110, internal/old/input/
  * http_client.go, internal/old/processor/http.go).
  *
  * Spark mapping:
  *  - `http_server` input: a JDK HttpServer whose POST handler stages each
  *    request body as an atomically-renamed spool file; a file stream
  *    consumes the spool. Durable and replayable (the reference holds the
  *    request open until the pipeline acks; we ack on durable staging — the
  *    same at-least-once point, but crash-safe and multi-executor-readable).
  *  - `sync_response` output: the reference stores the processed message in
  *    a per-request ResultStore that the origin http_server awaits
  *    (result_store.go:98-110). Here the store is HTTP-addressable: the
  *    sink task POSTs the result to the origin server's internal
  *    `/respond/<request_id>` endpoint, which completes the still-open
  *    client exchange. Executors complete responses directly — no driver
  *    funnel, works across a cluster, and degrades exactly like the
  *    reference when no sync response arrives (plain ack).
  *  - `http_client` input: bounded polling GETs (lines codec per response).
  *  - `http` processor: per-row request from `Errors.rowLoop` with one
  *    shared client per partition (the reference's `parallel` batch mode =
  *    partition parallelism); a 2xx body REPLACES the message, anything
  *    else marks the error column and keeps the content
  *    (http.go:103-113 + processor error contract).
  *  - `http_client` output: per-partition POST-per-row.
  */
object Http {

  // TCP_NODELAY on every accepted socket: without it each loopback
  // request/response pair stalls ~40 ms in the Nagle/delayed-ACK
  // interaction, which dominates per-row enrichment latency.
  System.setProperty("sun.net.httpserver.nodelay", "true")

  // ---------------------------------------------------------------- server

  /** HttpServer.start() spawns a NON-daemon dispatcher thread; a
    * never-stopped server would pin the JVM open after main returns
    * (Verify/Bench must exit naturally). Thread daemon status is
    * inherited, so starting from a short-lived daemon thread makes every
    * server thread a daemon.
    */
  private def startDaemon(server: HttpServer): Unit = {
    val t = new Thread(() => server.start())
    t.setDaemon(true)
    t.start()
    t.join()
  }

  final class ServerHandle(server: HttpServer, val port: Int, val spoolDir: String) {
    def url(path: String = "/post"): String = s"http://127.0.0.1:$port$path"
    def stop(): Unit = server.stop(0)
  }

  /** http_server input. `syncTimeoutMs > 0` enables synchronous responses:
    * the handler keeps the exchange open until a `sync_response` arrives at
    * `/respond/<id>` or the timeout elapses (then it acks with 200 and an
    * empty body, the reference's response-less path).
    */
  def serverSource(spoolDir: String, path: String = "/post",
      syncTimeoutMs: Long = 0): ServerHandle = {
    Files.createDirectories(Paths.get(spoolDir))
    val pending = new ConcurrentHashMap[String, LinkedBlockingQueue[String]]()
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 64)
    server.setExecutor(Executors.newCachedThreadPool { r =>
      val t = new Thread(r); t.setDaemon(true); t
    })
    server.createContext(path, (ex: HttpExchange) => {
      try {
        val body = new String(ex.getRequestBody.readAllBytes(), UTF_8)
        val id = UUID.randomUUID().toString
        val waiter = if (syncTimeoutMs > 0) {
          val q = new LinkedBlockingQueue[String](1)
          pending.put(id, q)
          q
        } else null
        spool(spoolDir, id, body)
        val reply =
          if (waiter == null) ""
          else {
            val r = waiter.poll(syncTimeoutMs, TimeUnit.MILLISECONDS)
            pending.remove(id)
            if (r == null) "" else r
          }
        val bytes = reply.getBytes(UTF_8)
        ex.sendResponseHeaders(200, if (bytes.isEmpty) -1 else bytes.length.toLong)
        if (bytes.nonEmpty) ex.getResponseBody.write(bytes)
      } finally ex.close()
    })
    // sync_response completion endpoint (the HTTP-addressable ResultStore).
    server.createContext("/respond/", (ex: HttpExchange) => {
      try {
        val id = ex.getRequestURI.getPath.stripPrefix("/respond/")
        val body = new String(ex.getRequestBody.readAllBytes(), UTF_8)
        val q = pending.get(id)
        val code = if (q != null && q.offer(body)) 200 else 404
        ex.sendResponseHeaders(code, -1)
      } finally ex.close()
    })
    startDaemon(server)
    new ServerHandle(server, server.getAddress.getPort, spoolDir)
  }

  private def spool(spoolDir: String, id: String, body: String): Unit = {
    val dir = Paths.get(spoolDir)
    val tmp = dir.resolve(s".tmp-$id")
    Files.write(tmp, body.getBytes(UTF_8))
    Files.move(tmp, dir.resolve(s"req-$id.txt"), StandardCopyOption.ATOMIC_MOVE)
  }

  /** The staged request stream: one row per POST (whole body = one
    * message, http_server.go:350 metadata → `request_id` column).
    */
  def stream(spark: SparkSession, spoolDir: String): DataFrame =
    spark.readStream.option("wholetext", "true").text(spoolDir)
      .select(col("value").as("content"),
        regexp_extract(input_file_name(), "req-([0-9a-f-]+)\\.txt", 1).as("request_id"))

  def batch(spark: SparkSession, spoolDir: String): DataFrame =
    spark.read.option("wholetext", "true").text(spoolDir)
      .select(col("value").as("content"),
        regexp_extract(input_file_name(), "req-([0-9a-f-]+)\\.txt", 1).as("request_id"))

  // ---------------------------------------------------------- sync_response

  /** sync_response output: deliver each row's `textCol` as the response to
    * its originating request (`idCol`). foreachBatch adapter; each
    * partition's task completes its own responses against the origin.
    */
  def syncResponseSink(originUrl: String, textCol: String = "content",
      idCol: String = "request_id")(batch: DataFrame, batchId: Long): Unit = {
    val tIdx = batch.schema.fieldIndex(textCol)
    val iIdx = batch.schema.fieldIndex(idCol)
    batch.foreachPartition { (rows: Iterator[Row]) =>
      if (rows.hasNext) {
        val client = newClient()
        rows.foreach { r =>
          val id = r.getString(iIdx)
          val body = Option(r.getString(tIdx)).getOrElse("")
          val req = HttpRequest.newBuilder(URI.create(s"$originUrl/respond/$id"))
            .POST(HttpRequest.BodyPublishers.ofString(body)).build()
          client.send(req, HttpResponse.BodyHandlers.discarding())
        }
      }
    }
  }

  // ----------------------------------------------------------------- client

  private def newClient(): JHttpClient =
    JHttpClient.newBuilder().version(JHttpClient.Version.HTTP_1_1).build()

  /** http_client input (http_client.go): poll `url` `n` times, lines codec
    * over each response body.
    */
  def clientPoll(spark: SparkSession, url: String, n: Int, intervalMs: Long = 0): DataFrame = {
    val client = newClient()
    val lines = (0 until n).flatMap { i =>
      if (i > 0 && intervalMs > 0) Thread.sleep(intervalMs)
      val res = client.send(
        HttpRequest.newBuilder(URI.create(url)).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      res.body().split("\n", -1).toSeq.filter(_.nonEmpty)
    }
    import spark.implicits._
    lines.toDF("content")
  }

  /** http processor (http.go:103-113): per-row request through
    * [[graft.ops.Errors.rowLoop]]; 2xx body replaces `textCol`, failures
    * set the error column and keep the content.
    */
  def enrich(df: DataFrame, url: String, textCol: String = "text",
      method: String = "POST"): DataFrame = {
    val tIdx = df.schema.fieldIndex(textCol)
    Errors.rowLoop(df)(Errors.Held(newClient())) { (client, row) =>
      val payload = row.getString(tIdx)
      if (payload == null) Errors.Keep
      else try {
        val req = HttpRequest.newBuilder(URI.create(url))
          .method(method, HttpRequest.BodyPublishers.ofString(payload)).build()
        val res = client.get.send(req, HttpResponse.BodyHandlers.ofString())
        if (res.statusCode() / 100 == 2) Errors.Put(textCol -> res.body())
        else Errors.Fail(s"HTTP ${res.statusCode()}")
      } catch {
        case e: Exception => Errors.Fail(s"http request failed: ${e.getMessage}")
      }
    }
  }

  /** http_client output: POST each row's `textCol`, one client per
    * partition.
    */
  def post(df: DataFrame, url: String, textCol: String = "content"): Unit = {
    val idx = df.schema.fieldIndex(textCol)
    df.foreachPartition { (rows: Iterator[Row]) =>
      if (rows.hasNext) {
        val client = newClient()
        rows.foreach { r =>
          val s = r.getString(idx)
          if (s != null) {
            client.send(
              HttpRequest.newBuilder(URI.create(url))
                .POST(HttpRequest.BodyPublishers.ofString(s)).build(),
              HttpResponse.BodyHandlers.discarding())
          }
        }
      }
    }
  }

  // ------------------------------------------------------------ test echo

  /** JVM-lifetime uppercase echo service backing the oracle-checked
    * `q_http_enrich` (any deterministic pure transform works; uppercase is
    * DuckDB-mirrorable). Lazily started, daemon threads, never stopped —
    * the stand-in for the external enrichment service the `http` processor
    * calls in production.
    */
  lazy val echoUpperUrl: String = {
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 64)
    server.setExecutor(Executors.newCachedThreadPool { r =>
      val t = new Thread(r); t.setDaemon(true); t
    })
    server.createContext("/upper", (ex: HttpExchange) => {
      try {
        val body = new String(ex.getRequestBody.readAllBytes(), UTF_8)
        val out = body.toUpperCase(java.util.Locale.ROOT).getBytes(UTF_8)
        ex.sendResponseHeaders(200, if (out.isEmpty) -1 else out.length.toLong)
        if (out.nonEmpty) ex.getResponseBody.write(out)
      } finally ex.close()
    })
    startDaemon(server)
    s"http://127.0.0.1:${server.getAddress.getPort}/upper"
  }
}

package graft.ops

import java.net.{InetSocketAddress, URI}
import java.net.http.{HttpClient => JHttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.{ConcurrentHashMap, Executors}
import java.util.concurrent.atomic.AtomicInteger

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.sun.net.httpserver.{HttpExchange, HttpServer}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.{BinaryType, StringType}

import graft.blob.{Avro, Proto}

/** schema_registry_{encode,decode} processors (SURVEY.md §2.4; reference:
  * internal/impl/confluent/processor_schema_registry_decode.go,
  * processor_schema_registry_encode.go). Confluent wire format: magic
  * byte 0x00 + u32 BE schema id + Avro binary (extractID decode.go:181-193,
  * insertID encode.go:233-240).
  *
  *  - decode: extract the id, fetch `GET {url}/schemas/ids/{id}` (Accept
  *    `application/vnd.schemaregistry.v1+json`, up to 3 attempts, 404 is
  *    terminal — decode.go:249-296), decode the remaining bytes to Avro
  *    JSON text (unions wrapped — [[graft.blob.Avro]]).
  *  - encode: fetch `GET {url}/subjects/{subject}/versions/latest` →
  *    `{id, schema}` (encode.go:286-347), encode a standard-JSON document
  *    to Avro binary and frame it.
  *
  * Failures follow the processor error contract: the error column is set
  * and the input column is left unchanged (the reference's per-message
  * SetError, encode.go:181-205).
  *
  * Spark mapping: [[Errors.rowLoop]] with one HTTP client per partition and
  * a JVM-global schema cache (the reference caches per process with a
  * single-flight request mutex, decode.go:224-244 — an executor JVM is
  * the process analogue, so each executor fetches a schema once, not once
  * per task; at 1000 executors a schema id costs 1000 registry hits
  * total, not one per row or partition). The reference's 10-minute
  * staleness purge and `refresh_period` re-poll (encode.go:240-283)
  * become a loadedAt timestamp checked on access — same refresh bound,
  * no background thread to leak from an executor.
  */
object SchemaRegistry {

  // ----------------------------------------------------------- wire frame

  /** insertID (encode.go:233-240). */
  def frame(id: Int, body: Array[Byte]): Array[Byte] = {
    val out = new Array[Byte](body.length + 5)
    out(1) = (id >>> 24).toByte; out(2) = (id >>> 16).toByte
    out(3) = (id >>> 8).toByte; out(4) = id.toByte
    System.arraycopy(body, 0, out, 5, body.length)
    out
  }

  /** extractID (decode.go:181-193): returns (id, payload offset 5). */
  def extractId(b: Array[Byte]): Int = {
    if (b == null || b.length == 0)
      throw new IllegalArgumentException("message is empty")
    if (b(0) != 0)
      throw new IllegalArgumentException(
        s"serialization format version number ${b(0)} not supported")
    if (b.length < 5)
      throw new IllegalArgumentException("message truncated before schema id")
    ((b(1) & 0xff) << 24) | ((b(2) & 0xff) << 16) | ((b(3) & 0xff) << 8) | (b(4) & 0xff)
  }

  /** Confluent protobuf message-index path (wire_format.go analogue /
    * ProtobufSchemaSerializer): after the schema id comes a zigzag-varint
    * array — count, then each index into the schema's (nested) message
    * declarations — with the single-byte `0x00` shorthand for the first
    * top-level message. Returns (message fq, payload offset). Only
    * depth-1 paths are supported (indexing top-level declarations);
    * nested-message paths error with a clear message.
    */
  def protoMessageAt(fs: Proto.FileSet, b: Array[Byte], off0: Int): (String, Int) = {
    var off = off0
    def zigzagVarint(): Long = {
      var sh = 0; var v = 0L
      while (true) {
        if (off >= b.length) throw new IllegalArgumentException("message truncated in index path")
        val x = b(off); off += 1
        v |= (x & 0x7fL) << sh
        if ((x & 0x80) == 0) return (v >>> 1) ^ -(v & 1)
        sh += 7
      }
      0L // unreachable
    }
    val count = zigzagVarint()
    val path: Seq[Long] = if (count == 0) Seq(0L) else Seq.fill(count.toInt)(zigzagVarint())
    if (path.length > 1)
      throw new IllegalArgumentException("nested protobuf message indexes not supported")
    val idx = path.head.toInt
    if (idx < 0 || idx >= fs.topLevel.length)
      throw new IllegalArgumentException(s"message index $idx out of range for schema")
    (fs.topLevel(idx), off)
  }

  /** Encode-side framing: first-message shorthand index byte + payload. */
  def frameProto(id: Int, body: Array[Byte]): Array[Byte] = {
    val withIdx = new Array[Byte](body.length + 1)
    System.arraycopy(body, 0, withIdx, 1, body.length)
    frame(id, withIdx)
  }

  // ------------------------------------------------------- registry client

  private val mapper = new ObjectMapper()

  /** A fetched schema: Avro (the default type, the only one the pinned
    * reference supports — processor_schema_registry_decode.go getDecoder
    * says "Currently only Avro schemas are supported") or protobuf, an
    * EXTENSION here following the Confluent registry contract: dispatch
    * on the registry response's `schemaType` field, compile the .proto
    * source the registry serves (later upstream Benthos versions grew
    * the same capability).
    */
  private type RegSchema = Either[Avro.AType, Proto.FileSet]

  private def parseRegSchema(tree: JsonNode): RegSchema =
    Option(tree.get("schemaType")).map(_.asText()).getOrElse("AVRO") match {
      case "AVRO" => Left(Avro.parseSchema(tree.get("schema").asText()))
      case "PROTOBUF" => Right(Proto.compile(Seq(tree.get("schema").asText())))
      case t => throw new IllegalArgumentException(s"schema type $t not supported")
    }

  // JVM-global caches — the executor-process analogue of the reference's
  // per-processor maps (decode.go:73-75). Key includes the registry url so
  // two registries never collide.
  private val decodeCache = new ConcurrentHashMap[(String, Int), RegSchema]()
  private val encodeCache =
    new ConcurrentHashMap[(String, String), (Int, RegSchema, Long)]()

  private def newClient(): JHttpClient =
    JHttpClient.newBuilder().version(JHttpClient.Version.HTTP_1_1).build()

  /** GET with the reference's retry discipline (decode.go:258-293): up to
    * 3 attempts; 404 breaks immediately with the not-found error; other
    * non-200s and transport errors retry.
    */
  private def fetch(client: JHttpClient, url: String, what: String): String = {
    var lastErr: Exception = null
    var i = 0
    while (i < 3) {
      try {
        val res = client.send(
          HttpRequest.newBuilder(URI.create(url))
            .header("Accept", "application/vnd.schemaregistry.v1+json")
            .GET().build(),
          HttpResponse.BodyHandlers.ofString())
        if (res.statusCode() == 404)
          throw new Terminal(s"$what not found by registry")
        if (res.statusCode() != 200)
          throw new IllegalStateException(s"request failed for $what")
        return res.body()
      } catch {
        case t: Terminal => throw t
        case e: Exception => lastErr = e
      }
      i += 1
    }
    throw new IllegalStateException(s"request failed for $what", lastErr)
  }

  private final class Terminal(msg: String) extends RuntimeException(msg)

  private def schemaById(client: JHttpClient, registryUrl: String, id: Int): RegSchema =
    decodeCache.computeIfAbsent((registryUrl, id), { _ =>
      val body = fetch(client, s"$registryUrl/schemas/ids/$id", s"schema '$id'")
      parseRegSchema(mapper.readTree(body))
    })

  private def latestBySubject(client: JHttpClient, registryUrl: String,
      subject: String, refreshMs: Long): (Int, RegSchema) = {
    // compute() is atomic per key — the single-flight mutex of the
    // reference's cachedSchemaEncoder (encode.go:240-283): concurrent
    // partitions missing the same subject trigger exactly one fetch
    val v = encodeCache.compute((registryUrl, subject), { (_, cached) =>
      val now = System.currentTimeMillis()
      if (cached != null && now - cached._3 < refreshMs) cached
      else {
        val body = fetch(client, s"$registryUrl/subjects/$subject/versions/latest",
          s"schema subject '$subject'")
        val tree = mapper.readTree(body)
        (tree.get("id").asInt(), parseRegSchema(tree), now)
      }
    })
    (v._1, v._2)
  }

  /** Test/bench hook: drop every cached schema (the reference's Close). */
  def clearCaches(): Unit = { decodeCache.clear(); encodeCache.clear() }

  // ------------------------------------------------------------ processors

  /** schema_registry_decode: `bytesCol` (BINARY, confluent-framed) →
    * `outCol` (STRING, Avro JSON). On failure `outCol` is null, the error
    * column carries the message, and `bytesCol` is untouched.
    */
  def decodeProc(df: DataFrame, registryUrl: String,
      bytesCol: String = "wire", outCol: String = "decoded"): DataFrame = {
    val bIdx = df.schema.fieldIndex(bytesCol)
    Errors.rowLoop(df, outCol -> StringType)(Errors.Held(newClient())) { (client, row) =>
      val wire = row.getAs[Array[Byte]](bIdx)
      try {
        val id = extractId(wire)
        Errors.Put(outCol -> (schemaById(client.get, registryUrl, id) match {
          case Left(avro) =>
            Avro.textual(Avro.decodeBinary(avro,
              java.util.Arrays.copyOfRange(wire, 5, wire.length)))
          case Right(pfs) =>
            val (fq, payloadOff) = protoMessageAt(pfs, wire, 5)
            Proto.decodeMessage(pfs, fq,
              java.util.Arrays.copyOfRange(wire, payloadOff, wire.length)).toString
        }))
      } catch {
        case e: Exception => Errors.Fail(e.getMessage)
      }
    }
  }

  /** schema_registry_encode: `jsonCol` (STRING, standard JSON) → `outCol`
    * (BINARY, confluent-framed Avro) under the subject's latest schema.
    */
  def encodeProc(df: DataFrame, registryUrl: String, subject: String,
      jsonCol: String = "text", outCol: String = "wire",
      refreshMs: Long = 10 * 60 * 1000L): DataFrame = {
    val jIdx = df.schema.fieldIndex(jsonCol)
    Errors.rowLoop(df, outCol -> BinaryType)(Errors.Held(newClient())) { (client, row) =>
      val doc = row.getString(jIdx)
      if (doc == null) Errors.Keep
      else try {
        val (id, sch) = latestBySubject(client.get, registryUrl, subject, refreshMs)
        Errors.Put(outCol -> (sch match {
          case Left(avro) => frame(id, Avro.encodeStandardJson(avro, mapper.readTree(doc)))
          case Right(pfs) =>
            val fq = pfs.topLevel.headOption.getOrElse(
              throw new IllegalArgumentException("protobuf schema declares no message"))
            frameProto(id, Proto.encodeMessage(pfs, fq, mapper.readTree(doc)))
        }))
      } catch {
        case e: Exception => Errors.Fail(e.getMessage)
      }
    }
  }

  // -------------------------------------------------------- local registry

  /** A loopback Confluent-protocol registry (the reference tests run the
    * same shape in-process, processor_schema_registry_decode_test.go
    * runSchemaRegistryServer): serves `/schemas/ids/{id}` and
    * `/subjects/{subject}/versions/latest` from immutable maps; ids in
    * `failIds` return 500 (the retry path). `hits` counts requests per
    * path — the specs pin the once-per-JVM cache discipline with it.
    */
  final class Registry(schemas: Map[Int, String], subjects: Map[String, Int],
      failIds: Set[Int], schemaTypes: Map[Int, String] = Map.empty) {
    val hits = new ConcurrentHashMap[String, AtomicInteger]()
    private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 16)
    server.setExecutor(Executors.newCachedThreadPool { r =>
      val t = new Thread(r); t.setDaemon(true); t
    })
    server.createContext("/", (ex: HttpExchange) => {
      try {
        val path = ex.getRequestURI.getPath
        hits.computeIfAbsent(path, _ => new AtomicInteger).incrementAndGet()
        val IdPath = "/schemas/ids/(\\d+)".r
        val SubjPath = "/subjects/([^/]+)/versions/latest".r
        val reply: Either[Int, String] = path match {
          case IdPath(id) =>
            val i = id.toInt
            if (failIds(i)) Left(500)
            else schemas.get(i).toRight(404).map { s =>
              val node = mapper.createObjectNode().put("schema", s)
              schemaTypes.get(i).foreach(node.put("schemaType", _))
              mapper.writeValueAsString(node)
            }
          case SubjPath(subj) =>
            subjects.get(subj).flatMap(id => schemas.get(id).map(id -> _))
              .toRight(404).map { case (id, s) =>
                val node = mapper.createObjectNode().put("id", id).put("schema", s)
                schemaTypes.get(id).foreach(node.put("schemaType", _))
                mapper.writeValueAsString(node)
              }
          case _ => Left(404)
        }
        reply match {
          case Right(body) =>
            val b = body.getBytes(UTF_8)
            ex.getResponseHeaders.add("Content-Type",
              "application/vnd.schemaregistry.v1+json")
            ex.sendResponseHeaders(200, b.length.toLong)
            ex.getResponseBody.write(b)
          case Left(code) => ex.sendResponseHeaders(code, -1)
        }
      } finally ex.close()
    })
    locally {
      // start() spawns a non-daemon dispatcher; inherit daemon status from
      // a short-lived daemon thread so Verify/Bench can exit naturally
      val t = new Thread(() => server.start())
      t.setDaemon(true); t.start(); t.join()
    }
    val url: String = s"http://127.0.0.1:${server.getAddress.getPort}"
    def stop(): Unit = server.stop(0)
  }

  def startRegistry(schemas: Map[Int, String], subjects: Map[String, Int] = Map.empty,
      failIds: Set[Int] = Set.empty, schemaTypes: Map[Int, String] = Map.empty): Registry =
    new Registry(schemas, subjects, failIds, schemaTypes)

  // ------------------------------------------------------------ turns demo

  /** The transcripts record schema backing the oracle-checked
    * `q_schema_registry`: conv_id/turn_idx/role plus a nullable union
    * `tool` (exercises the null-vs-wrapped decode shape).
    */
  val TurnsSchema: String =
    """{"type":"record","name":"turn","namespace":"graft.demo","fields":[
      |{"name":"conv_id","type":"string"},
      |{"name":"turn_idx","type":"long"},
      |{"name":"role","type":"string"},
      |{"name":"tool","type":["null","string"],"default":null}]}"""
      .stripMargin.replace("\n", "")

  /** The same record as a proto3 schema — backs the registry's PROTOBUF
    * variant (`q_schema_registry_proto`). proto3 omits default values
    * (turn_idx 0, absent tool), which the oracle accounts for.
    */
  val TurnsProtoSchema: String =
    """syntax = "proto3"; package graft.demo;
      |message Turn { string conv_id = 1; int64 turn_idx = 2; string role = 3; string tool = 4; }"""
      .stripMargin.replace("\n", " ")

  /** JVM-lifetime registry for the oracle queries (the stand-in for the
    * external registry service, like [[graft.sources.Http.echoUpperUrl]]).
    */
  lazy val turnsRegistryUrl: String =
    startRegistry(Map(7 -> TurnsSchema, 8 -> TurnsProtoSchema),
      Map("turns" -> 7, "turns-proto" -> 8),
      schemaTypes = Map(8 -> "PROTOBUF")).url
}

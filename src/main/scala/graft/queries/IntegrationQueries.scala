package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.{Awk, Errors, Subprocess, Transforms}
import graft.sources.{Http, Tables}

/** Oracle-checked queries for the integration processor family
  * (SURVEY.md §2.4 `subprocess`): operators that bridge to the world
  * outside the JVM while keeping the plan distributed.
  */
object IntegrationQueries {
  private val T = Tables.TranscriptsCte

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // subprocess processor (internal/old/processor/subprocess.go): pipe
    // every turn's text through one awk per partition; stdout replaces the
    // message. awk's toupper over ASCII matches DuckDB's upper exactly.
    "q_subprocess" -> ((s, dir) => {
      // one long-lived child per partition; the per-row round-trip is
      // synchronous, so node width (not the scan's file count) must set the
      // parallelism — same shape as q_http_enrich below
      val df = Tables.transcripts(s, dir)
        .repartition(s.sparkContext.defaultParallelism)
      Subprocess.pipe(df, Seq("awk", "-W", "interactive", "{ print toupper($0); fflush(); }"))
        .select(col("conv_id"), col("turn_idx"), col("text").as("text_up"),
          col(Errors.ErrCol).as("err"))
    }),

    // http processor (internal/old/processor/http.go:103-113): per-row
    // enrichment request against a service (here the JVM-lifetime uppercase
    // echo); the 2xx body replaces the document. One client per partition —
    // the reference's `parallel` mode is partition parallelism, so the
    // single-file scan is repartitioned to node width first (sequential
    // loopback requests pay ~45 ms each to delayed-ACK; width-32 hides it).
    "q_http_enrich" -> ((s, dir) => {
      val docs = Tables.documents(s, dir).select("doc_id", "text")
        .repartition(s.sparkContext.defaultParallelism)
      Http.enrich(docs, Http.echoUpperUrl)
        .select(col("doc_id"), col("text").as("text_up"),
          col(Errors.ErrCol).as("err"))
    }),

    // count(name) monotonic counter (bloblang functions.go:233) over the
    // explicit total order (ts, conv_id, turn_idx) — the distributed
    // ordinal via range partition + zipWithIndex, no single-task window.
    "q_count" -> ((s, dir) => {
      val df = Tables.transcripts(s, dir)
      Transforms.counter(df, Seq(col("ts"), col("conv_id"), col("turn_idx")), "msg_count")
        .select(col("conv_id"), col("turn_idx"), col("msg_count"))
    }),

    // msgpack methods (internal/impl/msgpack/bloblang.go): format → parse
    // round-trip preserves the document, and the packed length follows the
    // msgpack.org spec arithmetic exactly (fixmap + fixstr + compact int),
    // which DuckDB recomputes per row.
    "q_msgpack" -> ((s, dir) => {
      import graft.blob.MsgPack
      val df = Tables.transcripts(s, dir).withColumn("doc",
        to_json(struct(col("conv_id"), col("turn_idx"), col("role"))))
      val rt = MsgPack.parseMsgpack(MsgPack.formatMsgpack(col("doc")))
      df.select(col("conv_id"), col("turn_idx"),
        get_json_object(rt, "$.role").as("rt_role"),
        get_json_object(rt, "$.turn_idx").cast("int").as("rt_idx"),
        length(MsgPack.formatMsgpack(col("doc"))).as("packed_len"))
    }),

    // sql_insert output → partitioned sql_select input round-trip through
    // embedded Derby (internal/impl/sql/): every transcript turn lands in
    // the database via per-partition batched inserts and comes back via 8
    // disjoint range predicates on turn_idx — the parallel-scan shape a
    // real warehouse connector uses at scale. The oracle is the identity
    // projection over the parquet source.
    "q_sql_roundtrip" -> ((s, dir) => {
      import graft.sources.Sql
      val dsn = "jdbc:derby:memory:graftq" +
        java.util.UUID.randomUUID().toString.replace("-", "") + ";create=true"
      val t = Tables.transcripts(s, dir).select(
        col("conv_id"), col("turn_idx"), col("role"),
        length(col("text")).as("n_chars"))
      Sql.createAndInsert(t, dsn, "turns", "conv_id VARCHAR(64), role VARCHAR(16)")
      // bounds need not cover the data — Spark's edge strides catch rows
      // outside [lower, upper)
      Sql.selectPartitioned(s, dsn, "turns",
        Seq("conv_id", "turn_idx", "role", "n_chars"), "turn_idx", 0, 512, 8)
    }),

    // protobuf processor (internal/old/processor/protobuf.go): from_json →
    // to_json round-trip through the hand-written wire codec, plus the wire
    // length — which DuckDB recomputes from the encoding spec's arithmetic
    // (tag byte + length byte + payload per string field; varint width for
    // the int32; proto3 omits zero values, so turn_idx=0 rows drop the
    // field on the wire AND in the canonical JSON).
    "q_protobuf" -> ((s, dir) => {
      import graft.blob.Proto
      val fs = Proto.compile(Seq(
        """syntax = "proto3";
          |package graft;
          |message Turn {
          |  string conv_id = 1;
          |  int32 turn_idx = 2;
          |  string role = 3;
          |}""".stripMargin))
      val from = Proto.fromJson(fs, "graft.Turn")
      val to = Proto.toJson(fs, "graft.Turn")
      val df = Tables.transcripts(s, dir).withColumn("doc",
        to_json(struct(col("conv_id"), col("turn_idx"), col("role"))))
      val wire = from(col("doc"))
      df.select(col("conv_id"), col("turn_idx"),
        get_json_object(to(wire), "$.role").as("rt_role"),
        get_json_object(to(wire), "$.turnIdx").cast("int").as("rt_idx"),
        length(wire).as("wire_len"))
    }),

    // schema_registry_encode → schema_registry_decode round trip
    // (internal/impl/confluent/): every turn marshals to standard JSON,
    // encodes to confluent-framed Avro under the registry's latest "turns"
    // schema, and decodes back to Avro JSON (union-wrapped `tool`). The
    // oracle recomputes the decoded fields AND the wire length from the
    // Avro 1.11 binary spec arithmetic (5-byte frame + varint-length
    // strings + zigzag-varint long + 1-byte union indexes). The registry is
    // a JVM-lifetime loopback service; schemas are fetched once per
    // executor, so rows never wait on the network.
    "q_schema_registry" -> ((s, dir) => {
      import graft.ops.SchemaRegistry
      val url = SchemaRegistry.turnsRegistryUrl
      val df = Tables.transcripts(s, dir)
        .withColumn("doc", to_json(struct(
          col("conv_id"), col("turn_idx"), col("role"), col("tool"))))
      val enc = SchemaRegistry.encodeProc(df, url, "turns", jsonCol = "doc")
      val dec = SchemaRegistry.decodeProc(enc, url)
      dec.select(col("conv_id"), col("turn_idx"),
        get_json_object(col("decoded"), "$.role").as("rt_role"),
        get_json_object(col("decoded"), "$.tool.string").as("rt_tool"),
        length(col("wire")).as("wire_len"),
        col(Errors.ErrCol).as("err"))
    }),

    // schema_registry PROTOBUF variant (processor_schema_registry_*.go
    // schemaType dispatch): same round-trip under the registry's proto3
    // schema — Confluent frame + message-index byte + proto wire. proto3
    // omits default values, so turn_idx 0 and null tool cost 0 bytes and
    // decode back as absent JSON fields (coalesced in the projection).
    "q_schema_registry_proto" -> ((s, dir) => {
      import graft.ops.SchemaRegistry
      val url = SchemaRegistry.turnsRegistryUrl
      val df = Tables.transcripts(s, dir)
        .withColumn("doc", to_json(struct(
          col("conv_id"), col("turn_idx"), col("role"), col("tool"))))
      val enc = SchemaRegistry.encodeProc(df, url, "turns-proto", jsonCol = "doc")
      val dec = SchemaRegistry.decodeProc(enc, url)
      dec.select(col("conv_id"), col("turn_idx"),
        get_json_object(col("decoded"), "$.role").as("rt_role"),
        get_json_object(col("decoded"), "$.tool").as("rt_tool"),
        coalesce(get_json_object(col("decoded"), "$.turnIdx"), lit("0"))
          .cast("int").as("rt_turn_idx"),
        length(col("wire")).as("wire_len"),
        col(Errors.ErrCol).as("err"))
    }),

    // awk processor, json codec (internal/old/processor/awk.go:792-801):
    // the document flattens into AWK variables; the program's stdout
    // replaces it. One fresh interpreter per message, forked by one
    // long-lived sh worker per partition; repartitioning the single-file
    // scan spreads those forks across node width.
    "q_awk" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
        .repartition(s.sparkContext.defaultParallelism)
        .withColumn("text", to_json(struct(col("doc_id"),
          col("lang"), length(col("text")).as("nchars"))))
      Awk.proc(docs, """{ print lang "#" doc_id ": " nchars " chars" }""", "json")
        .select(col("doc_id"), col("text").as("awk_out"),
          col(Errors.ErrCol).as("err"))
    }),

    // kafka output fnv1a_hash partitioner (kafka.go:216-217 via sarama's
    // NewHashPartitioner): signed FNV-1a 32 of the key, mod n, abs. The
    // oracle recomputes the hash byte-by-byte in a recursive CTE.
    "q_kafka_fnv1a" -> ((s, dir) => {
      import graft.ops.KafkaPartition
      val keys = Tables.transcripts(s, dir).select(col("conv_id")).distinct()
      keys.select(col("conv_id"),
        KafkaPartition.fnv1a32(col("conv_id")).as("h32"),
        KafkaPartition.fnv1aPartition(col("conv_id"), 12).cast("int").as("part_id"))
    }),

    // kafka output murmur2_hash partitioner (kafka.go:218-223,456-547):
    // the Java-client-compatible murmur2 with WithAbsFirst's
    // toPositive(h) % n. The oracle replays the 32-bit wrapping arithmetic
    // (chunk mixes, tail, final avalanche) in HUGEINT-mod-2^32 SQL; the
    // hash itself is additionally pinned to the reference's golden vectors
    // in KafkaPartitionSpec.
    "q_kafka_murmur2" -> ((s, dir) => {
      import graft.ops.KafkaPartition
      val keys = Tables.transcripts(s, dir).select(col("conv_id")).distinct()
      keys.select(col("conv_id"),
        KafkaPartition.murmur2(col("conv_id")).as("h32"),
        KafkaPartition.murmur2Partition(col("conv_id"), 12).cast("int").as("part_id"))
    }),

    // kafka round_robin (deterministic form) + manual partitioners
    // (kafka.go:224-228): ordinal-in-total-order mod n, and an explicit
    // partition field with the out-of-range error contract (turn_idx ≥ n
    // rows carry the flag and stay unrouted).
    "q_kafka_rr_manual" -> ((s, dir) => {
      import graft.ops.KafkaPartition
      val df = Tables.transcripts(s, dir)
      val rr = KafkaPartition.roundRobin(
        df, 12, Seq(col("conv_id"), col("turn_idx")), as = "rr_part")
      KafkaPartition.manual(rr, "turn_idx", 12, as = "man_part")
        .select(col("conv_id"), col("turn_idx"), col("rr_part"),
          col("man_part"), col(Errors.ErrCol).as("err"))
    }))

  val oracles: Map[String, String] = Map(
    "q_subprocess" -> (T +
      """SELECT conv_id, turn_idx, upper(text) AS text_up,
        |  CAST(NULL AS VARCHAR) AS err
        |FROM transcripts""".stripMargin),
    "q_http_enrich" ->
      """SELECT doc_id, upper(text) AS text_up, CAST(NULL AS VARCHAR) AS err
        |FROM documents""".stripMargin,
    "q_count" -> (T +
      """SELECT conv_id, turn_idx,
        |  row_number() OVER (ORDER BY ts, conv_id, turn_idx) AS msg_count
        |FROM transcripts""".stripMargin),
    // packed_len: 1 (fixmap:3) + 8 ('conv_id' fixstr key) + 1+len(conv_id)
    // + 9 ('turn_idx' key) + compact-int(turn_idx) + 5 ('role' key)
    // + 1+len(role)
    "q_msgpack" -> (T +
      """SELECT conv_id, turn_idx, role AS rt_role, turn_idx AS rt_idx,
        |  CAST(25 + length(conv_id) + length(role) +
        |    (CASE WHEN turn_idx < 128 THEN 1
        |          WHEN turn_idx < 256 THEN 2 ELSE 3 END) AS INT) AS packed_len
        |FROM transcripts""".stripMargin),
    "q_sql_roundtrip" -> (T +
      """SELECT conv_id, turn_idx, role, length(text) AS n_chars
        |FROM transcripts""".stripMargin),
    // wire_len: conv_id (tag 1 + len 1 + bytes) + role (tag 1 + len 1 +
    // bytes) + turn_idx (0 if default, else tag 1 + varint 1-2)
    "q_protobuf" -> (T +
      """SELECT conv_id, turn_idx, role AS rt_role,
        |  CASE WHEN turn_idx = 0 THEN NULL ELSE turn_idx END AS rt_idx,
        |  CAST(4 + length(conv_id) + length(role) +
        |    CASE WHEN turn_idx = 0 THEN 0
        |         WHEN turn_idx < 128 THEN 2 ELSE 3 END AS INT) AS wire_len
        |FROM transcripts""".stripMargin),
    // wire_len: 5 (magic + schema id) + conv_id (1-byte varint len + bytes)
    // + turn_idx (zigzag varint: 2*ti < 2^7 → 1B, < 2^14 → 2B, else 3B)
    // + role (1-byte len + bytes) + tool union index (1B) + optional
    // (1-byte len + bytes). All strings are ASCII so chars == octets.
    "q_schema_registry" -> (T +
      """SELECT conv_id, turn_idx, role AS rt_role, tool AS rt_tool,
        |  CAST(5 + 1 + length(conv_id)
        |    + (CASE WHEN turn_idx < 64 THEN 1
        |            WHEN turn_idx < 8192 THEN 2 ELSE 3 END)
        |    + 1 + length(role) + 1
        |    + (CASE WHEN tool IS NULL THEN 0 ELSE 1 + length(tool) END)
        |    AS INT) AS wire_len,
        |  CAST(NULL AS VARCHAR) AS err
        |FROM transcripts""".stripMargin),
    // proto wire: 5-byte confluent frame + 1 index byte; tag+len+bytes per
    // string field; int64 varint for turn_idx; proto3 default omission
    // (turn_idx = 0, NULL tool contribute nothing).
    "q_schema_registry_proto" -> (T +
      """SELECT conv_id, turn_idx, role AS rt_role, tool AS rt_tool,
        |  CAST(turn_idx AS INT) AS rt_turn_idx,
        |  CAST(6 + 2 + length(conv_id)
        |    + (CASE WHEN turn_idx = 0 THEN 0
        |            WHEN turn_idx < 128 THEN 2
        |            WHEN turn_idx < 16384 THEN 3 ELSE 4 END)
        |    + 2 + length(role)
        |    + (CASE WHEN tool IS NULL THEN 0 ELSE 2 + length(tool) END)
        |    AS INT) AS wire_len,
        |  CAST(NULL AS VARCHAR) AS err
        |FROM transcripts""".stripMargin),
    "q_awk" ->
      """SELECT doc_id,
        |  lang || '#' || CAST(doc_id AS VARCHAR) || ': ' ||
        |    CAST(length(text) AS VARCHAR) || ' chars' AS awk_out,
        |  CAST(NULL AS VARCHAR) AS err
        |FROM documents""".stripMargin,
    // FNV-1a 32 recomputed byte-by-byte (keys are ASCII so unicode() ==
    // the UTF-8 octet): h ← (h ⊕ byte) · 16777619 mod 2^32, signed
    // reinterpretation, sarama's mod-then-abs partition math.
    "q_kafka_fnv1a" ->
      """WITH RECURSIVE keys AS (
        |  SELECT DISTINCT 'conv-' || lpad(CAST(user_id AS VARCHAR), 6, '0') AS k FROM events
        |),
        |f AS (
        |  SELECT k, 1 AS i, CAST(2166136261 AS BIGINT) AS h FROM keys
        |  UNION ALL
        |  SELECT k, i + 1,
        |    (xor(h, CAST(unicode(substr(k, i, 1)) AS BIGINT)) * 16777619) % 4294967296
        |  FROM f WHERE i <= length(k)
        |),
        |hs AS (SELECT k, h FROM f WHERE i = length(k) + 1),
        |sgn AS (SELECT k, CASE WHEN h >= 2147483648 THEN h - 4294967296 ELSE h END AS sh FROM hs)
        |SELECT k AS conv_id, CAST(sh AS INT) AS h32,
        |  CAST(abs(sh % 12) AS INT) AS part_id
        |FROM sgn""".stripMargin,
    // Kafka murmur2 replayed in SQL: 4-byte little-endian chunks, each
    // mixed (·m, ⊕ ≫24, ·m) then folded into h (·m, ⊕), the ≤3-byte tail,
    // and the 13/·m/15 avalanche — all mod 2^32 (HUGEINT for the 32×32
    // products); partition is WithAbsFirst's (h & 0x7fffffff) % n =
    // (h mod 2^31) % n. Validated against kafka_test.go:8-23's vectors.
    "q_kafka_murmur2" ->
      """WITH RECURSIVE keys AS (
        |  SELECT DISTINCT 'conv-' || lpad(CAST(user_id AS VARCHAR), 6, '0') AS k FROM events
        |),
        |chunks0 AS (
        |  SELECT k, CAST(g.generate_series AS BIGINT) AS ci,
        |    CAST(unicode(substr(k, CAST(g.generate_series*4+1 AS INT), 1)) AS BIGINT)
        |      + CAST(unicode(substr(k, CAST(g.generate_series*4+2 AS INT), 1)) AS BIGINT) * 256
        |      + CAST(unicode(substr(k, CAST(g.generate_series*4+3 AS INT), 1)) AS BIGINT) * 65536
        |      + CAST(unicode(substr(k, CAST(g.generate_series*4+4 AS INT), 1)) AS BIGINT) * 16777216 AS kk0
        |  FROM keys, generate_series(0, 63) g
        |  WHERE g.generate_series <= length(k)//4 - 1
        |),
        |chunks1 AS (
        |  SELECT k, ci, CAST((CAST(kk0 AS HUGEINT) * 1540483477) % 4294967296 AS BIGINT) AS kk1 FROM chunks0
        |),
        |chunks AS (
        |  SELECT k, ci,
        |    CAST((CAST(xor(kk1, kk1 // 16777216) AS HUGEINT) * 1540483477) % 4294967296 AS BIGINT) AS kk
        |  FROM chunks1
        |),
        |fold AS (
        |  SELECT k, CAST(-1 AS BIGINT) AS ci,
        |    xor(CAST(2538058380 AS BIGINT), CAST(length(k) AS BIGINT)) AS h
        |  FROM keys
        |  UNION ALL
        |  SELECT f.k, c.ci,
        |    xor(CAST((CAST(f.h AS HUGEINT) * 1540483477) % 4294967296 AS BIGINT), c.kk)
        |  FROM fold f JOIN chunks c ON c.k = f.k AND c.ci = f.ci + 1
        |),
        |folded AS (SELECT k, h FROM fold WHERE ci = length(k)//4 - 1),
        |tail1 AS (
        |  SELECT k, CASE WHEN length(k) % 4 >= 3
        |    THEN xor(h, CAST(unicode(substr(k, CAST((length(k)//4)*4+3 AS INT), 1)) AS BIGINT) * 65536)
        |    ELSE h END AS h FROM folded
        |),
        |tail2 AS (
        |  SELECT k, CASE WHEN length(k) % 4 >= 2
        |    THEN xor(h, CAST(unicode(substr(k, CAST((length(k)//4)*4+2 AS INT), 1)) AS BIGINT) * 256)
        |    ELSE h END AS h FROM tail1
        |),
        |tail3 AS (
        |  SELECT k, CASE WHEN length(k) % 4 >= 1
        |    THEN CAST((CAST(xor(h, CAST(unicode(substr(k, CAST((length(k)//4)*4+1 AS INT), 1)) AS BIGINT)) AS HUGEINT) * 1540483477) % 4294967296 AS BIGINT)
        |    ELSE h END AS h FROM tail2
        |),
        |mix1 AS (SELECT k, xor(h, h // 8192) AS h FROM tail3),
        |mix2 AS (SELECT k, CAST((CAST(h AS HUGEINT) * 1540483477) % 4294967296 AS BIGINT) AS h FROM mix1),
        |mix3 AS (SELECT k, xor(h, h // 32768) AS h FROM mix2)
        |SELECT k AS conv_id,
        |  CAST(CASE WHEN h >= 2147483648 THEN h - 4294967296 ELSE h END AS INT) AS h32,
        |  CAST((h % 2147483648) % 12 AS INT) AS part_id
        |FROM mix3""".stripMargin,
    "q_kafka_rr_manual" -> (T +
      """SELECT conv_id, turn_idx,
        |  CAST((row_number() OVER (ORDER BY conv_id, turn_idx) - 1) % 12 AS INT) AS rr_part,
        |  CASE WHEN turn_idx >= 0 AND turn_idx < 12 THEN turn_idx END AS man_part,
        |  CASE WHEN turn_idx < 0 OR turn_idx >= 12
        |    THEN 'manual partitioner: partition out of range [0, 12): ' || CAST(turn_idx AS VARCHAR)
        |  END AS err
        |FROM transcripts""".stripMargin))
}

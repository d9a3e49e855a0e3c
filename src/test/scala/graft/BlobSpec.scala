package graft

import org.apache.spark.sql.functions._
import graft.blob.Blob

/** Scalar surface semantics that the DuckDB oracles can't reach: codecs,
  * syslog parse_log, XML, duration parsing, and assorted Bloblang-parity
  * behaviors (capitalize vs initcap, 0-based index, pipe operator).
  */
class BlobSpec extends SparkTestBase {
  import spark.implicits._

  test("gzip round-trips and actually compresses") {
    val text = ("spark " * 200).trim
    val out = Seq(text).toDF("t")
      .select(
        length(Blob.gzipCompress(col("t"))).as("clen"),
        Blob.gzipDecompress(Blob.gzipCompress(col("t"))).cast("string").as("rt"))
      .as[(Int, String)].head()
    assert(out._2 == text)
    assert(out._1 < text.length / 10)
  }

  test("parseSyslog3164 extracts priority, timestamp, host, app, message") {
    val line = "<13>Oct 11 22:14:15 web01 nginx[772]: upstream timed out"
    val got = Seq(line).toDF("l").select(Blob.parseSyslog3164(col("l")).as("s"))
      .select("s.priority", "s.timestamp", "s.hostname", "s.appname", "s.message")
      .as[(Integer, String, String, String, String)].head()
    assert(got == ((13, "Oct 11 22:14:15", "web01", "nginx", "upstream timed out")))
  }

  test("parseXml converts a document to a typed struct") {
    val xml = "<doc><id>7</id><name>alpha</name></doc>"
    val got = Seq(xml).toDF("x")
      .select(Blob.parseXml(col("x"), "id INT, name STRING").as("d"))
      .select("d.id", "d.name").as[(Int, String)].head()
    assert(got == ((7, "alpha")))
  }

  test("parseDuration handles Go-style compound durations") {
    val got = Seq("1h2m3s450ms", "150ms", "2.5s", "junk").toDF("d")
      .select(Blob.parseDuration(col("d"))).as[java.lang.Long].collect().toSeq
    assert(got == Seq(3723450000000L, 150000000L, 2500000000L, null))
  }

  test("capitalize uppercases only the first rune (not initcap)") {
    val got = Seq("hello world").toDF("t")
      .select(Blob.capitalize(col("t"))).as[String].head()
    assert(got == "Hello world") // initcap would yield "Hello World"
  }

  test("index is 0-based like Bloblang; pipe coalesces nulls") {
    val got = Seq((Seq("a", "b", "c"), null: String, "fallback")).toDF("arr", "l", "r")
      .select(Blob.index(col("arr"), lit(1)).as("i"), Blob.pipe(col("l"), col("r")).as("p"),
        Blob.index(col("arr"), lit(-1)).as("neg"), Blob.index(col("arr"), lit(5)).as("far"))
      .as[(String, String, String, String)].head()
    assert(got == (("b", "fallback", "c", null)))
  }

  test("range is exclusive of stop like Bloblang") {
    val got = Seq(1).toDF("x").select(Blob.range(lit(0), lit(5), lit(1)))
      .as[Seq[Int]].head()
    assert(got == Seq(0, 1, 2, 3, 4))
  }

  test("hash dispatches to the right algorithm") {
    val got = Seq("abc").toDF("t").select(
      Blob.hash(col("t"), "md5"), Blob.hash(col("t"), "sha256"), Blob.hash(col("t"), "crc32"))
      .as[(String, String, Long)].head()
    assert(got._1 == "900150983cd24fb0d6963f7d28e17f72")
    assert(got._2 == "ba7816bf8f01cfea414140de5dae2223b00361a396177a9cb410ff61f20015ad")
    assert(got._3 == 891568578L)
  }

  test("hmac sha256 matches the RFC-style known vector") {
    val got = Seq("The quick brown fox jumps over the lazy dog").toDF("t")
      .select(Blob.encodeHex(Blob.hmac(col("t"), "sha256", lit("key"))))
      .as[String].head()
    assert(got == "f7bc83f430538424b13298e6aa6fb143ef4d59a14946175997479dbc2d1a3cd8")
  }

  test("strftime dialect translates and formats; strptime round-trips") {
    assert(Blob.strftimeToJava("%Y-%m-%d %H:%M:%S") == "yyyy-MM-dd HH:mm:ss")
    assert(Blob.strftimeToJava("%H hrs") == "HH 'h''r''s'")
    val got = Seq(java.sql.Timestamp.valueOf("2024-03-05 07:08:09")).toDF("ts")
      .select(Blob.formatTimestampStrftime(col("ts"), "%d/%b/%Y %I:%M %p"))
      .as[String].head()
    assert(got == "05/Mar/2024 07:08 AM")
    val rt = Seq("2024-03-05T07:08:09").toDF("s")
      .select(Blob.parseTimestampStrptime(col("s"), "%Y-%m-%dT%H:%M:%S").cast("string"))
      .as[String].head()
    assert(rt == "2024-03-05 07:08:09")
  }

  test("strftime directive table: reference vectors + supported subset pinned") {
    // reference methods_test.go:1905,1975 vectors, replayed through the
    // Column forms
    val parsed = Seq("2020-Aug-14").toDF("s")
      .select(Blob.parseTimestampStrptime(col("s"), "%Y-%b-%d").cast("string"))
      .as[String].head()
    assert(parsed == "2020-08-14 00:00:00")
    def fmt(f: String, ts: String = "2020-08-14 11:45:26.371"): String =
      Seq(java.sql.Timestamp.valueOf(ts)).toDF("ts")
        .select(Blob.formatTimestampStrftime(col("ts"), f)).as[String].head()
    assert(fmt("%Y-%b-%d %H:%M:%S") == "2020-Aug-14 11:45:26")
    // directive classes: day-of-year, weekday/month names, 12h clock,
    // 2-digit year, day-unpadded, literal %%, fractional seconds
    assert(fmt("%j") == "227") // 2020-08-14 is day 227 of a leap year
    assert(fmt("%a %A %b %B") == "Fri Friday Aug August")
    assert(fmt("%I %p %y %e") == "11 AM 20 14")
    assert(fmt("100%% %H") == "100% 11")
    assert(fmt("%H:%M:%S.%f") == "11:45:26.371000")
    // unsupported directives fail loudly at translation (the documented
    // subset — not silently misformatted): week-of-year %U/%W, century %C
    Seq("%U", "%W", "%C").foreach { d =>
      val e = intercept[IllegalArgumentException](Blob.strftimeToJava(d))
      assert(e.getMessage.contains("unsupported strftime token"))
    }
  }

  test("parse_duration_iso8601 handles day/time designators, rejects junk") {
    val got = Seq(("P2DT3H4M", "nope")).toDF("a", "b")
      .select(Blob.parseDurationIso8601(col("a")), Blob.parseDurationIso8601(col("b")))
      .as[(Option[Long], Option[Long])].head()
    assert(got._1.contains(((2L * 24 + 3) * 3600 + 4 * 60) * 1000000000L))
    assert(got._2.isEmpty)
  }

  test("unquote decodes escaped JSON strings; non-quoted input errors to null") {
    val got = Seq(("\"a\\nb\"", "plain")).toDF("q", "p")
      .select(Blob.unquote(col("q")), Blob.unquote(col("p")))
      .as[(String, String)].head()
    assert(got._1 == "a\nb")
    assert(got._2 == null)
  }

  test("ascii85 known vector, zero-group shorthand, and round-trip") {
    val enc = Seq("easy").toDF("t").select(Blob.encodeAscii85(col("t"))).as[String].head()
    assert(enc == "ARTY*")
    val zeros = Seq(1).toDF("x")
      .select(Blob.encodeAscii85(lit(Array[Byte](0, 0, 0, 0)))).as[String].head()
    assert(zeros == "z")
    val rt = Seq("partial len 7").toDF("t")
      .select(Blob.decodeAscii85(Blob.encodeAscii85(col("t"))).cast("string"))
      .as[String].head()
    assert(rt == "partial len 7")
  }

  test("z85 known vector (methods_test.go 'check z85 encode/decode') and alignment errors") {
    val enc = Seq("hello world!").toDF("t")
      .select(Blob.encodeZ85(col("t"))).as[String].head()
    assert(enc == "xK#0@zY<mxA+]nf")
    val dec = Seq("xK#0@zY<mxA+]nf").toDF("t")
      .select(Blob.decodeZ85(col("t")).cast("string")).as[String].head()
    assert(dec == "hello world!")
    // misaligned input errors (the reference's codec contract)
    val e = intercept[Exception] {
      Seq("hello world").toDF("t").select(Blob.encodeZ85(col("t"))).as[String].head()
    }
    assert(e.getMessage.contains("multiple of 4") ||
      Option(e.getCause).exists(_.getMessage.contains("multiple of 4")))
    // a non-ASCII char must hit the invalid-character contract, not an
    // ArrayIndexOutOfBounds from the 128-entry decode table
    val e2 = intercept[Exception] {
      Seq("ab€de").toDF("t").select(Blob.decodeZ85(col("t"))).as[Array[Byte]].head()
    }
    def mentions(t: Throwable): Boolean = t != null &&
      (Option(t.getMessage).exists(_.contains("invalid z85 character")) || mentions(t.getCause))
    assert(mentions(e2), s"wrong error: $e2")
  }

  test("collapse flattens nested JSON to dot paths with array indexes") {
    val got = Seq("""{"a":{"b":1},"c":[2,"x"]}""").toDF("j")
      .select(Blob.collapse(col("j"))).as[Map[String, String]].head()
    assert(got == Map("a.b" -> "1", "c.0" -> "2", "c.1" -> "x"))
  }

  test("sort_by comparator orders by the extracted key") {
    val got = Seq(Seq("bb", "a", "ccc", "ab")).toDF("arr")
      .select(Blob.joinArr(Blob.sortBy(col("arr"), w => struct(length(w), w)), ","))
      .as[String].head()
    assert(got == "a,ab,bb,ccc")
  }

  test("syslog RFC5424 parses the RFC sample line with nil fields as null") {
    val line = "<34>1 2003-10-11T22:14:15.003Z mymachine.example.com su - ID47 - su root failed on /dev/pts/8"
    val got = Seq(line).toDF("l").select(Blob.parseSyslog5424(col("l")).as("p"))
      .select("p.priority", "p.version", "p.hostname", "p.appname",
        "p.procid", "p.msgid", "p.structureddata", "p.message")
      .as[(Int, Int, String, String, String, String, String, String)].head()
    assert(got == ((34, 1, "mymachine.example.com", "su", null, "ID47", null,
      "su root failed on /dev/pts/8")))
    val sd = Seq("<165>1 2024-01-01T00:00:00Z host app 123 ID1 [ex@1 k=\"v\"] hi")
      .toDF("l").select(Blob.parseSyslog5424(col("l")).getField("structureddata"))
      .as[String].head()
    assert(sd == "[ex@1 k=\"v\"]")
  }

  test("re_find_all_submatch / re_find_object / re_find_all_object") {
    val df = Seq("a=1 b=22 c=333").toDF("t")
    val sub = df.select(Blob.reFindAllSubmatch(col("t"), "([a-z])=(\\d+)"))
      .as[Seq[Seq[String]]].head()
    assert(sub == Seq(Seq("a=1", "a", "1"), Seq("b=22", "b", "22"), Seq("c=333", "c", "333")))
    val obj = df.select(Blob.reFindObject(col("t"), "(?<key>[a-z])=(?<val>\\d+)"))
      .as[Map[String, String]].head()
    assert(obj == Map("0" -> "a=1", "key" -> "a", "val" -> "1"))
    val objs = df.select(Blob.reFindAllObject(col("t"), "(?<key>[a-z])=(?<val>\\d+)"))
      .as[Seq[Map[String, String]]].head()
    assert(objs.map(_("val")) == Seq("1", "22", "333"))
  }

  test("nanoid and ksuid have the reference shapes") {
    val (nid, kid) = Seq(1).toDF("x")
      .select(Blob.nanoid(), Blob.ksuid()).as[(String, String)].head()
    assert(nid.length == 21)
    assert(nid.forall(c => c.isLetterOrDigit || c == '_' || c == '-'))
    assert(kid.length == 27)
    assert(kid.forall(c => c.isLetterOrDigit))
  }

  test("not_null raises on null, passes values through") {
    val ok = Seq("x").toDF("t").select(Blob.notNull(col("t"), "t")).as[String].head()
    assert(ok == "x")
    intercept[Exception] {
      Seq((null: String)).toDF("t")
        .select(Blob.notNull(col("t"), "t")).as[String].head()
    }
  }

  test("parse_yaml / format_yaml convert structurally via Jackson YAML") {
    val yaml = "id: 7\nname: grace\ntags:\n  - a\n  - b\n"
    val json = Seq(yaml).toDF("y").select(Blob.parseYaml(col("y"))).as[String].head()
    assert(json == """{"id":7,"name":"grace","tags":["a","b"]}""")
    val rt = Seq(json).toDF("j")
      .select(Blob.parseYaml(Blob.formatYaml(col("j")))).as[String].head()
    assert(rt == json)
  }

  test("json_schema subset validates types, required, ranges, nesting") {
    val schema =
      """{"type":"object","required":["id","name"],
        |"properties":{
        |  "id":{"type":"integer","minimum":1},
        |  "name":{"type":"string","minLength":2},
        |  "tags":{"type":"array","items":{"type":"string"}}},
        |"additionalProperties":false}""".stripMargin.replace("\n", "")
    def err(doc: String): Option[String] =
      Seq(doc).toDF("d").select(Blob.jsonSchemaErr(col("d"), schema))
        .as[Option[String]].head()
    assert(err("""{"id":7,"name":"grace","tags":["a"]}""").isEmpty)
    assert(err("""{"id":0,"name":"grace"}""").exists(_.contains("minimum")))
    assert(err("""{"id":7}""").exists(_.contains("required")))
    assert(err("""{"id":7,"name":"g"}""").exists(_.contains("short")))
    assert(err("""{"id":7,"name":"gr","tags":[3]}""").exists(_.contains("expected string")))
    assert(err("""{"id":7,"name":"gr","zz":1}""").exists(_.contains("additional")))
    assert(err("not json at all{{").exists(_.contains("invalid json")))
  }
}

package graft

import org.apache.spark.sql.functions._
import graft.ops.{Awk, Errors}

/** awk processor (reference: internal/old/processor/awk.go; cases ported
  * from awk_test.go, including the goawk custom-function table — emulated
  * over POSIX awk by AwkFuncs, see its scaladoc).
  */
class AwkSpec extends SparkTestBase {
  import spark.implicits._

  private def one(text: String, program: String, codec: String,
      meta: Map[String, String] = Map.empty): (String, String) = {
    val (t, e, _) = run(text, program, codec, meta)
    (t, e)
  }

  /** Returns (text, error, metadata-after). */
  private def run(text: String, program: String, codec: String,
      meta: Map[String, String] = Map.empty): (String, String, Map[String, String]) = {
    val df0 = Seq(text).toDF("text")
    val df = if (meta.isEmpty) df0 else df0.withColumn("meta",
      map(meta.flatMap { case (k, v) => Seq(lit(k), lit(v)) }.toSeq: _*))
    val out = Awk.proc(df, program, codec,
      metaCol = if (meta.isEmpty) None else Some("meta"))
    val r =
      if (meta.isEmpty) out.select(col("text"), col(Errors.ErrCol)).head()
      else out.select(col("text"), col(Errors.ErrCol), col("meta")).head()
    val after = if (meta.isEmpty) Map.empty[String, String]
      else r.getMap[String, String](2).toMap
    (r.getString(0), r.getString(1), after)
  }

  test("""text codec: program output replaces the message (awk_test.go "print 2nd word plus meta")""") {
    assert(one("hello world", """{ print $2 " " meta_foo }""", "text",
      Map("meta.foo" -> "12")) == (("world 12", null)))
    // a metadata value holding a newline (and a backslash) reaches awk intact
    assert(one("hello world", """{ print $2 " " meta_foo }""", "text",
      Map("meta.foo" -> "1\n2\\3")) == (("world 1\n2\\3", null)))
  }

  test("""json codec: flattened variables (awk_test.go "json codec" cases)""") {
    assert(one("""{"obj":{"foo":"hello"}}""", "{ print obj_foo }", "json") == (("hello", null)))
    assert(one("""{"obj":{"foo":"hello"}}""", """{ print obj_foo " " meta_foo }""", "json",
      Map("meta.foo" -> "12")) == (("hello 12", null)))
    // arrays overwrite at the parent path (flattenForAWK awk.go:625-630)
    assert(one("""{"obj":[{"foo":11},{"foo":12}]}""", "{ print obj_foo }", "json")
      == (("12", null)))
    // a string value holding a newline reaches awk intact
    assert(one("""{"obj":{"foo":"p\nq"}}""", """{ print obj_foo "|" }""", "json")
      == (("p\nq|", null)))
  }

  test("empty output leaves the message unchanged; a bare newline replaces with empty (awk.go:838-846)") {
    assert(one("hello world", "{ }", "text") == (("hello world", null)))
    assert(one("hello world", """{ print "" }""", "text") == (("", null)))
  }

  test("multi-line stdout replaces as a whole with one trailing newline stripped") {
    assert(one("a b", """{ print $1; print $2 }""", "text") == (("a\nb", null)))
  }

  test("json parse failure marks the row failed and keeps content (awk.go:793-797)") {
    val (t, e) = one("not json content", "{ print 1 }", "json")
    assert(t == "not json content" && e != null && e.contains("json"))
  }

  test("awk syntax error marks the row failed") {
    val (t, e) = one("x", "{ this is not awk", "text")
    assert(t == "x" && e != null)
  }

  test("BEGIN/END run per message (fresh interpreter per part), both modes") {
    val df = Seq("a", "b").toDF("text")
    val out = Awk.proc(df, """END { print NR " lines" }""", "text")
      .select("text").as[String].collect().sorted
    assert(out.toSeq == Seq("1 lines", "1 lines"))
  }

  // ---- goawk custom-function table (awk_test.go TestAWK) ----------------

  test("custom functions: json_get / json_set family (awk_test.go table)") {
    assert(one("""{"obj":{"foo":12}}""", """{ print json_get("obj.foo") }""", "none") == (("12", null)))
    assert(one("""{"obj":{"foo":12}}""", """{ print json_get("obj.bar") }""", "none") == (("null", null)))
    // gabs paths address arrays numerically
    assert(one("""{"obj":[{"foo":11},{"foo":12}]}""", """{ print json_get("obj.1.foo") }""", "none") == (("12", null)))
    assert(one("""{"obj":[{"foo":11},{"foo":12}]}""", """{ json_set("obj.1.foo", "nope") }""", "none")
      == (("""{"obj":[{"foo":11},{"foo":"nope"}]}""", null)))
    assert(one("""{"obj":{"foo":"hello"}}""", """{ print json_get("obj.foo") }""", "none") == (("hello", null)))
    assert(one("{}", """{ json_set("obj.foo", "hello world") }""", "none")
      == (("""{"obj":{"foo":"hello world"}}""", null)))
    assert(one("{}", """{ json_set_int("obj.foo", 5) }""", "none") == (("""{"obj":{"foo":5}}""", null)))
    assert(one("{}", """{ json_set_float("obj.foo", 5.3) }""", "none") == (("""{"obj":{"foo":5.3}}""", null)))
    assert(one("{}", """{ json_set_bool("obj.foo", "foo" == "foo") }""", "none")
      == (("""{"obj":{"foo":true}}""", null)))
    // read-your-writes ("json set, get and set again")
    assert(one("""{"obj":{"foo":"nope"}}""",
      """{ json_set("obj.foo", "hello world"); json_set("obj.foo", json_get("obj.foo") " 123"); }""",
      "none") == (("""{"obj":{"foo":"hello world 123"}}""", null)))
  }

  test("custom functions on non-JSON content: passthrough + error flag (awk.go lazy part.JSON)") {
    val (t1, e1) = one("not json content", """{ print json_get("obj.bar") }""", "none")
    assert(t1 == "not json content" && e1 != null && e1.contains("json"))
    val (t2, e2) = one("not json content", """{ json_set("obj.foo", "hello world") }""", "none")
    assert(t2 == "not json content" && e2 != null)
    val (t3, e3) = one("not json content", """{ json_delete("obj.foo") }""", "none")
    assert(t3 == "not json content" && e3 != null)
  }

  test("custom functions: json_delete (awk_test.go table)") {
    assert(one("""{"obj":{"foo":"hello world","bar":"baz"}}""", """{ json_delete("obj.foo") }""", "none")
      == (("""{"obj":{"bar":"baz"}}""", null)))
    assert(one("""{"obj":{"foo":"hello world"}}""", """{ json_delete("obj") }""", "none") == (("{}", null)))
  }

  test("custom functions: json_append family incl. wrap-existing (awk_test.go table)") {
    assert(one("{}", """{ json_append("obj.foo", "hello world") }""", "none")
      == (("""{"obj":{"foo":["hello world"]}}""", null)))
    assert(one("""{"0":"test"}""", """{ json_append("obj.foo", "hello world") }""", "none")
      == (("""{"0":"test","obj":{"foo":["hello world"]}}""", null)))
    assert(one("""{"0":"test","obj":{"1":"test2"}}""", """{ json_append("obj.foo", "hello world") }""", "none")
      == (("""{"0":"test","obj":{"1":"test2","foo":["hello world"]}}""", null)))
    // gabs ArrayAppend wraps an existing non-array value as the first element
    assert(one("""{"obj":{"foo":"first"}}""", """{ json_append("obj.foo", "hello world") }""", "none")
      == (("""{"obj":{"foo":["first","hello world"]}}""", null)))
    assert(one("""{"obj":{"foo":["first",2]}}""", """{ json_append("obj.foo", "hello world") }""", "none")
      == (("""{"obj":{"foo":["first",2,"hello world"]}}""", null)))
    assert(one("{}", """{ json_append_int("obj.foo", 1) }""", "none") == (("""{"obj":{"foo":[1]}}""", null)))
    assert(one("{}", """{ json_append_float("obj.foo", 1.2) }""", "none") == (("""{"obj":{"foo":[1.2]}}""", null)))
    assert(one("{}", """{ json_append_bool("obj.foo", 1) }""", "none") == (("""{"obj":{"foo":[true]}}""", null)))
    assert(one("{}", """{ json_append_bool("obj.foo", 0) }""", "none") == (("""{"obj":{"foo":[false]}}""", null)))
  }

  test("custom functions: json_type / json_length (Go float64 + byte-length semantics)") {
    def typ(in: String) = one(in, """{ print json_type("foo") }""", "none")._1
    assert(typ("{}") == "undefined")
    assert(typ("""{"foo":null}""") == "null")
    assert(typ("""{"foo":5}""") == "float") // encoding/json unmarshals numbers to float64
    assert(typ("""{"foo":"foo"}""") == "string")
    assert(typ("""{"foo":["foo",5,false]}""") == "array")
    assert(typ("""{"foo":false}""") == "bool")
    assert(typ("""{"foo":{"foo":"bar"}}""") == "object")
    def len(in: String) = one(in, """{ print json_length("foo") }""", "none")._1
    assert(len("{}") == "0")
    assert(len("""{"foo":5}""") == "0")
    assert(len("""{"foo":[]}""") == "0")
    assert(len("""{"foo":[1, 2, "three"]}""") == "3")
    assert(len("""{"foo":"four"}""") == "4")
    assert(len("""{"foo":""}""") == "0")
  }

  test("custom functions: metadata_set writes back to the meta column (awk_test.go 'metadata set 1')") {
    val (t, e, after) = run("hello world",
      """{ metadata_set("meta.foo", 24); metadata_set("meta.bar", "36") }""",
      "none", Map("meta.foo" -> "12"))
    assert(t == "hello world" && e == null)
    assert(after == Map("meta.foo" -> "24", "meta.bar" -> "36"))
  }

  test("custom functions: timestamp family (awk_test.go datestring cases)") {
    assert(one("foo", """{ foo = foostamp; print timestamp_unix(foo) }""", "text",
      Map("foostamp" -> "2018-12-18T11:57:32"))._1 == "1545134252")
    assert(one("foo", """{ foo = foostamp; print timestamp_unix(foo, "2006TOTALLY01CUSTOM02T15:04:05") }""",
      "text", Map("foostamp" -> "2018TOTALLY12CUSTOM18T11:57:32"))._1 == "1545134252")
    assert(one("foo", """{ print timestamp_unix(foostamp) }""", "text",
      Map("foostamp" -> "2018-12-18T11:57:32"))._1 == "1545134252")
    assert(one("foo", """{ print timestamp_format(foostamp, "02 Jan 06 15:04") }""", "text",
      Map("foostamp" -> "1545134252"))._1 == "18 Dec 18 11:57")
    // nano epochs exceed 2^53: string-split math, never a double
    assert(one("foo", """{ print timestamp_format_nano(foostamp, "02 Jan 06 15:04:05.000000000") }""", "text",
      Map("foostamp" -> "1545134252123000064"))._1 == "18 Dec 18 11:57:32.123000064")
  }

  test("custom functions: bad date string aborts -> passthrough + flag (TestAWKBadDateString)") {
    val (t, e) = one("this is a value", """{ print timestamp_unix("this isnt a date string") }""", "none")
    assert(t == "this is a value" && e != null && e.contains("datetime"))
  }

  test("custom functions: create_json_object / create_json_array (sorted keys, string values)") {
    assert(one("this is ignored", """{ print create_json_object("foo", "1", "bar", "2", "baz", "3") }""",
      "none")._1 == """{"bar":"2","baz":"3","foo":"1"}""")
    assert(one("this is ignored", """{ print create_json_object("foo", "1", "bar", 2, "baz", "true") }""",
      "none")._1 == """{"bar":"2","baz":"true","foo":"1"}""")
    assert(one("this is ignored", """{ print create_json_object() }""", "none")._1 == "{}")
    assert(one("this is ignored", """{ print create_json_array("1", 2, "3") }""", "none")._1
      == """["1","2","3"]""")
    assert(one("this is ignored", """{ print create_json_array() }""", "none")._1 == "[]")
  }

  test("codec none: no variables injected ('metadata not exist 1')") {
    assert(one("foo", """{ print $2 meta_foo }""", "none", Map.empty) == (("", null)))
  }

  test("multi-part json mutation with sorted Go-marshal output (TestAWKJSONParts)") {
    val df = Seq(
      """{"init":{"val":"first"}}""", """{"init":{"val":"second"}}""",
      """{"init":{"val":"third"}}""", """{"init":{"val":"fourth"}}""").toDF("text")
    val out = Awk.proc(df,
      """{ json_set("foo.bar", json_get("init.val")); json_set("foo.bar", json_get("foo.bar") " extra"); }""",
      "none").select("text").as[String].collect().toSeq
    assert(out == Seq(
      """{"foo":{"bar":"first extra"},"init":{"val":"first"}}""",
      """{"foo":{"bar":"second extra"},"init":{"val":"second"}}""",
      """{"foo":{"bar":"third extra"},"init":{"val":"third"}}""",
      """{"foo":{"bar":"fourth extra"},"init":{"val":"fourth"}}"""))
  }

  test("stdout still wins over json mutations; print interleaves with control lines") {
    // the reference applies part.SetJSON during the run but a non-empty
    // stdout overwrites the content at the end (awk.go:838-846)
    assert(one("""{"obj":{"foo":1}}""",
      """{ json_set("obj.foo", "x"); print "explicit output" }""", "none")
      == (("explicit output", null)))
  }

  test("control op after an unterminated printf neither corrupts output nor loses the op") {
    // ops ride stderr: a trailing printf without \n must keep its exact
    // bytes, and the metadata_set emitted after it must still land
    val (t, e, m) = run("ignored",
      """{ printf "%s", "x"; metadata_set("k", "v") }""", "none",
      Map("seed" -> "1"))
    assert(e == null && t == "x" && m("k") == "v")
  }

  test("metadata values containing the \\u001f field separator survive the op protocol") {
    val v = "a\u001fb\u001fc"
    val (_, e, m) = run("ignored",
      s"""{ metadata_set("k", "a" sprintf("%c",31) "b" sprintf("%c",31) "c") }""",
      "none", Map("seed" -> "1"))
    assert(e == null && m("k") == v)
  }

  test("a payload too large for one argv element still seeds json functions (-f path)") {
    // prelude + BEGIN seed for this ~300 KiB payload blows Linux's 128 KiB
    // MAX_ARG_STRLEN if the program passes as a single argv element (many
    // moderate values, not one huge literal — mawk also caps a single
    // source string literal)
    val payload = (0 until 300).map(i => s""""k$i":"${"x" * 1000}"""")
      .mkString("{", ",", ""","n":7}""")
    val (t, e) = one(payload,
      """{ print json_length("k5") "-" json_get("n") }""", "none")
    assert(e == null && t == "1000-7")
  }

  test("timestamp_unix_nano borrows correctly for pre-1970 fractional timestamps") {
    assert(one("ignored",
      """{ print timestamp_unix_nano("1969-12-31T23:59:59.500", "2006-01-02T15:04:05.000") }""",
      "none") == (("-500000000", null)))
    assert(one("ignored",
      """{ print timestamp_unix_nano("1969-12-31T23:59:58.250", "2006-01-02T15:04:05.000") }""",
      "none") == (("-1750000000", null)))
    // fraction-less negative and positive-fraction paths unchanged
    assert(one("ignored",
      """{ print timestamp_unix_nano("1969-12-31T23:59:59", "2006-01-02T15:04:05") }""",
      "none") == (("-1000000000", null)))
    assert(one("ignored",
      """{ print timestamp_unix_nano("1970-01-01T00:00:01.500", "2006-01-02T15:04:05.000") }""",
      "none") == (("1500000000", null)))
  }

  test("messages larger than the pipe buffers round-trip (stdout drains concurrently)") {
    // ~300 KB through an echoing program: without a concurrent stdout drain
    // the parent blocks writing stdin while awk blocks writing unread stdout
    val big = (("x" * 99) + "\n") * 3000
    val (text, err) = one(big, "{ print }", "text")
    assert(err == null)
    assert(text == big.stripSuffix("\n"))
  }
}

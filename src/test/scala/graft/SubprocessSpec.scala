package graft

import org.apache.spark.sql.functions._
import graft.ops.{Errors, Subprocess}

/** subprocess processor (reference: internal/old/processor/subprocess.go;
  * subprocess_test.go TestSubprocessWithSed/TestSubprocessWithErrors,
  * TestSubprocessLineBreaks): replace-on-stdout, fail-on-stderr, per-line
  * round-trips for multi-line messages, and the three framing codecs.
  */
class SubprocessSpec extends SparkTestBase {
  import spark.implicits._

  private def df(texts: String*) =
    texts.zipWithIndex.map { case (t, i) => (i, t) }.toDF("id", "text")

  test("stdout reply replaces the message (subprocess_test.go sed case)") {
    val out = Subprocess.pipe(df("hello", "world"),
      Seq("awk", "-W", "interactive", "{ print toupper($0); fflush(); }"))
      .orderBy("id").select("text", Errors.ErrCol).as[(String, String)].collect()
    assert(out.toSeq == Seq(("HELLO", null), ("WORLD", null)))
  }

  test("stderr reply marks the row failed and keeps content (TestSubprocessWithErrors)") {
    val prog = """{ if ($0 ~ /bad/) { print "oh no" > "/dev/stderr"; fflush("/dev/stderr") }
                  |  else { print toupper($0); fflush() } }""".stripMargin
    val out = Subprocess.pipe(df("fine", "bad thing", "also fine"), Seq("awk", "-W", "interactive", prog))
      .orderBy("id").select("text", Errors.ErrCol).as[(String, String)].collect()
    assert(out(0) == (("FINE", null)))
    assert(out(1)._1 == "bad thing" && out(1)._2 == "oh no")
    assert(out(2) == (("ALSO FINE", null)))
  }

  test("multi-line message round-trips per line, preserving a trailing empty line (TestSubprocessLineBreaks)") {
    val out = Subprocess.pipe(df("foo\nbar", "tail\n", "one"),
      Seq("awk", "-W", "interactive", "{ print toupper($0); fflush(); }"))
      .orderBy("id").select("text").as[String].collect()
    assert(out.toSeq == Seq("FOO\nBAR", "TAIL\n", "ONE"))
  }

  test("a reply timeout fails that row; a fresh child serves the rest of the partition") {
    val prog = """{ if ($0 == "hang") system("sleep 30"); else { print toupper($0); fflush() } }"""
    val t0 = System.nanoTime()
    val out = Subprocess.pipe(df("a", "hang", "b", "c").coalesce(1),
      Seq("awk", "-W", "interactive", prog), replyTimeoutSec = 1)
      .orderBy("id").select("text", Errors.ErrCol).as[(String, String)].collect()
    assert((System.nanoTime() - t0) / 1e9 < 25, "the hung child was waited out, not killed")
    assert(out(0) == (("A", null)))
    assert(out(1)._1 == "hang" && out(1)._2.contains("no reply within 1s"))
    assert(out.drop(2).toSeq == Seq(("B", null), ("C", null)))
  }

  test("a child that stops reading fails the next row; a fresh child serves the row after it") {
    // each child answers one line, then closes its stdin and lingers, so
    // the write of the next row fails; its `sleep` starts before the reply
    val cmd = Seq("sh", "-c", """read l; exec 0<&-; sleep 37 & echo "$l"; wait""")
    val out = Subprocess.pipe(df("a", "b", "c", "d").coalesce(1), cmd)
      .orderBy("id").select("text", Errors.ErrCol).as[(String, String)].collect()
    assert(out(0) == (("a", null)))
    assert(out(1)._1 == "b" && out(1)._2 != null)
    assert(out(2) == (("c", null)))
    assert(out(3)._1 == "d" && out(3)._2 != null)
    def lingering() = ProcessHandle.allProcesses().filter(
      _.info().commandLine().orElse("").contains("sleep 37")).count()
    val deadline = System.nanoTime() + 5000000000L
    while (lingering() > 0 && System.nanoTime() < deadline) Thread.sleep(50)
    assert(lingering() == 0, "a replaced child's sleep is still running")
  }

  test("netstring codec round-trips through cat (netstringSplitFunc)") {
    val out = Subprocess.pipe(df("hello world", "x,y:z", ""),
      Seq("cat"), codecSend = "netstring", codecRecv = "netstring")
      .orderBy("id").select("text").as[String].collect()
    assert(out.toSeq == Seq("hello world", "x,y:z", ""))
  }

  test("length_prefixed_uint32_be codec round-trips through cat") {
    val out = Subprocess.pipe(df("hello", "with\nnewline inside", ""),
      Seq("cat"), codecSend = "length_prefixed_uint32_be",
      codecRecv = "length_prefixed_uint32_be")
      .orderBy("id").select("text").as[String].collect()
    assert(out.toSeq == Seq("hello", "with\nnewline inside", ""))
  }

  test("null text passes through without a round-trip") {
    val in = Seq((0, "a"), (1, null.asInstanceOf[String])).toDF("id", "text")
    val out = Subprocess.pipe(in, Seq("cat"))
      .orderBy("id").select("text").as[String].collect()
    assert(out.toSeq == Seq("a", null))
  }

  test("unknown codec is rejected (subprocess.go:176)") {
    intercept[IllegalArgumentException] {
      Subprocess.pipe(df("a"), Seq("cat"), codecSend = "nope")
    }
  }
}

package graft.blob

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** The engine's scalar expression surface: the reference's mapping language
  * (Bloblang) re-expressed as Catalyst `Column` combinators.
  *
  * The reference evaluates an interpreted query AST per message
  * (reference: internal/bloblang/mapping/executor.go:126-228,
  * internal/bloblang/query/functions.go, methods*.go). Here every operation
  * is a thin, codegen-friendly wrapper over
  * `org.apache.spark.sql.functions`; a Scala UDF appears only where Spark
  * has no built-in (flagged `// UDF`). Mapping table: SURVEY.md §2.6.
  *
  * This is the one place a Bloblang method's `Column` form is written:
  * `BloblangCompiler` types a program and dispatches every compiled method
  * to a member here, and hand-written queries call the same members. Every
  * public member has a caller outside this file.
  *
  * Naming: Bloblang `foo_bar` → `Blob.fooBar`; a trailing `_` where the
  * plain name is a Spark builtin (`abs_`, `trim_`, `length_`); a `Str`/`Arr`
  * part where one Bloblang method has a string and an array form
  * (`containsStr`/`containsArr`, `sliceStr`/`slice`, `strLength`/`length_`).
  * All combinators are pure Column → Column, so whole-stage codegen fuses
  * chains of them into one generated function — the Spark analogue of
  * Bloblang's single-pass statement executor, but compiled instead of
  * interpreted.
  */
object Blob {

  // ---------------------------------------------------------------- batch/
  // Benthos batch access (query/methods.go:153,195). Batches have no Spark
  // analogue; a batch is a conversation ordered by turn_idx (SURVEY.md
  // §7.4 risk 1).

  /** from(i) (query/methods.go:153): evaluate a field in the context of
    * batch part i — the i-th value of the column within the group's batch
    * order (null when the batch is shorter).
    */
  def from(field: Column, key: Column, ord: Column, i: Int): Column =
    // get() is 0-based and null out-of-bounds (element_at ERRORS under ANSI)
    get(fromAll(field, key, ord), lit(i))

  /** from_all() (query/methods.go:195): the field across the WHOLE batch
    * as an array, in batch order — the windowed-reduce building block
    * (GroupOps.reduceBatch / golden windowed.yaml use the agg form).
    */
  def fromAll(field: Column, key: Column, ord: Column): Column =
    // collect_list drops null elements; wrapping in a struct keeps null
    // parts at their batch positions (a struct with a null field is
    // itself non-null)
    transform(
      collect_list(struct(field.as("v"))).over(Window.partitionBy(key).orderBy(ord)
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)),
      s => s.getField("v"))

  // ------------------------------------------------------------ core fns /
  /** meta(k) (functions.go:516) over a MAP<STRING,STRING> column. */
  def meta(m: Column, k: String): Column = m.getItem(k)
  /** range(start, stop, step) (functions.go:390). */
  def range(start: Column, stop: Column, step: Column): Column =
    // Bloblang range is exclusive of stop; Spark sequence is inclusive.
    sequence(start, stop - when(step > 0, lit(1)).otherwise(lit(-1)), step)
  /** env(name) (functions.go:268): resolved at plan time — configuration,
    * not data. The map form backs the declarative test harness's
    * `environment` blocks; the no-arg form reads the JVM's environment.
    */
  def envFn(name: String, environment: Map[String, String]): Column =
    lit(environment.get(name).orNull).cast("string")
  def envFn(name: String): Column = envFn(name, sys.env)
  /** nanoid() (functions.go:786): 21 chars from the url-safe alphabet.
    * Random like the reference — excluded from oracles by nature. // UDF
    */
  def nanoid(): Column = {
    val f = udf { () =>
      val alphabet = "_-0123456789abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ"
      val rnd = java.util.concurrent.ThreadLocalRandom.current()
      val sb = new StringBuilder(21)
      (0 until 21).foreach(_ => sb += alphabet(rnd.nextInt(64)))
      sb.result()
    }
    f.asNondeterministic()()
  }
  /** ksuid() (functions.go:824): 4-byte big-endian seconds since the KSUID
    * epoch (2014-05-13) + 16 random bytes, base62, 27 chars — sortable by
    * creation time like the reference's segmentio/ksuid. // UDF
    */
  def ksuid(): Column = {
    val f = udf { () =>
      val epoch = 1400000000L
      val ts = (System.currentTimeMillis() / 1000 - epoch).toInt
      val raw = new Array[Byte](20)
      java.util.concurrent.ThreadLocalRandom.current().nextBytes(raw)
      raw(0) = (ts >>> 24).toByte; raw(1) = (ts >>> 16).toByte
      raw(2) = (ts >>> 8).toByte; raw(3) = ts.toByte
      // base62 of the 160-bit number, left-padded to 27
      val alphabet = "0123456789ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz"
      var n = BigInt(1, raw)
      val sb = new StringBuilder
      while (n > 0) { sb += alphabet((n % 62).toInt); n /= 62 }
      while (sb.length < 27) sb += '0'
      sb.reverse.result()
    }
    f.asNondeterministic()()
  }
  /** not_null() (methods.go:386): error (null → flag/raise) when null. */
  def notNull(c: Column, name: String): Column =
    when(c.isNull, raise_error(lit(s"value $name is null"))).otherwise(c)

  // --------------------------------------------------------- general meth /
  /** `.catch(fallback)` (methods.go:119): null/error → fallback. */
  def catchOr(c: Column, fallback: Column): Column = coalesce(c, fallback)
  /** `.number()` (methods.go:412) — try-cast, null on failure. */
  def number(c: Column): Column = c.try_cast("double")
  /** `.number(fallback)`: a failed parse yields the fallback. */
  def number(c: Column, fallback: Column): Column =
    coalesce(number(c), fallback.cast("double"))
  /** `.string()` of a long or bool (a double formats differently). */
  def string(c: Column): Column = c.cast("string")

  // -------------------------------------------------------------- numbers /
  // methods_numbers.go:10-224 → same-named builtins.
  def abs_(c: Column): Column = abs(c)
  def ceil_(c: Column): Column = ceil(c)
  def floor_(c: Column): Column = floor(c)
  /** round() is Go math.Round, half away from zero (methods_numbers.go:224);
    * Spark round() has the same rule.
    */
  def round_(c: Column): Column = round(c)

  // -------------------------------------------------------------- strings /
  /** capitalize (methods_strings.go:63): first rune upper, rest unchanged
    * (not initcap, which lowercases the tail and splits words).
    */
  def capitalize(c: Column): Column =
    concat(upper(substring(c, 1, 1)), c.substr(lit(2), length(c)))
  def encodeBase64(c: Column): Column = base64(c.cast("binary"))
  def encodeHex(c: Column): Column = lower(hex(c.cast("binary")))
  def format(fmt: String, args: Column*): Column = format_string(fmt, args: _*)
  def hasPrefix(c: Column, p: Column): Column = c.startsWith(p)
  def hasSuffix(c: Column, p: Column): Column = c.endsWith(p)
  /** hash(algorithm) (methods_strings.go:703). */
  def hash(c: Column, algorithm: String): Column = algorithm match {
    case "md5" => md5(c.cast("binary"))
    case "sha1" => sha1(c.cast("binary"))
    case "sha256" => sha2(c.cast("binary"), 256)
    case "sha512" => sha2(c.cast("binary"), 512)
    case "xxhash64" => xxhash64(c)
    case "crc32" => crc32(c.cast("binary"))
    case a => throw new IllegalArgumentException(s"unsupported hash: $a")
  }
  /** hmac(algorithm, key) (methods_strings.go:703 — `hash` with a key
    * argument). No Spark builtin → javax.crypto UDF; returns raw bytes
    * like the reference (chain `encodeHex` for the usual form). // UDF
    */
  def hmac(c: Column, algorithm: String, key: Column): Column = {
    val algo = algorithm match {
      case "sha1" => "HmacSHA1"
      case "sha256" => "HmacSHA256"
      case "sha512" => "HmacSHA512"
      case "md5" => "HmacMD5"
      case a => throw new IllegalArgumentException(s"unsupported hmac: $a")
    }
    val f = udf { (b: Array[Byte], k: Array[Byte]) =>
      if (b == null || k == null) null
      else {
        val mac = javax.crypto.Mac.getInstance(algo)
        mac.init(new javax.crypto.spec.SecretKeySpec(k, algo))
        mac.doFinal(b)
      }
    }
    f(c.cast("binary"), key.cast("binary"))
  }

  def indexOf(c: Column, sub: String): Column = instr(c, sub) - 1
  def joinArr(c: Column, sep: String): Column = array_join(c, sep)
  def uppercase(c: Column): Column = upper(c)
  def lowercase(c: Column): Column = lower(c)
  def strLength(c: Column): Column = length(c)
  def formatTimestamp(c: Column, fmt: String): Column = date_format(c, fmt)
  def formatTimestampUnix(c: Column): Column = unix_timestamp(c)

  /** C strftime → Java DateTimeFormatter pattern translation, backing the
    * reference's strftime-dialect timestamp methods
    * (methods_strings.go:1289 parse_timestamp_strptime, :1439
    * format_timestamp_strftime). Literal letters are single-quoted so they
    * can't be misread as Java pattern fields.
    */
  private[graft] def strftimeToJava(fmt: String): String = {
    val map = Map(
      'Y' -> "yyyy", 'y' -> "yy", 'm' -> "MM", 'd' -> "dd", 'e' -> "d",
      'H' -> "HH", 'I' -> "hh", 'M' -> "mm", 'S' -> "ss", 'p' -> "a",
      'b' -> "MMM", 'B' -> "MMMM", 'a' -> "EEE", 'A' -> "EEEE",
      'j' -> "DDD", 'z' -> "xx", 'Z' -> "zz", 'f' -> "SSSSSS")
    val out = new StringBuilder
    var i = 0
    while (i < fmt.length) {
      val ch = fmt.charAt(i)
      if (ch == '%' && i + 1 < fmt.length) {
        val t = fmt.charAt(i + 1)
        if (t == '%') out += '%'
        else out ++= map.getOrElse(t,
          throw new IllegalArgumentException(s"unsupported strftime token %$t"))
        i += 2
      } else {
        if (ch == '\'') out ++= "''"
        else if (ch.isLetter) { out += '\''; out += ch; out += '\'' }
        else out += ch
        i += 1
      }
    }
    out.result()
  }

  /** parse_timestamp_strptime (methods_strings.go:1289). */
  def parseTimestampStrptime(c: Column, strftimeFmt: String): Column =
    to_timestamp(c, strftimeToJava(strftimeFmt))

  /** format_timestamp_strftime (methods_strings.go:1439). */
  def formatTimestampStrftime(c: Column, strftimeFmt: String): Column =
    date_format(c, strftimeToJava(strftimeFmt))

  /** parse_duration_iso8601 (methods_strings.go:1213) → nanoseconds.
    * java.time.Duration covers the PnDTnHnMn.nS forms; year/month
    * designators are rejected like the reference's underlying lib. // UDF
    */
  val parseDurationIso8601: Column => Column = {
    val f = udf { (s: String) =>
      if (s == null) null.asInstanceOf[java.lang.Long]
      else
        try java.lang.Long.valueOf(java.time.Duration.parse(s).toNanos)
        catch { case _: Exception => null.asInstanceOf[java.lang.Long] }
    }
    c => f(c)
  }
  /** parse_duration (methods_strings.go:1183) → nanoseconds. Go-style
    * "1h2m3s450ms" durations; no builtin exists. // UDF
    */
  val parseDuration: Column => Column = {
    val f = udf { (s: String) =>
      if (s == null) null.asInstanceOf[java.lang.Long]
      else {
        val re = "([0-9]*\\.?[0-9]+)(ns|us|µs|ms|s|m|h)".r
        val unit = Map("ns" -> 1L, "us" -> 1000L, "µs" -> 1000L,
          "ms" -> 1000000L, "s" -> 1000000000L, "m" -> 60000000000L,
          "h" -> 3600000000000L)
        val parts = re.findAllMatchIn(s).toList
        if (parts.isEmpty) null.asInstanceOf[java.lang.Long]
        else java.lang.Long.valueOf(
          parts.map(m => (m.group(1).toDouble * unit(m.group(2))).toLong).sum)
      }
    }
    c => f(c)
  }
  def quote(c: Column): Column = to_json(struct(c.as("v"))).substr(lit(6), length(to_json(struct(c.as("v")))) - 6)
  /** unquote (methods_strings.go:1567 — Go strconv.Unquote on a
    * double-quoted string): JSON-string decode; non-quoted input → null,
    * like the reference's error. // UDF
    */
  val unquote: Column => Column = {
    val f = udf { (s: String) =>
      if (s == null) null
      else {
        val t = s.trim
        if (t.length >= 2 && t.startsWith("\"") && t.endsWith("\""))
          try {
            val n = new com.fasterxml.jackson.databind.ObjectMapper().readTree(t)
            if (n.isTextual) n.textValue() else null
          } catch { case _: Exception => null }
        else null
      }
    }
    c => f(c)
  }
  /** encode("ascii85")/decode("ascii85") (methods_strings.go:90 encode
    * options) — Adobe ASCII85 without the <~ ~> frame, 'z' shorthand on
    * encode only (matching Go's encoding/ascii85 writer). // UDF
    */
  val encodeAscii85: Column => Column = {
    val f = udf { (b: Array[Byte]) =>
      if (b == null) null
      else {
        val out = new StringBuilder
        var i = 0
        while (i < b.length) {
          val n = math.min(4, b.length - i)
          var v = 0L
          (0 until 4).foreach(j => v = (v << 8) | (if (j < n) b(i + j) & 0xffL else 0L))
          if (v == 0 && n == 4) out += 'z'
          else {
            val cs = new Array[Char](5)
            var x = v
            (4 to 0 by -1).foreach { j => cs(j) = ((x % 85) + 33).toChar; x /= 85 }
            out ++= new String(cs, 0, n + 1)
          }
          i += 4
        }
        out.result()
      }
    }
    c => f(c.cast("binary"))
  }
  val decodeAscii85: Column => Column = {
    val f = udf { (s: String) =>
      if (s == null) null
      else {
        val bytes = new java.io.ByteArrayOutputStream()
        val chunk = new Array[Int](5)
        var k = 0
        s.foreach { ch =>
          if (ch == 'z' && k == 0) bytes.write(Array[Byte](0, 0, 0, 0), 0, 4)
          else if (ch > ' ') {
            chunk(k) = ch - 33; k += 1
            if (k == 5) {
              var v = 0L
              chunk.foreach(d => v = v * 85 + d)
              (3 to 0 by -1).foreach(j => bytes.write(((v >> (8 * j)) & 0xff).toInt))
              k = 0
            }
          }
        }
        if (k > 0) { // partial group: pad with 'u' (84), emit k-1 bytes
          var v = 0L
          (0 until 5).foreach(j => v = v * 85 + (if (j < k) chunk(j) else 84))
          (3 to (4 - k + 1) by -1).foreach(j => bytes.write(((v >> (8 * j)) & 0xff).toInt))
        }
        bytes.toByteArray
      }
    }
    c => f(c)
  }
  /** encode("z85")/decode("z85") (methods_strings.go:154,235) — ZeroMQ
    * Z85 (spec rfc.zeromq.org/spec/32): strictly 4-byte-aligned binary to
    * 5-char groups over the Z85 alphabet; misaligned input errors, like
    * the reference's go-zeromq/zmq4 codec. // UDF
    */
  private val z85Alphabet =
    "0123456789abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ.-:+=^!/*?&<>()[]{}@%$#"
  val encodeZ85: Column => Column = {
    val alpha = z85Alphabet
    val f = udf { (b: Array[Byte]) =>
      if (b == null) null
      else if (b.length % 4 != 0)
        throw new IllegalArgumentException("z85 requires input length to be a multiple of 4")
      else {
        val out = new StringBuilder(b.length / 4 * 5)
        var i = 0
        while (i < b.length) {
          var v = 0L
          (0 until 4).foreach(j => v = (v << 8) | (b(i + j) & 0xffL))
          val cs = new Array[Char](5)
          var x = v
          (4 to 0 by -1).foreach { j => cs(j) = alpha((x % 85).toInt); x /= 85 }
          out ++= new String(cs)
          i += 4
        }
        out.result()
      }
    }
    c => f(c.cast("binary"))
  }
  private val z85Index: Array[Int] = {
    val idx = new Array[Int](128); java.util.Arrays.fill(idx, -1)
    z85Alphabet.zipWithIndex.foreach { case (ch, i) => idx(ch.toInt) = i }
    idx
  }
  val decodeZ85: Column => Column = {
    val idx = z85Index // decode table built once, captured by the closure
    val f = udf { (s: String) =>
      if (s == null) null
      else if (s.length % 5 != 0)
        throw new IllegalArgumentException("z85 requires input length to be a multiple of 5")
      else {
        val bytes = new java.io.ByteArrayOutputStream(s.length / 5 * 4)
        var i = 0
        while (i < s.length) {
          var v = 0L
          (0 until 5).foreach { j =>
            val ch = s.charAt(i + j).toInt
            val d = if (ch < 128) idx(ch) else -1
            if (d < 0) throw new IllegalArgumentException(
              s"invalid z85 character '${s.charAt(i + j)}'")
            v = v * 85 + d
          }
          (3 to 0 by -1).foreach(j => bytes.write(((v >> (8 * j)) & 0xff).toInt))
          i += 5
        }
        bytes.toByteArray
      }
    }
    c => f(c)
  }
  /** replace_all (methods_strings.go): literal, left-to-right, like Go
    * strings.ReplaceAll, including an empty `from` (a match before every
    * char and at the end).
    */
  def replaceAll(c: Column, from: String, to: String): Column =
    regexp_replace(c, java.util.regex.Pattern.quote(from),
      java.util.regex.Matcher.quoteReplacement(to))
  private def replaceAllMany(c: Column, pairs: Seq[(String, String)]): Column =
    pairs.foldLeft(c) { case (acc, (f, t)) => replace(acc, lit(f), lit(t)) }
  /** re_find_all_submatch (methods_strings.go:1751): per match, the array
    * [full, group1, group2, …]. // UDF
    */
  def reFindAllSubmatch(c: Column, pattern: String): Column = {
    val f = udf { (s: String) =>
      if (s == null) null
      else {
        val m = java.util.regex.Pattern.compile(pattern).matcher(s)
        val out = Seq.newBuilder[Seq[String]]
        while (m.find())
          out += (0 to m.groupCount).map(g => Option(m.group(g)).getOrElse(""))
        out.result()
      }
    }
    f(c)
  }
  private def namedGroups(pattern: String): Seq[String] =
    "\\(\\?<([a-zA-Z][a-zA-Z0-9]*)>".r.findAllMatchIn(pattern).map(_.group(1)).toSeq
  /** re_find_object (methods_strings.go:1805): named groups of the FIRST
    * match as a map (group `0` carries the full match, like the
    * reference). // UDF
    */
  def reFindObject(c: Column, pattern: String): Column = {
    val groups = namedGroups(pattern)
    val f = udf { (s: String) =>
      if (s == null) null
      else {
        val m = java.util.regex.Pattern.compile(pattern).matcher(s)
        if (!m.find()) null
        else (Map("0" -> m.group(0)) ++
          groups.flatMap(g => Option(m.group(g)).map(g -> _)))
      }
    }
    f(c)
  }
  /** re_find_all_object (methods_strings.go:1862): one map per match. // UDF */
  def reFindAllObject(c: Column, pattern: String): Column = {
    val groups = namedGroups(pattern)
    val f = udf { (s: String) =>
      if (s == null) null
      else {
        val m = java.util.regex.Pattern.compile(pattern).matcher(s)
        val out = Seq.newBuilder[Map[String, String]]
        while (m.find())
          out += (Map("0" -> m.group(0)) ++
            groups.flatMap(g => Option(m.group(g)).map(g -> _)))
        out.result()
      }
    }
    f(c)
  }
  /** re_match: Go regexp MatchString finds a match anywhere; rlike is
    * Java find() too.
    */
  def reMatch(c: Column, pattern: String): Column = c.rlike(pattern)
  /** re_replace_all: both engines are Java regex here, so patterns and
    * `$N` backrefs agree with the interpreter.
    */
  def reReplaceAll(c: Column, pattern: String, to: String): Column =
    regexp_replace(c, pattern, to)
  def reverse_(c: Column): Column = reverse(c)
  /** split (Go strings.Split): a literal separator, trailing empty fields
    * kept (limit -1).
    */
  def splitStr(c: Column, sep: String): Column =
    split(c, java.util.regex.Pattern.quote(sep), -1)
  /** slice(from, until) of a string, non-negative bounds (an `until` past
    * the end clamps, like the interpreter).
    */
  def sliceStr(c: Column, from: Int, until: Int): Column =
    substring(c, from + 1, until - from)
  /** Go's unicode.IsSpace set, the chars strings.TrimSpace strips — which
    * is what the reference's trim() without arguments does. Spark trim(c)
    * strips only U+0020 and Java String.trim every char ≤ U+0020.
    */
  val goSpace: String =
    (Seq(0x09, 0x0a, 0x0b, 0x0c, 0x0d, 0x20, 0x85, 0xa0, 0x1680) ++ (0x2000 to 0x200a) ++
      Seq(0x2028, 0x2029, 0x202f, 0x205f, 0x3000)).map(_.toChar).mkString
  /** trim (Go strings.Trim): strip leading/trailing chars in `cutset`;
    * without one, Go whitespace (strings.TrimSpace).
    */
  def trim_(c: Column, cutset: String = goSpace): Column = trim(c, cutset)
  /** escape_html (methods_strings.go:441). */
  def escapeHtml(c: Column): Column =
    replaceAllMany(c, Seq("&" -> "&amp;", "<" -> "&lt;", ">" -> "&gt;",
      "\"" -> "&#34;", "'" -> "&#39;"))

  // ----------------------------------------------------------- structured /
  // methods_structured.go → array/map higher-order builtins (all codegen'd
  // or interpreted HOFs — no UDFs needed, SURVEY.md §2.6 end note).
  def containsArr(c: Column, v: Column): Column = array_contains(c, v)
  def containsStr(c: Column, v: Column): Column = c.contains(v)
  def filterArr(c: Column, p: Column => Column): Column = filter(c, p)
  def flatten_(c: Column): Column = flatten(c)
  /** index(i): 0-based, a negative i counts from the end, out of range is
    * null (element_at would raise there under ANSI). The bounds check runs
    * on the long index, so the int cast never overflows.
    */
  def index(c: Column, i: Column): Column = {
    val j = when(i < 0, size(c) + i).otherwise(i)
    when(j >= 0 && j < size(c), get(c, j.cast("int")))
  }
  def keys(m: Column): Column = map_keys(m)
  def length_(c: Column): Column = size(c)
  def mapEach(c: Column, f: Column => Column): Column = transform(c, f)
  def sortArr(c: Column): Column = array_sort(c)
  /** sort_by with a custom key (methods_structured.go:1139 — the
    * reference's comparator-mapping form): array_sort with a comparator
    * lambda over the extracted keys; stays a codegen'd HOF, no UDF.
    */
  def sortBy(c: Column, key: Column => Column): Column =
    array_sort(c, (l, r) =>
      when(key(l) < key(r), -1).when(key(l) > key(r), 1).otherwise(0))
  /** collapse (methods_structured.go:143): flatten a JSON document into a
    * single-level map of dot-separated leaf paths (arrays indexed
    * numerically). Dynamic JSON → Jackson UDF, MAP<STRING,STRING> out. // UDF
    */
  val collapse: Column => Column = {
    import com.fasterxml.jackson.databind.JsonNode
    import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
    val f = udf { (s: String) =>
      if (s == null) null
      else
        try {
          val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(s)
          val out = scala.collection.mutable.LinkedHashMap.empty[String, String]
          def walk(n: JsonNode, path: String): Unit = n match {
            case o: ObjectNode =>
              o.properties().forEach { e =>
                walk(e.getValue, if (path.isEmpty) e.getKey else s"$path.${e.getKey}")
              }
            case a: ArrayNode =>
              var i = 0
              a.forEach { e => walk(e, s"$path.$i"); i += 1 }
            case leaf =>
              out(path) = if (leaf.isTextual) leaf.textValue() else leaf.toString
          }
          walk(root, "")
          out.toMap
        } catch { case _: Exception => null }
    }
    c => f(c)
  }
  def slice(c: Column, from: Int, until: Int): Column = org.apache.spark.sql.functions.slice(c, from + 1, until - from)
  def sum_(c: Column): Column = aggregate(c, lit(0.0), (a, b) => a + b.cast("double"))
  def unique(c: Column): Column = array_distinct(c)

  // Bloblang `|` pipe operator (arithmetic.go:19-53): lhs null/error → rhs.
  def pipe(l: Column, r: Column): Column = coalesce(l, r)

  // ---------------------------------------------------------------- codecs /
  /** compress/decompress processors, gzip codec (reference:
    * internal/old/processor/compress.go:42, decompress.go:42). Storage-level
    * codecs are preferred at scale; these inline UDFs exist for payload
    * parity only. // UDF
    */
  val gzipCompress: Column => Column = {
    val f = udf { (b: Array[Byte]) =>
      if (b == null) null
      else {
        val bos = new java.io.ByteArrayOutputStream()
        val gz = new java.util.zip.GZIPOutputStream(bos)
        gz.write(b); gz.close()
        bos.toByteArray
      }
    }
    c => f(c.cast("binary"))
  }
  val gzipDecompress: Column => Column = {
    val f = udf { (b: Array[Byte]) =>
      if (b == null) null
      else {
        val in = new java.util.zip.GZIPInputStream(new java.io.ByteArrayInputStream(b))
        val out = new java.io.ByteArrayOutputStream()
        val buf = new Array[Byte](4096)
        var n = in.read(buf)
        while (n > 0) { out.write(buf, 0, n); n = in.read(buf) }
        out.toByteArray
      }
    }
    c => f(c)
  }

  /** The full compress/decompress algorithm set of the reference
    * (compress.go:38-42: gzip, zlib, flate, snappy, lz4). zlib/flate via
    * java.util.zip.Deflater (zlib wrapper on/off — byte-compatible with
    * Go's compress/zlib and compress/flate); snappy block format via
    * snappy-java; lz4 FRAME format via lz4-java — both jars ship with
    * Spark and match the Go libraries' wire formats. // UDF
    */
  def compressAlgo(c: Column, algorithm: String): Column = algorithm match {
    case "gzip" => gzipCompress(c)
    case "zlib" | "flate" =>
      val nowrap = algorithm == "flate"
      val f = udf { (b: Array[Byte]) =>
        if (b == null) null
        else {
          val d = new java.util.zip.Deflater(
            java.util.zip.Deflater.DEFAULT_COMPRESSION, nowrap)
          d.setInput(b); d.finish()
          val out = new java.io.ByteArrayOutputStream()
          val buf = new Array[Byte](4096)
          while (!d.finished()) out.write(buf, 0, d.deflate(buf))
          d.end()
          out.toByteArray
        }
      }
      f(c.cast("binary"))
    case "snappy" =>
      val f = udf { (b: Array[Byte]) =>
        if (b == null) null else org.xerial.snappy.Snappy.compress(b)
      }
      f(c.cast("binary"))
    case "lz4" =>
      val f = udf { (b: Array[Byte]) =>
        if (b == null) null
        else {
          val bos = new java.io.ByteArrayOutputStream()
          val w = new net.jpountz.lz4.LZ4FrameOutputStream(bos)
          w.write(b); w.close()
          bos.toByteArray
        }
      }
      f(c.cast("binary"))
    case a => throw new IllegalArgumentException(s"unsupported compression: $a")
  }

  def decompressAlgo(c: Column, algorithm: String): Column = algorithm match {
    case "gzip" => gzipDecompress(c)
    case "zlib" | "flate" =>
      val nowrap = algorithm == "flate"
      val f = udf { (b: Array[Byte]) =>
        if (b == null) null
        else {
          val inf = new java.util.zip.Inflater(nowrap)
          inf.setInput(b)
          val out = new java.io.ByteArrayOutputStream()
          val buf = new Array[Byte](4096)
          while (!inf.finished()) {
            val n = inf.inflate(buf)
            if (n == 0 && inf.needsInput()) throw new java.util.zip.DataFormatException("truncated")
            out.write(buf, 0, n)
          }
          inf.end()
          out.toByteArray
        }
      }
      f(c)
    case "snappy" =>
      val f = udf { (b: Array[Byte]) =>
        if (b == null) null else org.xerial.snappy.Snappy.uncompress(b)
      }
      f(c)
    case "lz4" =>
      val f = udf { (b: Array[Byte]) =>
        if (b == null) null
        else {
          val in = new net.jpountz.lz4.LZ4FrameInputStream(
            new java.io.ByteArrayInputStream(b))
          val out = new java.io.ByteArrayOutputStream()
          val buf = new Array[Byte](4096)
          var n = in.read(buf)
          while (n > 0) { out.write(buf, 0, n); n = in.read(buf) }
          out.toByteArray
        }
      }
      f(c)
    case a => throw new IllegalArgumentException(s"unsupported compression: $a")
  }

  /** parse_log processor, syslog RFC3164 shape (reference:
    * internal/old/processor/parse_log.go:38,98-123) as a regexp bundle —
    * returns a struct(priority, timestamp, hostname, appname, message).
    */
  def parseSyslog3164(c: Column): Column = {
    val re = "^<(\\d+)>([A-Z][a-z]{2} [ 0-9]\\d [0-9:]{8}) (\\S+) ([^:\\[ ]+)(?:\\[\\d+\\])?: (.*)$"
    struct(
      regexp_extract(c, re, 1).try_cast("int").as("priority"),
      regexp_extract(c, re, 2).as("timestamp"),
      regexp_extract(c, re, 3).as("hostname"),
      regexp_extract(c, re, 4).as("appname"),
      regexp_extract(c, re, 5).as("message"))
  }

  /** parse_log, syslog RFC5424 shape (reference parse_log.go:98-123
    * handles both 5424 and 3164): `<pri>ver ts host app procid msgid
    * [sd…]|- msg` → struct(priority, version, timestamp, hostname,
    * appname, procid, msgid, structureddata, message). Nil fields (`-`)
    * come back null like the reference's parser.
    */
  def parseSyslog5424(c: Column): Column = {
    val re = "^<(\\d+)>(\\d+) (\\S+) (\\S+) (\\S+) (\\S+) (\\S+) (-|(?:\\[[^\\]]*\\])+)(?: (.*))?$"
    def nilNull(x: Column): Column = when(x === "-", lit(null)).otherwise(x)
    struct(
      regexp_extract(c, re, 1).try_cast("int").as("priority"),
      regexp_extract(c, re, 2).try_cast("int").as("version"),
      nilNull(regexp_extract(c, re, 3)).try_cast("timestamp").as("timestamp"),
      nilNull(regexp_extract(c, re, 4)).as("hostname"),
      nilNull(regexp_extract(c, re, 5)).as("appname"),
      nilNull(regexp_extract(c, re, 6)).as("procid"),
      nilNull(regexp_extract(c, re, 7)).as("msgid"),
      nilNull(regexp_extract(c, re, 8)).as("structureddata"),
      regexp_extract(c, re, 9).as("message"))
  }

  /** avro processor (reference internal/impl/pure/processor_avro.go:42-53:
    * operators `to_json` / `from_json` against a provided schema). The
    * spark-avro connector module isn't in the sandbox, but the Avro Java
    * runtime is — these UDFs run the same schema-driven binary↔JSON
    * conversion the reference's goavro codec performs. At scale prefer
    * storing decoded columns; these exist for payload parity. // UDF
    */
  def avroToJson(c: Column, schemaJson: String): Column = {
    val f = udf { (b: Array[Byte]) =>
      if (b == null) null
      else {
        val schema = new org.apache.avro.Schema.Parser().parse(schemaJson)
        val reader = new org.apache.avro.generic.GenericDatumReader[AnyRef](schema)
        val dec = org.apache.avro.io.DecoderFactory.get()
          .binaryDecoder(b, null)
        val datum = reader.read(null, dec)
        val out = new java.io.ByteArrayOutputStream()
        val writer = new org.apache.avro.generic.GenericDatumWriter[AnyRef](schema)
        val enc = org.apache.avro.io.EncoderFactory.get().jsonEncoder(schema, out)
        writer.write(datum, enc)
        enc.flush()
        out.toString("UTF-8")
      }
    }
    f(c)
  }

  def avroFromJson(c: Column, schemaJson: String): Column = {
    val f = udf { (s: String) =>
      if (s == null) null
      else {
        val schema = new org.apache.avro.Schema.Parser().parse(schemaJson)
        val reader = new org.apache.avro.generic.GenericDatumReader[AnyRef](schema)
        val dec = org.apache.avro.io.DecoderFactory.get().jsonDecoder(schema, s)
        val datum = reader.read(null, dec)
        val out = new java.io.ByteArrayOutputStream()
        val writer = new org.apache.avro.generic.GenericDatumWriter[AnyRef](schema)
        val enc = org.apache.avro.io.EncoderFactory.get().binaryEncoder(out, null)
        writer.write(datum, enc)
        enc.flush()
        out.toByteArray
      }
    }
    f(c)
  }

  /** parse_yaml / format_yaml (methods_strings.go:1067/1099) via the
    * jackson-dataformat-yaml module Spark ships: YAML ↔ canonical JSON
    * text (structure-preserving, like the reference's yaml.Unmarshal →
    * JSON value path). // UDF
    */
  val parseYaml: Column => Column = {
    val f = udf { (s: String) =>
      if (s == null) null
      else
        try {
          val y = new com.fasterxml.jackson.databind.ObjectMapper(
            new com.fasterxml.jackson.dataformat.yaml.YAMLFactory())
          val node = y.readTree(s)
          new com.fasterxml.jackson.databind.ObjectMapper().writeValueAsString(node)
        } catch { case _: Exception => null }
    }
    c => f(c)
  }
  val formatYaml: Column => Column = {
    val f = udf { (s: String) =>
      if (s == null) null
      else
        try {
          val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(s)
          new com.fasterxml.jackson.databind.ObjectMapper(
            new com.fasterxml.jackson.dataformat.yaml.YAMLFactory()).writeValueAsString(node)
        } catch { case _: Exception => null }
    }
    c => f(c)
  }

  /** json_schema processor (reference internal/old/processor/json_schema.go:
    * invalid documents get the error flag with the violation message).
    * Draft-7 SUBSET — type, properties, required, items, enum,
    * minimum/maximum, minLength/maxLength, pattern,
    * additionalProperties:false — the constructs the reference corpus
    * uses; no full-draft library ships in the sandbox. Returns null when
    * valid, else "path: message" for the first violation. // UDF
    */
  def jsonSchemaErr(c: Column, schemaJson: String): Column = {
    import com.fasterxml.jackson.databind.JsonNode
    val f = udf { (s: String) =>
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      def typeName(n: JsonNode): String =
        if (n.isTextual) "string"
        else if (n.isIntegralNumber) "integer"
        else if (n.isNumber) "number"
        else if (n.isBoolean) "boolean"
        else if (n.isArray) "array"
        else if (n.isObject) "object"
        else "null"
      def check(node: JsonNode, schema: JsonNode, path: String): String = {
        val t = schema.get("type")
        if (t != null) {
          val allowed =
            if (t.isArray) (0 until t.size).map(t.get(_).asText()) else Seq(t.asText())
          val actual = typeName(node)
          val ok = allowed.exists(a => a == actual || (a == "number" && actual == "integer"))
          if (!ok) return s"$path: expected ${allowed.mkString("/")}, got $actual"
        }
        val en = schema.get("enum")
        if (en != null && !(0 until en.size).exists(i => en.get(i) == node))
          return s"$path: value not in enum"
        if (node.isNumber) {
          val mn = schema.get("minimum"); val mx = schema.get("maximum")
          if (mn != null && node.doubleValue < mn.doubleValue) return s"$path: below minimum"
          if (mx != null && node.doubleValue > mx.doubleValue) return s"$path: above maximum"
        }
        if (node.isTextual) {
          val mnl = schema.get("minLength"); val mxl = schema.get("maxLength")
          if (mnl != null && node.textValue.length < mnl.intValue) return s"$path: too short"
          if (mxl != null && node.textValue.length > mxl.intValue) return s"$path: too long"
          val pat = schema.get("pattern")
          if (pat != null && !java.util.regex.Pattern.compile(pat.asText)
            .matcher(node.textValue).find()) return s"$path: pattern mismatch"
        }
        if (node.isObject) {
          val req = schema.get("required")
          if (req != null)
            (0 until req.size).foreach { i =>
              val k = req.get(i).asText
              if (!node.has(k)) return s"$path: missing required property $k"
            }
          val props = schema.get("properties")
          if (props != null) {
            val it = props.properties().iterator()
            while (it.hasNext) {
              val e = it.next()
              if (node.has(e.getKey)) {
                val r = check(node.get(e.getKey), e.getValue, s"$path.${e.getKey}")
                if (r != null) return r
              }
            }
            val ap = schema.get("additionalProperties")
            if (ap != null && ap.isBoolean && !ap.booleanValue) {
              val names = node.fieldNames()
              while (names.hasNext) {
                val k = names.next()
                if (!props.has(k)) return s"$path: additional property $k not allowed"
              }
            }
          }
        }
        if (node.isArray) {
          val items = schema.get("items")
          if (items != null)
            (0 until node.size).foreach { i =>
              val r = check(node.get(i), items, s"$path[$i]")
              if (r != null) return r
            }
        }
        null
      }
      if (s == null) null
      else
        try check(mapper.readTree(s), mapper.readTree(schemaJson), "$")
        catch { case e: Exception => s"$$: invalid json: ${e.getMessage}" }
    }
    f(c)
  }

  /** parse_xml (methods_strings.go:1011) via Spark 4's native from_xml. */
  def parseXml(c: Column, schemaDdl: String): Column =
    from_xml(c, org.apache.spark.sql.types.StructType.fromDDL(schemaDdl))

  /** Recursive JSON walk applying a transform to every string leaf — the
    * named-map recursion pattern of the reference corpus
    * (config/test/bloblang/walk_json.yaml: `map unescape_values` applied
    * through objects/arrays). Dynamic JSON trees have no static Catalyst
    * schema, so this is a Jackson UDF; non-JSON input is treated as a
    * bare string leaf, like Bloblang's `this.or(content())`. // UDF
    */
  def jsonWalkStrings(c: Column, f: String => String): Column = {
    import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
    import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode, TextNode}
    val udfWalk = udf { (s: String) =>
      if (s == null) null
      else {
        val mapper = new ObjectMapper()
        def walk(n: JsonNode): JsonNode = n match {
          case o: ObjectNode =>
            val out = mapper.createObjectNode()
            o.properties().forEach(e => out.set[JsonNode](e.getKey, walk(e.getValue)): Unit)
            out
          case a: ArrayNode =>
            val out = mapper.createArrayNode()
            a.forEach(e => out.add(walk(e)): Unit)
            out
          case t: TextNode => new TextNode(f(t.textValue()))
          case other => other
        }
        val trimmed = s.trim
        if (trimmed.startsWith("{") || trimmed.startsWith("[")) {
          try mapper.writeValueAsString(walk(mapper.readTree(s)))
          catch { case _: Exception => f(s) }
        } else f(s) // bare string payload
      }
    }
    udfWalk(c)
  }
}

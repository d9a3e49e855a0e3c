package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Grouping and batch-shaping operators (SURVEY.md §2.7, §2.4).
  *
  * Benthos batch-position semantics are defined here per conversation
  * ordered by turn_idx (SURVEY.md §7.4 risk 1) — the only ordering the
  * data model guarantees. All ops shuffle at most once on the group key.
  */
object GroupOps {

  /** group_by (internal/old/processor/group_by.go:90-92,148-199): route
    * rows into the FIRST matching predicate group; unmatched rows are
    * dropped (the reference drops them into no group).
    */
  def groupBy(df: DataFrame, checks: Seq[(String, Column)]): DataFrame = {
    val grp = checks.foldRight(lit(null).cast("string")) { case ((name, check), acc) =>
      when(check, lit(name)).otherwise(acc)
    }
    df.withColumn("group", grp).filter(col("group").isNotNull)
  }

  /** archive(json_array) (internal/old/processor/archive.go:59,117): pack a
    * group into one row carrying an ordered array of the group's payloads.
    */
  def archive(df: DataFrame, key: Column, ord: Column, payload: Column): DataFrame =
    df.groupBy(key)
      .agg(sort_array(collect_list(struct(ord.as("ord"), payload.as("payload"))))
        .as("archived"))
      .withColumn("archived", col("archived.payload"))

  /** unarchive(json_array) (unarchive.go:50,321-335): explode the array
    * back to rows, restoring batch order as `turn_idx`.
    */
  def unarchive(df: DataFrame, arrayCol: Column): DataFrame =
    df.select(df.columns.map(col).toSeq :+ posexplode(arrayCol): _*)
      .withColumnRenamed("pos", "turn_idx")
      .withColumnRenamed("col", "payload")
      .drop(arrayCol.toString)

  /** select_parts (select_parts.go:55): keep only listed positions within
    * each group; negative indexes count from the end, like the reference
    * (message.go:50-56).
    */
  def selectParts(df: DataFrame, key: Column, ord: Column, parts: Seq[Int]): DataFrame = {
    val n = count(lit(1)).over(Window.partitionBy(key))
    val idx = row_number().over(Window.partitionBy(key).orderBy(ord)) - 1
    val keep = parts.map(p => if (p >= 0) idx === p else idx === (n + p)).reduce(_ || _)
    df.withColumn("__keep", keep).filter(col("__keep")).drop("__keep")
  }

  /** insert_part (insert_part.go:56): add a constructed row per group at a
    * position (only appending at the end / start is meaningful row-wise;
    * the synthetic row gets ord = max+1 or -1).
    */
  def insertPart(df: DataFrame, synthetic: DataFrame): DataFrame =
    df.unionByName(synthetic, allowMissingColumns = true)

  /** bounds_check (bounds_check.go:45): drop whole groups outside
    * [minParts, maxParts] or rows outside [minChars, maxChars].
    */
  def boundsCheck(
      df: DataFrame,
      key: Column,
      payload: Column,
      minParts: Long,
      maxParts: Long,
      minChars: Long = 0,
      maxChars: Long = Long.MaxValue): DataFrame = {
    val n = count(lit(1)).over(Window.partitionBy(key))
    df.withColumn("__n", n)
      .filter(col("__n") >= minParts && col("__n") <= maxParts)
      .filter(length(payload) >= minChars && length(payload) <= maxChars)
      .drop("__n")
  }

  // ---------------------------------------------------- archive formats /
  // The remaining archive/unarchive formats (archive.go footnotes:
  // concatenate, lines, binary, tar, zip) over an already-packed ARRAY
  // column (compose with `archive` above for the group→row step).

  /** format `lines`: raw contents joined with line breaks. */
  def archiveLines(parts: Column): Column = array_join(parts, "\n")
  def unarchiveLines(blob: Column): Column = split(blob, "\n")

  /** format `concatenate`: raw contents joined into one binary blob. */
  def archiveConcatenate(parts: Column): Column =
    aggregate(parts, lit(Array.emptyByteArray), (acc, x) => concat(acc, x.cast("binary")))

  /** scanner codec `chunker:n` (internal/codec/reader.go:245-252,607):
    * consume a blob in fixed chunks of `n` bytes (last chunk short).
    * `substring` is 1-based and works on BINARY, so the chunk list is a
    * pure column expression.
    */
  def chunker(blob: Column, n: Int): Column = {
    require(n > 0, "chunker size must be positive")
    // the codec chunks BYTES: count and slice both on the binary form
    // (length() on a StringType is characters - a non-ASCII string would
    // lose its tail bytes if the count came from the string length)
    val bin = blob.cast("binary")
    // sequence(0, -1) would DESCEND, so the empty blob needs its own arm
    when(length(bin) <= 0, array().cast("array<binary>"))
      .otherwise(transform(
        sequence(lit(0), ceil(length(bin).cast("double") / n).cast("int") - 1),
        i => substring(bin, lit(1) + i * n, lit(n))))
  }

  /** scanner codec `regex:pattern` (reader.go:254-257): segment a text
    * blob at matches of the pattern (segment boundaries BEFORE each
    * match, like the reference's line-anchored example). The split
    * pattern is a zero-width lookahead, so no sentinel character is
    * injected and blobs containing any byte value segment correctly.
    */
  def regexSegments(blob: Column, pattern: String): Column =
    filter(split(blob, s"(?=$pattern)"), s => length(s) > 0)

  /** format `binary` (archive.go footnotes): 4-byte big-endian message
    * count, then per part a 4-byte big-endian length + content. // UDF
    */
  val archiveBinary: Column => Column = {
    val f = udf { (parts: Seq[Array[Byte]]) =>
      if (parts == null) null
      else {
        val out = new java.io.ByteArrayOutputStream()
        val dos = new java.io.DataOutputStream(out)
        dos.writeInt(parts.size)
        parts.foreach { p => dos.writeInt(p.length); dos.write(p) }
        out.toByteArray
      }
    }
    c => f(c)
  }
  val unarchiveBinary: Column => Column = {
    val f = udf { (blob: Array[Byte]) =>
      if (blob == null) null
      else {
        val in = new java.io.DataInputStream(new java.io.ByteArrayInputStream(blob))
        val n = in.readInt()
        (0 until n).map { _ =>
          val len = in.readInt()
          val b = new Array[Byte](len)
          in.readFully(b)
          b
        }
      }
    }
    c => f(c)
  }

  /** format `tar` (ustar via commons-compress, the jar Spark ships) and
    * `zip` (JDK). Entries are (path, content) pairs; unarchive restores
    * them in archive order. // UDF
    */
  val archiveTar: (Column, Column) => Column = {
    val f = udf { (paths: Seq[String], contents: Seq[Array[Byte]]) =>
      if (paths == null || contents == null) null
      else {
        val bos = new java.io.ByteArrayOutputStream()
        val tar = new org.apache.commons.compress.archivers.tar.TarArchiveOutputStream(bos)
        paths.zip(contents).foreach { case (p, b) =>
          val e = new org.apache.commons.compress.archivers.tar.TarArchiveEntry(p)
          e.setSize(b.length)
          tar.putArchiveEntry(e); tar.write(b); tar.closeArchiveEntry()
        }
        tar.close()
        bos.toByteArray
      }
    }
    (paths, contents) => f(paths, contents)
  }
  val unarchiveTar: Column => Column = {
    val f = udf { (blob: Array[Byte]) =>
      if (blob == null) null
      else {
        val tar = new org.apache.commons.compress.archivers.tar.TarArchiveInputStream(
          new java.io.ByteArrayInputStream(blob))
        val out = Seq.newBuilder[(String, Array[Byte])]
        var e = tar.getNextEntry
        while (e != null) {
          out += ((e.getName, tar.readAllBytes()))
          e = tar.getNextEntry
        }
        out.result()
      }
    }
    c => f(c)
  }
  val archiveZip: (Column, Column) => Column = {
    val f = udf { (paths: Seq[String], contents: Seq[Array[Byte]]) =>
      if (paths == null || contents == null) null
      else {
        val bos = new java.io.ByteArrayOutputStream()
        val zip = new java.util.zip.ZipOutputStream(bos)
        paths.zip(contents).foreach { case (p, b) =>
          zip.putNextEntry(new java.util.zip.ZipEntry(p))
          zip.write(b); zip.closeEntry()
        }
        zip.close()
        bos.toByteArray
      }
    }
    (paths, contents) => f(paths, contents)
  }
  val unarchiveZip: Column => Column = {
    val f = udf { (blob: Array[Byte]) =>
      if (blob == null) null
      else {
        val zip = new java.util.zip.ZipInputStream(new java.io.ByteArrayInputStream(blob))
        val out = Seq.newBuilder[(String, Array[Byte])]
        var e = zip.getNextEntry
        while (e != null) {
          out += ((e.getName, zip.readAllBytes()))
          e = zip.getNextEntry
        }
        out.result()
      }
    }
    c => f(c)
  }

  private val docMapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** format `json_documents` (unarchive.go:206-221): decode a stream of
    * concatenated JSON documents (any JSON values, optionally
    * whitespace-separated); each document is re-marshaled Go-style —
    * compact, object keys sorted at every level (the reference's
    * part.SetJSON + json.Marshal shape, AwkFuncs.compactSorted).
    * Malformed stream → null (the reference fails the whole part →
    * error-flag contract). // UDF
    */
  val unarchiveJsonDocuments: Column => Column = {
    val f = udf { (blob: String) =>
      if (blob == null) null
      else
        try {
          val it = docMapper
            .readerFor(classOf[com.fasterxml.jackson.databind.JsonNode])
            .readValues[com.fasterxml.jackson.databind.JsonNode](blob)
          val out = Seq.newBuilder[String]
          while (it.hasNext) out += AwkFuncs.compactSorted(it.next())
          out.result()
        } catch { case scala.util.control.NonFatal(_) => null }
    }
    c => f(c)
  }

  /** format `json_map` (unarchive.go:242-263): explode a JSON object's
    * entries — one row per entry, value as its raw JSON slice, key as the
    * reference's `archive_key` metadata. Entry order is unspecified in the
    * reference (Go map iteration); here it is document order. Pure column
    * form: from_json to map<string,string> keeps each value's raw JSON
    * text (nested objects/arrays included); a non-object blob parses to
    * null (the reference's invalid-type error → error-flag contract).
    */
  def unarchiveJsonMap(blob: Column): Column = {
    import org.apache.spark.sql.types.{MapType, StringType}
    map_entries(from_json(blob, MapType(StringType, StringType)))
  }

  /** format `csv` (unarchive.go:265-303): parse an RFC 4180 csv blob with
    * a required header row; each data row becomes a map header→value.
    * Go csv.Reader semantics: `""` escapes a quote inside a quoted field,
    * \r\n collapses to \n, blank lines are skipped, a bare quote in an
    * unquoted field (or trailing characters after a closing quote) is an
    * error. The reference fails the WHOLE part on ragged rows (too
    * few/too many values) or any parse error → null here. // UDF
    */
  val unarchiveCsv: Column => Column = {
    val f = udf { (blob: String) => parseCsvRfc4180(blob).orNull }
    c => f(c)
  }

  private def parseCsvRfc4180(blob: String): Option[Seq[Map[String, String]]] = {
    if (blob == null) return None
    val s = blob.replace("\r\n", "\n")
    val records = Seq.newBuilder[Vector[String]]
    var rec = Vector.newBuilder[String]
    val field = new StringBuilder
    var inQuotes = false      // inside an open quoted section
    var quotedClosed = false  // a quoted section just closed; only , or \n may follow
    var sawAny = false        // current record has any field content or separator
    def endField(): Unit = { rec += field.toString; field.setLength(0); quotedClosed = false }
    def endRecord(): Unit = {
      endField(); records += rec.result(); rec = Vector.newBuilder; sawAny = false
    }
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (inQuotes) {
        if (c == '"') {
          if (i + 1 < s.length && s.charAt(i + 1) == '"') { field.append('"'); i += 1 }
          else { inQuotes = false; quotedClosed = true }
        } else field.append(c)
      } else c match {
        case '"' =>
          if (field.nonEmpty || quotedClosed) return None // bare/trailing quote
          inQuotes = true; sawAny = true
        case ',' => sawAny = true; endField()
        case '\n' => if (sawAny) endRecord() // blank lines are skipped
        case other =>
          if (quotedClosed) return None // chars after a closing quote
          field.append(other); sawAny = true
      }
      i += 1
    }
    if (inQuotes) return None // unterminated quoted field
    if (sawAny) endRecord()
    val rs = records.result()
    if (rs.isEmpty) return Some(Nil) // empty blob → zero parts (EOF before header)
    val headers = rs.head
    val rows = rs.tail
    if (rows.exists(_.length != headers.length)) return None // ragged row
    Some(rows.map(r => headers.zip(r).toMap))
  }

  /** The windowed reduce pattern (config/test/bloblang/windowed.yaml:1-28):
    * from_all()+sum / from_all()+max collapse a batch to one row.
    */
  def reduceBatch(df: DataFrame, key: Column, value: Column): DataFrame =
    df.groupBy(key).agg(
      sum(value).as("sum"),
      max(value).as("max"),
      min(value).as("min"),
      count(lit(1)).as("n"))

  /** split processor (internal/old/processor/split.go:46-54): re-batch
    * each group into chunks of at most `size` parts. Physical batching
    * belongs to micro-batch triggers (SURVEY §2.4), so the split is a
    * derived batch identity downstream group ops key on — chunk k holds
    * parts k·size … k·size+size−1 in batch order, like the reference's
    * size-based splitter.
    */
  def splitBatches(df: DataFrame, key: Column, ord: Column, size: Int,
      out: String = "batch_id"): DataFrame = {
    require(size > 0, "split size must be positive")
    val w = Window.partitionBy(key).orderBy(ord)
    df.withColumn(out, ((row_number().over(w) - 1) / size).cast("int"))
  }
}

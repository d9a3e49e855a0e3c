package graft.ops

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable.LinkedHashMap

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.types.{MapType, StringType}

/** awk processor (SURVEY.md §2.4; reference:
  * internal/old/processor/awk.go): run an AWK program per message; the
  * program's full stdout replaces the message when non-empty (one trailing
  * newline stripped, awk.go:838-846), stderr or a non-zero exit marks the
  * row failed.
  *
  * Codecs (awk.go:300,792-813):
  *  - `text`: the whole message body is the program's stdin.
  *  - `json`: the message is parsed and flattened into AWK variables —
  *    nested keys joined with '.', arrays overwrite at the same path
  *    (flattenForAWK, awk.go:611-636), then non-[A-Za-z0-9_] chars become
  *    '_'; stdin is a single space.
  *  - `none`: stdin is a single space and no variables are injected
  *    (awk.go:806-813) — the custom-function surface still works.
  *  With `text`/`json`, entries of an optional metadata map column become
  *  variables too (same key sanitisation, awk.go:809-813).
  *
  * Runs `/usr/bin/awk` (POSIX) with a FRESH interpreter per message — the
  * faithful semantics (BEGIN/END/NR are per-message programs in the
  * reference, which re-executes its embedded interpreter per part). The
  * runs are dispatched through one long-lived `sh` worker per partition
  * (see [[Worker]]), a [[Subprocess.Child]]: each message is one command
  * line and one `__D<exit>` reply line. A reply that misses the 60 s
  * deadline, output on sh's own stderr or any other unexpected reply fails
  * that row only: the worker and its awk are killed and a fresh worker
  * serves the rest of the partition. For per-line streaming filters use
  * [[Subprocess.pipe]] (one long-lived child per partition).
  *
  * The reference's goawk-registered custom functions (json_get, the
  * json_set / json_append families, json_delete/json_length/json_type,
  * metadata_get/metadata_set, the timestamp and create_json families,
  * print_log; awk.go:497-608) are
  * emulated over POSIX awk by [[AwkFuncs]]: when the program references
  * one, a prelude defines them in pure awk with reads seeded through a
  * generated BEGIN block and writes emitted as sentinel control lines
  * on stderr that are split from real error text and replayed onto the
  * message here
  * (gabs SetP/ArrayAppendP/DeleteP semantics, sorted-key Go-marshal
  * serialization). metadata_set writes back into `metaCol` when given.
  */
object Awk {

  /** Seconds one message's awk run may take (`Subprocess.pipe`'s default). */
  private val ReplyTimeoutSec = 60

  def proc(df: DataFrame, program: String, codec: String = "text",
      textCol: String = "text", metaCol: Option[String] = None): DataFrame = {
    require(Set("text", "json", "none").contains(codec), s"unrecognised codec: $codec")
    val base = Errors.withErrorCol(df)
    val schema = base.schema
    val textIdx = schema.fieldIndex(textCol)
    val errIdx = schema.fieldIndex(Errors.ErrCol)
    val metaIdx = metaCol.map(schema.fieldIndex)
    metaIdx.foreach { i =>
      schema(i).dataType match {
        case MapType(StringType, StringType, _) => ()
        case other => throw new IllegalArgumentException(
          s"${metaCol.get} must be MAP<STRING,STRING>, got $other")
      }
    }
    val useFns = AwkFuncs.uses(program)
    val useJsonFns = AwkFuncs.usesJson(program)
    val enc = Encoders.row(schema)
    base.mapPartitions { rows =>
      if (!rows.hasNext) Iterator.empty
      else {
        val mapper = new ObjectMapper()
        val worker = new Worker(program, useFns)
        Option(TaskContext.get()).foreach(_.addTaskCompletionListener[Unit](_ => worker.close()))
        rows.map { row =>
          val payload = row.getString(textIdx)
          if (payload == null) row
          else {
            val vals = row.toSeq.toArray
            val vars = LinkedHashMap[String, String]()
            var parseErr: String = null
            // ONE parse of the payload, shared by the json-codec variable
            // flattening and the goawk json_* read seeds. A parse failure is
            // an immediate error only under codec=json; for the custom
            // functions it is NOT an error until a json function actually
            // runs (__JSON_OK=0 → __fail at call time, matching the
            // reference's lazy part.JSON()).
            var jsonRoot: JsonNode = null
            if (codec == "json" || (useFns && useJsonFns)) {
              try {
                val n = mapper.readTree(payload)
                if (n != null && !n.isMissingNode) jsonRoot = n
                if (codec == "json") {
                  if (jsonRoot == null)
                    parseErr = "failed to parse part into json: empty document"
                  else flatten("", jsonRoot, vars)
                }
              } catch {
                case e: Exception =>
                  jsonRoot = null
                  if (codec == "json")
                    parseErr = s"failed to parse part into json: ${e.getMessage}"
              }
            }
            val metaMap: Map[String, String] = metaIdx
              .filterNot(row.isNullAt)
              .map(i => row.getMap[String, String](i).toMap).getOrElse(Map.empty)
            if (codec != "none") metaMap.foreach { case (k, v) => vars(sanitize(k)) = v }

            val seed = if (!useFns) None else Some(
              AwkFuncs.seedBlock(Option(jsonRoot), metaMap, System.currentTimeMillis() / 1000L))

            if (parseErr != null) vals(errIdx) = parseErr
            else worker.run(seed, vars, if (codec == "text") payload else " ") match {
              case Left(workerErr) => vals(errIdx) = workerErr
              case Right((exit, out, errRaw)) =>
                // control ops ride stderr (see goawk_prelude.awk); anything
                // else on stderr is a real interpreter/program error
                val (plainErr, ops) =
                  if (useFns) AwkFuncs.split(errRaw) else (errRaw, Nil)
                if (plainErr.trim.nonEmpty) vals(errIdx) = plainErr.trim
                else if (exit != 0)
                  vals(errIdx) = s"awk interpreter returned non-zero exit code: $exit"
                else ops.find(_.op == "err") match {
                  case Some(e) =>
                    // a failed custom function aborts the program; the row
                    // passes through unchanged with the error flag set and
                    // all buffered mutations discarded (awk.go Process
                    // returns nil+err → the copy's mutations are dropped)
                    vals(errIdx) = e.fields.headOption.getOrElse("awk function error")
                  case None =>
                    ops.foreach { o =>
                      if (o.op == "log")
                        System.err.println(s"awk print_log [${o.fields(0)}] ${o.fields(1)}")
                    }
                    if (out.nonEmpty) vals(textIdx) = stripTrailingNl(out)
                    else if (jsonRoot != null && AwkFuncs.applyJsonOps(jsonRoot, ops, mapper))
                      vals(textIdx) = AwkFuncs.compactSorted(jsonRoot)
                    val ms = ops.filter(_.op == "ms")
                    if (ms.nonEmpty) metaIdx.foreach { i =>
                      vals(i) = metaMap ++ ms.map(o => o.fields(0) -> o.fields(1))
                    }
                    vals(errIdx) = null
                }
            }
            Row.fromSeq(vals.toIndexedSeq)
          }
        } ++ { worker.close(); Iterator.empty }
      }
    }(enc)
  }

  private def sanitize(k: String): String = k.replaceAll("[^a-zA-Z0-9_]", "_")

  /** flattenForAWK (awk.go:611-636): maps recurse with '.'-joined paths,
    * array elements overwrite at the parent path, scalars stringify.
    */
  private def flatten(path: String, n: JsonNode, out: LinkedHashMap[String, String]): Unit = {
    if (n.isObject) {
      val it = n.fields()
      while (it.hasNext) {
        val e = it.next()
        flatten(if (path.isEmpty) e.getKey else s"$path.${e.getKey}", e.getValue, out)
      }
    } else if (n.isArray) {
      val it = n.elements()
      while (it.hasNext) flatten(path, it.next(), out)
    } else out(sanitize(path)) = n.asText()
  }

  private def stripTrailingNl(s: String): String =
    if (s.endsWith("\n")) s.dropRight(1) else s

  /** One long-lived `sh` worker per partition, run as a [[Subprocess.Child]].
    * The (constant) prelude + user program are staged to a file ONCE; each
    * message writes its stdin payload and BEGIN seed block to fixed side
    * files and sends the worker one command line —
    * `awk -v … -f seed.awk -f prog.awk 2> err < in > out; echo __D$?` —
    * so the per-message cost is one sh-side fork+exec of awk (~1 ms) and
    * a brand new interpreter still runs per message (per-part
    * BEGIN/END/NR, clean globals). The seed block precedes the prelude's
    * constant-table BEGIN; both are pure assignments with no cross-reads.
    *
    * Variables pass via -v: it gives numeric-looking values POSIX strnum
    * semantics, which a BEGIN-block string assignment would lose, and it
    * interprets escape sequences, so backslashes are doubled and a newline
    * is sent as `\n` — the command must stay one line. The program passes
    * via `-f`, NOT argv: the prelude + seed block scale with the payload
    * and one argv element is capped at 128 KiB on Linux (MAX_ARG_STRLEN).
    * `2> err` comes first so that sh's own errors on the redirections land
    * in the row's stderr too, not on the worker's.
    */
  private final class Worker(program: String, useFns: Boolean) {
    private val dir = Paths.get(graft.util.Tmp.dir("awkpool"))
    private val progFile = dir.resolve("prog.awk")
    private val seedFile = dir.resolve("seed.awk")
    private val inFile = dir.resolve("in")
    private val outFile = dir.resolve("out")
    private val errFile = dir.resolve("err")
    Files.write(progFile,
      ((if (useFns) AwkFuncs.prelude + "\n" else "") + program).getBytes(UTF_8))
    private def spawn() = new Subprocess.Child(Seq("sh"), "lines", 1 << 20, ReplyTimeoutSec)
    private var sh = spawn()
    private def q(s: String): String = "'" + s.replace("'", "'\\''") + "'"

    /** Right((exit, stdout, stderr)) of one awk run, or Left(why the
      * worker failed), after which a fresh worker has replaced it.
      */
    def run(seed: Option[String], vars: LinkedHashMap[String, String],
        stdin: String): Either[String, (Int, String, String)] = {
      Files.write(inFile, stdin.getBytes(UTF_8))
      seed.foreach(s => Files.write(seedFile, s.getBytes(UTF_8)))
      val cmd = new StringBuilder("awk")
      vars.foreach { case (k, v) =>
        cmd.append(" -v ").append(q(s"$k=${v.replace("\\", "\\\\").replace("\n", "\\n")}"))
      }
      seed.foreach(_ => cmd.append(" -f ").append(q(seedFile.toString)))
      cmd.append(" -f ").append(q(progFile.toString))
        .append(" 2> ").append(q(errFile.toString))
        .append(" < ").append(q(inFile.toString))
        .append(" > ").append(q(outFile.toString))
        .append("; echo __D$?")
      val reply =
        try sh.roundTrip("lines", cmd.toString)
        catch { case e: java.io.IOException => Left(String.valueOf(e.getMessage)) }
      reply match {
        case Right(r) if r.matches("__D[0-9]+") =>
          Right((r.substring(3).toInt,
            new String(Files.readAllBytes(outFile), UTF_8),
            new String(Files.readAllBytes(errFile), UTF_8)))
        case other =>
          // a late or stray frame would answer the NEXT message: replace
          // the worker (and kill the awk it may still be running)
          val why = other match {
            case _ if sh.wedged => s"awk: no result within ${ReplyTimeoutSec}s"
            case Left(e) => s"awk worker failed: ${e.trim}"
            case Right(r) => s"awk worker sent an unexpected reply: $r"
          }
          sh.kill()
          sh = spawn()
          Left(why)
      }
    }

    def close(): Unit = {
      sh.close()
      graft.util.Tmp.delete(dir.toString)
    }
  }
}

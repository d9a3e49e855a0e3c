package graft.tools

import java.nio.file.{Files, Paths, StandardOpenOption}
import scala.util.Try
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

/** Crash-isolated bench record. Each measurement block's JSON line is
  * appended to a `.parts.jsonl` sidecar THE MOMENT the block completes,
  * so a killed tail costs one block, not the record — round 4's driver
  * run emitted its one JSON line only at the end, and the OOM kill at
  * minute 51 erased every block that HAD completed. The final stdout
  * line assembles from the recorded blocks; blocks whose child died are
  * listed in `lost_blocks` instead of silently vanishing.
  */
final class BenchRecord(val partsPath: String) {

  private val blocks =
    scala.collection.mutable.LinkedHashMap[String, Option[String]]()

  /** Record a block result (None = the block's child died / printed no
    * JSON) and append it to the sidecar immediately. Returns the stored
    * value so call sites can chain.
    */
  def record(name: String, json: Option[String]): Option[String] = {
    val v = json.map(_.trim).filter(_.nonEmpty)
    blocks(name) = v
    val line = s"""{"block":"$name","json":${v.getOrElse("null")}}""" + "\n"
    try Files.write(Paths.get(partsPath), line.getBytes("UTF-8"),
      StandardOpenOption.CREATE, StandardOpenOption.APPEND)
    catch { case e: Throwable =>
      System.err.println(s"[bench] parts append failed: $e")
    }
    v
  }

  /** The block's JSON, or the literal "null" if lost/absent — safe to
    * splice into an assembled record.
    */
  def json(name: String): String = blocks.getOrElse(name, None).getOrElse("null")

  def has(name: String): Boolean = blocks.getOrElse(name, None).isDefined

  /** Names recorded as lost, in record order. */
  def lost: Seq[String] = blocks.collect { case (n, None) => n }.toSeq

  def lostJson: String = lost.map("\"" + _ + "\"").mkString("[", ",", "]")

  /** A numeric (or boolean) field of a block's JSON at `path`, as JSON
    * text, e.g. `field("skew", "fmgws", "best_tps")`. Returns "null" when
    * the block or field is absent or not a number — assembled records
    * degrade to nulls, never to exceptions.
    */
  def field(name: String, path: String*): String =
    BenchRecord.at(json(name), path: _*)
      .filter(n => n.isNumber || n.isBoolean).map(_.toString).getOrElse("null")
}

object BenchRecord {

  private val mapper = new ObjectMapper()

  /** The node at `path` in the JSON text `js`; None when `js` does not
    * parse or the path is absent or null.
    */
  def at(js: String, path: String*): Option[JsonNode] =
    Try(mapper.readTree(js)).toOption.flatMap(n => Option(n))
      .map(root => path.foldLeft(root)(_.path(_)))
      .filterNot(n => n.isMissingNode || n.isNull)
}

package graft.tools

import java.nio.file.{Files, Paths, StandardCopyOption}
import scala.util.Try
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper, PropertyNamingStrategies}
import com.fasterxml.jackson.databind.node.{JsonNodeFactory, ObjectNode}
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** Crash-proof bench record. Every planned block starts out LOST and is
  * replaced the moment its child lands, so at any instant the record
  * names exactly the blocks that have not finished. Each landing
  * atomically rewrites the detail record (`<detail>`, every landed
  * block's JSON) and the compact line (`<detail>.line.json`) through
  * `assemble`.
  *
  * The compact line goes to stdout exactly once per run: from `printLine`
  * at the end, or from the shutdown hook `printOnExit` installs when the
  * run is killed (SIGTERM, an outer `timeout`). A killed child costs one
  * block, a killed parent costs the blocks still running.
  */
final class BenchRecord(val detailPath: String, planned: Seq[String])(
    assemble: BenchRecord => (JsonNode, JsonNode)) {

  val linePath: String = detailPath + ".line.json"

  private val blocks =
    scala.collection.mutable.LinkedHashMap[String, Option[JsonNode]](planned.map(_ -> None): _*)
  private val walls = scala.collection.mutable.LinkedHashMap[String, Double]()
  private var lastLanded = System.nanoTime()
  private var printed = false

  /** Record a block (None = its child died, hung or printed no JSON) and
    * rewrite both artifacts. Returns the stored value so call sites can
    * chain.
    */
  def record(name: String, json: Option[JsonNode]): Option[JsonNode] = synchronized {
    blocks(name) = json
    val now = System.nanoTime()
    walls(name) = (now - lastLanded) / 1e9
    lastLanded = now
    val (detail, compact) = assemble(this)
    BenchRecord.writeAtomic(detailPath, detail.toString)
    BenchRecord.writeAtomic(linePath, compact.toString)
    json
  }

  def get(name: String): Option[JsonNode] = synchronized(blocks.getOrElse(name, None))

  def has(name: String): Boolean = get(name).isDefined

  /** Planned or recorded blocks that have not landed, in plan order. */
  def lost: Seq[String] = synchronized(blocks.collect { case (n, None) => n }.toSeq)

  /** Seconds between each block's landing and the previous one's (or the
    * record's creation): the block's wall time, its staging included.
    */
  def wallSec: Seq[(String, Double)] = synchronized(walls.toSeq)

  /** The number or boolean at `path` in a block, or JSON null when the
    * block or field is absent or of another type — assembled records
    * degrade to nulls, never to exceptions.
    */
  def field(name: String, path: String*): JsonNode =
    get(name).map(n => path.foldLeft(n)(_.path(_))).filter(n => n.isNumber || n.isBoolean)
      .getOrElse(BenchRecord.nul)

  /** Print the current compact line to stdout unless it already was. */
  def printLine(): Unit = synchronized {
    if (!printed) {
      printed = true
      println(assemble(this)._2.toString)
      System.out.flush()
    }
  }

  /** On JVM shutdown (SIGTERM, or the end of main): stop the forked
    * children, then print the line if `printLine` has not.
    */
  def printOnExit(): Unit =
    sys.addShutdownHook { Fork.stopAll(); printLine() }: Unit
}

object BenchRecord {

  /** The one JSON mapper of the bench: Scala case classes serialize with
    * snake_case keys (`turnsPerSec` → `turns_per_sec`).
    */
  val mapper: ObjectMapper = new ObjectMapper()
    .registerModule(DefaultScalaModule)
    .setPropertyNamingStrategy(PropertyNamingStrategies.SNAKE_CASE)

  val nul: JsonNode = JsonNodeFactory.instance.nullNode()

  def obj(): ObjectNode = mapper.createObjectNode()

  /** Parse one JSON object; None when `js` is not one. */
  def parse(js: String): Option[ObjectNode] =
    Try(mapper.readTree(js)).toOption.collect { case o: ObjectNode => o }

  /** A child's one output line: `value` serialized, on stdout. */
  def emit(value: AnyRef): Unit = println(mapper.writeValueAsString(value))

  /** Write through a temp file and a rename, so a reader (or a kill)
    * never sees half a file.
    */
  def writeAtomic(path: String, text: String): Unit =
    try {
      val target = Paths.get(path).toAbsolutePath
      val tmp = Paths.get(target.toString + ".tmp")
      Files.write(tmp, text.getBytes("UTF-8"))
      Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    } catch { case e: Exception => System.err.println(s"[bench] write $path failed: $e") }
}

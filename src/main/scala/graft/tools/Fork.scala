package graft.tools

import java.io.ByteArrayOutputStream
import java.util.concurrent.TimeUnit
import com.fasterxml.jackson.databind.node.ObjectNode

/** Fork a child JVM running a graft `main` and collect its one stdout
  * JSON object (the convention every bench child follows).
  *
  * Every measurement block runs in a child so its native residue —
  * RocksDB block caches/memtables and glibc allocator arenas that no
  * per-run provider unload can return to the OS — dies with the child
  * instead of accumulating in the long-lived bench JVM. Round 4's driver
  * run was OOM-killed by exactly that accumulation; the parent is a thin
  * orchestrator that never creates a SparkSession.
  *
  * Every child runs under a deadline: a wedged child (a stalled
  * subprocess, a livelocked trigger) is killed together with its own
  * descendants, and the block comes back lost instead of stalling the
  * run until an outer timeout takes the whole record.
  */
object Fork {

  /** JDK-17 module opens for hand-forked child JVMs (build.sbt's
    * javaOptions don't propagate to ProcessBuilder children).
    */
  private val childJvmFlags: Seq[String] = Seq(
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar")
    .flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))

  @volatile private var stopping = false

  /** The command line that runs `main` in a child JVM on this JVM's
    * classpath with a `heapMB` heap.
    */
  def command(main: String, args: Seq[String], heapMB: Int): Seq[String] =
    Seq("java", s"-Xmx${heapMB}m") ++ childJvmFlags ++
      Seq("-cp", sys.props("java.class.path"), main) ++ args

  /** Run `main` in a child JVM (stderr inherited) and return the first
    * stdout line that parses as a JSON object, plus the exit code. Returns
    * None on a non-zero exit, on no JSON, or when the child outlives
    * `deadlineSec` (it and its descendants are then killed) — the caller
    * records the block as lost and continues. Children get
    * MALLOC_ARENA_MAX=2 unless the environment says otherwise: per-thread
    * glibc arenas were a measured part of the round-4 native-residue growth.
    */
  def json(main: String, args: Seq[String], heapMB: Int, deadlineSec: Long,
      env: Map[String, String] = Map.empty): (Option[ObjectNode], Int) =
    if (stopping) (None, -1)
    else try {
      val pb = new ProcessBuilder(command(main, args, heapMB): _*)
      pb.environment().putIfAbsent("MALLOC_ARENA_MAX", "2")
      env.foreach { case (k, v) => pb.environment().put(k, v) }
      pb.redirectError(ProcessBuilder.Redirect.INHERIT)
      val p = pb.start()
      // stdout drains off the waiting thread, so the deadline holds even
      // when the child never closes its stdout
      val out = new ByteArrayOutputStream()
      val drain = new Thread(() => try p.getInputStream.transferTo(out) catch { case _: Exception => () })
      drain.setDaemon(true)
      drain.start()
      val finished = p.waitFor(deadlineSec, TimeUnit.SECONDS)
      if (!finished) {
        System.err.println(s"[bench] fork $main exceeded its ${deadlineSec}s deadline; killing it")
        graft.util.Proc.killTree(p.toHandle)
        p.waitFor(30, TimeUnit.SECONDS)
      }
      drain.join(5000)
      val exit = if (p.isAlive) -1 else p.exitValue()
      val line = out.toString("UTF-8").linesIterator
        .flatMap(BenchRecord.parse).nextOption()
      if (!finished || exit != 0 || line.isEmpty) {
        System.err.println(s"[bench] fork $main ${args.mkString(" ")} lost (exit=$exit)")
        (None, exit)
      } else (line, exit)
    } catch {
      case e: Exception =>
        System.err.println(s"[bench] fork $main failed: $e"); (None, -1)
    }

  /** Refuse new forks and kill every live child of this JVM (the bench
    * parent's shutdown hook).
    */
  def stopAll(): Unit = {
    stopping = true
    ProcessHandle.current().children().forEach(graft.util.Proc.killTree(_))
  }
}

package graft.util

import java.nio.charset.StandardCharsets.US_ASCII
import java.nio.file.{Files, Path, Paths}

/** Ephemeral working dirs for staged streams, checkpoints and state.
  *
  * Structured Streaming's checkpoint/state protocol writes many small
  * files every batch (WAL, commit log, per-partition state changelogs).
  * Their cost is not fsync: an fsynced 150 KB write plus a rename takes
  * about 0.3 ms on ext4. It was the `chmod`/`readlink` processes
  * Hadoop forks per file without `libhadoop`, which [[LocalFs]] removes.
  * Ephemeral run state still goes to tmpfs when available — the local[n]
  * stand-in for a cluster's fast local SSDs + object-store checkpoints.
  * Durable outputs are unaffected (callers pass explicit paths).
  */
object Tmp {
  private val base: Path = {
    // GRAFT_TMP_BASE overrides (e.g. the sustained-input staging child
    // writes its ~10 GB corpus to real disk so it doesn't occupy RAM
    // while the engine children hold 15-20 GB of RocksDB state)
    sys.env.get("GRAFT_TMP_BASE").map(Paths.get(_)).filter(Files.isDirectory(_))
      .getOrElse {
        val shm = Paths.get("/dev/shm")
        if (Files.isDirectory(shm) && Files.isWritable(shm)) shm
        else Paths.get(System.getProperty("java.io.tmpdir"))
      }
  }

  /** The file in each `dir` naming the pid of the JVM that made it. The
    * leading `.` makes Spark's file listing skip it.
    */
  private val OwnerFile = ".graft-owner"

  def dir(prefix: String): String = {
    val d = Files.createTempDirectory(base, prefix)
    Files.write(d.resolve(OwnerFile), ProcessHandle.current().pid().toString.getBytes(US_ASCII))
    d.toString
  }

  /** Whether `d`'s owner marker names a process that has exited; false
    * when it has no readable marker (the dir is not a `dir` of ours).
    */
  private def ownerGone(d: java.io.File): Boolean =
    try {
      val pid = new String(Files.readAllBytes(d.toPath.resolve(OwnerFile)), US_ASCII).trim.toLong
      !ProcessHandle.of(pid).filter(_.isAlive).isPresent
    } catch { case _: java.io.IOException | _: NumberFormatException => false }

  /** Delete stale temp dirs from the temp base: every dir whose owner
    * marker names a process that has exited and that was last modified
    * more than `olderThanMs` ago, whatever its name. An OOM-killed
    * benchmark run skips its own cleanup, and its staged corpora keep
    * occupying tmpfs RAM — round 4's killed driver run left ~11 GB in
    * /dev/shm, a standing memory-pressure tax on whatever ran next. The
    * bench parent sweeps at startup; the owner check keeps a sweep from
    * touching a concurrent run's live staging, however old, and a dir
    * without a marker is not ours to delete.
    */
  def sweepStale(olderThanMs: Long = 30 * 60 * 1000L, baseDir: Option[String] = None): Long = {
    val cutoff = System.currentTimeMillis() - olderThanMs
    val kids = baseDir.map(new java.io.File(_)).getOrElse(base.toFile).listFiles()
    if (kids == null) 0L
    else kids.count { f =>
      val stale = f.lastModified() < cutoff && ownerGone(f)
      if (stale) delete(f.getPath)
      stale
    }.toLong
  }

  /** Best-effort recursive delete — run dirs are ephemeral by contract. */
  def delete(path: String): Unit = {
    def rec(p: java.io.File): Unit = {
      val kids = p.listFiles()
      if (kids != null) kids.foreach(rec)
      p.delete(): Unit
    }
    try rec(new java.io.File(path)) catch { case _: Throwable => () }
  }
}

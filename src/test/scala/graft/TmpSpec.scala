package graft

import java.io.File
import java.nio.charset.StandardCharsets.US_ASCII
import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import graft.util.Tmp

/** `Tmp.sweepStale` deletes an over-age temp dir only when the process
  * named by its owner marker is gone.
  */
class TmpSpec extends AnyFunSuite {

  private val prefix = s"graft-tmpspec-${ProcessHandle.current().pid()}-"
  private val hourAgo = System.currentTimeMillis() - 60 * 60 * 1000L

  test("an over-age dir owned by this JVM survives the sweep") {
    val d = Tmp.dir(prefix)
    try {
      assert(new File(d).setLastModified(hourAgo))
      assert(Tmp.sweepStale(Seq(prefix)) == 0)
      assert(new File(d).isDirectory)
    } finally Tmp.delete(d)
  }

  test("an over-age dir whose owner has exited is deleted") {
    val d = Tmp.dir(prefix)
    try {
      val gone = new ProcessBuilder("true").start()
      gone.waitFor()
      Files.write(Paths.get(d, ".graft-owner"), gone.pid().toString.getBytes(US_ASCII))
      assert(new File(d).setLastModified(hourAgo))
      assert(Tmp.sweepStale(Seq(prefix)) == 1)
      assert(!new File(d).exists())
    } finally Tmp.delete(d)
  }
}

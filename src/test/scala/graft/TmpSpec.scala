package graft

import java.io.File
import java.nio.charset.StandardCharsets.US_ASCII
import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import graft.util.Tmp

/** `Tmp.sweepStale` deletes an over-age temp dir only when it carries an
  * owner marker and the process that marker names is gone. Each case
  * sweeps a base of its own, so the sweep sees that case's dir only.
  */
class TmpSpec extends AnyFunSuite with TempDirs {

  private val hourAgo = System.currentTimeMillis() - 60 * 60 * 1000L

  /** Run `body` on a `Tmp.dir` moved into a private base of its own
    * (a `Tmp.dir` too, so it shares the file system), then delete both.
    */
  private def isolated(body: (String, File) => Unit): Unit = {
    val root = Tmp.dir("tmpspec")
    try {
      val d = Paths.get(root, "d")
      Files.move(Paths.get(Tmp.dir("tmpspec")), d)
      body(root, d.toFile)
    } finally Tmp.delete(root)
  }

  test("an over-age dir owned by this JVM survives the sweep") {
    isolated { (root, d) =>
      assert(d.setLastModified(hourAgo))
      assert(Tmp.sweepStale(baseDir = Some(root)) == 0)
      assert(d.isDirectory)
    }
  }

  test("an over-age dir whose owner has exited is deleted") {
    isolated { (root, d) =>
      val gone = new ProcessBuilder("true").start()
      gone.waitFor()
      Files.write(d.toPath.resolve(".graft-owner"), gone.pid().toString.getBytes(US_ASCII))
      assert(d.setLastModified(hourAgo))
      assert(Tmp.sweepStale(baseDir = Some(root)) == 1)
      assert(!d.exists())
    }
  }

  test("an over-age dir with no owner marker is left alone") {
    val root = tempDir("tmpspec")
    val d = Files.createDirectory(root.resolve("d")).toFile
    assert(d.setLastModified(hourAgo))
    assert(Tmp.sweepStale(baseDir = Some(root.toString)) == 0)
    assert(d.isDirectory)
  }
}

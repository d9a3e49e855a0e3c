package graft

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue

import org.scalatest.{BeforeAndAfterAll, Suite}

/** A suite's temp dirs: every dir `tempDir` hands out is deleted, with
  * everything in it, when the suite ends.
  */
trait TempDirs extends BeforeAndAfterAll { this: Suite =>
  private val made = new ConcurrentLinkedQueue[Path]()

  def tempDir(prefix: String): Path = {
    val d = Files.createTempDirectory(prefix)
    made.add(d)
    d
  }

  override protected def afterAll(): Unit =
    try super.afterAll()
    finally made.forEach(d => graft.util.Tmp.delete(d.toString))
}

package graft.util

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager

/** Hadoop's checksummed local file system, setting permissions in-process.
  *
  * Without the native `libhadoop`, `RawLocalFileSystem.setPermission`
  * forks `chmod` for every file and dir it creates, and the FileContext
  * checkpoint manager forks `readlink` on every rename: about 270 forked
  * processes per `trickle` micro-batch (offsets and commits logs, the
  * source log, each state partition's changelog and checksum file, the
  * sink's parquet committer files). Here the 9 rwx bits go through
  * `Files.setPosixFilePermissions`; a sticky bit or a store without POSIX
  * attributes still goes through Hadoop's own path. `.crc` sidecars stay.
  */
class LocalFs extends LocalFileSystem(new LocalFs.Raw)

object LocalFs {

  private[util] class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit =
      if (permission.getStickyBit) super.setPermission(p, permission)
      else try Files.setPosixFilePermissions(pathToFile(p).toPath,
        PosixFilePermissions.fromString(permission.toString)): Unit
      catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
  }

  /** `b`'s session on this file system, with Spark's FileSystem-based
    * checkpoint manager (on a local path it checks the target is absent,
    * then renames, as the FileContext one does, without `readlink`).
    * Every session builder goes through here.
    */
  def getOrCreate(b: SparkSession.Builder): SparkSession = {
    val s = b.config("spark.hadoop.fs.file.impl", classOf[LocalFs].getName)
      .config("spark.sql.streaming.checkpointFileManagerClass",
        classOf[FileSystemBasedCheckpointFileManager].getName)
      .getOrCreate()
    // FileSystem's cache is keyed by scheme and user, not configuration:
    // a stock file system cached earlier in this JVM would serve every
    // local path. Closing it drops it from the cache.
    val cached = FileSystem.get(URI.create("file:///"), s.sparkContext.hadoopConfiguration)
    if (!cached.isInstanceOf[LocalFs]) cached.close()
    s
  }
}

package org.apache.spark.util

/** Package-placed accessor for `Utils.clearLocalRootDirs()`, which is
  * private[spark]. Spark caches the local root dirs of the first session
  * in a JVM for the JVM's life, and makes every later session's RocksDB
  * working dirs under them. graft.tools.BenchSession deletes a session's
  * `spark.local.dir` when it stops, so it drops that cache too: the next
  * session then uses its own dir instead of re-creating the deleted one.
  */
object GraftLocalDirs {
  def clear(): Unit = Utils.clearLocalRootDirs()
}

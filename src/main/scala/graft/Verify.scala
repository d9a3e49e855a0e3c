package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.ObjectMapper
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: run only the named queries (debug aid)
    val only: Set[String] = args.drop(2).toSet
    val spark = session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only.contains(name) }
      .foreach { case (name, fn) =>
        val t0 = System.nanoTime()
        try {
          // repartition(1), NOT coalesce(1): coalesce collapses the whole
          // post-shuffle stage into one task, serializing per-row-I/O
          // operators (http enrich, awk) that rely on partition
          // parallelism; the shuffle boundary keeps them at node width.
          fn(spark, sfDir).repartition(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          System.err.println(f"[verify] $name ${(System.nanoTime() - t0) / 1e9}%.2fs")
        } catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        }
      }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      new ObjectMapper().writeValueAsString(SparkEntry.oracleSql.asJava))
    spark.stop()
  }

  /** The session the correctness dump runs on, at `cpus` cores. */
  def session(cpus: String): SparkSession = {
    val s = graft.util.LocalFs.getOrCreate(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // off-heap state for the streaming queries (BENCH.md finding 1)
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"))
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

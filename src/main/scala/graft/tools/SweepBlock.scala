package graft.tools

import scala.collection.immutable.ListMap
import org.apache.spark.sql.DataFrame

/** The per-query batch sweep — every SparkEntry query timed over the
  * driver's sf dir — in a JVM of its own, printing one JSON line with
  * the per-query map (seconds; -1 marks a failed query). Forked for two
  * reasons: (a) crash isolation — a query that exhausts the heap costs
  * this block, not the record — and (b) measurement isolation — a fresh
  * JVM gives the sweep the same clean-codegen, clean-allocator start
  * every round, so per-query timings compare across rounds.
  *
  * args: sfDir cores
  */
object SweepBlock {

  /** Force full evaluation of every expression in the plan: `count()`
    * lets Catalyst prune unreferenced projections, so pure-projection
    * queries would be timed as bare parquet scans (round-1 verdict §3).
    * Iterating the UnsafeRow RDD materializes every output column.
    */
  private def exhaust(df: DataFrame): Unit =
    df.queryExecution.toRdd.foreach(_ => ())

  final case class Sweep(sf: String, cores: Int, nQueries: Int,
      failedQueries: Int, totalQuerySec: Double, queries: ListMap[String, Double])

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val cores = args(1).toInt
    val spark = BenchSession.build(cores, appName = "graft-sweep")
    // Full UNTIMED warmup pass over every query: the forked sweep starts
    // from a cold JVM (that's what makes it crash-isolated and
    // round-comparable), but cold JIT/codegen taxes each query ~0.25 s —
    // measured as a uniform +20 % on the A5 total vs the r3 warmed-JVM
    // sweep, worst on the cheapest/first queries (q1_agg 0.48 → 2.61 s).
    // One throwaway pass restores warmed-JVM conditions so the timed
    // pass measures the QUERY; failures surface in the timed pass.
    graft.SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (_, fn) =>
      try exhaust(fn(spark, sfDir)) catch { case _: Throwable => () }
    }
    // Failures are surfaced (stderr + sentinel -1), never folded into the
    // total as if they were timings.
    val results: Seq[(String, Double)] =
      graft.SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
        val t0 = System.nanoTime()
        try {
          exhaust(fn(spark, sfDir))
          name -> (System.nanoTime() - t0) / 1e9
        } catch {
          case e: Throwable =>
            System.err.println(s"[bench] QUERY FAILED $name: ${e.getClass.getName}: ${e.getMessage}")
            name -> -1.0
        }
      }
    spark.stop()
    BenchRecord.emit(Sweep(sfDir, cores, results.size, results.count(_._2 < 0),
      results.filter(_._2 >= 0).map(_._2).sum, ListMap(results: _*)))
  }
}

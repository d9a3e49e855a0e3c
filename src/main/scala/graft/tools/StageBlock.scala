package graft.tools

/** Stage a deterministic transcript corpus in a JVM of its own, then
  * exit, printing `{"dir":…,"turns":N,"batch_pairs":M}`: the staged dir,
  * its turn count, and the pair count the batch (window-function,
  * DuckDB-oracled) session join produces on it — the ground truth every
  * streaming block's sanity gate compares against.
  *
  * Generating + globally sorting a multi-GB corpus and window-scanning
  * 10^8 rows inside the bench parent is what OOM-killed campaign runs
  * A4/B4. The parent forks this per input it needs, replays the dir from
  * TrialBlock children, and deletes it with plain file IO.
  *
  * args: one JSON [[StageBlock.Spec]]
  */
object StageBlock {

  /** `slices` > 1 gives the conv-keyed, time-sliced layout of the
    * skew-heavy block (`Flagship.stage`); `cores` is the staging
    * session's width.
    */
  final case class Spec(convs: Long, files: Int, hotConvs: Int = 0,
      hotMult: Int = 20, slices: Int = 1, cores: Int = 1)

  final case class Staged(dir: String, turns: Long, batchPairs: Long)

  def main(args: Array[String]): Unit = {
    val s = BenchRecord.mapper.readValue(args(0), classOf[Spec])
    val spark = BenchSession.build(s.cores, appName = "graft-stage")
    val dir = graft.Flagship.stage(spark, s.convs, nFiles = s.files,
      hotConvs = s.hotConvs, hotMult = s.hotMult, slices = s.slices)
    val staged = spark.read.parquet(dir)
    BenchRecord.emit(Staged(dir, staged.count(),
      graft.streaming.SessionJoin.pairBatch(staged).count()))
    spark.stop()
  }
}

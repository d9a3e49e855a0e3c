package graft.tools

import scala.collection.immutable.ListMap
import graft.Flagship

/** Every streaming measurement block — flagship, each scaling pair,
  * skew, sustained — is one run of this child over a staged input with
  * its own list of configs. It prints one JSON
  * [[TrialBlock.Report]]: its spec, each config's best run (a
  * `Flagship.Result`), every trial's turns/s, and the pair-count sanity
  * gate.
  *
  * Methodology (BENCH.md §1): one untimed warm-up run of every config
  * over a small staged corpus, then a FIXED number of trials,
  * INTERLEAVED (trial-outer, config-inner) with a fresh session per run
  * — ambient drift over the block's minutes would otherwise hit later
  * configs harder, and the per-run session keeps one config's
  * state-store residue out of the next measurement. Each config reports
  * its BEST trial (noise on a shared host is strictly subtractive). A
  * scaling pair's two core levels are two configs of one block, so the
  * drift between them is interleaved away like any other configs'.
  *
  * args: one JSON [[TrialBlock.Spec]]
  */
object TrialBlock {

  /** `cores` is the run's session width, `salt` > 0 adds the hot-key
    * salted repartition, `heavyMap` the training-prep map chain
    * (`Flagship.runStaged`).
    */
  final case class Config(name: String, cores: Int, filesPerTrigger: Int, salt: Int = 0,
      heavyMap: Boolean = false)

  /** `turns`/`batchPairs` are the staged input's own counts (StageBlock). */
  final case class Spec(dir: String, warmDir: String, partitions: Int, trials: Int,
      blockCacheMB: Int, turns: Long, batchPairs: Long, configs: Seq[Config])

  /** A config's best run and every run's turns/s. */
  final case class Trials(best: Flagship.Result, trialsTps: Seq[Double])

  final case class Report(spec: Spec, sanityOk: Boolean, sanityFailures: Seq[String],
      pairShare: Double, configs: ListMap[String, Trials])

  /** The emission sanity gate, as the list of its failures (empty =
    * pass). A bounded replay emits the batch-oracle pairs whose session
    * the final watermark closed, so every run must see every staged
    * turn, every config must emit the SAME pairs (salt, map, trigger
    * size and core count never change join output), and that count must
    * be at least 0.9 of the batch-oracle count — below it the replay is
    * late-dropping (the round-3 staging artifact), and the turns/s is not
    * a measurement.
    */
  def sanity(turns: Long, batchPairs: Long, runs: Seq[(String, Flagship.Result)]): Seq[String] = {
    val badTurns = runs.collect { case (n, r) if r.turns != turns =>
      s"$n saw ${r.turns} of $turns staged turns" }
    val pairCounts = runs.map(_._2.pairs).distinct
    val disagree =
      if (pairCounts.size > 1) Seq(s"configs disagree on pairs: ${pairCounts.mkString(",")}")
      else Nil
    val short = pairCounts.filter(_ < 0.9 * batchPairs)
      .map(p => s"emitted $p of $batchPairs batch-oracle pairs")
    if (runs.isEmpty) Seq("no runs") else badTurns ++ disagree ++ short
  }

  def main(args: Array[String]): Unit = {
    val spec = BenchRecord.mapper.readValue(args(0), classOf[Spec])
    def run(dir: String, c: Config): Flagship.Result = {
      val s = BenchSession.build(c.cores, spec.partitions, spec.blockCacheMB,
        appName = "graft-trial")
      try Flagship.runStaged(s, dir, c.filesPerTrigger, salt = c.salt, heavyMap = c.heavyMap)
      finally s.stop()
    }
    spec.configs.foreach(run(spec.warmDir, _))
    val runs = (1 to spec.trials).flatMap { t =>
      spec.configs.map { c =>
        val r = run(spec.dir, c)
        System.err.println(f"[bench] ${c.name} cores=${c.cores} trial=$t " +
          f"turns_per_sec=${r.turnsPerSec}%.0f p99=${r.p99LatencyMs}ms " +
          f"elapsed=${r.elapsedSec}%.1fs turns=${r.turns} pairs=${r.pairs}")
        c.name -> r
      }
    }
    val failures = sanity(spec.turns, spec.batchPairs, runs)
    failures.foreach(f => System.err.println(s"[bench] SANITY FAIL: $f"))
    val trials = spec.configs.map { c =>
      val rs = runs.collect { case (c.name, r) => r }
      c.name -> Trials(rs.maxBy(_.turnsPerSec), rs.map(_.turnsPerSec))
    }
    BenchRecord.emit(Report(spec, failures.isEmpty, failures,
      runs.head._2.pairs.toDouble / spec.batchPairs, ListMap(trials: _*)))
  }
}

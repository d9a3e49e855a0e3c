package graft.tools

import graft.Flagship

/** The standing skew regime — hot conversations through the unsalted and
  * salted session join, plus the small-micro-batch probe — as one child
  * JVM owning its staging, its streaming rigs, and its cleanup. Prints
  * one JSON line with every config's best AND every interleaved trial.
  *
  * Methodology preserved from the in-parent round-4 block: one JVM-wide
  * warmup, then INTERLEAVED trials (trial-outer, config-inner, fresh
  * session per run) — ambient drift over the block's minutes hits later
  * configs harder under config-blocked ordering, and the per-run session
  * keeps one config's state-store residue out of the next measurement.
  *
  * args: cores skewConvs hotConvs hotMult salt trials fpt latFpt nFiles
  */
object SkewBlock {

  private def f(d: Double): String =
    BigDecimal(d).setScale(3, BigDecimal.RoundingMode.HALF_UP).toString

  def main(args: Array[String]): Unit = {
    val cores = args(0).toInt
    val skewConvs = args(1).toLong
    val hotConvs = args(2).toInt
    val hotMult = args(3).toInt
    val salt = args(4).toInt
    val nTrials = args(5).toInt
    val fpt = args(6).toInt
    val latFpt = args(7).toInt
    val nFiles = args(8).toInt

    val sGen = BenchSession.build(cores, 2 * cores, appName = "graft-skew-stage")
    val inDir = Flagship.stage(sGen, skewConvs, nFiles = nFiles,
      hotConvs = hotConvs, hotMult = hotMult)
    val warmDir = Flagship.stage(sGen, 2000L, nFiles = fpt)
    sGen.stop()

    // (name, filesPerTrigger, salt). The fpt=latFpt row probes the
    // many-small-batches regime: the join re-serializes a hot key's
    // buffered state every micro-batch it's touched in.
    val configs: Seq[(String, Int, Int)] = Seq(
      ("fmgws", fpt, 0),
      ("fmgws_salted", fpt, salt),
      (s"fmgws_fpt$latFpt", latFpt, 0))

    locally {
      val s = BenchSession.build(cores, 2 * cores, appName = "graft-skew")
      Flagship.runStaged(s, warmDir, filesPerTrigger = fpt); s.stop()
    }
    val all: Seq[(String, Flagship.Result)] = (1 to nTrials).flatMap { t =>
      configs.map { case (name, fTrig, saltN) =>
        val s = BenchSession.build(cores, 2 * cores, appName = "graft-skew")
        val r = Flagship.runStaged(s, inDir, fTrig, salt = saltN)
        s.stop()
        System.err.println(f"[bench] skew $name trial=$t turns_per_sec=${r.turnsPerSec}%.0f p99=${r.p99LatencyMs}ms elapsed=${r.elapsedSec}%.1fs")
        name -> r
      }
    }
    graft.util.Tmp.delete(warmDir)
    graft.util.Tmp.delete(inDir)

    val bests = configs.map { case (name, _, _) =>
      val trials = all.collect { case (`name`, r) => r }
      val best = trials.maxBy(_.turnsPerSec)
      System.err.println(f"[bench] skew best $name turns_per_sec=${best.turnsPerSec}%.0f p99=${best.p99LatencyMs}ms")
      s""""$name":{"best_tps":${f(best.turnsPerSec)},"p99_latency_ms":${best.p99LatencyMs},""" +
        s""""elapsed_sec":${f(best.elapsedSec)},"max_state_rows":${best.maxStateRows},""" +
        s""""max_state_bytes":${best.maxStateBytes},""" +
        s""""trials_tps":${trials.map(r => f(r.turnsPerSec)).mkString("[", ",", "]")}}"""
    }
    println(bests.mkString(
      s"""{"cores":$cores,"convs":$skewConvs,"hot":$hotConvs,"hot_mult":$hotMult,"salt":$salt,""",
      ",", "}"))
  }
}

package perfbench

import org.apache.spark.sql.functions._

/** Tests of the benchmark's own logic, run by `run.py --selftest`:
  * the tail-percentile choice, the pair digest against an injected drop
  * and an injected duplicate, the feeder's lateness and backlog accounting
  * on a stalled consumer, and, on a small input, that the composed
  * pipeline commits the same pairs as `graft.Flagship.runStaged`.
  */
object SelfTest {

  private var failures = 0

  private def expect(name: String)(ok: => Boolean): Unit = {
    val pass = try ok catch { case e: Throwable => System.err.println(e); false }
    if (!pass) failures += 1
    println(s"${if (pass) "PASS" else "FAIL"} $name")
  }

  def run(): Unit = {
    expect("tail: 9 samples support no percentile") {
      Stats.tail((1 to 9).map(_.toDouble)).isEmpty
    }
    expect("tail: 21 samples give the median with 10 beyond") {
      Stats.tail((1 to 21).map(_.toDouble)).contains(Stats.Tail(50.0, 11.0, 21, 10))
    }
    expect("tail: 120 samples give p90 (p95 would have only 6 beyond)") {
      val t = Stats.tail((1 to 120).map(_.toDouble)).get
      t.percentile == 90.0 && t.value == 108.0 && t.beyond == 12
    }
    expect("tail: 1000 samples give p99 with 10 beyond, in any input order") {
      val t = Stats.tail(scala.util.Random.shuffle((1 to 1000).map(_.toDouble))).get
      t.percentile == 99.0 && t.value == 990.0 && t.beyond == 10
    }

    expect("feeder: on time, consumer keeping up") {
      val due = Seq(0L, 100L, 200L)
      Stats.feed(due, due, due.map(_ + 50)) == Stats.Feed(0L, 1)
    }
    expect("feeder: consumer stalls after the second file, backlog grows to the rest") {
      val due = (0 until 10).map(_ * 100L)
      val committed = due.zipWithIndex.map { case (d, i) => if (i < 2) d + 50 else Long.MaxValue }
      Stats.feed(due, due, committed) == Stats.Feed(0L, 8)
    }
    expect("feeder: a feeder stalled 700 ms reports it and the backlog it built") {
      val due = (0 until 10).map(_ * 100L)
      val released = due.map(d => math.max(d, 700L))
      Stats.feed(due, released, released.map(_ + 10)) == Stats.Feed(700L, 8)
    }

    val spark = graft.tools.BenchSession.build(2, 2, appName = "perfbench-selftest")
    try {
      import spark.implicits._
      val pairs = graft.streaming.SessionJoin.pairBatch(
        graft.gen.TranscriptGen.transcripts(spark, 200, 7L).toDF()).cache()
      expect("digest: identical multisets, any order, compare equal") {
        Pairs.diff(pairs, pairs.orderBy(rand(3))) == Pairs.Diff(pairs.count(), pairs.count(), 0, 0)
      }
      val n = pairs.count()
      val one = pairs.limit(1)
      val dropped = pairs.exceptAll(one)
      expect("digest: one dropped pair is one missing") {
        Pairs.digest(dropped) != Pairs.digest(pairs) && Pairs.diff(pairs, dropped) == Pairs.Diff(n, n - 1, 1, 0)
      }
      val duplicated = pairs.unionByName(one)
      expect("digest: one duplicated pair is one extra") {
        Pairs.digest(duplicated) != Pairs.digest(pairs) && Pairs.diff(pairs, duplicated) == Pairs.Diff(n, n + 1, 0, 1)
      }
      val altered = pairs.withColumn("reply_text",
        when(col("reply_turn_idx") === 1 && col("conv_id") === "conv-000000", lit("x")).otherwise(col("reply_text")))
      expect("digest: one altered text is one missing and one extra") {
        Pairs.diff(pairs, altered) == Pairs.Diff(n, n, 1, 1)
      }
      pairs.unpersist()

      // the composed pipeline against the flagship on the same small input
      val dir = graft.util.Tmp.dir("perfbench-selftest")
      val files = Stage.timeOrdered(spark, s"$dir/in", 3000, 11L, 8).map(_._1)
      Seq(false, true).foreach { heavy =>
        expect(s"pipeline commits what Flagship.runStaged commits (heavy map: $heavy)") {
          val flagship = graft.Flagship.runStaged(spark, s"$dir/in", 2, heavyMap = heavy)
          val r = Main.drain(spark, s"$dir/in", files, 2, heavy, None)
          val d = Main.check(spark, r, heavy)
          graft.util.Tmp.delete(r.work)
          println(s"  flagship turns=${flagship.turns} pairs=${flagship.pairs} wm=${flagship.watermarkMs}; " +
            s"benchmark turns=${r.turns} pairs=${d.committed} wm=${r.wmMs} oracle=${d.oracle}")
          flagship.turns == r.turns && flagship.pairs == d.committed &&
            flagship.watermarkMs == r.wmMs && d.errorShare == 0.0 && d.oracle > 0
        }
      }
      graft.util.Tmp.delete(dir)
    } finally spark.stop()
    println(if (failures == 0) "selftest: all passed" else s"selftest: $failures failed")
    if (failures > 0) sys.exit(1)
  }
}

package perfbench

/** Pure statistics and open-loop accounting: no Spark, so the self-test
  * exercises them directly.
  */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Nearest-rank percentile: the smallest sample with at least p% of the
    * samples at or below it.
    */
  def percentile(sorted: IndexedSeq[Double], p: Double): Double =
    sorted(rankIndex(sorted.size, p))

  private def rankIndex(n: Int, p: Double): Int =
    math.min(n - 1, math.max(0, math.ceil(p / 100.0 * n).toInt - 1))

  /** The percentiles a tail may be reported at, highest first. */
  val TailLadder: Seq[Double] = Seq(99.9, 99.0, 95.0, 90.0, 75.0, 50.0)

  /** A timing's tail: the highest ladder percentile with at least
    * `minBeyond` samples strictly above its rank, so the figure rests on
    * more than a handful of outliers. None when even the median has fewer
    * than `minBeyond` samples beyond it.
    */
  final case class Tail(percentile: Double, value: Double, samples: Int, beyond: Int)

  def tail(xs: Seq[Double], minBeyond: Int = 10): Option[Tail] = {
    val s = xs.sorted.toIndexedSeq
    val n = s.size
    TailLadder.iterator.map { p =>
      val i = rankIndex(n, p)
      Tail(p, if (n == 0) Double.NaN else s(i), n, n - 1 - i)
    }.find(t => t.samples > 0 && t.beyond >= minBeyond)
  }

  /** What an open-loop feeder did. `due`, `released` and `committed` are
    * per-file epoch-ms instants; `committed` is Long.MaxValue for a file
    * whose batch never committed.
    *
    * Lateness is release minus due. The backlog at an instant is the files
    * released but not yet committed; it is sampled at every release, which
    * is where it peaks (it only grows at releases).
    */
  final case class Feed(lateMsMax: Long, backlogFilesMax: Int)

  def feed(due: Seq[Long], released: Seq[Long], committed: Seq[Long]): Feed = {
    require(due.size == released.size && released.size == committed.size,
      "one due, release and commit instant per file")
    val late = due.zip(released).map { case (d, r) => r - d }
    val commits = committed.sorted.toIndexedSeq
    val releases = released.sorted.toIndexedSeq
    var c = 0
    var maxBacklog = 0
    releases.zipWithIndex.foreach { case (t, i) =>
      while (c < commits.size && commits(c) <= t) c += 1
      maxBacklog = math.max(maxBacklog, i + 1 - c)
    }
    Feed(if (late.isEmpty) 0L else late.max, maxBacklog)
  }
}

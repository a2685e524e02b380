package perfbench

/** Order statistics over latency samples. Percentiles use the nearest-rank
  * rule, so every reported value is one that was actually measured. */
object Stats {

  /** Percentiles the tail metrics may report, highest first. */
  val TailMenu: Seq[Double] = Seq(0.99, 0.95, 0.90, 0.75, 0.50)

  /** Samples a tail percentile must leave strictly above it. */
  val MinBeyond = 10

  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)

  /** Geometric mean: every sample's relative change moves it equally. */
  def geoMean(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "geometric mean of no samples")
    math.exp(xs.map(math.log).sum / xs.size)
  }

  /** Nearest-rank percentile: the smallest sample with at least `p` of the
    * samples at or below it. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val rank = math.ceil(p * s.size).toInt.max(1).min(s.size)
    s(rank - 1)
  }

  /** How many samples lie beyond the nearest-rank `p` percentile of `n`. */
  def beyond(n: Int, p: Double): Int =
    n - math.ceil(p * n).toInt.max(1).min(n)

  /** The highest menu percentile that leaves at least [[MinBeyond]] samples
    * beyond it, or None when `n` is too small for even the median. */
  def tailPercentile(n: Int): Option[Double] =
    TailMenu.find(p => beyond(n, p) >= MinBeyond)

  /** Self time of a span: its duration minus the part of it that child
    * spans cover. Children may overlap each other and may stick out of the
    * parent; only the union of their intervals inside the parent counts. */
  def selfTime(start: Long, end: Long, children: Seq[(Long, Long)]): Long = {
    val clipped = children
      .map { case (s, e) => (s.max(start), e.min(end)) }
      .filter { case (s, e) => e > s }
      .sortBy(_._1)
    var covered = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    clipped.foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) covered += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) covered += curE - curS
    (end - start) - covered
  }

  /** Length of the union of intervals (overlapping jobs count once). */
  def unionLength(intervals: Seq[(Long, Long)]): Long =
    if (intervals.isEmpty) 0L
    else {
      val lo = intervals.map(_._1).min
      val hi = intervals.map(_._2).max
      (hi - lo) - selfTime(lo, hi, intervals)
    }
}

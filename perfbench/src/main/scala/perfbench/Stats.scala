package perfbench

/** Interval and sample arithmetic shared by the timed and traced runs. */
object Stats {

  /** Total length covered by half-open intervals `[start, end)`;
    * overlapping parts count once. */
  def unionLength(intervals: Seq[(Long, Long)]): Long = {
    var covered = 0L
    var curStart = Long.MinValue
    var curEnd = Long.MinValue
    for ((s, e) <- intervals.filter { case (s, e) => e > s }.sortBy(_._1)) {
      if (s > curEnd) {
        if (curEnd > curStart) covered += curEnd - curStart
        curStart = s
        curEnd = e
      } else if (e > curEnd) curEnd = e
    }
    if (curEnd > curStart) covered += curEnd - curStart
    covered
  }

  /** Self time of a span: its length minus the part its children cover.
    * Children are clipped to the span, so a child that started early or
    * ended late is only counted inside it. */
  def selfTime(span: (Long, Long), children: Seq[(Long, Long)]): Long = {
    val (lo, hi) = span
    val clipped = children.map { case (s, e) => (s max lo, e min hi) }
    (hi - lo) - unionLength(clipped)
  }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The highest whole percentile `p` whose nearest-rank value still has
    * at least `beyond` samples ranked above it, with that value. `None`
    * when there are too few samples for any percentile to qualify. */
  def tail(xs: Seq[Double], beyond: Int = 10): Option[(Int, Double)] = {
    val s = xs.sorted
    val n = s.size
    def rank(p: Int): Int = (p * n + 99) / 100 // ceil(p·n/100), exact
    (99 to 1 by -1).find(p => rank(p) >= 1 && n - rank(p) >= beyond)
      .map(p => p -> s(rank(p) - 1))
  }
}

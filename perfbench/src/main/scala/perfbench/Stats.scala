package perfbench

/** The arithmetic behind the reported metrics, kept free of Spark so it
  * can be tested on plain numbers. */
object Stats {

  /** Percentile `p` (0-100) by linear interpolation between closest
    * ranks; 0 for an empty sample. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(p >= 0 && p <= 100, s"percentile $p outside [0, 100]")
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = p / 100.0 * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** Length of the union of `spans` ([start, end) pairs) clipped to
    * [lo, hi). */
  def covered(lo: Long, hi: Long, spans: Seq[(Long, Long)]): Long = {
    val clipped = spans.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    clipped.foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** A span's self time: its duration minus the part of it that its
    * children cover. */
  def selfTime(start: Long, end: Long, children: Seq[(Long, Long)]): Long =
    (end - start) - covered(start, end, children)

  /** Share of `cores` x `wallS` that executors spent running tasks. */
  def busyFrac(runS: Double, cores: Int, wallS: Double): Double =
    if (cores <= 0 || wallS <= 0) 0.0 else runS / (cores * wallS)

  /** Distinct documents over documents sent; 1 when nothing was sent. */
  def usefulFrac(distinct: Long, sent: Long): Double =
    if (sent <= 0) 1.0 else distinct.toDouble / sent

  /** Whether a backlog sampled once per tick keeps growing: the median of
    * the samples in the second half exceeds every sample of the first
    * half. A pipeline that keeps up swings within the same range all
    * phase long; one that falls behind ends above anything it saw early. */
  def backlogGrows(samples: Seq[Long]): Boolean = {
    val (first, second) = samples.splitAt(samples.size / 2)
    first.nonEmpty && median(second.map(_.toDouble)) > first.max
  }
}

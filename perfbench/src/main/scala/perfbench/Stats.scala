package perfbench

/** Order statistics and interval arithmetic shared by the workloads and
  * the tracer. Percentiles are nearest-rank: the p-th percentile of n
  * sorted samples is the sample at 1-based rank ceil(p * n). */
object Stats {

  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    s(math.max(0, rank(s.length, p) - 1))
  }

  /** 1-based nearest rank; the epsilon keeps p * n = 90.00000000000001
    * from rounding up to 91. */
  def rank(n: Int, p: Double): Int = math.ceil(p * n - 1e-9).toInt

  /** The middle sample, or the mean of the two middle ones. */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Number of samples strictly beyond the nearest-rank p-th percentile. */
  def beyond(n: Int, p: Double): Int = n - rank(n, p)

  /** The tail percentiles the benchmark may report, highest first. */
  val TailCandidates: Seq[Double] = Seq(0.999, 0.99, 0.95, 0.9, 0.75, 0.5)

  /** The highest candidate percentile with at least `minBeyond` samples
    * beyond it, or None when even the median has fewer. */
  def tailPercentile(n: Int, minBeyond: Int = 10): Option[Double] =
    TailCandidates.find(p => beyond(n, p) >= minBeyond)

  /** Total length covered by a set of [start, end) intervals. */
  def unionLength(intervals: Seq[(Long, Long)]): Long = {
    val sorted = intervals.filter { case (s, e) => e > s }.sortBy(_._1)
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    sorted.foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Length of [start, end) not covered by any of `inner`, each clipped
    * to [start, end) first. This is a span's self time when `inner` are
    * its children, and its driver time when `inner` are its jobs. */
  def uncovered(start: Long, end: Long, inner: Seq[(Long, Long)]): Long = {
    val clipped = inner.map { case (s, e) => (math.max(s, start), math.min(e, end)) }
    (end - start) - unionLength(clipped)
  }
}

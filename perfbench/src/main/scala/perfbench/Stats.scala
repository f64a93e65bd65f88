package perfbench

/** Order statistics over latency samples. */
object Stats {
  /** Nearest-rank percentile (q in 0..100) of unsorted samples; NaN if none. */
  def pct(xs: Iterable[Double], q: Double): Double = {
    val s = xs.toArray
    if (s.isEmpty) Double.NaN
    else {
      java.util.Arrays.sort(s)
      val rank = math.ceil(q / 100.0 * s.length).toInt
      s(math.min(s.length - 1, math.max(0, rank - 1)))
    }
  }

  /** The middle sample, or the mean of the two middle ones; NaN if none. */
  def median(xs: Iterable[Double]): Double = {
    val s = xs.toArray
    java.util.Arrays.sort(s)
    val n = s.length
    if (n == 0) Double.NaN
    else if (n % 2 == 1) s(n / 2)
    else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Samples strictly above the q-th percentile: the support behind a tail. */
  def beyond(xs: Iterable[Double], q: Double): Int = {
    val p = pct(xs, q)
    xs.count(_ > p)
  }
}

package perfbench

/** Order statistics the benchmark reports. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Nearest-rank percentile: the smallest value with at least `p`% of
    * the sample at or below it. */
  def percentile(xs: Seq[Double], p: Int): Double = {
    require(xs.nonEmpty && p >= 1 && p <= 100)
    val s = xs.sorted
    s(math.max(0, math.ceil(p / 100.0 * s.size).toInt - 1))
  }

  /** Fewest samples a run needs before it reports a tail. */
  val TailMinSamples = 40
  /** Samples that must lie beyond the reported tail percentile. */
  val TailBeyond = 10

  /** The highest whole percentile with at least [[TailBeyond]] samples
    * strictly beyond its rank, and its value; None below
    * [[TailMinSamples]] samples. With 40 jobs that is p75, with 100 p90,
    * with 1,000 p99. */
  def tail(xs: Seq[Double]): Option[(Int, Double)] =
    if (xs.size < TailMinSamples) None
    else {
      val n = xs.size
      val p = (99 to 1 by -1).find { p =>
        n - math.ceil(p / 100.0 * n).toInt >= TailBeyond
      }.get
      Some(p -> percentile(xs, p))
    }
}

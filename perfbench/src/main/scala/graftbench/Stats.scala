package graftbench

/** Order statistics used for every reported timing. */
object Stats {

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** A tail sample: `value` at `percentile`, out of `n` samples. */
  final case class Tail(value: Double, percentile: Double, n: Int)

  /** The highest percentile that still has at least `beyond` samples
    * above it: the (n - beyond)-th smallest sample, which leaves exactly
    * `beyond` larger ones. Its percentile is the share of samples at or
    * below it. None unless that percentile is above the median, i.e.
    * below 2 * `beyond` + 1 samples. */
  def tail(xs: Seq[Double], beyond: Int = 10): Option[Tail] = {
    val n = xs.length
    if (n <= 2 * beyond) None
    else {
      val s = xs.sorted
      Some(Tail(s(n - beyond - 1), 100.0 * (n - beyond) / n, n))
    }
  }
}

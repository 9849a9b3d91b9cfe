package perfbench

/** Order statistics used by every metric. */
object Stats {

  /** Linear-interpolated quantile of `xs` at `q` in [0, 1]; NaN when empty. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.length - 1)
      val lo = math.floor(pos).toInt
      val hi = math.ceil(pos).toInt
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Harrell–Davis estimate of the quantile at `q` in (0, 1): the mean of
    * all order statistics weighted by the Beta((n+1)q, (n+1)(1-q))
    * distribution. A single order statistic jumps with whichever sample
    * lands at its rank; this weighted mean moves less from run to run.
    * NaN when empty. */
  def hdQuantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val n = s.length
      def cdf(x: Double) =
        org.apache.commons.math3.special.Beta.regularizedBeta(x, q * (n + 1), (1 - q) * (n + 1))
      s.indices.map(i => (cdf((i + 1).toDouble / n) - cdf(i.toDouble / n)) * s(i)).sum
    }

  /** A tail latency: `value` is the Harrell–Davis estimate at percentile
    * `pct`, the rank with `beyond` samples above it out of `n`. */
  final case class Tail(pct: Double, value: Double, n: Int, beyond: Int)

  /** The highest percentile that still has at least `minBeyond` samples
    * beyond it: the rank of the (minBeyond+1)-th largest sample, percentile
    * 100 * (n - minBeyond) / n. With too few samples for any such
    * percentile the median stands in, and `beyond` says how many lie above
    * it. */
  def tail(xs: Seq[Double], minBeyond: Int = 10): Tail = {
    val n = xs.length
    if (n == 0) Tail(Double.NaN, Double.NaN, 0, 0)
    else if (n <= 2 * minBeyond) Tail(50.0, hdQuantile(xs, 0.5), n, n / 2)
    else {
      val pct = 100.0 * (n - minBeyond) / n
      Tail(pct, hdQuantile(xs, pct / 100), n, minBeyond)
    }
  }
}

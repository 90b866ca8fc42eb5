package perfbench

import org.apache.commons.math3.special.Beta

/** Order statistics used by every workload's report. */
object Stats {

  /** Linear-interpolated quantile (q in [0, 1]) of a non-empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.ceil(pos).toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Harrell–Davis estimate of the q-quantile: a Beta(q(n+1), (1-q)(n+1))
    * weighted mean of all order statistics. It estimates the same
    * quantile as [[quantile]] with a smaller run-to-run variance, which
    * matters for a tail that sits ten samples from the top. */
  def hdQuantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted
    val n = s.size
    val a = q * (n + 1)
    val b = (1 - q) * (n + 1)
    def cdf(x: Double): Double =
      if (x <= 0) 0.0 else if (x >= 1) 1.0 else Beta.regularizedBeta(x, a, b)
    var acc = 0.0
    var prev = 0.0
    var i = 1
    while (i <= n) {
      val c = cdf(i.toDouble / n)
      acc += (c - prev) * s(i - 1)
      prev = c
      i += 1
    }
    acc
  }

  /** Samples a tail percentile must leave above it. */
  val TailBeyond = 10

  /** The highest percentile that leaves at least ten of `n` samples
    * above it, 100·(1 − 10/n), capped at 99.9. None below 20 samples,
    * where it would fall under the median. */
  def tailPercentile(n: Int): Option[Double] =
    if (n < 2 * TailBeyond) None
    else Some(math.min(99.9, 100.0 * (1.0 - TailBeyond.toDouble / n)))
}

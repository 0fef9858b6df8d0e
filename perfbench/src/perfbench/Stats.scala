package perfbench

object Stats {
  def median(xs: Iterable[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile, q in [0, 1]. */
  def quantile(xs: Iterable[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.toIndexedSeq.sorted
    val pos = q * (s.length - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** Harrell–Davis estimate of the q-quantile, q in (0, 1): a mean of
    * all order statistics weighted by the Beta((n + 1)q, (n + 1)(1 - q))
    * distribution. Operation latencies cluster by gate, and interpolating
    * the two samples next to rank q(n - 1) jumps when two gates of
    * different latency swap places across that rank; this estimate moves
    * smoothly.
    */
  def hdQuantile(xs: Iterable[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.toIndexedSeq.sorted
    val n = s.length
    val (a, b) = (q * (n + 1), (1 - q) * (n + 1))
    def cdf(x: Double) = org.apache.commons.math3.special.Beta.regularizedBeta(x, a, b)
    s.indices.map(i => (cdf((i + 1.0) / n) - cdf(i.toDouble / n)) * s(i)).sum
  }

  /** The highest percentile, in steps of 5, that leaves at least 10 of
    * `n` samples above it. Below 20 samples no percentile above the
    * median does, and the median stands in.
    */
  def tailPercentile(n: Int): Int =
    (95 to 55 by -5).find(p => math.floor(n * (100 - p) / 100.0) >= 10).getOrElse(50)

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
    finally src.close()
  }
}

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  /** Full precision; JSON has no NaN or infinity, so those become null. */
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString
}

package perfbench

/** Small numeric helpers for the reported figures. */
object Stats {
  /** Linear-interpolated percentile (q in [0, 1]); 0 for no values. */
  def pct(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def median(xs: Seq[Double]): Double = pct(xs, 0.5)

  /** p90, reported only when at least ten samples lie beyond it. */
  def p90(xs: Seq[Double]): Double = if (xs.size >= 100) pct(xs, 0.9) else 0.0

  /** Peak resident set of this process, MB (VmHWM). */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  }
}

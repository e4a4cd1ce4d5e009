package perfbench

/** Order statistics for the benchmark's timings.
  *
  * A tail percentile is only named when at least [[MinBeyond]] samples lie
  * beyond it: with fewer, one stall moves the number by a whole sample's
  * worth and two runs of the same code disagree. [[percentile]] refuses such
  * a tail instead of returning a number that only looks like a p95. */
object Stats {

  val MinBeyond = 10

  /** Linear-interpolated percentile `p` (0..100) of `xs`. Throws when the
    * tail above `p` holds fewer than [[MinBeyond]] samples (the median and
    * lower are always allowed). */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val beyond = xs.size * (100.0 - p) / 100.0
    if (p > 50.0 && beyond < MinBeyond)
      throw new IllegalArgumentException(
        f"p$p%.0f needs at least $MinBeyond samples beyond it; " +
          f"${xs.size} samples leave $beyond%.1f")
    val s = xs.sorted
    val pos = (s.size - 1) * p / 100.0
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50.0)

  /** p95 for a run report: the number, or "n/a" with too few samples. */
  def tail95(xs: Seq[Double]): Any =
    if (xs.size >= samplesFor(95)) percentile(xs, 95) else "n/a"

  /** The smallest sample count for which `p` may be named. */
  def samplesFor(p: Double): Int = math.ceil(MinBeyond * 100.0 / (100.0 - p)).toInt
}

package kgbench

/** Pure arithmetic the benchmark reports with; self-tested in [[SelfTest]]. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Nearest-rank percentile: the smallest sample with at least `p`% of
    * the samples at or below it. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val rank = math.ceil(p / 100.0 * s.length).toInt
    s(math.max(1, math.min(rank, s.length)) - 1)
  }

  /** Number of samples strictly above the nearest-rank percentile. */
  def beyond(xs: Seq[Double], p: Double): Int = {
    val v = percentile(xs, p)
    xs.count(_ > v)
  }

  /** The highest of `candidates` (percent) that leaves at least
    * `minBeyond` samples strictly beyond it, or None when even the lowest
    * does not. */
  def tailPercentile(xs: Seq[Double], candidates: Seq[Double] = Seq(99, 95, 90, 75, 50),
      minBeyond: Int = 10): Option[Double] =
    candidates.sorted.reverse.find(p => beyond(xs, p) >= minBeyond)

  /** Layer self time from cumulative prefix walls: entry i is
    * prefix(i) − prefix(i−1) (prefix(−1) = 0). Negative differences are
    * kept as measured and flagged, never clamped. */
  final case class SelfTime(layer: String, selfS: Double, negative: Boolean)

  def prefixDiffs(prefixes: Seq[(String, Double)]): Seq[SelfTime] =
    prefixes.indices.map { i =>
      val prev = if (i == 0) 0.0 else prefixes(i - 1)._2
      val d = prefixes(i)._2 - prev
      SelfTime(prefixes(i)._1, d, d < 0)
    }
}

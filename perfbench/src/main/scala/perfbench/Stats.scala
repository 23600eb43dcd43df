package perfbench

/** Percentiles by the nearest-rank convention: the p-th percentile of
  * n samples is the sample at rank ⌈p·n⌉ of the sorted samples, so it
  * is always a measured value and never an interpolation. Every
  * reported percentile carries its sample count. */
object Stats {

  final case class Pct(value: Double, rank: Int, n: Int)

  /** 1-based nearest rank for percentile `p` in (0, 1] over `n`
    * samples. Exact decimal arithmetic: 0.9 × 100 must give rank 90,
    * not the 91 that binary floating point rounds up to. */
  def rank(p: Double, n: Int): Int = {
    require(n > 0, "percentile of no samples")
    require(p > 0 && p <= 1, s"percentile $p outside (0, 1]")
    (BigDecimal(p) * n).setScale(0, BigDecimal.RoundingMode.CEILING).toInt
  }

  def percentile(xs: Seq[Double], p: Double): Pct = {
    val r = rank(p, xs.length)
    Pct(xs.sorted.apply(r - 1), r, xs.length)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 0.5).value
}

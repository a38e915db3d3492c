package graft.perfbench

/** Order statistics for per-unit samples. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Nearest-rank percentile `p` (0 < p < 100) and the number of
    * samples strictly beyond its rank.
    */
  def percentile(xs: Seq[Double], p: Double): (Double, Int) = {
    val s = xs.sorted
    val rank = math.max(1, math.ceil(p / 100.0 * s.size).toInt)
    (s(rank - 1), s.size - rank)
  }

  /** Tail percentiles tried from the highest down. */
  val TailPercentiles: Seq[Double] = Seq(99.9, 99.0, 95.0, 90.0, 75.0)

  /** The median, the sample count, and the highest tail percentile
    * that has at least 10 samples beyond it (None when the sample is
    * too small for any).
    */
  final case class Summary(n: Int, median: Double, tail: Option[(Double, Double)]) {
    def render(unit: String): String = {
      val t = tail.map { case (p, v) => f", p$p%s=$v%.4f $unit" }.getOrElse("")
      f"median=$median%.4f $unit (n=$n$t)"
    }
  }

  def summarize(xs: Seq[Double]): Summary = {
    val tail = TailPercentiles.iterator.map(p => p -> percentile(xs, p))
      .collectFirst { case (p, (v, beyond)) if beyond >= 10 => (p, v) }
    Summary(xs.size, median(xs), tail)
  }
}

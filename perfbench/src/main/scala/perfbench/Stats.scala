package perfbench

/** Order statistics over latency samples. */
object Stats {

  /** Percentile ranks a tail may be reported at, ascending. */
  val TailRanks: Seq[Double] = Seq(50.0, 75.0, 90.0, 95.0, 99.0, 99.9)

  /** Linear-interpolated percentile (`q` in [0, 100]) of `xs`. */
  def percentile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    require(q >= 0 && q <= 100, s"percentile rank $q outside [0, 100]")
    val s = xs.sorted.toIndexedSeq
    val pos = (s.size - 1) * q / 100.0
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50.0)

  /** The tail rank for `n` samples: the highest of [[TailRanks]] with at
    * least ten samples beyond it. Fewer than twenty samples have no such
    * rank above the median, so the median stands in.
    */
  def tailRank(n: Int): Double =
    TailRanks.filter(q => n * (100.0 - q) / 100.0 >= 10.0 - 1e-9).lastOption.getOrElse(50.0)

  /** (value, rank) of the tail of `xs`. */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val q = tailRank(xs.size)
    (percentile(xs, q), q)
  }
}

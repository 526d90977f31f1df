package perfbench

/** Order statistics for the benchmark's reports. */
object Stats {

  /** Linear-interpolated percentile (`p` in [0, 100]) of a sample, the
    * same definition as numpy's default and Python's
    * `statistics.quantiles(method="inclusive")`. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    require(p >= 0 && p <= 100, s"percentile $p out of [0, 100]")
    val s = xs.sorted.toIndexedSeq
    val pos = (s.length - 1) * p / 100.0
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  def geomean(xs: Seq[Double]): Double = {
    require(xs.nonEmpty && xs.forall(_ > 0), "geometric mean needs positive values")
    math.exp(xs.map(math.log).sum / xs.size)
  }

  /** Quartiles (q1, median, q3). */
  def quartiles(xs: Seq[Double]): (Double, Double, Double) =
    (percentile(xs, 25), percentile(xs, 50), percentile(xs, 75))

  private val tailLadder = Seq(99.9, 99.0, 90.0, 50.0)

  /** The highest percentile of {50, 90, 99, 99.9} with at least ten
    * samples beyond it, and its value; None when even the median has
    * fewer than ten samples above it. */
  def tail(xs: Seq[Double]): Option[(Double, Double)] =
    tailLadder.find(p => xs.length * (100 - p) / 100.0 >= 10.0 - 1e-9)
      .map(p => p -> percentile(xs, p))

  /** Summary of one timing sample: count, quartiles and the tail
    * percentile, as JSON-ready values. */
  def summary(xs: Seq[Double]): Map[String, Any] =
    if (xs.isEmpty) Map("n" -> 0)
    else {
      val (q1, q2, q3) = quartiles(xs)
      val base = Map[String, Any]("n" -> xs.length, "q1" -> q1, "p50" -> q2, "q3" -> q3)
      tail(xs) match {
        case Some((p, v)) => base ++ Map("tail_pct" -> p, "tail" -> v)
        case None => base
      }
    }

  private val NameRe = "[A-Za-z0-9][A-Za-z0-9_.-]{0,63}".r

  /** Metric names: a letter or digit, then letters, digits, `_`, `.`
    * and `-`, at most 64 characters. */
  def validName(name: String): Boolean = NameRe.matches(name)
}

package perfbench

/** Order statistics and metric-name rules shared by the report and its
  * tests. Quartiles follow Python's `statistics.quantiles(xs, n=4)`
  * (the default "exclusive" method), so a spread computed here matches
  * one computed over the printed values.
  */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** (q1, q2, q3) by the exclusive method; needs at least two samples. */
  def quartiles(xs: Seq[Double]): (Double, Double, Double) = {
    require(xs.length >= 2, "quartiles need at least two samples")
    val s = xs.sorted
    val m = s.length + 1
    def q(i: Int): Double = {
      val j = math.min(math.max(i * m / 4, 1), s.length - 1)
      val delta = i * m - j * 4
      (s(j - 1) * (4 - delta) + s(j) * delta) / 4
    }
    (q(1), q(2), q(3))
  }

  /** Interquartile distance as a share of the median. */
  def relativeSpread(xs: Seq[Double]): Double = {
    val (q1, _, q3) = quartiles(xs)
    (q3 - q1) / median(xs)
  }

  private val NameRe = "[A-Za-z0-9][A-Za-z0-9_.-]{0,63}".r

  def validName(name: String): Boolean = NameRe.matches(name)
}

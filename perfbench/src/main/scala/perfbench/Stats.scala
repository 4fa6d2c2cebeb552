package perfbench

/** Order statistics and interval arithmetic shared by the metrics. */
object Stats {

  /** Nearest-rank percentile: the smallest sample with at least `p`
    * percent of the samples at or below it. Empty input gives NaN. */
  def percentile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val rank = math.ceil(p / 100.0 * s.size).toInt
      s(math.min(s.size, math.max(1, rank)) - 1)
    }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  def mean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** Samples strictly above the `p` percentile — the guide asks for at
    * least ten before a percentile is reported as a tail. */
  def beyond(xs: Seq[Double], p: Double): Int = {
    val q = percentile(xs, p)
    xs.count(_ > q)
  }

  /** Total length of the union of half-open intervals. */
  def unionLength(iv: Seq[(Double, Double)]): Double = {
    val s = iv.filter(i => i._2 > i._1).sortBy(_._1)
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    s.foreach { case (a, b) =>
      if (curS.isNaN || a > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = a; curE = b
      } else if (b > curE) curE = b
    }
    if (!curS.isNaN) total += curE - curS
    total
  }

  /** Self time of an interval: its length minus the part of it that
    * `children` cover (children are clipped to the parent). */
  def selfTime(parent: (Double, Double), children: Seq[(Double, Double)]): Double = {
    val (ps, pe) = parent
    val clipped = children.map { case (a, b) => (math.max(a, ps), math.min(b, pe)) }
    math.max(0.0, (pe - ps) - unionLength(clipped))
  }
}

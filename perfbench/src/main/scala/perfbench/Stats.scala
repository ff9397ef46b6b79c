package perfbench

/** The arithmetic the benchmark reports with: order statistics, the tail
  * rule and span self times. Pure functions, unit-tested in StatsSpec.
  */
object Stats {

  /** Linear-interpolated quantile (numpy's default) of a non-empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  def geomean(xs: Seq[Double]): Double = {
    require(xs.nonEmpty && xs.forall(_ > 0), "geomean needs positive values")
    math.exp(xs.map(math.log).sum / xs.size)
  }

  /** The tail percentile a sample of `n` can carry: the highest quantile,
    * capped at `cap`, that still leaves at least `beyond` samples above
    * it. A percentile with fewer samples beyond it is one or two readings
    * and moves with every run. Never below the median, which is where a
    * sample too small for a tail falls back to.
    */
  def tailLevel(n: Int, beyond: Int = 10, cap: Double = 0.9): Double =
    if (n <= 0) 0.5
    else math.max(0.5, math.min(cap, 1.0 - beyond.toDouble / n))

  def tail(xs: Seq[Double]): Double = quantile(xs, tailLevel(xs.size))

  /** Total length covered by a set of possibly overlapping intervals. */
  def unionLength(ivs: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    ivs.filter(iv => iv._2 > iv._1).sortBy(_._1).foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curS.isNaN) total += curE - curS
    total
  }

  /** Self time of a span: its duration minus the time covered by any of
    * its children, each clipped to the parent. Overlapping children
    * (concurrent jobs, a phase inside a job's window) count once.
    */
  def selfTime(parent: (Double, Double), children: Seq[(Double, Double)]): Double = {
    val (ps, pe) = parent
    val clipped = children.map { case (s, e) => (math.max(s, ps), math.min(e, pe)) }
    math.max(0.0, (pe - ps) - unionLength(clipped))
  }
}

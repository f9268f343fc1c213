package perfbench

/** Order statistics and the result line. */
object Stats {

  /** Linear-interpolated percentile, `p` in [0, 100]; 0 for no samples. */
  def percentile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val rank = p / 100.0 * (s.size - 1)
      val lo = math.floor(rank).toInt
      val hi = math.ceil(rank).toInt
      s(lo) + (s(hi) - s(lo)) * (rank - lo)
    }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** Total length of the union of `[start, end)` intervals. */
  def unionLength(intervals: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    intervals.filter(i => i._2 > i._1).sortBy(_._1).foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (!curS.isNaN) total += curE - curS
    total
  }
}

/** One metric as printed: value with its unit. */
final case class Metric(name: String, value: Double, unit: String)

/** What one run prints as its last stdout line. */
final case class Result(correct: Boolean, attempted: Long, failed: Long, metrics: Seq[Metric]) {
  def json: String = {
    val ms = metrics.map(m => s""""${m.name}": {"value": ${java.lang.Double.toString(m.value)}, "unit": "${m.unit}"}""")
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {${ms.mkString(", ")}}}"""
  }
}

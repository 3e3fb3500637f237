package graft.hic

/** Monotone null-curve fitting (SURVEY.md A15–A17).
  *
  * The reference smooths (avgDistance, avgContactProb) with a univariate
  * spline and then forces the curve monotone non-increasing (the
  * biophysical prior: contact probability decays with genomic distance;
  * FitHiC2 isotonizes the same way). SciPy's smoothing spline has no exact
  * JVM twin, so per SURVEY §7.3 #2 this implements the *contract* instead:
  * PAVA (pool-adjacent-violators) for the non-increasing projection, then
  * piecewise-linear evaluation between knots — deterministic, driver-side
  * on ≤ noOfBins points, broadcast back as a pure lookup function.
  */
object Spline {
  /** The monotone null curve fitted from equal-occupancy bin rows (the
    * single shared implementation of A15–A16; used by Pipeline and the
    * q_hic_spline/binom queries). Input rows need binIdx-ordered
    * sumDist/sumCount/pairCount; `total` = observed contact sum (the
    * probability denominator). Returns (avgDist knots, raw per-pair
    * probabilities, PAVA-fitted non-increasing probabilities).
    */
  def fitFromBins(bins: Array[org.apache.spark.sql.Row], total: Long)
      : (Array[Double], Array[Double], Array[Double]) = {
    val xs = bins.map(r => r.getAs[Long]("sumDist").toDouble /
      r.getAs[Long]("pairCount"))
    val raw = bins.map(r => r.getAs[Long]("sumCount").toDouble /
      r.getAs[Long]("pairCount") / total)
    val ws = bins.map(_.getAs[Long]("pairCount").toDouble)
    (xs, raw, pavaNonIncreasing(raw, ws))
  }

  /** Least-squares projection onto non-increasing sequences (weighted
    * PAVA). Input sorted by x ascending; returns fitted y per point.
    */
  def pavaNonIncreasing(ys: Array[Double],
      ws: Array[Double]): Array[Double] = {
    val n = ys.length
    if (n == 0) return Array.empty
    // pool-adjacent-violators on the NEGATED sequence (classic isotonic
    // increasing on -y == antitonic on y)
    val level = new Array[Double](n)
    val weight = new Array[Double](n)
    val size = new Array[Int](n)
    var top = -1
    for (i <- 0 until n) {
      top += 1
      level(top) = -ys(i); weight(top) = ws(i); size(top) = 1
      while (top > 0 && level(top - 1) > level(top)) {
        val w = weight(top - 1) + weight(top)
        level(top - 1) = (level(top - 1) * weight(top - 1) +
          level(top) * weight(top)) / w
        weight(top - 1) = w
        size(top - 1) += size(top)
        top -= 1
      }
    }
    val out = new Array[Double](n)
    var idx = 0
    for (b <- 0 to top; _ <- 0 until size(b)) { out(idx) = -level(b); idx += 1 }
    out
  }

  /** Piecewise-linear interpolation through (xs, ys) knots (xs ascending,
    * distinct); constant extrapolation beyond the ends — pure,
    * deterministic. [[graft.functions.SplineInterp]] is its Catalyst form.
    */
  def eval(xs: Array[Double], ys: Array[Double], x: Double): Double = {
    val n = xs.length
    require(n > 0, "empty knots")
    if (x <= xs(0)) ys(0)
    else if (x >= xs(n - 1)) ys(n - 1)
    else {
      var lo = java.util.Arrays.binarySearch(xs, x)
      if (lo >= 0) ys(lo)
      else {
        lo = -lo - 2
        val t = (x - xs(lo)) / (xs(lo + 1) - xs(lo))
        ys(lo) + t * (ys(lo + 1) - ys(lo))
      }
    }
  }
}

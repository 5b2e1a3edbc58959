package graft.ml

/** The Spark SQL aggregates the featurizers once ran over exploded rows,
  * as plain loops over one record's values with bit-identical results:
  * sums start at 0.0 and add in order, the population std runs Spark's
  * CentralMomentAgg update, and min/max use Spark's double ordering. Each
  * takes `n ≥ 1` values as `x(0) … x(n − 1)`. */
private[ml] object RowStats {

  /** `a < b` in Spark's double ordering: NaN above everything, −0.0 = 0.0. */
  def lt(a: Double, b: Double): Boolean =
    a != b && java.lang.Double.compare(a, b) < 0

  def sum(n: Int)(x: Int => Double): Double = {
    var s = 0.0
    var i = 0
    while (i < n) { s += x(i); i += 1 }
    s
  }

  def minMax(n: Int)(x: Int => Double): (Double, Double) = {
    var mn = x(0)
    var mx = mn
    var i = 1
    while (i < n) {
      val v = x(i)
      if (lt(v, mn)) mn = v
      if (lt(mx, v)) mx = v
      i += 1
    }
    (mn, mx)
  }

  /** stddev_pop: Welford updates, then the merge of that one partial
    * buffer into the empty final one (its product term is ±0 unless the
    * mean squared overflows). */
  def stddevPop(n: Int)(x: Int => Double): Double = {
    var cnt, avg, m2 = 0.0
    var i = 0
    while (i < n) {
      val newN = cnt + 1.0
      val delta = x(i) - avg
      val deltaN = delta / newN
      avg += deltaN
      m2 += delta * (delta - deltaN)
      cnt = newN
      i += 1
    }
    math.sqrt((0.0 + m2 + avg * (avg / cnt) * 0.0 * cnt) / cnt)
  }
}

package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** The highest percentile with at least ten samples beyond it, as
    * (percentile, value). Below 21 samples no percentile above the
    * median qualifies and the maximum is returned as percentile 100.
    */
  def tail(xs: Seq[Double]): (Double, Double) =
    if (xs.isEmpty) (0.0, 0.0)
    else if (xs.size <= 20) (100.0, xs.max)
    else {
      val s = xs.sorted; val n = s.size
      (100.0 * (n - 10) / n, s(n - 11))
    }

  /** Length of the union of `ivs`, clipped to [lo, hi]. */
  def covered(ivs: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    ivs.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
        if (curE.isNaN || s > curE) {
          if (!curE.isNaN) total += curE - curS
          curS = s; curE = e
        } else curE = math.max(curE, e)
      }
    if (!curE.isNaN) total += curE - curS
    total
  }
}

/** JSON through Jackson, which ships with Spark; Scala maps, sequences
  * and options render as JSON objects, arrays and null.
  */
object Json {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
  def render(v: Any): String = mapper.writeValueAsString(v)
}

package graftbench

import scala.collection.mutable

/** What one run hands back: operations attempted and failed, the first
  * failures, and the metrics by name.
  */
final class Report {
  var attempted = 0L
  var failed = 0L
  val errors = mutable.ArrayBuffer.empty[String]
  val e2e = mutable.LinkedHashMap.empty[String, (Double, String)]
  val layers = mutable.LinkedHashMap.empty[String, (Double, String)]
  /** Operator rows whose written results the caller checks. */
  var rows = Seq.empty[String]

  /** Count one operation; a false `ok` counts it as failed. */
  def op(ok: Boolean, what: => String): Boolean = {
    attempted += 1
    if (!ok) { failed += 1; if (errors.size < 20) errors += what }
    ok
  }

  def json: String = {
    def m(xs: mutable.LinkedHashMap[String, (Double, String)]) = xs.map { case (k, (v, u)) =>
      s"${Json.str(k)}:{\"value\":${if (v.isNaN || v.isInfinite) "null" else v.toString},\"unit\":${Json.str(u)}}"
    }.mkString("{", ",", "}")
    s"""{"attempted":$attempted,"failed":$failed,"errors":${errors.map(Json.str).mkString("[", ",", "]")},""" +
      s""""rows":${rows.map(Json.str).mkString("[", ",", "]")},""" +
      s""""e2e":${m(e2e)},"layers":${m(layers)}}"""
  }
}

object Stats {
  /** Quantile with linear interpolation between closest ranks. */
  def q(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = p * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: Seq[Double]): Double = q(xs, 0.5)
}

package perfbench

import scala.collection.mutable

/** Everything one run prints: the metrics the JSON line carries, the named
  * table of every measured figure, and the correctness tally. */
final class Report {
  val endToEnd = mutable.LinkedHashMap.empty[String, (Double, String)]
  val perLayer = mutable.LinkedHashMap.empty[String, (Double, String)]
  val table = mutable.ArrayBuffer.empty[(String, Double, String, String)]
  val failures = mutable.ArrayBuffer.empty[String]
  var attempted = 0L
  var failed = 0L

  /** A metric of the JSON line (end-to-end run), also shown in the table. */
  def e2e(name: String, v: Double, unit: String, note: String): Unit = {
    endToEnd(name) = (v, unit); show(name, v, unit, note)
  }

  def layer(name: String, v: Double, unit: String): Unit = perLayer(name) = (v, unit)

  /** A named figure for the table only (workload-specific metrics). */
  def show(name: String, v: Double, unit: String, note: String): Unit =
    table += ((name, v, unit, note))

  /** One checked operation; `bad` are the query ids answered wrongly. */
  def checked(what: String, bad: Seq[Int]): Unit = {
    attempted += 1
    if (bad.nonEmpty) { failed += 1; failures += s"$what: wrong answers for queries ${bad.take(8).mkString(",")}" }
  }

  def correct: Boolean = failed == 0

  def json(trace: Boolean): String = {
    val m = (if (trace) perLayer else endToEnd).map { case (k, (v, u)) =>
      s""""$k": {"value": ${Report.num(v)}, "unit": "$u"}"""
    }
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {${m.mkString(", ")}}}"""
  }
}

object Report {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString
}

object Stat {
  def median(xs: Seq[Double]): Double = pct(xs, 0.5)

  /** Linear-interpolated percentile, `p` in [0, 1]. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val x = p * (s.size - 1)
      val lo = math.floor(x).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (x - lo)
    }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  def secs(ns: Long): Double = ns / 1e9
}

package graftbench

/** Order statistics and the one-line JSON result the runner prints. */
object Stats {

  /** Linear-interpolated quantile (numpy's default), `p` in [0, 1]. */
  def quantile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted
    val pos = p * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Median, or 0 for an empty sample (a layer the workload never uses). */
  def medianOr0(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else median(xs)

  def ms(ns: Long): Double = ns / 1e6
  def s(ns: Long): Double = ns / 1e9

  /** A metric value with its unit, printed with all its digits. */
  final case class Metric(value: Double, unit: String)

  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString

  private def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def resultLine(correct: Boolean, attempted: Long, failed: Long,
                 metrics: Seq[(String, Metric)]): String = {
    val ms = metrics.map { case (k, m) =>
      s"${str(k)}: {\"value\": ${num(m.value)}, \"unit\": ${str(m.unit)}}"
    }.mkString("{", ", ", "}")
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": $ms}"""
  }

  def jsonObject(fields: Seq[(String, Any)]): String =
    fields.map { case (k, v) =>
      val jv = v match {
        case d: Double => num(d)
        case other => str(String.valueOf(other))
      }
      s"${str(k)}: $jv"
    }.mkString("{", ", ", "}")
}

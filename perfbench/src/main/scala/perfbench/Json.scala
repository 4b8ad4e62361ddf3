package perfbench

/** The few JSON and statistics helpers the harness needs. */
object Json {
  def str(s: String): String =
    if (s == null) "null"
    else "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  /** A number with all its digits; non-finite values become null. */
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)

  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val m = s.size / 2
      if (s.size % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2
    }
}

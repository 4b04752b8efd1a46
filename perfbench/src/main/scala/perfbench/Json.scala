package perfbench

/** Minimal JSON output and order statistics. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"'  => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c    => b += c
    }
    (b += '"').toString
  }

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else java.lang.Double.toString(d)

  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}

object Stats {
  def median(xs: collection.Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  /** The highest percentile with at least ten samples above it, as
    * (percentile, value). With ten samples or fewer no such percentile
    * exists and the maximum is returned as percentile 100.
    */
  def tail(xs: collection.Seq[Double]): (Double, Double) = {
    val s = xs.sorted
    val n = s.length
    if (n == 0) (100.0, Double.NaN)
    else if (n <= 10) (100.0, s.last)
    else {
      val k = n - 11 // zero-based rank with exactly ten samples after it
      (100.0 * (k + 1) / n, s(k))
    }
  }
}

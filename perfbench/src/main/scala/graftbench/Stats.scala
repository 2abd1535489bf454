package graftbench

object Stats {
  def median(xs: Seq[Double], empty: Double = 0.0): Double = quantile(xs, 0.5, empty)

  /** Linear-interpolated quantile (the "inclusive" rule). */
  def quantile(xs: Seq[Double], q: Double, empty: Double = 0.0): Double =
    if (xs.isEmpty) empty
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
}

object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  /** Doubles as JSON numbers with all their digits; non-finite ones fail
    * the run instead of printing invalid JSON.
    */
  def num(d: Double): String = {
    require(!d.isNaN && !d.isInfinite, s"non-finite metric value $d")
    java.lang.Double.toString(d)
  }
}

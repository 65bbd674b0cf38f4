package perfbench

/** Order statistics and the result-line writer. */
object Stats {

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** The highest percentile that still has at least `beyond` samples above
    * it, as (percentile, value). With `n <= beyond` samples no percentile
    * qualifies and the maximum is reported as the 100th percentile. */
  def tail(xs: Seq[Double], beyond: Int = 10): (Double, Double) = {
    val s = xs.sorted
    val n = s.size
    if (n == 0) (100.0, 0.0)
    else if (n <= beyond) (100.0, s.last)
    else {
      val k = n - beyond - 1 // 0-based rank with exactly `beyond` samples above
      (100.0 * (k + 1) / n, s(k))
    }
  }

  /** Minimal JSON encoding for the result line and the trace dump. */
  def json(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double =>
      require(!d.isNaN && !d.isInfinite, s"non-finite metric value $d")
      d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => json(k.toString) + ": " + json(x) }.mkString("{", ", ", "}")
    case xs: Iterable[_] => xs.map(json).mkString("[", ", ", "]")
    case other => json(other.toString)
  }
}

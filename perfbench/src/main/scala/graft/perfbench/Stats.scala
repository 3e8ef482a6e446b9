package graft.perfbench

/** Summary statistics and the result line the benchmark prints last. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The `q`-quantile (0 < q < 1) by the nearest-rank rule, but only when
    * at least ten samples lie strictly beyond it; a tail that thin is
    * noise, so the caller gets None and reports the median alone. */
  def tail(xs: Seq[Double], q: Double): Option[Double] = {
    require(q > 0 && q < 1, s"quantile must lie in (0, 1), got $q")
    val s = xs.sorted
    val rank = math.ceil(q * s.length).toInt - 1
    if (s.isEmpty || rank < 0) None
    else {
      val v = s(rank)
      if (s.count(_ > v) >= 10) Some(v) else None
    }
  }

  final case class Metric(value: Double, unit: String)

  /** The benchmark's single result line: verdict, operation counts and
    * every metric by name and unit. */
  def resultLine(correct: Boolean, attempted: Long, failed: Long,
      metrics: Seq[(String, Metric)]): String = {
    require(attempted >= 1, "a run must attempt at least one operation")
    val ms = metrics.map { case (n, m) =>
      require(!m.value.isNaN && !m.value.isInfinite, s"metric $n is not finite")
      s""""$n": {"value": ${num(m.value)}, "unit": "${m.unit}"}"""
    }
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, """ +
      s""""metrics": {${ms.mkString(", ")}}}"""
  }

  /** Full precision, never scientific notation for ordinary magnitudes. */
  def num(v: Double): String =
    if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else java.math.BigDecimal.valueOf(v).toPlainString
}

package graftbench

/** Order statistics and the JSON output line. */
object Stats {

  /** Linear-interpolated quantile of `xs` at `q` in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Harrell-Davis estimate of the `q` quantile: a weighted average of all
    * order statistics, with Beta((n+1)q, (n+1)(1-q)) weights. On a mix of
    * op kinds whose latencies form clusters, the plain sample median jumps
    * between the clusters' edges from run to run; this estimate moves
    * smoothly with them. */
  def hdQuantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val n = s.length
    val (a, b) = ((n + 1) * q, (n + 1) * (1 - q))
    def cdf(x: Double) = org.apache.commons.math3.special.Beta.regularizedBeta(x, a, b)
    s.indices.map(i => (cdf((i + 1).toDouble / n) - cdf(i.toDouble / n)) * s(i)).sum
  }

  /** Percentiles the report may state, highest first. */
  val Ladder: Seq[Int] = Seq(999, 990, 900, 750)

  /** Highest percentile (in tenths: 999 = p99.9) that has at least
    * `beyond` of the `n` samples strictly above its rank, or None when
    * even p75 has fewer: a tail percentile is only reported with ten or
    * more samples behind it. */
  def reportablePercentile(n: Int, beyond: Int = 10): Option[Int] =
    Ladder.find(p => n - math.ceil(n * p / 1000.0).toInt >= beyond)

  /** One JSON value: finite numbers verbatim, everything else quoted. */
  def json(v: Any): String = v match {
    case null => "null"
    case b: Boolean => b.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case d: Double =>
      require(!d.isNaN && !d.isInfinite, s"non-finite metric $d")
      d.toString
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case m: Map[_, _] =>
      m.toSeq.map { case (k, x) => json(k.toString) + ": " + json(x) }
        .mkString("{", ", ", "}")
    case xs: Seq[_] => xs.map(json).mkString("[", ", ", "]")
    case other => json(other.toString)
  }
}

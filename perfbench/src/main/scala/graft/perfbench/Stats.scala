package graft.perfbench

/** Sample statistics the benchmark reports.
  *
  * Percentiles are nearest-rank: the p-th percentile of n samples is the
  * sample at 1-based rank ceil(p/100 · n) in ascending order. A tail
  * percentile is only reported when at least ten samples lie beyond it
  * (rank < n − 9); otherwise the highest percentile of [[TailLadder]]
  * that has ten samples beyond it is reported instead, and the report
  * names the percentile it used. */
object Stats {

  /** Tail percentiles tried, highest first. */
  val TailLadder: Seq[Double] = Seq(99.9, 99.5, 99.0, 98.0, 95.0, 90.0, 75.0, 50.0)

  /** 1-based nearest rank of the p-th percentile among n samples. */
  def rank(n: Int, p: Double): Int = {
    require(n > 0, "no samples")
    require(p > 0.0 && p <= 100.0, s"percentile out of range: $p")
    // the epsilon keeps 99.0 / 100 · 1000 = 990 from rounding up to 991
    math.min(n, math.max(1, math.ceil(p / 100.0 * n - 1e-9).toInt))
  }

  /** Samples strictly beyond the p-th percentile's rank. */
  def beyond(n: Int, p: Double): Int = n - rank(n, p)

  /** Nearest-rank percentile of ascending samples. */
  def percentile(sorted: Array[Double], p: Double): Double =
    sorted(rank(sorted.length, p) - 1)

  /** The highest percentile ≤ `want` with at least ten samples beyond it. */
  def tailPercentile(n: Int, want: Double): Option[Double] =
    if (n <= 0) None
    else TailLadder.filter(_ <= want).find(p => beyond(n, p) >= 10)

  /** A timing series: sample count, median and its tail percentile. */
  final case class Summary(n: Int, p50: Double, tailP: Double, tail: Double)

  /** Median and the tail percentile (`want`, or the highest one the
    * sample count admits). With fewer than eleven samples no percentile
    * has ten samples beyond it, so the tail is the maximum, flagged by
    * tailP = 100. */
  def summarize(samples: Array[Double], want: Double = 99.0): Summary = {
    if (samples.isEmpty) return Summary(0, Double.NaN, Double.NaN, Double.NaN)
    val s = samples.sorted
    val p50 = percentile(s, 50.0)
    tailPercentile(s.length, want) match {
      case Some(p) => Summary(s.length, p50, p, percentile(s, p))
      case None    => Summary(s.length, p50, 100.0, s.last)
    }
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else percentile(xs.toArray.sorted, 50.0)

  def mean(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else xs.sum / xs.length
}

/** Minimal JSON rendering for the flat records the benchmark prints. */
object Json {
  def num(x: Double): String =
    if (x.isNaN || x.isInfinite) "null"
    else if (x == math.rint(x) && math.abs(x) < 1e15) x.toLong.toString
    else x.toString

  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"'  => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }

  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}

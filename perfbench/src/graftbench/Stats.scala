package graftbench

/** The benchmark's pure arithmetic: percentiles, span self time and the
  * JSON it prints. Covered by [[SelfTest]]. */
object Stats {

  /** Nearest-rank percentile `p` (0 < p < 1) of `xs`. A failed operation
    * enters as +∞, so it misses every latency limit and can only push a
    * percentile up, never down. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    require(p > 0 && p < 1, s"percentile $p outside (0, 1)")
    val s = xs.sorted
    s(math.min(s.length - 1, math.ceil(p * s.length).toInt - 1))
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)

  /** Samples strictly above the nearest-rank p-th percentile. */
  def beyond(n: Int, p: Double): Int = n - math.ceil(p * n).toInt

  /** The percentile, only when at least `minBeyond` samples lie beyond
    * it — a tail figure read off fewer samples is noise. */
  def tail(xs: Seq[Double], p: Double, minBeyond: Int = 10): Option[Double] =
    if (xs.nonEmpty && beyond(xs.length, p) >= minBeyond) Some(percentile(xs, p))
    else None

  /** Length of the union of closed intervals. */
  def unionLength(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue; var curE = Long.MinValue
    iv.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Self time of a span: its duration minus the part of its interval
    * that its children cover (children clipped to the parent, overlaps
    * counted once). */
  def selfTime(start: Long, end: Long, children: Seq[(Long, Long)]): Long =
    (end - start) - unionLength(children.map { case (s, e) =>
      (math.max(s, start), math.min(e, end))
    })

  def num(x: Double): String =
    if (x.isNaN || x.isInfinite) "null"
    else java.math.BigDecimal.valueOf(x).stripTrailingZeros.toPlainString

  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  /** JSON object from ordered fields whose values are already JSON. */
  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
}

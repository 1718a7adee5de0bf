package perfbench

/** Order statistics and interval arithmetic used by the report. Pure
  * functions, so the self-tests pin them without a Spark session.
  */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** The tail sample: the highest percentile that still has at least
    * `beyond` samples above it. Over n ascending samples that is the
    * (n − beyond)-th smallest, at percentile 100·(n − beyond)/n. Below
    * 2·beyond samples that percentile falls under the median, which is no
    * tail: None. Returns (value, percentile).
    */
  def tail(xs: Seq[Double], beyond: Int = 10): Option[(Double, Double)] = {
    val n = xs.length
    if (n < 2 * beyond) None
    else Some((xs.sorted.apply(n - beyond - 1), 100.0 * (n - beyond) / n))
  }

  /** Total length covered by a set of possibly overlapping intervals. */
  def unionLength(intervals: Seq[(Long, Long)]): Long = {
    var covered = 0L
    var curStart = Long.MinValue
    var curEnd = Long.MinValue
    for ((s, e) <- intervals.filter { case (s, e) => e > s }.sortBy(_._1)) {
      if (s > curEnd) {
        if (curEnd > curStart) covered += curEnd - curStart
        curStart = s
        curEnd = e
      } else if (e > curEnd) curEnd = e
    }
    if (curEnd > curStart) covered += curEnd - curStart
    covered
  }

  /** A span's self time: its duration minus the part of its interval that
    * its children cover (children may overlap each other, or run past the
    * parent; only the covered part of the parent's interval counts).
    */
  def selfTime(span: (Long, Long), children: Seq[(Long, Long)]): Long = {
    val (s, e) = span
    val clipped = children.map { case (cs, ce) => (math.max(cs, s), math.min(ce, e)) }
    (e - s) - unionLength(clipped)
  }

  /** F1 of predicted against true positives, from the three counts. */
  def f1(tp: Long, fp: Long, fn: Long): Double = {
    val p = if (tp + fp == 0) 1.0 else tp.toDouble / (tp + fp)
    val r = if (tp + fn == 0) 1.0 else tp.toDouble / (tp + fn)
    if (p + r == 0) 0.0 else 2 * p * r / (p + r)
  }
}

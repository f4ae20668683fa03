package perfbench

/** Order statistics and interval arithmetic shared by the workloads and the
  * trace report. Pure functions, so the benchmark's own tests pin them.
  */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  def geomean(xs: Seq[Double]): Double = {
    require(xs.nonEmpty && xs.forall(_ > 0), s"geomean needs positive samples: $xs")
    math.exp(xs.map(math.log).sum / xs.length)
  }

  /** The tail rule: the highest whole percentile p whose nearest-rank value
    * still has at least `beyond` samples strictly above its rank. None when
    * there are too few samples for any such percentile.
    */
  def tailPercentile(n: Int, beyond: Int = 10): Option[Int] =
    if (n <= beyond) None
    else {
      val p = math.floor(100.0 * (n - beyond) / n).toInt
      Some(p).filter(_ >= 1)
    }

  /** Nearest-rank value of percentile `p` (1..100). */
  def nearestRank(xs: Seq[Double], p: Int): Double = {
    val s = xs.sorted
    val k = math.max(1, math.ceil(p / 100.0 * s.length).toInt)
    s(k - 1)
  }

  /** (percentile, value) at the tail rule, or None with fewer than 11 samples. */
  def tail(xs: Seq[Double], beyond: Int = 10): Option[(Int, Double)] =
    tailPercentile(xs.length, beyond).map(p => (p, nearestRank(xs, p)))

  /** Total length covered by a set of [start, end) intervals. */
  def unionLength(ivs: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    for ((s, e) <- ivs.filter(iv => iv._2 > iv._1).sortBy(_._1)) {
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** The intervals clipped to [lo, hi). */
  def clip(ivs: Seq[(Long, Long)], lo: Long, hi: Long): Seq[(Long, Long)] =
    ivs.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }.filter(iv => iv._2 > iv._1)

  /** Metric names the result JSON accepts: a letter or digit first, then at
    * most 63 more letters, digits, `_`, `.` or `-`.
    */
  private val NameRe = "[A-Za-z0-9][A-Za-z0-9_.-]{0,63}".r
  def validName(s: String): Boolean = NameRe.matches(s)
}

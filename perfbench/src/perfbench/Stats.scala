package perfbench

/** Order statistics for the benchmark's timings. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** A tail latency: `value` is the sample with exactly `beyond` samples
    * above it, i.e. the highest percentile (`percentile`, in percent)
    * that still has at least `beyond` samples beyond it, out of `n`. */
  final case class Tail(value: Double, percentile: Double, n: Int)

  /** The tail rule of the benchmark. With fewer than `beyond + 1`
    * samples no percentile has `beyond` samples beyond it; the maximum
    * is returned then, flagged by a percentile of 100. */
  def tail(xs: Seq[Double], beyond: Int = 10): Tail = {
    require(xs.nonEmpty, "tail of no samples")
    val s = xs.sorted
    val n = s.size
    if (n <= beyond) Tail(s.last, 100.0, n)
    else Tail(s(n - beyond - 1), 100.0 * (n - beyond) / n, n)
  }

  /** Self time of each span: its duration minus the part of its
    * interval that its children cover (children may overlap each
    * other; the covered part is the union of their clipped intervals). */
  def selfTimes(spans: Seq[Span]): Map[Long, Long] = {
    val kids = spans.filter(_.parent >= 0).groupBy(_.parent)
    spans.map { sp =>
      val iv = kids.getOrElse(sp.id, Nil)
        .map(c => (math.max(c.start, sp.start), math.min(c.end, sp.end)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L
      var curA = Long.MinValue
      var curB = Long.MinValue
      iv.foreach { case (a, b) =>
        if (a > curB) {
          if (curB > curA) covered += curB - curA
          curA = a; curB = b
        } else curB = math.max(curB, b)
      }
      if (curB > curA) covered += curB - curA
      sp.id -> ((sp.end - sp.start) - covered)
    }.toMap
  }
}

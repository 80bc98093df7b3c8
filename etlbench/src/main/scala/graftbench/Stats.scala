package graftbench

/** The benchmark's arithmetic, kept free of Spark so it can be tested on
  * its own: medians, the tail-percentile rule, span self times and the
  * job-interval union behind `spark.scheduler.driver_gap_ms`.
  */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** Samples that must lie strictly beyond the reported tail percentile. */
  val TailMinBeyond = 10

  /** The highest percentile with at least [[TailMinBeyond]] samples beyond
    * it: the (n - 10)-th smallest sample, which is percentile
    * 100 * (n - 10) / n. Returns (percentile, value); None for n <= 10.
    */
  def tail(xs: Seq[Double]): Option[(Double, Double)] = {
    val n = xs.length
    if (n <= TailMinBeyond) None
    else {
      val k = n - TailMinBeyond
      Some((100.0 * k / n, xs.sorted.apply(k - 1)))
    }
  }

  /** A closed span: `name` ran from `start` to `end` (any one clock). */
  final case class Span(name: String, start: Long, end: Long) {
    require(end >= start, s"span $name ends before it starts")
    def length: Long = end - start
  }

  /** Self time per span name: each span's length minus the lengths of the
    * spans directly nested in it, summed over spans of the same name.
    * Spans must nest properly (a span that starts inside another also ends
    * inside it), which is how a call stack produces them.
    */
  def selfTimes(spans: Seq[Span]): Map[String, Long] = {
    // outer spans first: earlier start, and on a tie the longer one
    val ordered = spans.sortBy(s => (s.start, -s.end))
    val self = scala.collection.mutable.LinkedHashMap.empty[String, Long]
    var stack = List.empty[Span]
    ordered.foreach { s =>
      stack = stack.dropWhile(p => p.end <= s.start)
      stack.headOption.foreach { parent =>
        require(s.end <= parent.end,
          s"span ${s.name} overlaps ${parent.name} without nesting in it")
        self(parent.name) = self.getOrElse(parent.name, 0L) - s.length
      }
      self(s.name) = self.getOrElse(s.name, 0L) + s.length
      stack = s :: stack
    }
    self.toMap
  }

  /** Length of the union of `intervals`, each clipped to `[lo, hi]`. */
  def unionLength(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = intervals
      .map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }
      .sortBy(_._1)
    var total = 0L
    var curA = 0L
    var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else if (b > curB) curB = b
    }
    if (curB > curA) total += curB - curA
    total
  }

  /** Driver-side time of an op: its wall minus the time any job ran. */
  def driverGap(jobs: Seq[(Long, Long)], lo: Long, hi: Long): Long =
    (hi - lo) - unionLength(jobs, lo, hi)
}

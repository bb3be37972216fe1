package perfbench

/** Order statistics used by every reported timing. */
object Stats {

  /** Nearest-rank percentile `p` (0 < p <= 100) of `xs`; NaN when empty. */
  def percentile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      s(rankIndex(s.length, p))
    }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** Zero-based index of the nearest-rank `p` percentile of `n` samples. */
  def rankIndex(n: Int, p: Double): Int =
    math.min(n - 1, math.max(0, math.ceil(p / 100.0 * n).toInt - 1))

  /** Samples strictly beyond the nearest-rank `p` percentile. */
  def beyond(n: Int, p: Double): Int = n - 1 - rankIndex(n, p)

  /** The tail percentile a run supports when every one of its query
    * shapes (with `ns` samples each) is cut at the same percentile: p99
    * once each shape has 1000 samples, otherwise the highest whole
    * percentile that still leaves at least 10 samples beyond it, counted
    * over all shapes (0 when there are not enough).
    */
  def tailPercentile(ns: Int*): Int =
    if (ns.nonEmpty && ns.forall(_ >= 1000)) 99
    else (99 to 1 by -1).find(p => ns.map(beyond(_, p)).sum >= 10).getOrElse(0)

  /** Geometric mean; NaN when empty. */
  def geoMean(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else math.exp(xs.map(math.log).sum / xs.size)

  /** The geometric mean over shapes of each shape's `p` percentile, so
    * every shape counts the same however many samples it has and a
    * change to any one shape moves the figure.
    */
  def perShape(shapes: Seq[Seq[Double]], p: Double): Double =
    geoMean(shapes.filter(_.nonEmpty).map(percentile(_, p)))

  /** Self time of a span: its duration minus the part of its interval
    * that the union of its children's intervals covers (children may
    * overlap each other and may stick out of the parent).
    */
  def selfTime(start: Long, end: Long, children: Seq[(Long, Long)]): Long = {
    val clipped = children
      .map { case (s, e) => (math.max(s, start), math.min(e, end)) }
      .filter { case (s, e) => e > s }
      .sortBy(_._1)
    var covered = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    clipped.foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) covered += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) covered += curE - curS
    (end - start) - covered
  }
}

/** Open-loop schedule: request `i` is due at `start + i * period`. A
  * request is timed from when it was due, so a stall also charges the
  * wait it imposes on the requests queued behind it; how late each
  * send left is the generator's own lateness.
  */
final class Schedule(val startNs: Long, val periodNs: Long) {
  def due(i: Long): Long = startNs + i * periodNs

  /** Latency of request `i` that completed at `endNs`. */
  def latencyNs(i: Long, endNs: Long): Long = endNs - due(i)

  /** How late request `i` was sent (0 when it left on time). */
  def latenessNs(i: Long, sendNs: Long): Long = math.max(0L, sendNs - due(i))

  /** True when request `i`, still unsent at `nowNs`, has missed its
    * slot by a whole period: the generator fell behind its schedule.
    * Requests are never skipped, so overdue ones leave back to back.
    */
  def behind(i: Long, nowNs: Long): Boolean = nowNs > due(i) + periodNs
}

package perfbench

/** The benchmark's arithmetic: summaries, the tail-percentile rule, the
  * sustainable-rate decision and span self time. Pure functions, so the
  * decisions the benchmark reports can be tested on synthetic inputs. */
object Stats {

  /** A summary as printed: median with quartiles and the sample count. */
  final case class Summary(median: Double, q1: Double, q3: Double, n: Int)

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val m = s.size / 2
    if (s.size % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2
  }

  /** Quartiles by Python's `statistics.quantiles(xs, n=4)` (the exclusive
    * method), so in-run and cross-run spreads are computed the same way. */
  def quartiles(xs: Seq[Double]): (Double, Double) = {
    val d = xs.sorted.toIndexedSeq
    if (d.size == 1) (d(0), d(0))
    else (quantileExclusive(d, 1), quantileExclusive(d, 3))
  }

  /** The i-th cut of statistics.quantiles(n=4, method="exclusive"). */
  private def quantileExclusive(d: IndexedSeq[Double], i: Int): Double = {
    val n = 4
    val m = d.size + 1
    val j = math.max(1, math.min(d.size - 1, i * m / n))
    val delta = i * m - j * n
    (d(j - 1) * (n - delta) + d(j) * delta) / n
  }

  def summary(xs: Seq[Double]): Summary = {
    val (a, b) = quartiles(xs)
    Summary(median(xs), a, b, xs.size)
  }

  def geomean(xs: Seq[Double]): Double = {
    require(xs.nonEmpty && xs.forall(_ > 0), "geomean needs positive samples")
    math.exp(xs.map(math.log).sum / xs.size)
  }

  /** A tail reading: the value, the percentile it sits at, and n. */
  final case class Tail(value: Double, pct: Double, n: Int)

  /** The value at percentile `p`, or, when fewer than `beyond` samples lie
    * above that rank, at the highest percentile that still has `beyond`
    * samples above it. Nearest-rank: the sample at 1-based rank k has
    * n - k samples beyond it. With n <= beyond no rank qualifies and the
    * maximum is returned, its percentile stated as 100. */
  def tail(xs: Seq[Double], p: Double = 0.99, beyond: Int = 10): Tail = {
    require(xs.nonEmpty, "tail of no samples")
    val s = xs.sorted
    val n = s.size
    if (n <= beyond) return Tail(s.last, 100.0, n)
    val wanted = math.max(1, math.ceil(p * n).toInt)
    val k = math.min(wanted, n - beyond)
    Tail(s(k - 1), 100.0 * k / n, n)
  }

  /** Least-squares slope of y over x; 0 with fewer than two distinct x. */
  def slope(points: Seq[(Double, Double)]): Double = {
    if (points.size < 2) return 0.0
    val mx = points.map(_._1).sum / points.size
    val my = points.map(_._2).sum / points.size
    val sxx = points.map { case (x, _) => (x - mx) * (x - mx) }.sum
    if (sxx == 0) 0.0
    else points.map { case (x, y) => (x - mx) * (y - my) }.sum / sxx
  }

  /** One rung of the open-loop rate ladder, as observed after its first
    * (transition) batch: backlog (rows due but not yet committed) at each
    * batch end as (seconds, rows), batch durations, and latency samples. */
  final case class Rung(rate: Double, backlog: Seq[(Double, Double)],
      batchMs: Seq[Double], latencyMs: Seq[Double]) {
    def growthRowsPerS: Double = slope(backlog)
  }

  /** A rung is sustained when its backlog does not grow by more than
    * `growthTol` of the offered rate, its batches fit in the trigger
    * interval at the median, and its tail latency meets the limit. */
  def sustained(r: Rung, triggerMs: Double, limitMs: Double,
      growthTol: Double): Boolean =
    r.batchMs.nonEmpty && r.latencyMs.nonEmpty &&
      r.growthRowsPerS <= growthTol * r.rate && load(r, triggerMs, limitMs) <= 1.0

  /** How close a rung is to its limits: the larger of median batch time
    * over the trigger interval and tail latency over the latency limit.
    * It crosses 1 at the knee. */
  def load(r: Rung, triggerMs: Double, limitMs: Double): Double =
    if (r.batchMs.isEmpty || r.latencyMs.isEmpty) Double.PositiveInfinity
    else math.max(median(r.batchMs) / triggerMs, tail(r.latencyMs).value / limitMs)

  /** The highest sustained rate, from rungs in ascending rate order. The
    * ladder is walked upward until the first rung that is not sustained;
    * between the last sustained rung and that one, the rate is interpolated
    * linearly to where the load reaches 1, so the figure does not jump by
    * a whole rung on noise. If no rung fails the top rate is returned
    * (the knee lies above the ladder); if the first rung fails, its rate
    * scaled down by its load. */
  def sustainableRate(rungs: Seq[Rung], triggerMs: Double, limitMs: Double,
      growthTol: Double): Double = {
    require(rungs.nonEmpty, "no rungs")
    val ok = rungs.map(sustained(_, triggerMs, limitMs, growthTol))
    val firstFail = ok.indexOf(false)
    if (firstFail < 0) return rungs.last.rate
    val hi = rungs(firstFail)
    val uHi = load(hi, triggerMs, limitMs)
    if (firstFail == 0)
      return if (uHi.isInfinite || uHi <= 1) 0.0 else hi.rate / uHi
    val lo = rungs(firstFail - 1)
    val uLo = load(lo, triggerMs, limitMs)
    if (uHi.isInfinite || uHi <= 1 || uHi <= uLo) lo.rate
    else lo.rate + (hi.rate - lo.rate) * (1 - uLo) / (uHi - uLo)
  }

  /** A closed interval of time in ms; `parent` names the enclosing span. */
  final case class Span(id: String, parent: String, layer: String,
      startMs: Double, endMs: Double) {
    def durMs: Double = math.max(0.0, endMs - startMs)
  }

  /** Length of the union of intervals, each clipped to [lo, hi]. */
  def coveredMs(intervals: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val clipped = intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    for ((a, b) <- clipped) {
      if (curB.isNaN || a > curB) {
        if (!curB.isNaN) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (!curB.isNaN) total += curB - curA
    total
  }

  /** Self time of each span: its duration minus the part of it that its
    * children cover (children may overlap each other; the union counts). */
  def selfTimes(spans: Seq[Span]): Map[String, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val cs = kids.getOrElse(s.id, Nil).map(c => (c.startMs, c.endMs))
      s.id -> (s.durMs - coveredMs(cs, s.startMs, s.endMs))
    }.toMap
  }

  /** Self time summed per layer. When every span lies inside its parent
    * and siblings do not overlap, the layer totals add up to the root's
    * duration. */
  def layerSelfTimes(spans: Seq[Span]): Map[String, Double] = {
    val self = selfTimes(spans)
    spans.groupBy(_.layer).map { case (l, ss) => l -> ss.map(s => self(s.id)).sum }
  }
}

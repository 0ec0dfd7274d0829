package graft.perfbench

/** The benchmark's own statistics, kept pure so the self-tests pin them. */
object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  /** Geometric mean, as TPC-H's power metric averages query times: it
    * uses every sample, so it moves less from run to run than an order
    * statistic over a few dozen, and no single slow sample dominates it. */
  def geomean(xs: Seq[Double]): Double = {
    require(xs.nonEmpty && xs.forall(_ > 0), "geomean of no or non-positive samples")
    math.exp(xs.map(math.log).sum / xs.length)
  }

  /** A tail reading: the value, the percentile it sits at, the sample count. */
  final case class Tail(value: Double, percentile: Double, samples: Int)

  /** Samples that must lie strictly beyond a reported tail percentile. */
  val Beyond = 10

  /** The highest percentile with at least [[Beyond]] samples beyond it:
    * the (n - 10)-th smallest of n samples, at percentile 100 * (n - 10) / n.
    * Below twenty samples that percentile would fall under the median, so
    * the maximum is reported, at percentile 100. */
  def tail(xs: Seq[Double]): Tail = {
    require(xs.nonEmpty, "tail of no samples")
    val s = xs.sorted
    val n = s.length
    if (n < 2 * Beyond) Tail(s.last, 100.0, n)
    else Tail(s(n - Beyond - 1), 100.0 * (n - Beyond) / n, n)
  }

  /** Tracing overhead in percent from an interleaved sequence of runs
    * (untraced, traced, untraced, ...): each traced run against the mean
    * of its two untraced neighbours, so a drift along the sequence (a
    * table that grows with every batch) cancels. Median over the traced
    * runs; 0 when no traced run has two neighbours. */
  def interleavedOverheadPct(walls: Seq[Double], traced: Seq[Boolean]): Double = {
    val ratios = walls.indices.collect {
      case k if traced(k) && k > 0 && k + 1 < walls.length && !traced(k - 1) && !traced(k + 1) =>
        walls(k) / ((walls(k - 1) + walls(k + 1)) / 2)
    }
    if (ratios.isEmpty) 0.0 else (median(ratios) - 1) * 100
  }

  /** Runs of an interleaved sequence: odd positions are traced, and a
    * traced sequence has an odd length of at least three, so every traced
    * run has an untraced neighbour on each side. */
  def interleavedCount(n: Int, traced: Boolean): Int =
    if (!traced) n else math.max(3, if (n % 2 == 1) n else n + 1)

  /** Length of the union of half-open intervals [start, end). */
  def unionLength(intervals: Seq[(Long, Long)]): Long = {
    val sorted = intervals.filter { case (s, e) => e > s }.sortBy(_._1)
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    sorted.foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Self time of every span: its duration minus the part of its
    * interval covered by its children. Overlapping children are counted
    * once; child time outside the parent's interval is ignored. */
  def selfTimes(spans: Seq[Span]): Map[Long, Long] = {
    val children = spans.groupBy(_.parent)
    spans.map { sp =>
      val covered = children.getOrElse(Some(sp.id), Nil).map { c =>
        (math.max(c.startNs, sp.startNs), math.min(c.endNs, sp.endNs))
      }
      sp.id -> ((sp.endNs - sp.startNs) - unionLength(covered))
    }.toMap
  }
}

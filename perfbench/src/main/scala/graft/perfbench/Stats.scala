package graft.perfbench

/** Pure helpers behind every reported number: percentiles, the tail rule,
  * recall, interval unions and span self time. No Spark, no clocks. */
object Stats {

  /** Linear-interpolated percentile (`p` in [0, 100]) of unsorted samples,
    * the same estimator as numpy's default. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    require(p >= 0 && p <= 100, s"percentile out of range: $p")
    val s = xs.sorted
    val pos = p / 100.0 * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** Samples strictly above the `p`-th percentile's rank among `n`. */
  def samplesBeyond(n: Int, p: Int): Int =
    n - (p * n + 99) / 100 // n minus ceil(p% of n), in exact integers

  /** The tail rule: the highest whole percentile that leaves at least
    * `beyond` samples above it, or None when `n` is too small for any. */
  def tailPercentile(n: Int, beyond: Int = 10): Option[Int] =
    if (n <= beyond) None
    else Some((99 to 0 by -1).find(p => samplesBeyond(n, p) >= beyond).get)

  /** Work per second at a fixed mix of op kinds: each kind's mean latency
    * (ms), weighted by its share of the mix. The weights keep a loop that
    * stopped mid-cycle from shifting the mix; means (not medians) keep a
    * kind whose latencies fall into two modes (ann_serve's filtered
    * queries: about 0.5 s or about 1 s) from flipping between them. */
  def mixThroughput(samples: Seq[(String, Double)], mix: Map[String, Double],
                    workPerOp: Double): Double = {
    val byKind = samples.groupBy(_._1)
    require(mix.keys.forall(byKind.contains), s"no samples of some kind in ${mix.keys}")
    val msPerOp = mix.map { case (k, share) =>
      val ms = byKind(k).map(_._2)
      share * ms.sum / ms.length
    }.sum / mix.values.sum
    workPerOp / (msPerOp / 1e3)
  }

  /** recall@k: the share of the exact top-k that the answer's first k hold. */
  def recallAtK(answer: Seq[Long], truth: Seq[Long], k: Int): Double = {
    val want = truth.take(k).toSet
    require(want.nonEmpty, "recall against an empty truth set")
    answer.take(k).count(want).toDouble / want.size
  }

  /** Total length covered by possibly overlapping [start, end) intervals. */
  def unionLength(intervals: Seq[(Long, Long)]): Long = {
    var covered = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    intervals.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) covered += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) covered += curE - curS
    covered
  }

  /** Intervals clipped to [lo, hi), empty ones dropped. */
  def clip(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Seq[(Long, Long)] =
    intervals.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }

  /** Share of [lo, hi) during which none of the intervals runs: for an
    * operation and its Spark jobs, the time the driver spent between jobs. */
  def gapFraction(lo: Long, hi: Long, busy: Seq[(Long, Long)]): Double =
    if (hi <= lo) 0.0
    else 1.0 - unionLength(clip(busy, lo, hi)).toDouble / (hi - lo)

  /** A span's self time: its duration minus the part its children cover. */
  def selfTime(span: (Long, Long), children: Seq[(Long, Long)]): Long =
    (span._2 - span._1) - unionLength(clip(children, span._1, span._2))
}

package graftbench

/** The arithmetic that turns raw per-operation samples into reported
  * figures. Pure functions, unit-tested in StatsSpec. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  def mean(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "mean of no samples")
    xs.sum / xs.length
  }

  /** Tail latency that is still backed by data: the highest order
    * statistic with at least `beyond` samples strictly above its rank,
    * i.e. the (n - beyond)-th smallest sample (1-based). Returns
    * (value, percentile) where percentile = 100 * (n - beyond) / n.
    * None when fewer than beyond + 1 samples exist — no such percentile
    * can be stated honestly then. */
  def tail(xs: Seq[Double], beyond: Int = 10): Option[(Double, Double)] = {
    val n = xs.length
    if (n < beyond + 1) None
    else {
      val rank = n - beyond // 1-based
      Some((xs.sorted.apply(rank - 1), 100.0 * rank / n))
    }
  }

  /** Mean over WHOLE cycles only. `endsCycle(i)` marks the sample that
    * closes a cycle (a chain flatten, for the overlay publish). Samples
    * before the first cycle start are excluded by the caller; samples
    * after the last closing one belong to an unfinished cycle and are
    * dropped here, so a periodic expensive step is always paid for in
    * the exact proportion it occurs. None when no cycle completed. */
  def wholeCycleMean(xs: Seq[Double],
      endsCycle: Seq[Boolean]): Option[Double] = {
    require(xs.length == endsCycle.length, "one flag per sample")
    val last = endsCycle.lastIndexOf(true)
    if (last < 0) None else Some(mean(xs.take(last + 1)))
  }

  /** Number of whole cycles in a flag sequence. */
  def cycles(endsCycle: Seq[Boolean]): Int = endsCycle.count(identity)

  /** Tracing overhead: what the traced run's layer walls add over the
    * untraced operation. (sum of layer means) - (untraced mean); the
    * layers then sum to untraced + overhead exactly. */
  def overhead(layerWallMeans: Seq[Double], untracedWalls: Seq[Double]): Double =
    layerWallMeans.sum - mean(untracedWalls)

  /** max / median task duration of one stage (1.0 for a single task). */
  def skew(taskMs: Seq[Long]): Double =
    if (taskMs.length < 2) 1.0
    else {
      val med = median(taskMs.map(_.toDouble))
      if (med <= 0) 1.0 else taskMs.max / med
    }
}

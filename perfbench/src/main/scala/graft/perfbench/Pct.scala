package graft.perfbench

/** Nearest-rank percentiles over a sample, reported with the sample
  * count and the highest percentile the sample supports: the one with
  * at least [[Pct.MinBeyond]] samples above its rank. */
object Pct {
  val MinBeyond = 10
  /** Percentiles a summary may report as its high point, largest first. */
  val Ladder: Seq[Double] = Seq(99.9, 99.0, 95.0, 90.0, 75.0)

  final case class Summary(n: Int, p50: Double, hiPct: Double, hi: Double) {
    def json: String =
      f"""{"n":$n,"p50":${Json.num(p50)},"hi_pct":$hiPct%.1f,"hi":${Json.num(hi)}}"""
  }

  /** Nearest-rank `p`-th percentile of an ASCENDING-sorted sample:
    * the value at rank ceil(p/100 * n). */
  def nearestRank(sorted: Array[Double], p: Double): Double = {
    require(sorted.nonEmpty, "percentile of an empty sample")
    require(p > 0 && p <= 100, s"percentile out of range: $p")
    sorted(math.max(1, math.min(rank(sorted.length, p), sorted.length)) - 1)
  }

  /** ceil(p/100 * n), less a hair so that a product that is whole in
    * decimal (99.9% of 10,000) is not pushed up by binary rounding. */
  def rank(n: Int, p: Double): Int = math.ceil(p * n / 100.0 - 1e-9).toInt

  /** Samples strictly beyond the rank of percentile `p` in a sample of `n`. */
  def beyond(n: Int, p: Double): Int = n - rank(n, p)

  /** The highest percentile on [[Ladder]] with at least [[MinBeyond]]
    * samples beyond it, or None when the sample is too small for any. */
  def highestSupported(n: Int): Option[Double] =
    Ladder.find(p => beyond(n, p) >= MinBeyond)

  /** Summary of a sample; an empty sample reads as zeros. A sample too
    * small for any ladder percentile reports its maximum as p100. */
  def summary(xs: Iterable[Double]): Summary = {
    val s = xs.toArray
    java.util.Arrays.sort(s)
    if (s.isEmpty) Summary(0, 0.0, 0.0, 0.0)
    else highestSupported(s.length) match {
      case Some(p) => Summary(s.length, nearestRank(s, 50), p, nearestRank(s, p))
      case None => Summary(s.length, nearestRank(s, 50), 100.0, s.last)
    }
  }

  /** Nearest-rank `p`-th percentile of an unsorted sample (0 when empty). */
  def of(xs: Iterable[Double], p: Double): Double = {
    val s = xs.toArray
    if (s.isEmpty) 0.0 else { java.util.Arrays.sort(s); nearestRank(s, p) }
  }

  def median(xs: Iterable[Double]): Double = of(xs, 50)

  /** Percentile `p` of each `sliceNs` slice of a timed sample, slices
    * counted from `t0` by each value's time stamp, in slice order. */
  def bySlice(xs: Seq[(Long, Double)], t0: Long, sliceNs: Long, p: Double): Seq[Double] =
    xs.groupBy { case (t, _) => (t - t0) / sliceNs }.toSeq.sortBy(_._1).map(g => of(g._2.map(_._2), p))

  /** The median over slices of [[bySlice]]: a burst of host
    * interference shorter than half the window does not move it, where
    * it would move a percentile taken over the whole window. */
  def sliceMedian(xs: Seq[(Long, Double)], t0: Long, sliceNs: Long, p: Double): Double =
    median(bySlice(xs, t0, sliceNs, p))
}

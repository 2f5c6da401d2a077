package perfbench

/** The benchmark's own metric math, kept free of Spark so it can be tested
  * on its own (see StatsSpec).
  */
object Stats {

  /** Quantile `q` in [0, 1] of `xs` by linear interpolation between the two
    * closest ranks (rank = q × (n − 1) over the sorted values). This is
    * numpy's default rule; the median is `quantile(xs, 0.5)`.
    */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no values")
    require(q >= 0.0 && q <= 1.0, s"quantile $q outside [0, 1]")
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** A recorded span: `parent` is -1 for a root span. Times in nanoseconds. */
  final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long) {
    def durationNs: Long = endNs - startNs
  }

  /** Self time of `span`: its duration minus the part of its interval that
    * its direct children cover. Overlapping children are merged first, so
    * concurrent children are not subtracted twice; child time outside the
    * parent's interval is ignored.
    */
  def selfTimeNs(span: Span, all: Seq[Span]): Long = {
    val kids = all.filter(_.parent == span.id)
      .map(c => (math.max(c.startNs, span.startNs), math.min(c.endNs, span.endNs)))
      .filter { case (s, e) => e > s }
      .sortBy(_._1)
    var covered = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    for ((s, e) <- kids) {
      if (s > curE) {
        if (curE > curS) covered += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) covered += curE - curS
    span.durationNs - covered
  }

  /** Number of unordered pairs inside groups of the given sizes. */
  def pairsIn(groupSizes: Iterable[Long]): Long = groupSizes.map(m => m * (m - 1) / 2).sum

  /** Pair recall and precision of a clustering against gold clusters, the
    * definition the engine's own pipeline test uses. A pair is two docs in
    * one cluster.
    *  - recall: among docs that belong to a gold duplicate cluster, the share
    *    of gold pairs that also share a detected cluster;
    *  - precision: among all detected pairs, the share that also share a
    *    gold cluster.
    * Rows are (detected cluster, gold cluster, is gold duplicate member).
    * An empty denominator reads as 1.0 (nothing to find, nothing wrong).
    */
  final case class PairScore(goldPairs: Long, foundGoldPairs: Long,
      detectedPairs: Long, correctDetectedPairs: Long) {
    def recall: Double =
      if (goldPairs == 0) 1.0 else foundGoldPairs.toDouble / goldPairs
    def precision: Double =
      if (detectedPairs == 0) 1.0 else correctDetectedPairs.toDouble / detectedPairs
  }

  def pairScore(rows: Seq[(Long, Long, Boolean)]): PairScore = {
    val dup = rows.filter(_._3)
    def sizes[K](xs: Seq[(Long, Long, Boolean)])(k: ((Long, Long, Boolean)) => K) =
      xs.groupBy(k).values.map(_.size.toLong)
    PairScore(
      goldPairs = pairsIn(sizes(dup)(_._2)),
      foundGoldPairs = pairsIn(sizes(dup)(r => (r._1, r._2))),
      detectedPairs = pairsIn(sizes(rows)(_._1)),
      correctDetectedPairs = pairsIn(sizes(rows)(r => (r._1, r._2))))
  }
}

package perfbench

/** Pure summary helpers: percentiles, the tail rule, span self time and the
  * closed loop's failure accounting. No Spark in here, so the unit spec can
  * pin every rule without a session.
  */
object Stats {

  /** Nearest-rank percentile (p in (0, 100]) of an unsorted sample. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    require(p > 0 && p <= 100, s"percentile $p outside (0, 100]")
    val s = xs.sorted
    s(rank(s.length, p) - 1)
  }

  /** 1-based nearest rank of the p-th percentile among n samples (the
    * epsilon keeps 99.9 % of 10000 at rank 9990 despite rounding).
    */
  private def rank(n: Int, p: Double): Int =
    math.min(n, math.max(1, math.ceil(p * n / 100.0 - 1e-9).toInt))

  /** Median; the mean of the two middle values for an even count. */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of an empty sample")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Stratified median: the mean over strata of each stratum's median, for
    * `(stratum, value)` samples. Where one factor sets most of a sample's
    * value (a bag's length sets most of a query's cost), the pooled median
    * of a run jumps between the strata's clusters with a few samples more
    * or less in one of them; this does not.
    */
  def stratifiedMedian[K](xs: Seq[(K, Double)]): Double = {
    require(xs.nonEmpty, "median of an empty sample")
    mean(xs.groupBy(_._1).values.map(g => median(g.map(_._2))).toSeq)
  }

  def mean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sum / xs.length

  /** Number of samples strictly above the nearest-rank p-th percentile. */
  def beyond(n: Int, p: Double): Int = n - rank(n, p)

  private val Ladder = Seq(99.9, 99.0, 95.0, 90.0, 75.0, 50.0)

  /** Tail rule: the highest percentile of the ladder that still leaves at
    * least `minBeyond` samples above it; None when even p50 does not.
    */
  def tailPercentile(n: Int, minBeyond: Int = 10): Option[Double] =
    Ladder.find(p => beyond(n, p) >= minBeyond)

  /** "n=…, p25/p50/p75=… ms" plus the tail percentile the sample supports. */
  def summary(ms: Seq[Double]): String = {
    val tail = tailPercentile(ms.length).filter(_ > 50)
      .map(p => f", p$p%s=${percentile(ms, p)}%.1f ms").getOrElse("")
    f"n=${ms.length}, p25/p50/p75=${percentile(ms, 25)}%.1f/${median(ms)}%.1f/" +
      f"${percentile(ms, 75)}%.1f ms$tail"
  }

  /** Self time of a span: its duration minus the part of its interval
    * covered by the union of its children (children clipped to the span).
    */
  def selfNs(startNs: Long, endNs: Long, children: Seq[(Long, Long)]): Long = {
    val clipped = children
      .map { case (s, e) => (math.max(s, startNs), math.min(e, endNs)) }
      .filter { case (s, e) => e > s }
      .sortBy(_._1)
    var covered = 0L
    var curS = 0L
    var curE = Long.MinValue
    clipped.foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) covered += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (curE > curS) covered += curE - curS
    (endNs - startNs) - covered
  }

  /** One attempted operation of a closed loop, with the persistent-RDD
    * ids seen just before and just after it.
    */
  final case class Attempt(endNs: Long, latencyNs: Long, threw: Boolean,
                           confChanged: Boolean, rddsBefore: Set[Int],
                           rddsAfter: Set[Int])

  /** Indices of the attempts that count as failed: they threw, ran past
    * `timeoutNs`, changed the session conf, or leaked a persisted RDD.
    * `leftOver` holds the persisted RDD ids still present once the loop
    * is quiet that were not there before it started. With several
    * clients an op's after-snapshot can hold a sibling's in-flight cache,
    * so a left-over id is charged to exactly one op: the earliest-ending
    * one it appeared during.
    */
  def failedAttempts(attempts: IndexedSeq[Attempt], timeoutNs: Long,
                     leftOver: Set[Int]): Set[Int] = {
    val direct = attempts.indices.filter { i =>
      val a = attempts(i)
      a.threw || a.latencyNs > timeoutNs || a.confChanged
    }.toSet
    val byEnd = attempts.indices.sortBy(i => attempts(i).endNs)
    val leakers = leftOver.flatMap { id =>
      byEnd.find { i =>
        val a = attempts(i)
        a.rddsAfter.contains(id) && !a.rddsBefore.contains(id)
      }
    }
    direct ++ leakers
  }
}

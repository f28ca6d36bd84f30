package servbench

/** Percentiles and interval arithmetic shared by the workloads. */
object Stats {

  /** Nearest-rank percentile of an ascending sample (`p` in (0, 100]). */
  def percentile(sorted: IndexedSeq[Double], p: Double): Double = {
    require(sorted.nonEmpty, "empty sample")
    val rank = math.ceil(p / 100.0 * sorted.length).toInt
    sorted(math.min(sorted.length, math.max(1, rank)) - 1)
  }

  def median(xs: Iterable[Double]): Double = percentile(xs.toVector.sorted, 50)

  /** Samples strictly above the nearest-rank `p`-th percentile. */
  def beyond(n: Int, p: Int): Int = n - math.ceil(p / 100.0 * n).toInt

  /** The tail is read at p95 at most ... */
  val TailCap = 95
  /** ... and only at a percentile with at least this many samples above it. */
  val MinBeyond = 10

  /** The highest whole percentile up to `TailCap` that leaves at least
    * `MinBeyond` samples above it; `None` when even the median does
    * not (then the tail is reported as the sample maximum).
    */
  def tailPercentile(n: Int): Option[Int] =
    (TailCap to 50 by -1).find(p => beyond(n, p) >= MinBeyond)

  /** (value, percentile used) for the tail of a sample. */
  def tail(sample: Iterable[Double]): (Double, Int) = {
    val s = sample.toVector.sorted
    tailPercentile(s.length) match {
      case Some(p) => (percentile(s, p), p)
      case None => (s.last, 100)
    }
  }

  /** Total length of the union of half-open intervals. */
  def unionLength(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    intervals.filter(i => i._2 > i._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** A span's self time: its duration minus the part of it that its
    * children cover (children clipped to the span; overlap counted once).
    */
  def selfTime(span: (Long, Long), children: Seq[(Long, Long)]): Long = {
    val clipped = children.map { case (s, e) => (math.max(s, span._1), math.min(e, span._2)) }
    (span._2 - span._1) - unionLength(clipped)
  }
}

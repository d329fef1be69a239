package perfbench

/** The benchmark's own arithmetic: percentiles, interval unions and the
  * byte accounting behind the amplification ratios. Pure functions, so
  * StatsSpec can pin each rule.
  */
object Stats {

  def median(xs: collection.Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted.toArray
    if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  def medianOr0(xs: collection.Seq[Double]): Double = if (xs.isEmpty) 0.0 else median(xs)
  def tailOr0(xs: collection.Seq[Double]): Double = if (xs.isEmpty) 0.0 else tail(xs)._1

  /** The tail: the highest percentile that has at least 10 samples beyond
    * it, i.e. the 11th-largest sample, whose percentile is 100·(n−10)/n.
    * Below 20 samples even the median has fewer than 10 beyond it; the
    * tail is then the median (percentile 50), so a short run never
    * reports a single outlier as its tail. Returns (value, percentile).
    */
  def tail(xs: collection.Seq[Double]): (Double, Double) = {
    require(xs.nonEmpty, "tail of no samples")
    val n = xs.size
    if (n < 20) (median(xs), 50.0)
    else (xs.sorted.toArray.apply(n - 11), 100.0 * (n - 10) / n)
  }

  /** Total length covered by the union of half-open intervals. */
  def unionLength(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    intervals.filter(iv => iv._2 > iv._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Self time of a span [start, end): its duration minus the part of it
    * covered by child intervals (clipped to the span; overlapping
    * children count once).
    */
  def selfTime(start: Long, end: Long, children: Seq[(Long, Long)]): Long = {
    val clipped = children.map { case (s, e) => (math.max(s, start), math.min(e, end)) }
    (end - start) - unionLength(clipped)
  }

  /** Bytes a step added under a directory, from file-size listings taken
    * before and after it: every new file, plus every file whose size
    * changed (a rewritten pointer file such as `_last_checkpoint`).
    */
  def bytesAdded(before: Map[String, Long], after: Map[String, Long]): Long =
    after.iterator.collect {
      case (p, n) if !before.get(p).contains(n) => n
    }.sum

  /** Bytes on disk per byte of live data. */
  def spaceAmp(onDisk: Map[String, Long], live: Set[String]): Double = {
    val liveBytes = onDisk.iterator.collect { case (p, n) if live(p) => n }.sum
    require(liveBytes > 0, "no live bytes")
    onDisk.values.sum.toDouble / liveBytes
  }

  /** Recursive file-size listing under `root`, keyed by path relative to it. */
  def listSizes(root: java.nio.file.Path): Map[String, Long] = {
    if (!java.nio.file.Files.exists(root)) return Map.empty
    val st = java.nio.file.Files.walk(root)
    try {
      import scala.jdk.CollectionConverters._
      st.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
        .map(p => root.relativize(p).toString -> java.nio.file.Files.size(p))
        .toMap
    } finally st.close()
  }
}

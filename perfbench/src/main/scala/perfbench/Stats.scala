package perfbench

/** The benchmark's own arithmetic, kept free of Spark so the tests in
  * `StatsSpec` pin it down. */
object Stats {

  /** A percentile and the number of samples it was taken from. */
  final case class Pct(value: Double, samples: Int)

  /** Linear-interpolation percentile (the "exclusive of nothing" rule
    * numpy calls `linear` and Python's `statistics.quantiles` calls
    * `inclusive`): rank `p/100 * (n-1)` into the sorted samples,
    * interpolating between neighbours. Empty input reads 0 with 0
    * samples, so a caller can see that nothing was measured. */
  def percentile(xs: Seq[Double], p: Double): Pct = {
    require(p >= 0 && p <= 100, s"percentile $p outside [0, 100]")
    if (xs.isEmpty) Pct(0.0, 0)
    else {
      val s = xs.sorted
      val rank = p / 100.0 * (s.size - 1)
      val lo = math.floor(rank).toInt
      val hi = math.min(lo + 1, s.size - 1)
      Pct(s(lo) + (s(hi) - s(lo)) * (rank - lo), s.size)
    }
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50).value

  /** Records per second at which `stamps` (record position, nanos)
    * advance: the inverse of the least-squares slope of time over
    * position. Upserts arrive a micro-batch at a time, so one batch more
    * or less at either end of a short window moves a plain
    * count-over-wall a few percent; the slope uses every record and
    * shows only a sustained rate, e.g. a backlog that grows. */
  def sustainedRate(stamps: Seq[(Long, Long)]): Double = {
    require(stamps.size >= 2, "a rate needs two records")
    val n = stamps.size.toDouble
    val mi = stamps.map(_._1.toDouble).sum / n
    val mt = stamps.map(_._2.toDouble).sum / n
    var sit = 0.0
    var sii = 0.0
    stamps.foreach { case (i, t) =>
      sit += (i - mi) * (t - mt); sii += (i - mi) * (i - mi)
    }
    1e9 * sii / sit
  }
}

/** Open-loop pacing: record `i` of a stream offered at `ratePerSec` is
  * due at `t0 + i / rate`, whatever happened to the records before it,
  * so a slow system sees its backlog grow instead of the generator
  * slowing down. */
final case class Pacing(t0Nanos: Long, ratePerSec: Double) {
  require(ratePerSec > 0, "rate must be positive")

  def dueNanos(i: Long): Long = t0Nanos + math.round(i * 1e9 / ratePerSec)

  /** Number of records due at or before `nowNanos` (records
    * `0 until dueBy(now)`), capped at `total`. */
  def dueBy(nowNanos: Long, total: Long): Long =
    if (nowNanos < t0Nanos) 0L
    else {
      // floor(elapsed * rate) + 1 is right up to the rounding in
      // dueNanos, which can move a boundary by a nanosecond either way.
      var k = math.floor((nowNanos - t0Nanos) / 1e9 * ratePerSec).toLong + 1
      while (k > 0 && dueNanos(k - 1) > nowNanos) k -= 1
      while (dueNanos(k) <= nowNanos) k += 1
      math.min(k, total)
    }

  /** How late a record sent at `sentNanos` is, in ms; early is 0. */
  def lateMs(i: Long, sentNanos: Long): Double =
    math.max(0L, sentNanos - dueNanos(i)) / 1e6
}

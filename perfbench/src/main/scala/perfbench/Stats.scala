package perfbench

import scala.collection.mutable.ArrayBuffer

/** One timed sample and the share of the machine's CPU time the
  * hypervisor stole while it ran.
  */
final case class Sample(seconds: Double, steal: Double) {
  def clean: Boolean = steal <= Stats.MaxStealShare
}

/** Order statistics used by every workload. */
object Stats {

  /** Largest steal share of a clean sample. Quiet stretches of the
    * reference machine steal 0–2 % of its CPU time, its slow episodes
    * 10–25 %.
    */
  val MaxStealShare = 0.1

  /** Share of the machine's CPU time stolen over `wallS` seconds:
    * `stolenTicks` out of `wallS * ticksPerS * cpus` clock ticks.
    */
  def stealShare(stolenTicks: Long, wallS: Double, cpus: Int, ticksPerS: Int = 100): Double =
    if (wallS <= 0) 0.0 else stolenTicks / (wallS * ticksPerS * cpus)

  /** Repeats `one` until it has given `need` clean samples and `window`
    * seconds have passed. Disturbed samples are made up for with at most
    * `need` more tries, begun before `retryUntil` (a `System.nanoTime`
    * instant); `max` caps the tries in all. `one` gives None when its
    * operation failed.
    */
  def repeat(need: Int, window: Double, max: Int, retryUntil: Long)(
      one: => Option[Sample]): Seq[Sample] = {
    val out = ArrayBuffer.empty[Sample]
    var tries = 0
    val t0 = System.nanoTime()
    def retry = tries < 2 * need && System.nanoTime() < retryUntil
    def more = tries < max && ((System.nanoTime() - t0) / 1e9 < window ||
      (out.count(_.clean) < need && (tries < need || retry)))
    while (more) {
      tries += 1
      one.foreach(out += _)
    }
    out.toSeq
  }

  /** Times of the clean samples when there are at least `need` of them,
    * else of the `need` samples with the least steal.
    */
  def clean(samples: Seq[Sample], need: Int): Seq[Double] = {
    val ok = samples.filter(_.clean)
    (if (ok.length >= need) ok else samples.sortBy(_.steal).take(need)).map(_.seconds)
  }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Nearest-rank percentile: the smallest sample with at least `pct`
    * percent of the samples at or below it. Integer percent keeps the rank
    * exact (no 0.95 * n rounding).
    */
  def percentile(xs: Seq[Double], pct: Int): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    require(pct > 0 && pct <= 100, s"percent out of range: $pct")
    xs.sorted.apply(rank(xs.length, pct) - 1)
  }

  /** 1-based nearest rank of the `pct` percentile among `n` samples. */
  def rank(n: Int, pct: Int): Int = (pct * n + 99) / 100

  /** Samples strictly beyond the `pct` percentile's rank. */
  def beyond(n: Int, pct: Int): Int = n - rank(n, pct)
}

package perfbench

/** Sample statistics the benchmark reports. Pure, so the rules are
  * unit-tested on their own (`StatsSpec`). */
object Stats {

  /** Nearest-rank percentile: the smallest sample with at least a `q`
    * share of the samples at or below it. */
  def percentile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    require(q > 0 && q <= 1, s"quantile $q outside (0, 1]")
    val sorted = xs.sorted
    sorted(rank(sorted.size, q) - 1)
  }

  /** 1-based nearest rank of quantile `q` among `n` samples. The epsilon
    * keeps products such as 0.55 * 100 = 55.00000000000001 on rank 55. */
  def rank(n: Int, q: Double): Int =
    math.max(1, math.ceil(q * n - 1e-9).toInt)

  /** Samples strictly above the nearest-rank `q` percentile position. */
  def beyond(n: Int, q: Double): Int = n - rank(n, q)

  /** A tail percentile is reported from enough samples when at least
    * `minBeyond` samples lie beyond it. */
  def tailOk(n: Int, q: Double, minBeyond: Int = 10): Boolean =
    beyond(n, q) >= minBeyond

  /** Fewest samples for which [[tailOk]] holds. */
  def minSamples(q: Double, minBeyond: Int = 10): Int =
    Iterator.from(1).find(tailOk(_, q, minBeyond)).get

  def mean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sum / xs.size

  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)
}

/** Thread-safe attempted/failed accounting. An operation fails when it is
  * refused (non-200), errors, or returns a wrong result. */
final class Tally {
  private val attempts = new java.util.concurrent.atomic.AtomicLong()
  private val failures = new java.util.concurrent.atomic.AtomicLong()
  private val reasons = new java.util.concurrent.ConcurrentLinkedQueue[String]()

  def ok(): Unit = attempts.incrementAndGet()

  def fail(reason: String): Unit = {
    attempts.incrementAndGet()
    failures.incrementAndGet()
    if (reasons.size < 20) reasons.add(reason)
  }

  def record(outcome: Either[String, Unit]): Unit =
    outcome.fold(fail, _ => ok())

  def attempted: Long = attempts.get()
  def failed: Long = failures.get()
  def failFrac: Double = if (attempted == 0) 0.0 else failed.toDouble / attempted
  def firstReasons: Seq[String] = reasons.toArray(Array.empty[String]).toSeq
}

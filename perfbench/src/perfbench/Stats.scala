package perfbench

/** Summary statistics the benchmark reports. */
object Stats {

  /** Nearest-rank percentile of `xs` (0 < p <= 100). */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    s(rank(s.size, p) - 1)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** 1-based nearest rank of percentile `p` among `n` samples. */
  private def rank(n: Int, p: Double): Int =
    math.max(1, math.ceil(p / 100.0 * n - 1e-9).toInt)

  /** Percentiles tried for the tail, highest first. */
  private val TailLadder: Seq[Double] =
    Seq(99.9, 99.5) ++ (99 to 50 by -1).map(_.toDouble)

  /** The tail a sample of `n` supports: the highest percentile on the
    * ladder with at least `beyond` samples ranked above it, or None when
    * even the median has fewer.
    */
  def tailPercentile(n: Int, beyond: Int = 10): Option[Double] =
    TailLadder.find(p => n - rank(n, p) >= beyond)

  /** (percentile, value) of the supported tail; the maximum when the
    * sample is too small for any ladder percentile.
    */
  def tail(xs: Seq[Double], beyond: Int = 10): (Double, Double) =
    tailPercentile(xs.size, beyond) match {
      case Some(p) => (p, percentile(xs, p))
      case None => (100.0, xs.max)
    }
}

/** Attempted/failed accounting: an operation fails when it throws, gets
  * a non-200 answer, or returns a wrong answer. Thread-safe.
  */
final class Tally {
  private var attempted = 0L
  private var failed = 0L
  private val reasons = scala.collection.mutable.LinkedHashMap.empty[String, Int]

  def ok(): Unit = synchronized { attempted += 1 }

  def fail(reason: String): Unit = synchronized {
    attempted += 1; failed += 1
    val key = reason.take(160)
    reasons(key) = reasons.getOrElse(key, 0) + 1
  }

  /** Records the outcome of one checked operation. */
  def record(problem: Option[String]): Unit = problem match {
    case None => ok()
    case Some(r) => fail(r)
  }

  def counts: (Long, Long) = synchronized { (attempted, failed) }

  def errorRate: Double = synchronized {
    if (attempted == 0) 0.0 else failed.toDouble / attempted
  }

  def failureReasons: Seq[(String, Int)] = synchronized { reasons.toSeq }
}

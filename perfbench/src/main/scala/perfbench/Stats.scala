package perfbench

/** Summary statistics and output checkers. Pure functions, so the
  * benchmark's own tests can pin them without a Spark session. */
object Stats {

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** Nearest-rank percentile: the smallest sample with at least `p`% of
    * the samples at or below it. */
  def percentile(xs: Seq[Double], p: Int): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    s(math.max(0, math.ceil(p / 100.0 * s.size).toInt - 1))
  }

  /** The `_tail` rule: the highest whole percentile (50 to 99) that still
    * has at least 10 samples beyond it, so a tail is never one or two
    * stragglers. Fewer than 20 samples have no such percentile; the
    * median stands in and the caller publishes the percentile it got. */
  def tailPercentile(n: Int): Int =
    (99 to 50 by -1).find(p => n - math.ceil(p / 100.0 * n).toInt >= 10)
      .getOrElse(50)

  final case class Tail(value: Double, percentile: Int, samples: Int)

  def tail(xs: Seq[Double]): Tail = {
    val p = tailPercentile(xs.size)
    Tail(percentile(xs, p), p, xs.size)
  }

  /** Share `c` of `n` consecutive shares of `xs` whose sizes differ by
    * at most one; shares 0 to n-1 together are `xs`, in order. */
  def share[A](xs: Seq[A], c: Int, n: Int): Seq[A] =
    xs.slice(c * xs.size / n, (c + 1) * xs.size / n)

  def geomean(xs: Seq[Double]): Double =
    math.exp(xs.map(math.log).sum / xs.size)

  /** Mean of the last tenth of `xs` over the mean of its first tenth
    * (at least one sample each): how much a per-round cost grew with
    * the age of the stream. */
  def ageRatio(xs: Seq[Double]): Double = {
    val k = math.max(1, xs.size / 10)
    (xs.takeRight(k).sum / k) / (xs.take(k).sum / k)
  }

  // ------------------------------------------------------------- checkers

  /** A REF:160-166 lookup result is right when it holds exactly the
    * expected (event time, email) rows, newest first. Rows with equal
    * event times may come in any order. */
  def lookupOk(expected: Seq[Gen.Click], got: Seq[Gen.Click]): Boolean =
    got.map(_.epochSec).sliding(2).forall {
      case Seq(a, b) => a >= b
      case _ => true
    } && got.sortBy(c => (c.epochSec, c.email)) ==
      expected.sortBy(c => (c.epochSec, c.email))

  /** A `levelTotals` read is right when it equals the running counts. */
  def totalsOk(expected: Map[String, Long], got: Map[String, Long]): Boolean =
    got == expected

  /** The curation stream is right when the degenerate rejects and the
    * exact-duplicate drops equal what the generator planted. */
  def curationOk(truth: Gen.CurationTruth, kept: Long, degenerateRejects: Long,
      allRejects: Long): Boolean =
    degenerateRejects == truth.degenerate &&
      truth.docs - kept - allRejects == truth.exactDups
}

package perfbench

/** Percentiles and due-time latency, kept free of Spark so the
  * self-tests can pin them exactly. */
object Stats {

  /** Nearest-rank quantile of an ascending array (`p` in (0, 1]). */
  def quantile(sorted: Array[Double], p: Double): Double = {
    require(sorted.nonEmpty, "quantile of an empty sample")
    val rank = math.ceil(p * sorted.length).toInt
    sorted(math.min(sorted.length, math.max(1, rank)) - 1)
  }

  def median(xs: Seq[Double]): Double = quantile(xs.toArray.sorted, 0.5)

  /** The middle value, or the mean of the two middle values of an even
    * count: for the few-sample figures, where nearest rank would pick
    * the lower one. */
  def mid(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of an empty sample")
    val s = xs.sorted; val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The percentiles a report may use, highest first. */
  val Ladder: Seq[Double] = Seq(0.999, 0.99, 0.9, 0.5)

  /** The percentile a workload reports as its tail: the highest ladder
    * rung up to `wanted` with at least ten samples beyond it, or the
    * maximum (1.0) when even the median lacks them (under 20 samples). */
  def tailPercentile(n: Int, wanted: Double): Double =
    Ladder.filter(_ <= wanted).find(p => n - math.ceil(p * n).toInt >= 10).getOrElse(1.0)

  /** One micro-batch commit: every sequence number `<= maxSeq` not in
    * an earlier batch became readable at `commitMs`. */
  final case class Commit(maxSeq: Long, commitMs: Double)

  /** Per-row latency from due time to the commit that made the row
    * readable. `due(i)` is row i's due time (rows are sequence numbers
    * 0, 1, ...); `commits` must be ascending in both fields. A stalled
    * commit therefore charges its wait to every row queued behind it.
    * Rows past the last commit are uncommitted and get NaN. */
  def dueLatencies(due: Array[Double], commits: Seq[Commit]): Array[Double] = {
    val out = Array.fill(due.length)(Double.NaN)
    var i = 0
    commits.foreach { c =>
      while (i < due.length && i <= c.maxSeq) {
        out(i) = c.commitMs - due(i)
        i += 1
      }
    }
    out
  }
}

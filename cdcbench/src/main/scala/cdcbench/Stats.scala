package cdcbench

/** Order statistics for the report. Percentiles use linear interpolation
  * between closest ranks (the same definition as numpy's default).
  */
object Stats {

  /** Samples that must lie strictly above a reported tail percentile. */
  val MinAbove = 10

  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted.toIndexedSeq
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** The `q` percentile, or a refusal when fewer than [[MinAbove]]
    * samples lie above it: a tail read from a handful of samples is
    * one or two unlucky operations, not a percentile.
    */
  def tail(xs: Seq[Double], q: Double): Either[String, Double] = {
    val v = if (xs.isEmpty) Double.NaN else quantile(xs, q)
    val above = xs.count(_ > v)
    if (xs.isEmpty || above < MinAbove)
      Left(f"p${q * 100}%.0f refused: $above of ${xs.size} samples above it, need $MinAbove")
    else Right(v)
  }

  /** Total length covered by a set of [start, end) intervals. */
  def unionLength(intervals: Seq[(Long, Long)]): Long = {
    var covered = 0L
    var curStart = Long.MinValue
    var curEnd = Long.MinValue
    intervals.filter(i => i._2 > i._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curEnd) {
        if (curEnd > curStart) covered += curEnd - curStart
        curStart = s; curEnd = e
      } else if (e > curEnd) curEnd = e
    }
    if (curEnd > curStart) covered += curEnd - curStart
    covered
  }

  /** Split `xs` into `parts` consecutive slices of near-equal size. */
  def slices[A](xs: Seq[A], parts: Int): Seq[Seq[A]] =
    (0 until parts).map { i =>
      xs.slice(i * xs.size / parts, (i + 1) * xs.size / parts)
    }
}

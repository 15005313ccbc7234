package perfbench

/** Order statistics as the benchmark reports them: every figure carries
  * the number of samples behind it, and a tail percentile is only
  * reported when at least [[Stats.MinBeyond]] samples lie beyond it —
  * a p90 over 30 samples is the third-largest value, which is noise,
  * not a tail. */
object Stats {
  val MinBeyond = 10

  final case class Figure(value: Double, samples: Int)

  /** Median (mean of the middle two for an even count). */
  def median(xs: Seq[Double]): Option[Figure] =
    if (xs.isEmpty) None
    else {
      val s = xs.sorted
      val n = s.size
      val v = if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
      Some(Figure(v, n))
    }

  /** Nearest-rank percentile `p` in (0.5, 1): the ceil(p·n)-th smallest
    * sample, reported only when n·(1−p) ≥ MinBeyond. */
  def tail(xs: Seq[Double], p: Double): Option[Figure] = {
    require(p > 0.5 && p < 1.0, s"tail percentile must lie in (0.5, 1): $p")
    val n = xs.size
    if (n * (1 - p) < MinBeyond - 1e-9) None
    else {
      val s = xs.sorted
      val rank = math.ceil(p * n).toInt
      Some(Figure(s(rank - 1), n))
    }
  }
}

package perfbench

/** One reported number: `samples` is how many measurements stand
  * behind it (1 for a single measurement or a count). */
final case class Metric(name: String, value: Double, unit: String, samples: Int = 1)

/** What a workload run hands back to [[Main]]. `endToEnd` and `layers`
  * are reported in untraced and traced runs respectively; `detail`
  * carries workload-specific figures printed alongside. */
final case class Outcome(
    attempted: Long,
    failed: Long,
    correct: Boolean,
    endToEnd: Seq[Metric],
    layers: Seq[Metric],
    detail: Seq[Metric],
    firstTimedOpMs: Long)

/** A correctness comparison: the first differences found, if any. */
final case class Check(name: String, problems: Seq[String]) {
  def ok: Boolean = problems.isEmpty
}

object Check {
  /** Compare two collections as multisets, naming a few differences. */
  def sameMultiset[A](name: String, got: Seq[A], want: Seq[A]): Check = {
    def counts(xs: Seq[A]) = xs.groupBy(identity).map { case (k, v) => k -> v.size }
    val g = counts(got)
    val w = counts(want)
    val missing = w.collect { case (k, n) if g.getOrElse(k, 0) < n => s"missing $k" }
    val extra = g.collect { case (k, n) if w.getOrElse(k, 0) < n => s"unexpected $k" }
    val sizeNote = if (got.size != want.size) Seq(s"${got.size} rows, want ${want.size}") else Nil
    Check(name, (sizeNote ++ missing ++ extra).take(5).toSeq)
  }
}

package perfbench

/** The reference's sync → upsert → query loop in one run: the write
  * phases of [[SyncIngest]] (backlog, then live micro-batches), then the
  * read phase of [[ApiServe]] against the catalog they built.
  *
  * One process serves both sides so that Spark's start-up is paid
  * once, and so that a write-side change which fragments storage shows
  * up in the same run as read latency.
  *
  * End-to-end figures: `first_op_ms` is the backlog catch-up (the first
  * run of the stream, after an untimed warm-up), `op_p50_ms` the median
  * live micro-batch that runs no maintenance (`triggerExecution`),
  * `throughput_per_s` the backlog's events per second (so a function of
  * `first_op_ms`). The read phase's latency and capacity are reported
  * beside them: under a shared host's load they spread too widely
  * across runs to bound a regression.
  * Operations are micro-batches plus requests; a wrong final catalog
  * fails every micro-batch, a wrong answer fails its request.
  */
object SyncServe {
  def run(c: Ctx): Outcome = {
    val w = SyncIngest.run(c)
    val r = ApiServe.run(c, w.sink.catalog, w.model)
    c.timedEnd()
    val e2e = Seq(
      Some(Metric("first_op_ms", w.backlogMs, "ms")),
      w.liveP50.map(f => Metric("op_p50_ms", f.value, "ms", f.samples)),
      Some(Metric("throughput_per_s", w.backlogEventsPerS, "1/s"))).flatten
    val layers = if (!c.trace) Nil else {
      val timed = c.probe.jobList.filter(j => j.startMs >= w.firstOpMs && j.startMs <= c.timedEndMs)
      w.layers() ++ r.layers() ++ Spark.totals(c, timed)
    }
    val failed = (if (w.ok) 0 else w.batches) + r.samples.count(!_.ok)
    Outcome(w.batches + r.samples.size, failed, w.ok && r.ok, e2e, layers,
      w.detail ++ r.detail, w.firstOpMs)
  }
}

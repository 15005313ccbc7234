package perfbench

import java.util.concurrent.{Executors, TimeUnit}
import java.util.concurrent.locks.LockSupport

/** Open-loop load at one fixed rate: request i is due at
  * `start + i / rate` whether or not earlier requests have finished, so
  * a slow server shows up as latency instead of as a lower send rate
  * (no coordinated omission). Latency runs from the due time to the
  * moment the result is collected; the time a request waits for a free
  * client thread is reported separately as queue wait, and the
  * generator's own lateness (how far after its due time it handed a
  * request to the pool) bounds how much of that wait is the generator's
  * fault rather than the server's. */
object OpenLoop {

  final case class Sample(index: Int, dueNs: Long, handedNs: Long,
      startNs: Long, endNs: Long, ok: Boolean) {
    def latencyMs: Double = (endNs - dueNs) / 1e6
    def queueWaitMs: Double = (startNs - dueNs) / 1e6
    def serviceMs: Double = (endNs - startNs) / 1e6
    def generatorLateMs: Double = (handedNs - dueNs) / 1e6
  }

  /** Due time of request `i` for a loop started at `startNs`. */
  def dueNs(startNs: Long, i: Int, ratePerS: Double): Long =
    startNs + math.round(i * 1e9 / ratePerS)

  /** Issue `count` requests at `ratePerS` on `threads` client threads.
    * `request(i)` does the work and returns whether its answer was
    * right; an exception counts as a failed request. */
  def run(count: Int, ratePerS: Double, threads: Int)(request: Int => Boolean): IndexedSeq[Sample] = {
    val pool = Executors.newFixedThreadPool(threads)
    val out = new Array[Sample](count)
    try {
      val start = System.nanoTime() + 5000000L
      for (i <- 0 until count) {
        val due = dueNs(start, i, ratePerS)
        var now = System.nanoTime()
        while (now < due) { LockSupport.parkNanos(due - now); now = System.nanoTime() }
        val handed = System.nanoTime()
        pool.execute { () =>
          val t0 = System.nanoTime()
          val ok = try request(i) catch { case _: Throwable => false }
          out(i) = Sample(i, due, handed, t0, System.nanoTime(), ok)
        }
      }
    } finally {
      pool.shutdown()
      pool.awaitTermination(10, TimeUnit.MINUTES)
    }
    out.toIndexedSeq
  }
}

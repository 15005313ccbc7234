package perfbench

import org.scalatest.funsuite.AnyFunSuite

class OpenLoopSpec extends AnyFunSuite {

  test("due times follow the fixed rate from the start, not from completions") {
    assert(OpenLoop.dueNs(1000L, 0, 10.0) == 1000L)
    assert(OpenLoop.dueNs(1000L, 3, 10.0) == 1000L + 300000000L)
    assert(OpenLoop.dueNs(0L, 7, 4.0) == 1750000000L)
  }

  test("latency and queue wait are measured from the due time") {
    val s = OpenLoop.Sample(0, dueNs = 1000000L, handedNs = 1500000L,
      startNs = 4000000L, endNs = 9000000L, ok = true)
    assert(s.latencyMs == 8.0)
    assert(s.queueWaitMs == 3.0)
    assert(s.serviceMs == 5.0)
    assert(s.generatorLateMs == 0.5)
  }

  test("a server slower than the rate shows as growing latency, not a lower rate") {
    // one client thread, 40 ms of work per request, one request every 10 ms:
    // request i waits behind i earlier ones, so its latency from the due
    // time grows by about 30 ms per request
    val samples = OpenLoop.run(count = 8, ratePerS = 100.0, threads = 1) { _ =>
      Thread.sleep(40); true
    }
    assert(samples.size == 8 && samples.forall(_.ok))
    val lat = samples.map(_.latencyMs)
    assert(lat.head >= 40.0)
    assert(lat.last >= 40.0 + 7 * 30.0 - 5.0, lat)
    assert(samples.last.queueWaitMs >= 7 * 30.0 - 5.0)
    // every request was handed over on schedule: the backlog is the
    // server's, not the generator's
    assert(samples.map(_.generatorLateMs).max < 25.0, samples.map(_.generatorLateMs))
    val dues = samples.map(_.dueNs)
    assert(dues.zip(dues.tail).forall { case (a, b) => b - a == 10000000L })
  }

  test("a fast server sees latency close to its service time") {
    val samples = OpenLoop.run(count = 10, ratePerS = 50.0, threads = 2) { _ =>
      Thread.sleep(5); true
    }
    assert(samples.forall(s => s.latencyMs >= 5.0 && s.latencyMs < 60.0), samples.map(_.latencyMs))
  }

  test("a request that throws or answers wrong counts as failed") {
    val samples = OpenLoop.run(count = 4, ratePerS = 200.0, threads = 2) { i =>
      if (i == 1) throw new RuntimeException("boom") else i != 2
    }
    assert(samples.map(_.ok) == Seq(true, false, false, true))
  }
}

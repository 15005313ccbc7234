package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("a median carries its sample count") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)).contains(Stats.Figure(2.0, 3)))
    assert(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)).contains(Stats.Figure(2.5, 4)))
    assert(Stats.median(Nil).isEmpty)
  }

  test("a tail percentile needs at least ten samples beyond it") {
    val xs = (1 to 100).map(_.toDouble)
    assert(Stats.tail(xs, 0.9).contains(Stats.Figure(90.0, 100)))
    assert(Stats.tail(xs.take(99), 0.9).isEmpty)
    assert(Stats.tail(xs.take(50), 0.8).contains(Stats.Figure(40.0, 50)))
    assert(Stats.tail(xs.take(49), 0.8).isEmpty)
    assert(Stats.tail(xs.take(40), 0.75).contains(Stats.Figure(30.0, 40)))
    assert(Stats.tail(xs.take(39), 0.75).isEmpty)
  }

  test("the tail is the nearest-rank value whatever the input order") {
    val xs = scala.util.Random.shuffle((1 to 200).map(_.toDouble))
    assert(Stats.tail(xs, 0.9).map(_.value).contains(180.0))
    assert(Stats.tail(xs, 0.95).map(_.value).contains(190.0))
  }

  test("only tail percentiles go through the tail rule") {
    assertThrows[IllegalArgumentException](Stats.tail(Seq(1.0), 0.5))
    assertThrows[IllegalArgumentException](Stats.tail(Seq(1.0), 1.0))
  }
}

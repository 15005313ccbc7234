package graft

import graft.functions.FastRound
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins [[FastRound.roundHalfUp]] bit-for-bit against Spark's round
  * formula (BigDecimal.valueOf → setScale(HALF_UP) → doubleValue, with
  * RoundBase's NaN/Infinity passthrough), and the round_hu expression
  * end-to-end (codegen and interpreted) against Spark's round(). */
class FastRoundSpec extends AnyFunSuite {

  private def sparkFormula(d: Double, s: Int): Double =
    if (java.lang.Double.isNaN(d) || java.lang.Double.isInfinite(d)) d
    else java.math.BigDecimal.valueOf(d)
      .setScale(s, java.math.RoundingMode.HALF_UP).doubleValue()

  private def check(d: Double, s: Int): Unit = {
    val exp = sparkFormula(d, s)
    val got = FastRound.roundHalfUp(d, s)
    assert(java.lang.Double.doubleToRawLongBits(exp)
        == java.lang.Double.doubleToRawLongBits(got),
      s"scale $s: round($d) expected $exp got $got")
  }

  test("fuzz: uniform, boundary-adjacent, exact decimals, extremes — every scale 0..8") {
    val rnd = new scala.util.Random(42)
    val scales = 0 to 8
    // uniform magnitudes across the fast-path and fallback regions
    for (_ <- 1 to 400000; s <- Seq(4, 6)) {
      val mag = math.pow(10, rnd.nextInt(14) - 7)
      check((rnd.nextDouble() - 0.5) * mag, s)
    }
    for (_ <- 1 to 50000; s <- scales) check((rnd.nextDouble() - 0.5) * 10, s)
    // boundary-adjacent: k/10^s ± tiny, (k + 0.5)/10^s ± tiny
    for (_ <- 1 to 50000; s <- Seq(4, 6)) {
      val k = rnd.nextInt(2000000) - 1000000
      val base = (k + (if (rnd.nextBoolean()) 0.5 else 0.0)) / math.pow(10, s)
      val nudge = rnd.nextInt(5) - 2
      check(math.nextUp(base) * 1.0 + nudge * math.ulp(base), s)
      check(base, s)
      check(math.nextAfter(base, Double.NegativeInfinity), s)
    }
    // exact-decimal values (frac lands near 0) and signed zero
    for (k <- -10000 to 10000; s <- Seq(4)) check(k / 1e4, s)
    check(0.0, 4); check(-0.0, 4); check(-1e-9, 4); check(1e-9, 4)
    // huge, subnormal, special
    for (s <- scales) {
      check(1.7976931348623157e308, s); check(-1.7976931348623157e308, s)
      check(java.lang.Double.MIN_VALUE, s); check(-java.lang.Double.MIN_VALUE, s)
      check(1e15, s); check(-1e15, s); check(123456789.987654321, s)
      assert(FastRound.roundHalfUp(Double.NaN, s).isNaN)
      check(Double.PositiveInfinity, s); check(Double.NegativeInfinity, s)
    }
  }

  test("round_hu expression matches Spark round() end-to-end (codegen and interpreted)") {
    val spark = Sessions.local(cores = 2, appName = "fastround-spec")
    try {
      import spark.implicits._
      val rnd = new scala.util.Random(7)
      val vals = Seq.fill(20000)((rnd.nextDouble() - 0.5) *
        math.pow(10, rnd.nextInt(10) - 5)) ++
        Seq(0.0, -0.0, 1.00005, -1.00005, 0.44995, Double.NaN,
          Double.PositiveInfinity, Double.NegativeInfinity)
      val df = vals.toDF("x")
      for (codegen <- Seq("CODEGEN_ONLY", "NO_CODEGEN")) {
        spark.conf.set("spark.sql.codegen.factoryMode", codegen)
        val rows = df.select(round($"x", 4).as("a"), expr("round_hu(x, 4)").as("b"),
          round($"x", 6).as("a6"), expr("round_hu(x, 6)").as("b6")).collect()
        rows.foreach { r =>
          def bits(d: Double) = java.lang.Double.doubleToLongBits(d)
          assert(bits(r.getDouble(0)) == bits(r.getDouble(1)), s"$codegen scale4: $r")
          assert(bits(r.getDouble(2)) == bits(r.getDouble(3)), s"$codegen scale6: $r")
        }
      }
      spark.conf.unset("spark.sql.codegen.factoryMode")
    } finally spark.stop()
  }
}

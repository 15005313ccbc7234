package graft

import org.scalatest.funsuite.AnyFunSuite

/** Fences Bench.renderLine's truncation-survival contract: the
  * driver's stdout capture keeps only the TAIL of the bench line, so
  * the queries map must be emitted cheap-first/heavy-last (heavy
  * entries survive truncation), errored entries must sort first AND be
  * named in the `errors` map at the very end of the line, and the
  * whole line must stay one line of valid JSON with exact values.
  * No SparkSession needed. */
class BenchRenderSpec extends AnyFunSuite {

  private val results = Seq(
    ("a_heavy", 2.5, None: Option[String]),
    ("b_cheap", 0.25, None: Option[String]),
    ("c_dead", -1.0, Some("boom \"quoted\"\t\r\npath\\x")),
    ("d_mid", 1.0, None: Option[String]))

  private val line = Bench.renderLine(results, Seq("d_mid" -> 2), 0.25, "/sf")

  test("queries are ordered cheap-first/heavy-last; errors sort first") {
    val idx = Seq("c_dead", "b_cheap", "d_mid", "a_heavy")
      .map(n => line.indexOf("\"" + n + "\":"))
    assert(idx.forall(_ >= 0), s"every query must appear: $line")
    assert(idx == idx.sorted,
      s"emission order must be by ascending seconds (errors first): $line")
    // the heavy entry must be the LAST key in the queries map — that is
    // the truncation-survival guarantee
    assert(line.contains("\"a_heavy\":2.5}"),
      s"heaviest query must close the queries map: $line")
  }

  test("single line of JSON: exact total, escaped errors after queries, flaky, calib") {
    // 2.5 + 0.25 + 1.0 is exact in binary floating point — the errored
    // query's -1 must NOT enter the total
    assert(line.startsWith("{\"metric\":\"total\",\"value\":3.75,"),
      s"total sums only successful reps: $line")
    assert(line.contains("\"calib_sec\":0.25"), line)
    assert(line.endsWith("\"sf\":\"/sf\"}"), line)
    // the error message had a quote, a backslash, a TAB, a CR and a
    // NEWLINE — all must be escaped so the output stays ONE line
    assert(!line.exists(_ < ' '), s"control chars must be escaped: $line")
    assert(line.contains("\\u0009\\u000d\\u000a"), s"control-char escapes: $line")
    assert(line.contains("\"errors\":{\"c_dead\":\"boom \\\"quoted\\\""),
      s"quote-escaped error text: $line")
    assert(line.contains("path\\\\x\"}"), s"backslash-escaped error text: $line")
    // errors map comes AFTER the queries map so it survives tail
    // truncation even when the queries map is clipped
    assert(line.indexOf("\"errors\":{") > line.indexOf("\"a_heavy\":2.5}"),
      s"errors after queries: $line")
    assert(line.contains("\"flaky\":{\"d_mid\":2}"), line)
  }

  test("session facts land between calib_sec and sf (additions only; sf still closes the line)") {
    val l2 = Bench.renderLine(results, Nil, 0.25, "/sf",
      Seq("master" -> "\"local[32]\"", "default_parallelism" -> "32",
        "scan_splits_largest" -> "1"))
    assert(l2.contains("\"calib_sec\":0.25,\"master\":\"local[32]\"," +
      "\"default_parallelism\":32,\"scan_splits_largest\":1,\"sf\":\"/sf\"}"), l2)
    assert(l2.endsWith("\"sf\":\"/sf\"}"), l2)
    // default arg: the old five-arg shape is byte-identical
    assert(Bench.renderLine(results, Nil, 0.25, "/sf") ==
      Bench.renderLine(results, Nil, 0.25, "/sf", Nil))
  }

  test("session facts escape a master string holding a quote and a backslash") {
    val l = Bench.renderLine(results, Nil, 0.25, "/sf",
      Bench.sessionFacts("local[\"4\"]\\x", 4, 1))
    assert(l.contains("\"calib_sec\":0.25,\"master\":\"local[\\\"4\\\"]\\\\x\"," +
      "\"default_parallelism\":4,\"scan_splits_largest\":1,\"sf\":\"/sf\"}"), l)
  }

  test("renderBandLine: per-group minima envelope, uniform run-calib rescale, one-line JSON") {
    // two groups of two passes; run calib = min over ALL passes = 0.25.
    // Anchor 0.50 → ONE uniform factor 0.50/0.25 = 2 for everything
    // (per-pass calibs are recorded but must NOT rescale individual
    // passes — the calib probe JIT-warms across passes and would
    // imprint its warm-in curve on flat query series). The band bounds
    // PER-GROUP MINIMA (what bench_diff sees from a run), so q's cold
    // 9.9 first rep must NOT widen the envelope.
    val groupData = Seq(
      Seq((0.50, Seq("q" -> 9.9, "r" -> 4.0)),   // cold first rep
          (0.30, Seq("q" -> 1.0, "r" -> 4.0))),  // group 1 min: q=1.0
      Seq((0.25, Seq("q" -> 1.2, "r" -> 4.0)),
          (0.40, Seq("q" -> 1.1, "r" -> 4.0))))  // group 2 min: q=1.1
    val line = Bench.renderBandLine(groupData, anchor = 0.50, margin = 0.10, "/sf")
    assert(!line.contains("\n"), s"must be one line: $line")
    assert(line.startsWith(
      "{\"mode\":\"band\",\"anchor_calib\":0.5000,\"run_calib\":0.2500,\"margin\":0.1,"), line)
    assert(line.contains("\"groups\":2,\"passes_per_group\":2"), line)
    assert(line.contains("\"calibs\":[[0.5000,0.3000],[0.2500,0.4000]]"), line)
    // raw series recorded verbatim per group (the committed derivation)
    assert(line.contains("\"q\":[[9.9000,1.0000],[1.2000,1.1000]]"), line)
    // scaled group minima: [1.0, 1.1] × 2 = [2.0, 2.2] — 9.9 gone
    assert(line.substring(line.indexOf("\"minima\":")).contains("\"q\":[2.0000,2.2000]"), line)
    // band: [2.0·0.9, 2.2·1.1] = [1.8, 2.42]
    assert(line.substring(line.indexOf("\"bands\":")).contains("\"q\":[1.8000,2.4200]"), line)
    // flat r: minima [8, 8] → band [7.2, 8.8]
    assert(line.substring(line.indexOf("\"bands\":")).contains("\"r\":[7.2000,8.8000]"), line)
    assert(line.endsWith("\"sf\":\"/sf\"}"), line)
    assert(line.count(_ == '{') == line.count(_ == '}'), line)

    // self-anchored (anchor ≤ 0): factor 1, envelope IS the raw minima
    val self = Bench.renderBandLine(groupData, anchor = 0.0, margin = 0.0, "/sf")
    assert(self.contains("\"anchor_calib\":0.2500"), self)
    assert(self.substring(self.indexOf("\"bands\":")).contains("\"q\":[1.0000,1.1000]"), self)
  }

  test("renderBandLine emits valid JSON under a comma-decimal default locale") {
    // the f-interpolator honors Locale.getDefault; a de_DE JVM would
    // render "0,2500" and corrupt bench_bands.json — pin Locale.ROOT
    val prev = java.util.Locale.getDefault
    try {
      java.util.Locale.setDefault(java.util.Locale.GERMANY)
      val line = Bench.renderBandLine(
        Seq(Seq((0.25, Seq("q" -> 1.5)))), anchor = 0.0, margin = 0.10, "/sf")
      assert(line.contains("\"q\":[[1.5000]]"), line)
      assert(line.contains("\"anchor_calib\":0.2500"), line)
      assert(!line.contains("1,5000") && !line.contains("0,2500"),
        s"locale comma snuck into a number: $line")
    } finally java.util.Locale.setDefault(prev)
  }
}

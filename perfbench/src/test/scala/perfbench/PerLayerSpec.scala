package perfbench

import org.scalatest.funsuite.AnyFunSuite

/** The traced run's figure list and BENCHMARK.json must not drift. */
class PerLayerSpec extends AnyFunSuite {
  private def benchmarkJson: String = {
    val f = Seq("BENCHMARK.json", "../BENCHMARK.json").map(java.nio.file.Path.of(_))
      .find(java.nio.file.Files.exists(_)).getOrElse(fail("BENCHMARK.json not found"))
    new String(java.nio.file.Files.readAllBytes(f), "UTF-8")
  }

  /** (name, unit) pairs of one section, in file order. */
  private def section(json: String, key: String): Seq[(String, String)] = {
    val body = json.substring(json.indexOf("\"" + key + "\""))
    val list = body.substring(body.indexOf('['), body.indexOf(']') + 1)
    "\\{\"name\": \"([^\"]+)\", \"unit\": \"([^\"]+)\"".r
      .findAllMatchIn(list).map(m => m.group(1) -> m.group(2)).toSeq
  }

  test("per_layer in BENCHMARK.json lists exactly the traced run's figures") {
    assert(section(benchmarkJson, "per_layer") == Main.PerLayer)
  }

  test("the traced report fills every declared figure and rejects undeclared ones") {
    val got = Main.perLayer(Seq(Metric("spark.jobs", 12, "count")))
    assert(got.map(_.name) == Main.PerLayer.map(_._1))
    assert(got.find(_.name == "spark.jobs").map(_.value).contains(12.0))
    assert(got.filter(_.name != "spark.jobs").forall(_.value == 0.0))
    assertThrows[IllegalArgumentException](Main.perLayer(Seq(Metric("nope", 1, "ms"))))
    assertThrows[IllegalArgumentException](Main.perLayer(Seq(Metric("spark.jobs", 1, "ms"))))
  }
}

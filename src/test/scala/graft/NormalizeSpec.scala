package graft

import graft.functions.NfdNormalize
import org.apache.spark.sql.SparkSession
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Native NFD expression backing member.name's hidden-char stripping
  * (matrix-js-sdk removeHiddenChars normalizes BEFORE stripping). */
class NormalizeSpec extends AnyFunSuite {
  lazy val spark: SparkSession = Sessions.local(cores = 4, appName = "graft-nfd")

  private def restoreConf(key: String, saved: Option[String]): Unit =
    saved match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }

  test("static helper: NFD semantics and the no-allocation fast paths") {
    def u(s: String) = UTF8String.fromString(s)
    // pure ASCII: the SAME instance comes back (numBytes==numChars gate)
    val ascii = u("plain ascii 123")
    assert(NfdNormalize.normalize(ascii) eq ascii)
    // composed é → e + combining acute
    assert(NfdNormalize.normalize(u("Jos\u00E9")).toString == "Jose\u0301")
    // already-decomposed input is returned as-is (isNormalized gate)
    val nfd = u("Jose\u0301")
    assert(NfdNormalize.normalize(nfd) eq nfd)
    // idempotence
    val once = NfdNormalize.normalize(u("Jos\u00E9"))
    assert(NfdNormalize.normalize(once).toString == once.toString)
    // non-BMP (surrogate pair) survives untouched — 4 UTF-8 bytes but
    // one code point, so it exercises the non-ASCII path
    assert(NfdNormalize.normalize(u("a\uD83D\uDE00b")).toString == "a\uD83D\uDE00b")
    // Hangul syllables canonically decompose to Jamo
    assert(NfdNormalize.normalize(u("\uAC00")).toString == "\u1100\u1161")
  }

  test("property: the helper (fast paths included) equals the JDK normalizer on randomized unicode") {
    // the two short-circuits (ASCII byte-count gate, isNormalized gate)
    // are the only way this expression can diverge from
    // Normalizer.normalize itself — pin them across 500 randomized
    // strings mixing ASCII, precomposed Latin/angstrom, combining
    // marks, Hangul syllables, non-BMP emoji, and hidden chars.
    // Generated from CODE POINTS (Character.toChars) so no lone
    // surrogates appear — UTF8String round-trips them lossily, which
    // would test the fixture, not the expression.
    val cpGen: Gen[Int] = Gen.frequency(
      4 -> Gen.chooseNum(0x20, 0x7E),
      2 -> Gen.oneOf(0xE9, 0xC5, 0xF6, 0x212B, 0x1E9B),
      2 -> Gen.chooseNum(0x300, 0x36F),
      1 -> Gen.chooseNum(0xAC00, 0xD7A3),
      1 -> Gen.oneOf(0x1F600, 0x1F4A9, 0x10348),
      1 -> Gen.oneOf(0x200B, 0x200E, 0x202E, 0xFEFF))
    val strGen: Gen[String] = Gen.listOf(cpGen)
      .map(_.flatMap(Character.toChars(_).toSeq).mkString)
    def sample(seed: Long): String =
      strGen.pureApply(Gen.Parameters.default, Seed(seed))
    (1L to 500L).foreach { seed =>
      val s = sample(seed)
      val got = NfdNormalize.normalize(UTF8String.fromString(s)).toString
      val want = java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFD)
      assert(got == want, s"seed=$seed input=${s.map(c => f"\\u$c%04X").mkString}")
      // idempotence: NFD of NFD is NFD
      assert(NfdNormalize.normalize(UTF8String.fromString(got)).toString == want)
    }
  }

  test("registered function: known values and null propagation") {
    val r = spark.sql(
      "SELECT nfd_normalize('Jos\u00E9'), nfd_normalize(''), " +
        "nfd_normalize(CAST(NULL AS STRING))").collect()(0)
    assert(r.getString(0) == "Jose\u0301")
    assert(r.getString(1) == "")
    assert(r.isNullAt(2))
  }

  test("codegen and interpreted eval agree bit-for-bit; expression stays in whole-stage codegen") {
    import spark.implicits._
    val corpus: Seq[(Int, String)] = Seq(
      1 -> "ascii only",
      2 -> "",
      3 -> null,
      4 -> "Jos\u00E9 composed",
      5 -> "Jose\u0301 decomposed",
      6 -> "mixed \u00C5ngstr\u00F6m \uAC01 \uD83D\uDE00",
      7 -> "\u0301leading combining",
      8 -> "\uFB01 ligature stays (NFD is canonical, not compat)",
      9 -> "\u212B angstrom sign \u2192 A+ring")
    val tmp = java.nio.file.Files.createTempDirectory("graft-nfd-prop").toString + "/data"
    corpus.toDF("id", "s").write.parquet(tmp)

    def run(interpreted: Boolean): Seq[(Int, Option[String])] = {
      val savedWs = spark.conf.getOption("spark.sql.codegen.wholeStage")
      val savedFm = spark.conf.getOption("spark.sql.codegen.factoryMode")
      if (interpreted) {
        spark.conf.set("spark.sql.codegen.wholeStage", "false")
        spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
      }
      try spark.read.parquet(tmp)
        .selectExpr("id", "nfd_normalize(s) AS n")
        .collect()
        .map(r => (r.getInt(0), if (r.isNullAt(1)) None else Some(r.getString(1))))
        .toSeq.sortBy(_._1)
      finally if (interpreted) {
        restoreConf("spark.sql.codegen.wholeStage", savedWs)
        restoreConf("spark.sql.codegen.factoryMode", savedFm)
      }
    }
    val gen = run(interpreted = false)
    val int = run(interpreted = true)
    assert(gen == int, "codegen and interpreted paths diverged")
    // the corpus really exercised decomposition, not just pass-through
    assert(gen.toMap.apply(4).contains("Jose\u0301 composed"))
    assert(gen.toMap.apply(9).contains("A\u030A angstrom sign \u2192 A+ring"))
    assert(gen.exists(_._2.isEmpty), "null case missing")

    val plan = spark.read.parquet(tmp).selectExpr("nfd_normalize(s)")
      .queryExecution.executedPlan
    val codegenStages = plan.collect {
      case w: org.apache.spark.sql.execution.WholeStageCodegenExec => w
    }
    assert(codegenStages.nonEmpty, s"not codegen'd:\n$plan")
  }
}

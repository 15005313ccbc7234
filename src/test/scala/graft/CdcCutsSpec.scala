package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Contracts of the native `cdc_cuts` rolling-hash expression that
  * replaced the CDC family's O(W)-per-position HOF re-fold (r21,
  * VERDICT r20 item 1 — the token_stats discipline applied to the
  * chunk scan):
  *
  *  1. BIT-FOR-BIT EQUIVALENCE with the interpreted HOF twin
  *     ([[CdcCutsSpec.cutsHofTwinE]]) — over the real documents
  *     table AND adversarial Unicode (multi-byte code points exercise
  *     the `ascii` = code-point assumption the rolling recurrence
  *     rests on; the DuckDB oracle replays the twin, so twin ≡ native
  *     is what keeps the oracle unchanged);
  *  2. codegen ≡ interpreted (the TokenStatsSpec discipline);
  *  3. the null/short-input contract;
  *  4. plan shape: the registered chunk derivation routes through
  *     `cdc_cuts` inside whole-stage codegen — no HOF lambda chain may
  *     reappear in the scan.
  */
class CdcCutsSpec extends AnyFunSuite {
  lazy val spark: SparkSession = Sessions.local(cores = 4, appName = "graft-cdccuts")

  private def restoreConf(key: String, saved: Option[String]): Unit =
    saved match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }

  test("cdc_cuts equals the HOF twin over the documents table") {
    import spark.implicits._
    val bad = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .withColumn("norm", regexp_replace(lower(trim($"text")), "\\s+", " "))
      .filter(length($"norm") > 0)
      .filter(!(expr("cdc_cuts(norm)") <=> expr(CdcCutsSpec.cutsHofTwinE)))
    assert(bad.count() == 0, "cdc_cuts diverged from the HOF twin on the corpus")
  }

  test("cdc_cuts equals the HOF twin on adversarial Unicode and boundary lengths") {
    import spark.implicits._
    val rnd = new scala.util.Random(21)
    // alphabet spanning 1-, 2-, 3- and 4-byte UTF-8 sequences: the
    // rolling recurrence must agree with ascii()'s code-point values
    // on every width, and the byte walk must count characters the way
    // length()/substr() do
    val alpha = "abz0 .éßñ€中あ😀𝄞".toCharArray // NOTE: surrogate pairs ride as char pairs
    def randStr(len: Int): String = {
      val sb = new StringBuilder
      while (sb.length < len) {
        val c = alpha(rnd.nextInt(alpha.length))
        if (Character.isHighSurrogate(c)) () // appended with its partner below
        else if (Character.isLowSurrogate(c)) {
          // append the full supplementary pair so the string stays valid
          sb.append('\ud83d').append(c)
        } else sb.append(c)
      }
      sb.toString
    }
    val rows: Seq[(Int, String)] =
      (0 to 20).map(n => (n, "x" * n)) ++ // lengths 0..20 bracket the W+1 edge
        Seq((100, "é" * 16), (101, "中" * 17), (102, "😀" * 20),
          (103, "a😀b" * 12), (104, "")) ++
        (200 until 400).map(i => (i, randStr(1 + rnd.nextInt(120))))
    val df = rows.toDF("id", "norm")
    val bad = df.filter(!(expr("cdc_cuts(norm)") <=> expr(CdcCutsSpec.cutsHofTwinE)))
    val badRows = bad.collect()
    assert(badRows.isEmpty,
      s"cdc_cuts diverged on ${badRows.length} adversarial rows, e.g. ${badRows.take(3).mkString("; ")}")
  }

  test("codegen and interpreted paths agree") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val rows = (1 to 200).map { i =>
      (i, Seq.fill(1 + rnd.nextInt(150))(('a' + rnd.nextInt(27)).toChar match {
        case c if c > 'z' => ' '
        case c => c
      }).mkString)
    }
    val tmp = java.nio.file.Files.createTempDirectory("graft-cdccuts").toString + "/data"
    rows.toDF("id", "norm").write.parquet(tmp)

    def run(interpreted: Boolean): Seq[(Int, String)] = {
      val savedWs = spark.conf.getOption("spark.sql.codegen.wholeStage")
      val savedFm = spark.conf.getOption("spark.sql.codegen.factoryMode")
      if (interpreted) {
        spark.conf.set("spark.sql.codegen.wholeStage", "false")
        spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
      }
      try spark.read.parquet(tmp)
        .selectExpr("id", "CAST(cdc_cuts(norm) AS STRING) AS cuts")
        .collect()
        .map(r => (r.getInt(0), r.getString(1)))
        .toSeq.sortBy(_._1)
      finally if (interpreted) {
        restoreConf("spark.sql.codegen.wholeStage", savedWs)
        restoreConf("spark.sql.codegen.factoryMode", savedFm)
      }
    }
    val gen = run(interpreted = false)
    val int = run(interpreted = true)
    assert(gen == int, "codegen and interpreted cdc_cuts diverged")
    assert(gen.exists(_._2 != "[]"), "no cut-producing case was generated")
  }

  test("null and short-input contract") {
    val r = spark.sql("""
      SELECT cdc_cuts(CAST(NULL AS STRING)) AS null_in,
             cdc_cuts('') AS empty,
             cdc_cuts('0123456789abcdef') AS len16
    """).collect()(0)
    assert(r.isNullAt(0), "NULL input must yield NULL")
    assert(r.getSeq[Int](1).isEmpty, "empty string must yield an empty array")
    assert(r.getSeq[Int](2).isEmpty,
      "a W-char string must yield no cuts (position W == numChars is excluded)")
  }

  test("the chunk derivation routes through cdc_cuts inside whole-stage codegen") {
    val df = graft.ext.Cdc.chunkDf(
      Tables.documents(spark, "/root/testdata/sf0.001"))
    val plan = df.queryExecution.executedPlan
    val planStr = plan.toString
    assert(planStr.contains("cdc_cuts"),
      s"chunk scan does not route via cdc_cuts:\n$planStr")
    assert(!planStr.contains("aggregate(transform(split("),
      s"the HOF re-fold reappeared in the chunk scan:\n$planStr")
    val codegenStages = plan.collect {
      case w: org.apache.spark.sql.execution.WholeStageCodegenExec => w
    }
    assert(codegenStages.nonEmpty, s"not codegen'd:\n$plan")
  }
}

object CdcCutsSpec {

  /** Spark-side cut positions: i ∈ [W, len−1] (1-based char positions;
    * len excluded so the tail boundary never duplicates), kept when
    * the window hash mod 64 is 0. Descending-sequence guard: documents
    * shorter than W+1 produce no cuts.
    *
    * This HOF formulation is the INTERPRETED TWIN of the native
    * `cdc_cuts` expression ([[graft.functions.CdcCuts]], an O(1)
    * rolling recurrence inside whole-stage codegen) that the registered
    * entries run. The DuckDB oracle is an exact lambda replay of THIS
    * formulation, so twin ≡ native is what keeps the oracle valid. */
  val cutsHofTwinE =
    """CASE WHEN length(norm) >= 17 THEN
         filter(sequence(16, length(norm) - 1), i ->
           aggregate(transform(split(substr(norm, i - 15, 16), ''), c -> ascii(c)),
             0L, (acc, x) -> (acc * 31 + x) % 2147483647) % 64 = 0)
       ELSE CAST(array() AS array<int>) END"""
}

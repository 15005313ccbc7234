package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Contracts of the one-pass `minhash_sigs` expression that replaced
  * the Dedup signature explode+aggregate (r21):
  *
  *  1. BIT-FOR-BIT EQUIVALENCE with the old formulation — same row
  *     set (docs with ≥3 tokens), same 8 min-md5 signatures, same
  *     distinct-shingle count — over the real documents table, so the
  *     minhash-family oracles (shared `minhashPairsCtes`) are provably
  *     untouched;
  *  2. codegen ≡ interpreted (the TokenStatsSpec discipline);
  *  3. the null/short-input contract (the <3-token NULL that encodes
  *     "no shingle row", concat_ws null-skipping);
  *  4. whole-stage codegen participation.
  */
class MinHashSigsSpec extends AnyFunSuite {
  lazy val spark: SparkSession = Sessions.local(cores = 4, appName = "graft-mhsigs")

  private def restoreConf(key: String, saved: Option[String]): Unit =
    saved match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }

  test("minhash_sigs equals the explode+groupBy formulation over the documents table") {
    import spark.implicits._
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .withColumn("toks", expr(graft.ext.TextExpr.toksE))
    // old formulation, verbatim from the pre-r21 Dedup.minhashSigs
    val sh = docs.select($"doc_id", explode(expr(graft.ext.TextExpr.shinglesE)).as("sh"))
    val sigCols = (0 until 8).map(k =>
      min(md5(concat_ws("|", lit(k), $"sh"))).as(s"h$k"))
    val old = sh.groupBy($"doc_id")
      .agg(sigCols.head, sigCols.tail :+ count(lit(1)).as("n"): _*)
    // new formulation, verbatim shape of the r21 Dedup.minhashSigs
    val neu = docs.select($"doc_id", expr("minhash_sigs(toks)").as("sg"))
      .filter($"sg".isNotNull)
      .select($"doc_id" +:
        (0 until 8).map(k => $"sg".getField(s"h$k").as(s"h$k")) :+
        $"sg".getField("n").cast("long").as("n"): _*)
    assert(old.count() > 0, "corpus produced no signature rows — test vacuous")
    val mismatches = old.join(neu, Seq("doc_id"), "full_outer")
      .filter((0 until 8).map(k =>
        !(old(s"h$k") <=> neu(s"h$k"))).reduce(_ || _) ||
        !(old("n") <=> neu("n")))
    assert(mismatches.count() == 0, "minhash_sigs diverged from the explode+groupBy twin")
  }

  test("codegen and interpreted paths agree") {
    import spark.implicits._
    val rnd = new scala.util.Random(29)
    val vocab = Vector("the", "a", "of", "xx", "yy", "zz", "é", "B", "")
    val rows: Seq[(Int, Seq[Option[String]])] = (1 to 250).map { id =>
      rnd.nextInt(10) match {
        case 0 => (id, Seq.empty[Option[String]])
        case 1 => (id, Seq.fill(1 + rnd.nextInt(2))(Some(vocab(rnd.nextInt(vocab.size))): Option[String]))
        case 2 =>
          val n = 3 + rnd.nextInt(8)
          val base = Seq.fill(n)(Some(vocab(rnd.nextInt(vocab.size))): Option[String])
          (id, base.updated(rnd.nextInt(n), None)) // null token — concat_ws skips it
        case _ =>
          (id, Seq.fill(3 + rnd.nextInt(25))(Some(vocab(rnd.nextInt(vocab.size))): Option[String]))
      }
    }
    val tmp = java.nio.file.Files.createTempDirectory("graft-mhsigs").toString + "/data"
    rows.toDF("id", "toks").write.parquet(tmp)

    def run(interpreted: Boolean): Seq[(Int, String)] = {
      val savedWs = spark.conf.getOption("spark.sql.codegen.wholeStage")
      val savedFm = spark.conf.getOption("spark.sql.codegen.factoryMode")
      if (interpreted) {
        spark.conf.set("spark.sql.codegen.wholeStage", "false")
        spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
      }
      try spark.read.parquet(tmp)
        .selectExpr("id", "CAST(minhash_sigs(toks) AS STRING) AS sg")
        .collect()
        .map(r => (r.getInt(0), if (r.isNullAt(1)) "NULL" else r.getString(1)))
        .toSeq.sortBy(_._1)
      finally if (interpreted) {
        restoreConf("spark.sql.codegen.wholeStage", savedWs)
        restoreConf("spark.sql.codegen.factoryMode", savedFm)
      }
    }
    val gen = run(interpreted = false)
    val int = run(interpreted = true)
    assert(gen == int, "codegen and interpreted minhash_sigs diverged")
    assert(gen.exists(_._2 == "NULL") && gen.exists(_._2 != "NULL"),
      "both the NULL (<3 tokens) and non-NULL branches must be exercised")
  }

  test("null element is skipped exactly like concat_ws, and <3 tokens yields NULL") {
    val r = spark.sql("""
      SELECT minhash_sigs(CAST(NULL AS ARRAY<STRING>)) AS null_arr,
             minhash_sigs(array('a', 'b')) AS two_toks,
             minhash_sigs(array('a', CAST(NULL AS STRING), 'b')).h0 AS skipped,
             md5('0|a b') AS h_ab
    """).collect()(0)
    assert(r.isNullAt(0), "NULL array must yield NULL")
    assert(r.isNullAt(1), "<3 tokens must yield NULL (no shingle row)")
    assert(r.getString(2) == r.getString(3),
      "a NULL middle token must be skipped (concat_ws semantics): shingle = 'a b'")
  }

  test("minhash_sigs participates in whole-stage codegen") {
    val df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .selectExpr(s"minhash_sigs(${graft.ext.TextExpr.toksE}).n AS n")
    val codegenStages = df.queryExecution.executedPlan.collect {
      case w: org.apache.spark.sql.execution.WholeStageCodegenExec => w
    }
    assert(codegenStages.nonEmpty,
      s"not codegen'd:\n${df.queryExecution.executedPlan}")
    assert(df.agg(sum("n")).collect()(0).getLong(0) > 0)
  }
}

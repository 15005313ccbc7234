package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Contracts of the one-pass `token_counts` expression that replaced
  * `txt_tfidf_top`'s O(types·tokens) HOF term expansion (r21):
  *
  *  1. BIT-FOR-BIT EQUIVALENCE with the lambda it replaced — same
  *     terms, same counts, same (first-occurrence) order — over the
  *     real documents table, so the tfidf oracle is provably untouched;
  *  2. codegen ≡ interpreted (the TokenStatsSpec discipline);
  *  3. the null contract (null array / null element / empty array);
  *  4. whole-stage codegen participation.
  */
class TokenCountsSpec extends AnyFunSuite {
  lazy val spark: SparkSession = Sessions.local(cores = 4, appName = "graft-tokcounts")

  private def restoreConf(key: String, saved: Option[String]): Unit =
    saved match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }

  private val lambdaE =
    "transform(array_distinct(toks), w -> struct(w AS term, size(filter(toks, t -> t = w)) AS cnt))"

  test("token_counts equals the lambda expansion over the documents table") {
    import spark.implicits._
    val bad = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .withColumn("toks", expr(graft.ext.TextExpr.toksE))
      .filter(!(expr("token_counts(toks)") <=> expr(lambdaE)))
    assert(bad.count() == 0, "token_counts diverged from the lambda expansion")
  }

  test("codegen and interpreted paths agree on randomized and edge-case arrays") {
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    val vocab = Vector("the", "a", "of", "xx", "yy", "zz zz", "", "é", "B")
    val rows: Seq[(Int, Seq[Option[String]])] = (1 to 300).map { id =>
      rnd.nextInt(12) match {
        case 0 => (id, Seq.empty[Option[String]])
        case 1 => (id, Seq(Some(vocab(rnd.nextInt(vocab.size)))))
        case 2 =>
          val n = 2 + rnd.nextInt(6)
          val base = Seq.fill(n)(Some(vocab(rnd.nextInt(vocab.size))): Option[String])
          (id, base.updated(rnd.nextInt(n), None))
        case _ =>
          (id, Seq.fill(1 + rnd.nextInt(20))(Some(vocab(rnd.nextInt(vocab.size))): Option[String]))
      }
    }
    val tmp = java.nio.file.Files.createTempDirectory("graft-tokcounts").toString + "/data"
    rows.toDF("id", "toks").write.parquet(tmp)

    def run(interpreted: Boolean): Seq[(Int, String)] = {
      val savedWs = spark.conf.getOption("spark.sql.codegen.wholeStage")
      val savedFm = spark.conf.getOption("spark.sql.codegen.factoryMode")
      if (interpreted) {
        spark.conf.set("spark.sql.codegen.wholeStage", "false")
        spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
      }
      try spark.read.parquet(tmp)
        .selectExpr("id", "CAST(token_counts(toks) AS STRING) AS tc")
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
    assert(gen == int, "codegen and interpreted token_counts diverged")
    assert(gen.exists(_._2 == "NULL"), "no NULL-element case was generated")
    assert(gen.exists(_._2 != "NULL"), "no non-NULL case was generated")
  }

  test("null contract: null array, null element, empty array") {
    val r = spark.sql("""
      SELECT token_counts(CAST(NULL AS ARRAY<STRING>)) AS null_arr,
             token_counts(array('a', CAST(NULL AS STRING), 'b')) AS null_elem,
             token_counts(array()) AS empty
    """).collect()(0)
    assert(r.isNullAt(0), "NULL tokens array must yield NULL")
    assert(r.isNullAt(1), "a NULL token element must null the array")
    assert(r.getSeq[Any](2).isEmpty, "empty array must yield an empty array")
  }

  test("token_counts participates in whole-stage codegen") {
    val df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .selectExpr(s"size(token_counts(${graft.ext.TextExpr.toksE})) AS n")
    val codegenStages = df.queryExecution.executedPlan.collect {
      case w: org.apache.spark.sql.execution.WholeStageCodegenExec => w
    }
    assert(codegenStages.nonEmpty,
      s"not codegen'd:\n${df.queryExecution.executedPlan}")
    assert(df.agg(sum("n")).collect()(0).getLong(0) > 0)
  }
}

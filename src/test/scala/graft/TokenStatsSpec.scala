package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Contracts of the one-pass `token_stats` expression that replaced the
  * quality-family HOF lambda chains (r18 VERDICT item 1):
  *
  *  1. SEMANTIC EQUIVALENCE — every struct field equals the lambda
  *     formula it replaced, row-for-row over the real documents table
  *     (the oracles of the rewired entries were NOT touched, so this is
  *     the Spark-side half of that unchanged contract);
  *  2. codegen ≡ interpreted (the VectorFunctionsSpec discipline: the
  *     generated path and the eval path must agree bit-for-bit,
  *     including the NULL-element branch);
  *  3. the NULL contract (null array / null element / null stops);
  *  4. whole-stage codegen participation on a parquet-backed plan —
  *     the entire point of the expression.
  */
class TokenStatsSpec extends AnyFunSuite {
  lazy val spark: SparkSession = Sessions.local(cores = 4, appName = "graft-tokstats")

  private def restoreConf(key: String, saved: Option[String]): Unit =
    saved match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }

  private val stopsE = "array('the','a','of','and','to','in','is','it')"

  test("token_stats fields equal the lambda formulas over the documents table") {
    import spark.implicits._
    val bad = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .withColumn("toks", expr(graft.ext.TextExpr.toksE))
      .withColumn("g2", expr(
        "CASE WHEN size(toks) >= 2 THEN transform(sequence(0, size(toks)-2), " +
          "i -> concat_ws(' ', toks[i], toks[i+1])) ELSE array() END"))
      .withColumn("st", expr(s"token_stats(toks, $stopsE)"))
      .filter(
        $"st.n_tokens" =!= size($"toks") ||
        $"st.n_distinct" =!= size(array_distinct($"toks")) ||
        $"st.sum_len" =!= expr(
          "aggregate(transform(toks, t -> length(t)), 0L, (acc, x) -> acc + x)") ||
        $"st.top_cnt" =!= expr(
          "array_max(transform(array_distinct(toks), w -> size(filter(toks, t -> t = w))))") ||
        $"st.n_2grams" =!= size($"g2") ||
        $"st.n_dup2" =!= (size($"g2") - size(array_distinct($"g2"))) ||
        $"st.n_stop" =!= size(expr(
          "filter(toks, t -> t IN ('the','a','of','and','to','in','is','it'))")))
    assert(bad.count() == 0, s"token_stats diverged from the lambda formulas")
  }

  test("codegen and interpreted paths agree on randomized and edge-case token arrays") {
    import spark.implicits._
    val rnd = new scala.util.Random(19)
    val vocab = Vector("the", "a", "of", "xx", "yy", "zz zz", "", "é", "B")
    val rows: Seq[(Int, Seq[Option[String]])] = (1 to 300).map { id =>
      rnd.nextInt(12) match {
        case 0 => (id, Seq.empty[Option[String]])                   // empty array
        case 1 => (id, Seq(Some(vocab(rnd.nextInt(vocab.size)))))   // singleton
        case 2 =>                                                   // null element
          val n = 2 + rnd.nextInt(6)
          val base = Seq.fill(n)(Some(vocab(rnd.nextInt(vocab.size))): Option[String])
          (id, base.updated(rnd.nextInt(n), None))
        case _ =>
          (id, Seq.fill(1 + rnd.nextInt(20))(Some(vocab(rnd.nextInt(vocab.size))): Option[String]))
      }
    }
    val tmp = java.nio.file.Files.createTempDirectory("graft-tokstats").toString + "/data"
    rows.toDF("id", "toks").write.parquet(tmp)

    def run(interpreted: Boolean): Seq[(Int, String)] = {
      val savedWs = spark.conf.getOption("spark.sql.codegen.wholeStage")
      val savedFm = spark.conf.getOption("spark.sql.codegen.factoryMode")
      if (interpreted) {
        spark.conf.set("spark.sql.codegen.wholeStage", "false")
        spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
      }
      try spark.read.parquet(tmp)
        .selectExpr("id", s"CAST(token_stats(toks, $stopsE) AS STRING) AS st")
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
    assert(gen == int, "codegen and interpreted token_stats diverged")
    // the batch really exercised the NULL-element branch
    assert(gen.exists(_._2 == "NULL"), "no NULL-element case was generated")
    assert(gen.exists(_._2 != "NULL"), "no non-NULL case was generated")
  }

  test("null contract: null array, null element, null stops, empty array") {
    val r = spark.sql(s"""
      SELECT token_stats(CAST(NULL AS ARRAY<STRING>), array()) AS null_arr,
             token_stats(array('a', CAST(NULL AS STRING), 'b'), array()) AS null_elem,
             token_stats(array('a'), CAST(NULL AS ARRAY<STRING>)) AS null_stops,
             token_stats(array(), array()) AS empty
    """).collect()(0)
    assert(r.isNullAt(0), "NULL tokens array must yield NULL")
    assert(r.isNullAt(1), "a NULL token element must null the struct")
    assert(r.isNullAt(2), "a NULL stops array must yield NULL (binary null contract)")
    val e = r.getStruct(3)
    assert(e.getInt(0) == 0 && e.getInt(1) == 0 && e.getLong(2) == 0L
      && e.isNullAt(3) && e.getInt(4) == 0 && e.getInt(5) == 0 && e.getInt(6) == 0,
      s"empty-array struct wrong: $e")
  }

  test("token_stats participates in whole-stage codegen") {
    val df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .selectExpr(s"token_stats(${graft.ext.TextExpr.toksE}, $stopsE).n_tokens AS n")
    val codegenStages = df.queryExecution.executedPlan.collect {
      case w: org.apache.spark.sql.execution.WholeStageCodegenExec => w
    }
    assert(codegenStages.nonEmpty,
      s"not codegen'd:\n${df.queryExecution.executedPlan}")
    assert(df.agg(sum("n")).collect()(0).getLong(0) > 0)
  }
}

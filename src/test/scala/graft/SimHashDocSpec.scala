package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Contracts of the one-pass `simhash60_doc` expression that replaced
  * the per-token explode → md5/conv → simhash60-aggregate pipeline
  * (r21):
  *
  *  1. BIT-FOR-BIT EQUIVALENCE with the old pipeline over the real
  *     documents table (same row set, same 60-bit hash), so the
  *     dedup_simhash oracle is provably untouched — this also pins the
  *     digest-bytes shortcut (`first8 >>> 4` ≡ `conv(substr(md5, 1,
  *     15), 16, 10)`);
  *  2. codegen ≡ interpreted;
  *  3. the null/empty contract (empty array → NULL ≙ "no exploded
  *     rows"; all-null elements → 0 ≙ a group with zero votes);
  *  4. whole-stage codegen participation.
  */
class SimHashDocSpec extends AnyFunSuite {
  lazy val spark: SparkSession = Sessions.local(cores = 4, appName = "graft-simhashdoc")

  private def restoreConf(key: String, saved: Option[String]): Unit =
    saved match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }

  test("simhash60_doc equals the explode+simhash60 pipeline over the documents table") {
    graft.functions.SimHash60.registerTwin(spark)
    import spark.implicits._
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .withColumn("toks", expr(graft.ext.TextExpr.toksE))
    val tok = docs.select($"doc_id", explode(array_distinct($"toks")).as("w"))
      .withColumn("h", expr("CAST(conv(substr(md5(w), 1, 15), 16, 10) AS BIGINT)"))
    val old = tok.groupBy($"doc_id").agg(expr("simhash60(h)").as("simhash"))
    val neu = docs.filter(size($"toks") > 0)
      .select($"doc_id", expr("simhash60_doc(toks)").as("simhash"))
    assert(old.count() > 0)
    val mismatches = old.join(neu, Seq("doc_id"), "full_outer")
      .filter(!(old("simhash") <=> neu("simhash")))
    assert(mismatches.count() == 0, "simhash60_doc diverged from the explode+agg twin")
  }

  test("codegen and interpreted paths agree") {
    import spark.implicits._
    val rnd = new scala.util.Random(31)
    val vocab = Vector("the", "a", "of", "xx", "yy", "zz", "é", "B", "")
    val rows: Seq[(Int, Seq[Option[String]])] = (1 to 250).map { id =>
      rnd.nextInt(8) match {
        case 0 => (id, Seq.empty[Option[String]])
        case 1 =>
          val n = 1 + rnd.nextInt(6)
          val base = Seq.fill(n)(Some(vocab(rnd.nextInt(vocab.size))): Option[String])
          (id, base.updated(rnd.nextInt(n), None))
        case _ =>
          (id, Seq.fill(1 + rnd.nextInt(25))(Some(vocab(rnd.nextInt(vocab.size))): Option[String]))
      }
    }
    val tmp = java.nio.file.Files.createTempDirectory("graft-simhashdoc").toString + "/data"
    rows.toDF("id", "toks").write.parquet(tmp)

    def run(interpreted: Boolean): Seq[(Int, String)] = {
      val savedWs = spark.conf.getOption("spark.sql.codegen.wholeStage")
      val savedFm = spark.conf.getOption("spark.sql.codegen.factoryMode")
      if (interpreted) {
        spark.conf.set("spark.sql.codegen.wholeStage", "false")
        spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
      }
      try spark.read.parquet(tmp)
        .selectExpr("id", "CAST(simhash60_doc(toks) AS STRING) AS sh")
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
    assert(gen == int, "codegen and interpreted simhash60_doc diverged")
    assert(gen.exists(_._2 == "NULL") && gen.exists(_._2 != "NULL"))
  }

  test("null/empty contract matches the explode+agg row semantics") {
    val r = spark.sql("""
      SELECT simhash60_doc(CAST(NULL AS ARRAY<STRING>)) AS null_arr,
             simhash60_doc(array()) AS empty,
             simhash60_doc(array(CAST(NULL AS STRING))) AS all_null,
             simhash60_doc(array('a', 'a', 'a')) AS dup,
             simhash60_doc(array('a')) AS single
    """).collect()(0)
    assert(r.isNullAt(0), "NULL array must yield NULL")
    assert(r.isNullAt(1), "empty array must yield NULL (explode produced no rows)")
    assert(r.getLong(2) == 0L,
      "all-null elements must yield 0 (a group whose every vote was a skipped null)")
    assert(r.getLong(3) == r.getLong(4),
      "duplicate tokens must vote once (array_distinct semantics)")
  }

  test("simhash60_doc participates in whole-stage codegen") {
    val df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .selectExpr(s"simhash60_doc(${graft.ext.TextExpr.toksE}) AS h")
    val codegenStages = df.queryExecution.executedPlan.collect {
      case w: org.apache.spark.sql.execution.WholeStageCodegenExec => w
    }
    assert(codegenStages.nonEmpty,
      s"not codegen'd:\n${df.queryExecution.executedPlan}")
    assert(df.agg(countDistinct("h")).collect()(0).getLong(0) > 1)
  }
}

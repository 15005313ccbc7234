package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Contracts of word-3-gram shingling, `shingles_n(toks, 3)`, the width
  * the minhash pair pipeline uses in place of the shinglesE HOF lambda:
  * bit-for-bit array equivalence (elements AND order) over the real
  * documents table and adversarial arrays, codegen ≡ interpreted, and
  * the null/short contract.
  */
class Shingles3Spec extends AnyFunSuite {
  lazy val spark: SparkSession = Sessions.local(cores = 4, appName = "graft-shingles3")

  test("shingles3 equals the shinglesE lambda over the documents table") {
    import spark.implicits._
    val bad = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .withColumn("toks", expr(graft.ext.TextExpr.toksE))
      .filter(!(expr("shingles_n(toks, 3)") <=> expr(graft.ext.TextExpr.shinglesE)))
    assert(bad.count() == 0, "shingles_n(toks, 3) diverged from the shinglesE lambda")
  }

  test("codegen and interpreted paths agree, incl. null elements and short arrays") {
    import spark.implicits._
    val rnd = new scala.util.Random(37)
    val vocab = Vector("the", "a", "of", "xx", "yy", "é", "B", "")
    val rows: Seq[(Int, Seq[Option[String]])] = (1 to 250).map { id =>
      rnd.nextInt(8) match {
        case 0 => (id, Seq.empty[Option[String]])
        case 1 => (id, Seq.fill(1 + rnd.nextInt(2))(Some(vocab(rnd.nextInt(vocab.size))): Option[String]))
        case 2 =>
          val n = 3 + rnd.nextInt(8)
          val base = Seq.fill(n)(Some(vocab(rnd.nextInt(vocab.size))): Option[String])
          (id, base.updated(rnd.nextInt(n), None))
        case _ =>
          (id, Seq.fill(3 + rnd.nextInt(25))(Some(vocab(rnd.nextInt(vocab.size))): Option[String]))
      }
    }
    val tmp = java.nio.file.Files.createTempDirectory("graft-shingles3").toString + "/data"
    rows.toDF("id", "toks").write.parquet(tmp)

    def run(interpreted: Boolean): Seq[(Int, String)] = {
      val savedWs = spark.conf.getOption("spark.sql.codegen.wholeStage")
      val savedFm = spark.conf.getOption("spark.sql.codegen.factoryMode")
      if (interpreted) {
        spark.conf.set("spark.sql.codegen.wholeStage", "false")
        spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
      }
      try spark.read.parquet(tmp)
        .selectExpr("id", "CAST(shingles_n(toks, 3) AS STRING) AS sh")
        .collect()
        .map(r => (r.getInt(0), r.getString(1)))
        .toSeq.sortBy(_._1)
      finally if (interpreted) {
        spark.conf.set("spark.sql.codegen.wholeStage", savedWs.getOrElse("true"))
        savedFm match {
          case Some(v) => spark.conf.set("spark.sql.codegen.factoryMode", v)
          case None    => spark.conf.unset("spark.sql.codegen.factoryMode")
        }
      }
    }
    val gen = run(interpreted = false)
    val int = run(interpreted = true)
    assert(gen == int, "codegen and interpreted shingles_n(toks, 3) diverged")
    // and the lambda agrees on the adversarial frame too (null-skip,
    // first-occurrence order)
    val bad = spark.read.parquet(tmp)
      .filter(!(expr("shingles_n(toks, 3)") <=>
        expr(graft.ext.TextExpr.shinglesE.replace("toks", "toks"))))
    assert(bad.count() == 0, "shingles_n(toks, 3) diverged from the lambda on adversarial arrays")
  }

  test("null and short contract") {
    val r = spark.sql("""
      SELECT shingles_n(CAST(NULL AS ARRAY<STRING>), 3) AS null_arr,
             shingles_n(array('a', 'b'), 3) AS short,
             shingles_n(array('a', 'b', 'c', 'b', 'c'), 3) AS ok
    """).collect()(0)
    assert(r.isNullAt(0))
    assert(r.getSeq[String](1).isEmpty)
    assert(r.getSeq[String](2) == Seq("a b c", "b c b", "c b c"))
  }
}

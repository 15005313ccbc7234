package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the r22 one-pass token-window expressions bit-for-bit against
  * the HOF lambda formulations they replaced, over the real corpus AND
  * synthetic edge rows, codegen and interpreted:
  *  - shingles_n(toks, n)  ≡ array_distinct(transform(...concat_ws...))
  *  - shingle_wins(toks,n) ≡ transform(... struct(j, concat_ws ...))
  *  - bigrams(toks)        ≡ transform(... struct(toks[i], toks[i+1]))
  */
class ShinglesNSpec extends AnyFunSuite {

  private def lambdaShingles(n: Int): String = {
    val parts = (0 until n).map(k => s"toks[i + $k]").mkString(", ")
    s"CASE WHEN size(toks) >= $n THEN array_distinct(transform(sequence(0, size(toks)-$n), " +
      s"i -> concat_ws(' ', $parts))) ELSE array() END"
  }
  private def lambdaWins(n: Int): String = {
    val parts = (0 until n).map(k => s"toks[j + $k]").mkString(", ")
    s"CASE WHEN size(toks) >= $n THEN transform(sequence(0, size(toks)-$n), " +
      s"j -> struct(j AS j, concat_ws(' ', $parts) AS sh)) ELSE array() END"
  }
  private val lambdaBigrams =
    "CASE WHEN size(toks) >= 2 THEN transform(sequence(0, size(toks)-2), " +
      "i -> struct(toks[i] AS w1, toks[i+1] AS w2)) ELSE array() END"

  test("expressions ≡ lambda formulations on corpus + synthetic rows, both eval paths") {
    val spark = Sessions.local(cores = 4, appName = "shinglesn-spec")
    try {
      import spark.implicits._
      val toks = expr(graft.ext.TextExpr.toksE).as("toks")

      val rnd = new scala.util.Random(11)
      val synth = (1 to 2000).map { _ =>
        val len = rnd.nextInt(20)
        (1 to len).map(_ => s"w${rnd.nextInt(6)}").mkString(" ")
      } ++ Seq("", "one", "a b", "a a a a a a a a a a", "x y z x y z x y")
      // token arrays the whitespace tokenizer never yields: NULL arrays,
      // NULL elements (concat_ws skips them) and arrays shorter than
      // every width
      val edge: Seq[Option[Seq[Option[String]]]] = (1 to 500).map { _ =>
        Some(Seq.fill(rnd.nextInt(12))(
          if (rnd.nextInt(4) == 0) None else Some(s"w${rnd.nextInt(4)}")))
      } ++ Seq(None, Some(Nil), Some(Seq(None)), Some(Seq(Some("a"))),
        Some(Seq(Some("a"), None)), Some(Seq(None, None, None)))
      val corpus = Tables.documents(spark, "/root/testdata/sf0.01").select($"text")

      // NULL tokens give NULL; otherwise each expression equals its lambda
      def same(a: String, b: String) =
        when($"toks".isNull, expr(a).isNull).otherwise(expr(a) <=> expr(b))

      def checkOn(df: DataFrame, label: String): Unit = {
        for (mode <- Seq("CODEGEN_ONLY", "NO_CODEGEN")) {
          spark.conf.set("spark.sql.codegen.factoryMode", mode)
          for (n <- Seq(2, 3, 8)) {
            val bad = df.filter(!same(s"shingles_n(toks, $n)", lambdaShingles(n)) ||
              !same(s"shingle_wins(toks, $n)", lambdaWins(n))).count()
            assert(bad == 0, s"$label/$mode: width $n diverged on $bad rows")
          }
          val badB = df.filter(!same("bigrams(toks)", lambdaBigrams)).count()
          assert(badB == 0, s"$label/$mode: bigrams diverged on $badB rows")
        }
        spark.conf.unset("spark.sql.codegen.factoryMode")
      }
      checkOn(synth.toDF("text").select(toks), "synthetic")
      // through parquet, so the generated code sees them too (a local
      // relation is evaluated on the driver by the optimizer)
      val edgeDir = java.nio.file.Files.createTempDirectory("graft-shinglesn").toString + "/edge"
      edge.toDF("toks").write.parquet(edgeDir)
      checkOn(spark.read.parquet(edgeDir), "edge")
      checkOn(corpus.select(toks), "corpus")

      val r = spark.sql("""
        SELECT shingles_n(array('a', 'b'), 3) AS short,
               shingles_n(array('a', 'b', 'c', 'b', 'c'), 3) AS ok
      """).collect()(0)
      assert(r.getSeq[String](0).isEmpty)
      assert(r.getSeq[String](1) == Seq("a b c", "b c b", "c b c"))
    } finally spark.stop()
  }
}

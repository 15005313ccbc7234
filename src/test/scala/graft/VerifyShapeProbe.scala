package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** A/B the jaccard-verify shapes over the same candidate set. */
object VerifyShapeProbe {
  def main(args: Array[String]): Unit = {
    val dir = "/root/testdata/sf0.1"
    val spark = Sessions.local(cores = 32, appName = "graft-verifyshape")
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    import graft.ext.{Dedup, TextExpr}
    Dedup.minhashPairs(spark, "/root/testdata/sf0.001").collect()
    Bench.isolate(spark)

    def cand(): DataFrame = {
      val bands = Dedup.minhashBands(spark, dir)
      bands.select($"doc_id".as("a_id"), $"band", $"h")
        .join(bands.select($"doc_id".as("b_id"), $"band", $"h"), Seq("band", "h"))
        .filter($"a_id" < $"b_id").select($"a_id", $"b_id").distinct()
    }
    println("n_cand=" + cand().count())
    println("n_shingle_rows=" + Tables.documents(spark, dir)
      .withColumn("toks", expr(TextExpr.toksE))
      .select($"doc_id", explode(expr("shingles_n(toks, 3)")).as("sh")).count())
    Bench.isolate(spark)

    def time(name: String)(mk: => DataFrame): Unit = {
      val secs = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        mk.write.format("noop").mode("overwrite").save()
        val s = (System.nanoTime() - t0) / 1e9
        Bench.isolate(spark); s
      }
      println(f"PROBE $name%-28s min=${secs.min}%7.3f  all=${secs.map(x => f"$x%.3f").mkString(",")}")
    }
    def sh() = Tables.documents(spark, dir)
      .withColumn("toks", expr(TextExpr.toksE))
      .select($"doc_id", explode(expr("shingles_n(toks, 3)")).as("sh"))
    def shArr() = Tables.documents(spark, dir)
      .withColumn("toks", expr(TextExpr.toksE))
      .select($"doc_id", expr("shingles_n(toks, 3)").as("shs"))

    time("verify-exploded") {
      val c = cand()
      val cnt = sh().groupBy($"doc_id").agg(count(lit(1)).as("n"))
      c.join(sh().select($"doc_id".as("a_id"), $"sh"), "a_id")
        .join(sh().select($"doc_id".as("b_id"), $"sh"), Seq("b_id", "sh"))
        .groupBy($"a_id", $"b_id").agg(count(lit(1)).as("inter"))
        .join(cnt.select($"doc_id".as("a_id"), $"n".as("na")), "a_id")
        .join(cnt.select($"doc_id".as("b_id"), $"n".as("nb")), "b_id")
        .select($"a_id", $"b_id",
          round($"inter".cast("double") / ($"na" + $"nb" - $"inter"), 4).as("jaccard"))
        .filter($"jaccard" >= 0.01)
    }
    time("verify-arrays") {
      val c = cand()
      val s1 = shArr()
      c.join(s1.select($"doc_id".as("a_id"), $"shs".as("sa")), "a_id")
        .join(s1.select($"doc_id".as("b_id"), $"shs".as("sb")), "b_id")
        .select($"a_id", $"b_id",
          size(array_intersect($"sa", $"sb")).as("inter"),
          size($"sa").as("na"), size($"sb").as("nb"))
        .select($"a_id", $"b_id",
          round($"inter".cast("double") / ($"na" + $"nb" - $"inter"), 4).as("jaccard"))
        .filter($"jaccard" >= 0.01)
    }
    spark.stop()
  }
}

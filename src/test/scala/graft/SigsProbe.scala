package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Micro-probe for the minhash signature formulations (r21). */
object SigsProbe {
  def main(args: Array[String]): Unit = {
    val dir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val spark = Sessions.local(cores = 32, appName = "graft-sigsprobe")
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    def time(name: String)(mk: => DataFrame): Unit = {
      val secs = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        mk.write.format("noop").mode("overwrite").save()
        val s = (System.nanoTime() - t0) / 1e9
        Bench.isolate(spark)
        s
      }
      println(f"PROBE $name%-28s min=${secs.min}%7.3f  all=${secs.map(x => f"$x%.3f").mkString(",")}")
    }

    val docs = Tables.documents(spark, dir).withColumn("toks", expr(graft.ext.TextExpr.toksE))

    // old formulation
    time("sigs-old-agg") {
      val sh = docs.select($"doc_id", explode(expr(graft.ext.TextExpr.shinglesE)).as("sh"))
      val sigCols = (0 until 8).map(k =>
        min(md5(concat_ws("|", lit(k), $"sh"))).as(s"h$k"))
      sh.groupBy($"doc_id").agg(sigCols.head, sigCols.tail :+ count(lit(1)).as("n"): _*)
    }
    // new expression, raw struct (one evaluation, no filter)
    time("sigs-expr-raw") {
      docs.select($"doc_id", expr("minhash_sigs(toks)").as("sg"))
    }
    // new expression + null filter + field projection (no checkpoint)
    def exprSigs = docs
      .select($"doc_id", expr("minhash_sigs(toks)").as("sg"))
      .filter($"sg".isNotNull)
      .select($"doc_id" +:
        (0 until 8).map(k => $"sg".getField(s"h$k").as(s"h$k")) :+
        $"sg".getField("n").as("n"): _*)
    time("sigs-expr-proj")(exprSigs)
    println("=== executed plan of sigs-expr-proj ===")
    println(exprSigs.queryExecution.executedPlan.toString.take(4000))
    spark.stop()
  }
}

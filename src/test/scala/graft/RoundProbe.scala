package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Is round(double, 4) the 0.9 s in the cosine top-k stage? */
object RoundProbe {
  def main(args: Array[String]): Unit = {
    val dir = "/root/testdata/sf0.1"
    val spark = Sessions.local(cores = 32, appName = "graft-roundprobe")
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    SparkEntry.queries("dedup_embedding_cosine")(spark, "/root/testdata/sf0.001").collect()
    Bench.isolate(spark)
    def time(name: String)(mk: => DataFrame): Unit = {
      val secs = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        mk.write.format("noop").mode("overwrite").save()
        val s = (System.nanoTime() - t0) / 1e9
        Bench.isolate(spark); s
      }
      println(f"PROBE $name%-30s min=${secs.min}%7.3f  all=${secs.map(x => f"$x%.3f").mkString(",")}")
    }
    val P = 8
    val emb = Tables.embeddings(spark, dir)
    def pairs(): DataFrame = {
      val e = emb.select($"vec_id", $"embedding", pmod($"vec_id", lit(P)).as("blk"))
      val a = e.select($"vec_id".as("a_id"), $"embedding".as("va"), $"blk")
        .withColumn("pk", explode(expr(s"transform(sequence(blk, ${P - 1}), j -> blk * $P + j)")))
        .drop("blk")
      val b = e.select($"vec_id".as("b_id"), $"embedding".as("vb"), $"blk")
        .withColumn("pk", explode(expr(s"transform(sequence(0, blk), i -> i * $P + blk)")))
        .drop("blk")
      a.join(b, Seq("pk")).filter(($"pk" % (P + 1) =!= 0) || ($"a_id" < $"b_id"))
    }
    time("top20-rounded")(pairs()
      .select(least($"a_id", $"b_id").as("a_id"), greatest($"a_id", $"b_id").as("b_id"),
        round(expr("cosine_sim(va, vb)"), 4).as("cos"))
      .orderBy($"cos".desc, $"a_id".asc, $"b_id".asc).limit(20))
    time("top20-raw")(pairs()
      .select(least($"a_id", $"b_id").as("a_id"), greatest($"a_id", $"b_id").as("b_id"),
        expr("cosine_sim(va, vb)").as("cos"))
      .orderBy($"cos".desc, $"a_id".asc, $"b_id".asc).limit(20))
    time("round-only-2M")(pairs()
      .select(round(expr("cosine_sim(va, vb)"), 4).as("cos")))
    time("rawcos-only-2M")(pairs()
      .select(expr("cosine_sim(va, vb)").as("cos")))
    spark.stop()
  }
}

package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** r22 probe for the minhashPairs internals and the misc heavy entries
  * (qa_profile, ref_t4, txt_domain_affinity, q16, lm_score).
  *
  *   sbt "Test/runMain graft.PairsProbe /root/testdata/sf0.1 32"
  */
object PairsProbe {
  def main(args: Array[String]): Unit = {
    val dir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val cores = if (args.length > 1) args(1).toInt else 32
    val spark = Sessions.local(cores = cores, appName = "graft-pairsprobe")
    spark.sparkContext.setLogLevel("WARN")
    val Reps = 3

    def time(name: String)(body: => Unit): Unit = {
      val secs = (1 to Reps).map { _ =>
        val t0 = System.nanoTime()
        spark.sparkContext.setJobDescription(s"probe: $name")
        body
        val s = (System.nanoTime() - t0) / 1e9
        Bench.isolate(spark)
        s
      }
      println(f"PROBE $name%-34s min=${secs.min}%7.3f  all=${secs.map(x => f"$x%.3f").mkString(",")}")
    }
    def timeDf(name: String)(mk: => DataFrame): Unit =
      time(name)(mk.write.format("noop").mode("overwrite").save())

    import spark.implicits._
    import graft.ext.Dedup

    // warm-up
    SparkEntry.queries("dedup_minhash_lsh")(spark, "/root/testdata/sf0.001").collect()
    SparkEntry.queries("qa_profile")(spark, "/root/testdata/sf0.001").collect()
    SparkEntry.queries("ref_t4_member_name")(spark, "/root/testdata/sf0.001").collect()
    Bench.isolate(spark)

    val docs = Tables.documents(spark, dir)
    def shingles(): DataFrame = docs
      .withColumn("toks", expr(graft.ext.TextExpr.toksE))
      .select($"doc_id", explode(expr("shingles_n(toks, 3)")).as("sh"))
    def sigsRaw(): DataFrame = docs
      .withColumn("toks", expr(graft.ext.TextExpr.toksE))
      .filter(size($"toks") >= 3)
      .select($"doc_id", expr("minhash_sigs(toks)").as("sg"))
      .select($"doc_id" +:
        (0 until 8).map(k => $"sg".getField(s"h$k").as(s"h$k")) :+
        $"sg".getField("n").as("n"): _*)

    timeDf("shingles-explode")(shingles())
    timeDf("sigs-raw")(sigsRaw())
    time("sigs-localCheckpoint")(sigsRaw().localCheckpoint())
    time("cand-from-sigs") {
      val sigs = sigsRaw().localCheckpoint()
      val bands = sigs.select($"doc_id",
        posexplode(array((0 until 8).map(k => col(s"h$k")): _*)).as(Seq("band", "h")))
      val l = bands.select($"doc_id".as("a_id"), $"band", $"h")
      val r = bands.select($"doc_id".as("b_id"), $"band", $"h")
      l.join(r, Seq("band", "h")).filter($"a_id" < $"b_id")
        .select($"a_id", $"b_id").distinct()
        .write.format("noop").mode("overwrite").save()
    }
    timeDf("pairs-full")(Dedup.minhashPairs(spark, dir))

    timeDf("qa_profile")(SparkEntry.queries("qa_profile")(spark, dir))
    timeDf("qa_profile-events-scan")(Tables.eventsNorm(spark, dir))
    time("qa_profile-nodistinct") {
      val ev = Tables.eventsNorm(spark, dir)
      val cols = Seq("event_id", "ts", "user_id", "event_type", "value", "props")
      val aggs = cols.flatMap { c => Seq(
        sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"${c}_nulls"),
        min(col(c)).cast("string").as(s"${c}_min"),
        max(col(c)).cast("string").as(s"${c}_max")) }
      ev.agg(aggs.head, aggs.tail: _*)
        .write.format("noop").mode("overwrite").save()
    }
    time("qa_profile-percol-distinct") {
      val ev = Tables.eventsNorm(spark, dir)
      val cols = Seq("event_id", "ts", "user_id", "event_type", "value", "props")
      cols.map(c => ev.select(col(c)).agg(countDistinct(col(c)).as("d")))
        .reduce(_.unionAll(_))
        .write.format("noop").mode("overwrite").save()
    }

    timeDf("ref_t4_member_name")(SparkEntry.queries("ref_t4_member_name")(spark, dir))
    timeDf("txt_domain_affinity")(SparkEntry.queries("txt_domain_affinity")(spark, dir))
    timeDf("q16_distinct_suppliers")(SparkEntry.queries("q16_distinct_suppliers")(spark, dir))
    timeDf("txt_lm_score")(SparkEntry.queries("txt_lm_score")(spark, dir))
    timeDf("qx_approx_distinct")(SparkEntry.queries("qx_approx_distinct")(spark, dir))
    timeDf("qx_approx_quantiles")(SparkEntry.queries("qx_approx_quantiles")(spark, dir))
    timeDf("qx_exact_quantiles")(SparkEntry.queries("qx_exact_quantiles")(spark, dir))
    timeDf("dedup_embedding_cosine")(SparkEntry.queries("dedup_embedding_cosine")(spark, dir))
    timeDf("q11_important_parts")(SparkEntry.queries("q11_important_parts")(spark, dir))
    spark.stop()
  }
}

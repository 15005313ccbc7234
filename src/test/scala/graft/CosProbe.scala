package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** r22 probe: where does dedup_embedding_cosine's time go, and which
  * ref_t4 expression dominates?
  *
  *   sbt "Test/runMain graft.CosProbe /root/testdata/sf0.1 32"
  */
object CosProbe {
  def main(args: Array[String]): Unit = {
    val dir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val cores = if (args.length > 1) args(1).toInt else 32
    val spark = Sessions.local(cores = cores, appName = "graft-cosprobe")
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

    SparkEntry.queries("dedup_embedding_cosine")(spark, "/root/testdata/sf0.001").collect()
    SparkEntry.queries("ref_t4_member_name")(spark, "/root/testdata/sf0.001").collect()
    Bench.isolate(spark)

    val emb = Tables.embeddings(spark, dir)
    println("n_embeddings=" + emb.count() + " dim=" + emb.select(size($"embedding")).head().getInt(0))

    timeDf("cosine-full-entry")(SparkEntry.queries("dedup_embedding_cosine")(spark, dir))

    def blockJoin(P: Int): DataFrame = {
      val e = emb.select($"vec_id", $"embedding", pmod($"vec_id", lit(P)).as("blk"))
      val a = e.select($"vec_id".as("a_id"), $"embedding".as("va"), $"blk")
        .withColumn("pk", explode(expr(s"transform(sequence(blk, ${P - 1}), j -> blk * $P + j)")))
        .drop("blk")
      val b = e.select($"vec_id".as("b_id"), $"embedding".as("vb"), $"blk")
        .withColumn("pk", explode(expr(s"transform(sequence(0, blk), i -> i * $P + blk)")))
        .drop("blk")
      a.join(b, Seq("pk")).filter(($"pk" % (P + 1) =!= 0) || ($"a_id" < $"b_id"))
    }
    // join-only floor: count pairs without touching the vectors
    time("cosine-join-count-P8") {
      println("   pairs=" + blockJoin(8).count())
    }
    timeDf("cosine-pairs-dotonly-P8") {
      blockJoin(8).select($"a_id", $"b_id", expr("dot_product(va, vb)").as("d"))
    }
    timeDf("cosine-pairs-cossim-P8") {
      blockJoin(8).select($"a_id", $"b_id", expr("cosine_sim(va, vb)").as("d"))
    }
    timeDf("cosine-pairs-top20-P8") {
      blockJoin(8).select(least($"a_id", $"b_id").as("a_id"),
          greatest($"a_id", $"b_id").as("b_id"),
          round(expr("cosine_sim(va, vb)"), 4).as("cos"))
        .orderBy($"cos".desc, $"a_id".asc, $"b_id".asc).limit(20)
    }
    timeDf("cosine-P32") {
      val P = 32
      val e = emb.select($"vec_id", $"embedding", pmod($"vec_id", lit(P)).as("blk"))
      val a = e.select($"vec_id".as("a_id"), $"embedding".as("va"), $"blk")
        .withColumn("pk", explode(expr(s"transform(sequence(blk, ${P - 1}), j -> blk * $P + j)")))
        .drop("blk")
      val b = e.select($"vec_id".as("b_id"), $"embedding".as("vb"), $"blk")
        .withColumn("pk", explode(expr(s"transform(sequence(0, blk), i -> i * $P + blk)")))
        .drop("blk")
      a.join(b, Seq("pk")).filter(($"pk" % (P + 1) =!= 0) || ($"a_id" < $"b_id"))
        .select(least($"a_id", $"b_id").as("a_id"), greatest($"a_id", $"b_id").as("b_id"),
          round(expr("cosine_sim(va, vb)"), 4).as("cos"))
        .orderBy($"cos".desc, $"a_id".asc, $"b_id".asc).limit(20)
    }

    // ---- ref_t4 expression costs over the synthesized member events
    val ev = Tables.eventsNorm(spark, dir)
    println("n_events=" + ev.count())
    val dnCol = when(pmod($"user_id", lit(11L)) === 0, lit(""))
      .when(pmod($"user_id", lit(13L)) === 0, lit("@imp:x"))
      .otherwise(concat(lit("N"), pmod($"user_id", lit(7L))))
    val raw = ev.select(
      concat(lit("$m"), $"event_id", lit(":x")).as("event_id"),
      concat(lit("!r"), pmod($"event_id", lit(50L)), lit(":x")).as("room_id"),
      concat(lit("@u"), $"user_id", lit(":x")).as("sender"),
      lit("m.room.member").as("event_type"),
      unix_micros($"ts").as("origin_server_ts"),
      concat(lit("{\"membership\":\"join\",\"displayname\":\""), dnCol, lit("\"}")).as("content"),
      lit(null).cast("string").as("relates_to"),
      lit(false).as("is_encrypted"),
      lit(false).as("to_start_of_timeline"),
      lit(null).cast("string").as("error"))

    timeDf("t4-raw-only")(raw)
    timeDf("t4-getjson-membership")(raw.select(get_json_object($"content", "$.membership").as("m")))
    timeDf("t4-getjson-x3")(raw.select(
      get_json_object($"content", "$.membership").as("m"),
      get_json_object($"content", "$.displayname").as("d"),
      get_json_object($"content", "$.avatar_url").as("a")))
    timeDf("t4-variant-dnIsString")(raw.select(
      (schema_of_variant(try_variant_get(try_parse_json($"content"), "$.displayname", "variant")) <=> lit("STRING")).as("b")))
    time("t4-nfd-strip") {
      raw.select(regexp_replace(call_function("nfd_normalize",
        get_json_object($"content", "$.displayname")),
        "[\\s\\u00A0\\u1680\\u2000-\\u200F\\u2028\\u2029\\u202A-\\u202F" +
          "\\u205F\\u3000\\uFEFF\\u061C\\u0300-\\u036F]", "").as("x"))
        .write.format("noop").mode("overwrite").save()
    }
    timeDf("t4-rlike-x2")(raw.select(
      (get_json_object($"content", "$.displayname").rlike("@.+:.+") ||
        get_json_object($"content", "$.displayname").rlike("[\\u200E\\u200F\\u202A-\\u202F]")).as("f")))
    timeDf("t4-full-entry")(SparkEntry.queries("ref_t4_member_name")(spark, dir))
    spark.stop()
  }
}

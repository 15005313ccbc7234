package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Bench
import graft.etl.Ingest

/** Adversarial-skew bound of the T4 collision window (VERDICT r16 #4).
  *
  * The duplicate-name disambiguation window partitions by
  * (room_id, stripped-name); round 16 hardened its aggregation from
  * `size(collect_set(user_id)) > 1` to `min(user_id) ≠ max(user_id)`
  * (Ingest.scala) claiming CONSTANT aggregation state per partition.
  * This smoke proves the claim the decade way, against the worst case
  * the partitioning allows: ONE room in which EVERY member shares ONE
  * stripped displayname — the whole batch collapses into a single
  * window partition (the collect_set killer: its state would hold the
  * entire member list).
  *
  * Extracted-code discipline: the timed call IS
  * `Ingest.projectParticipant` — the production projection, both of
  * its windows included — driven to full evaluation by an aggregate
  * over the rendered names. Two batch shapes of IDENTICAL size per
  * decade ×1/×10/×100 (100k → 10M member events at sf0.1):
  *
  *  - BENIGN: rooms spread (1000·K rooms), names from a 97-name pool —
  *    window partitions of ~1–2 rows, the realistic shape;
  *  - ADVERSARIAL: one room, one shared name, all-distinct members —
  *    one window partition holding the entire batch; every member
  *    must render disambiguated.
  *
  * Pass condition: adversarial wall tracks BATCH SIZE (~linear in K),
  * not collision multiplicity (quadratic would show K² between
  * decades). The adversarial case serializes its single partition into
  * one task by construction — a constant-factor penalty vs the benign
  * spread, not a growth-rate change; both series are printed so the
  * two effects stay separable.
  *
  * The KILLED MUTANT is also measured (clearly labeled, tool-local,
  * never production code): the same single-partition batch through a
  * `size(collect_set(user_id).over(window)) > 1` plan — its per-
  * partition state is O(members), so its decade series records what
  * the min/max hardening avoided (memory-bound state growth; wall
  * and/or spill divergence).
  *
  * Usage: sbt "runMain graft.tools.SkewSmoke"   (sf via
  * SPARK_GRAFT_SF_DIR, default sf0.1). The mutant series defaults to
  * the ×1 point only: measured (PLANS.md round 17), the mutant is
  * already ~170× the production wall at 100k rows (180.9 s vs
  * 1.08 s), so its next decade is ≥ tens of minutes for no extra
  * signal — set GRAFT_SKEW_MUTANT_FULL=1 to run ×10/×100 anyway.
  * (In the mutant the adversarial batch's literal room/name keys get
  * constant-folded out of the partition spec — Spark then warns "No
  * Partition Defined"; semantically identical here, since the whole
  * batch is one partition by construction either way.)
  */
object SkewSmoke {

  def main(args: Array[String]): Unit = {
    val sf = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // ts normalized at the reader boundary (identity on current
    // timestamp[us] testdata; truncating div on a legacy nanos-as-Long
    // generation) so the unix_millis(ts) in the shape fns is always
    // analyzable — the back-compat the session's nanosAsLong opts into.
    def events: DataFrame = graft.Tables.eventsNorm(spark, sf)

    def shape(i: Int, room: org.apache.spark.sql.Column,
        dn: org.apache.spark.sql.Column): DataFrame = events.select(
      concat(lit("$k"), col("event_id") + lit(i * 10000000L), lit(":x"))
        .as("event_id"),
      room.as("room_id"),
      // all-distinct senders: collision multiplicity == batch size
      concat(lit("@s"), col("event_id") + lit(i * 10000000L), lit(":x"))
        .as("sender"),
      lit("m.room.member").as("event_type"),
      unix_millis(col("ts")).as("origin_server_ts"),
      concat(lit("{\"membership\":\"join\",\"displayname\":\""), dn, lit("\"}"))
        .as("content"),
      lit(null).cast("string").as("relates_to"),
      lit(false).as("is_encrypted"),
      lit(false).as("to_start_of_timeline"),
      lit(null).cast("string").as("error"))

    /** rooms spread, 97-name pool → ~1–2-row window partitions. */
    def benign(k: Int): DataFrame = (0 until k).map(i =>
      shape(i,
        concat(lit("!r"), pmod(col("event_id"), lit(1000L)) + lit(i * 1000L), lit(":x")),
        concat(lit("Name"), pmod(col("event_id"), lit(97L))))).reduce(_ unionByName _)

    /** one room, one shared name → ONE window partition of N rows. */
    def adversarial(k: Int): DataFrame = (0 until k).map(i =>
      shape(i, lit("!evil:x"), lit("Same Name"))).reduce(_ unionByName _)

    def timed(body: => Unit): Double = {
      val t0 = System.nanoTime()
      body
      val sec = (System.nanoTime() - t0) / 1e9
      Bench.isolate(spark)
      sec
    }

    /** Drive the PRODUCTION projection to full evaluation; returns
      * (rows, disambiguated) for the correctness side-check. */
    def runProjection(batch: DataFrame): (Long, Long) = {
      val r = Ingest.projectParticipant(batch)
        .agg(count(lit(1)).as("n"),
          sum(when(col("display_name").contains(" (@"), 1L).otherwise(0L))
            .as("disamb"))
        .collect()(0)
      (r.getAs[Long]("n"), r.getAs[Long]("disamb"))
    }

    /** The killed mutant, tool-local: O(members) window state. */
    def runMutant(batch: DataFrame): Long = {
      val w = Window.partitionBy(col("room_id"), col("__dn"))
      batch
        .select(col("room_id"), col("sender"),
          get_json_object(col("content"), "$.displayname").as("__dn"))
        .withColumn("__collide", size(collect_set(col("sender")).over(w)) > 1)
        .agg(sum(when(col("__collide"), 1L).otherwise(0L)).as("n"))
        .collect()(0).getAs[Long]("n")
    }

    // JIT warm-up, untimed
    runProjection(benign(1))
    Bench.isolate(spark)

    for (k <- Seq(1, 10, 100)) {
      val nb = benign(k).cache(); val nbRows = nb.count()
      val sb = Seq.fill(2)(timed { runProjection(nb); () }).min
      val (bn, bd) = runProjection(nb)
      nb.unpersist()
      val na = adversarial(k).cache(); val naRows = na.count()
      val sa = Seq.fill(2)(timed { runProjection(na); () }).min
      val (an, ad) = runProjection(na)
      assert(an == ad, s"adversarial x$k: all $an members share one name, " +
        s"all must disambiguate — got $ad")
      na.unpersist()
      println(f"""{"skew":"production","scale":$k,"rows":$nbRows,"benign_min2_sec":$sb%.2f,"adversarial_rows":$naRows,"adversarial_min2_sec":$sa%.2f,"adv_disambiguated":$ad}""")
    }

    val mutantScales =
      if (sys.env.get("GRAFT_SKEW_MUTANT_FULL").contains("1")) Seq(1, 10, 100)
      else Seq(1)
    for (k <- mutantScales) {
      val na = adversarial(k).cache(); na.count()
      val sm = Seq.fill(2)(timed { runMutant(na); () }).min
      na.unpersist()
      println(f"""{"skew":"mutant_collect_set","scale":$k,"adversarial_min2_sec":$sm%.2f}""")
    }
    spark.stop()
  }
}

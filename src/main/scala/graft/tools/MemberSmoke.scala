package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Bench
import graft.etl.Ingest

/** ×K decade smoke for the T4 member projection — the one hot path this
  * round added a shuffle to (the display-name disambiguation window
  * over (room_id, stripped name), matrix-js-sdk calculateDisplayName ≙
  * db.utils.ts:89-97).
  *
  * Extracted-code discipline: the timed call IS
  * [[graft.etl.Ingest.projectParticipant]] — the production projection
  * with its VARIANT typeof introspection, NFD-normalized collision key,
  * window, and force-disambiguation rules — not a reimplementation.
  *
  * Corpus: sf0.1 events re-expressed as m.room.member events, ×K by
  * re-keyed copies with DISJOINT rooms per copy (1000 rooms/copy, ~100
  * members/room) — growth adds rooms at constant per-room mass, the
  * realistic shape: a bigger federation has more rooms, not thousand-
  * fold busier ones. Displaynames mix the semantics the projection
  * implements: a 97-name pool (room-scoped collisions), a composed/
  * decomposed NFD pair on the same stripped key, numeric (non-STRING →
  * falsy) and absent (falsy) names.
  *
  * Two scale claims this measures:
  *  1. wall ~linear in events — the window shuffle is the only wide
  *     stage, and its partition count follows the cluster, not the
  *     corpus;
  *  2. the window's partition mass is BOUNDED: max rows per
  *     (room_id, stripped-name) group must stay ~constant across
  *     decades (rooms grow in number, not in size), so no fat-partition
  *     skew appears at ×100 — the property that makes the one added
  *     shuffle safe at 100 TB.
  * Plus a correctness-at-scale invariant: rooms are disjoint across
  * copies, so copy-0's rendered names must be BYTE-IDENTICAL at every
  * K (checksummed) — scale must not change what anyone is called.
  *
  * Usage: sbt "runMain graft.tools.MemberSmoke"
  */
object MemberSmoke {

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

    /** Shared generator — see [[MemberCorpus.memberShape]] (extracted
      * so [[StateSmoke]] measures the same corpus shape). */
    def memberShape(ev: DataFrame, i: Int): DataFrame =
      MemberCorpus.memberShape(ev, i)

    def corpus(k: Int): DataFrame =
      (0 until k).map(memberShape(events, _)).reduce(_ unionByName _)

    def timed[A](body: => A): (Double, A) = {
      val t0 = System.nanoTime()
      val a = body
      val sec = (System.nanoTime() - t0) / 1e9
      Bench.isolate(spark)
      (sec, a)
    }

    // JIT warm-up (untimed): the full measured flow on a slice
    {
      val p = Ingest.projectParticipant(memberShape(events, 0)
        .filter(pmod(col("origin_server_ts"), lit(10L)) === 0L))
      p.agg(expr("bit_xor(xxhash64(user_id, display_name))")).collect()
      Bench.isolate(spark)
    }

    var checksum0: Option[Long] = None
    for (k <- Seq(1, 10, 100)) {
      val raw = corpus(k)
      // wall: the FULL projection, display_name forced for every row
      // (a bare count could let the optimizer prune the window away)
      val (sec, agg) = timed {
        Ingest.projectParticipant(raw)
          .agg(expr("bit_xor(xxhash64(user_id, room_id, display_name))").as("sum"),
            count(lit(1)).as("n"),
            sum(when(col("display_name").contains(" (@"), 1L).otherwise(0L)).as("disamb"))
          .collect()(0)
      }
      // copy-0 slice checksum: disjoint rooms ⇒ other copies must not
      // change copy-0's rendered names, at any K
      val c0 = Ingest.projectParticipant(raw)
        // copy-0 rooms are !r0..!r999 — numeric compare (string order
        // would put "!r999" above "!r1000")
        .filter(regexp_extract(col("room_id"), "!r(\\d+):x", 1).cast("long") < 1000L)
        .agg(expr("bit_xor(xxhash64(user_id, room_id, display_name))"))
        .collect()(0).getLong(0)
      checksum0 match {
        case None => checksum0 = Some(c0)
        case Some(prev) => assert(prev == c0,
          s"copy-0 names changed under growth at x$k: $prev != $c0")
      }
      // bounded-partition evidence: the window's heaviest
      // (room, stripped-name) group — must not grow with K
      // restrict to real string names (modes 0-7): production gives
      // falsy rows per-user sentinel keys, so the numeric/absent modes
      // never form a shared window partition
      val dn = get_json_object(col("content"), "$.displayname")
      val maxGroup = raw
        .filter(dn.isNotNull && !dn.rlike("^[0-9]+$"))
        .groupBy(col("room_id"), call_function("nfd_normalize", dn))
        .count().agg(max("count")).collect()(0).getLong(0)
      println(f"""{"member_smoke":{"scale":$k,"sec":$sec%.2f,"rows":${agg.getAs[Long]("n")},"disambiguated":${agg.getAs[Long]("disamb")},"max_window_group":$maxGroup,"copy0_checksum_stable":true}}""")
    }
    spark.stop()
  }
}

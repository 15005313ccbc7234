package graft.tools

import java.nio.file.{Files, Paths}
import scala.sys.process._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Bench
import graft.etl.{Catalog, Ingest, MergeWriter, Pipeline}

/** ×K decade smoke for the T4 room-state consult — the per-batch read
  * the roomState-scoped disambiguation added to the incremental path
  * (matrix-js-sdk calculateDisplayName consults live roomState; here
  * [[Pipeline.applyBatch]] consults the persisted participants
  * snapshot through [[Catalog.readForKeys]] bucket pruning).
  *
  * Extracted-code discipline: the timed call IS `Pipeline.applyBatch`
  * — the production micro-batch body, including the member-room
  * collect, the bucket-pruned state read, the union window and the L2
  * merge — against participants snapshots pre-grown ×1/×10/×100
  * through the production projection + upsert. Not a reimplementation.
  *
  * The measured batch is K-INVARIANT: the same ~6k-event joiner batch
  * (NEW users joining 64 copy-0 rooms, displaynames drawn from the
  * seeded collision pool so they MUST disambiguate against persisted
  * state) lands on every decade — wall growth isolates snapshot size.
  *
  * Two bucket layouts per decade, the same honest/deployment split as
  * [[WriteSmoke]]:
  *  - FIXED 16 buckets: 64 rooms hash over all 16 buckets, so the
  *    consult opens ~the whole snapshot and cost grows ~K — the honest
  *    record that a fixed bucket count does not scale.
  *  - GROWN 16·K buckets (SURVEY §2.4 "thousands at cluster scale"):
  *    the 64 touched rooms land in ≤64 of 16·K buckets, per-bucket
  *    mass is ~constant, so rows-opened and wall stay ~flat — the
  *    shape a 1000-executor cluster runs.
  *
  * Correctness-at-scale invariant: the joiner rooms hold exactly the
  * copy-0 members at every K and every layout, so the batch's rendered
  * names must be BYTE-IDENTICAL across all runs (checksummed) — scale
  * must not change what anyone is called.
  *
  * Usage: sbt "runMain graft.tools.StateSmoke"
  */
object StateSmoke {

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

    def corpus(k: Int): DataFrame =
      (0 until k).map(MemberCorpus.memberShape(events, _)).reduce(_ unionByName _)

    /** K-invariant joiner batch: NEW users (@n… senders, event ids
      * offset far above every copy's range) joining the 64 copy-0
      * rooms, names from the same pool as the seeded members — so the
      * batch collides with PERSISTED rows, not with itself alone. */
    def joiners: DataFrame = MemberCorpus.memberShape(
      events.filter(pmod(col("event_id"), lit(1000L)) < 64),
      0, senderPrefix = "@n", idOffset = 3000000000L)

    val joinerRooms = (0 until 64).map(i => s"!r$i:x")

    def timed[A](body: => A): (Double, A) = {
      val t0 = System.nanoTime()
      val a = body
      val sec = (System.nanoTime() - t0) / 1e9
      Bench.isolate(spark)
      (sec, a)
    }

    /** Pristine ×K participants snapshot, seeded once per (k, buckets)
      * through the production projection (backfill scope: the corpus IS
      * the room state) + the Pipeline's exact L2 merge config. */
    def pristine(k: Int, buckets: Int): String = {
      val dir = s"/tmp/graft-scale/member-state/v1/${Paths.get(sf).getFileName}/x$k-b$buckets"
      if (!Files.exists(Paths.get(s"$dir/participants"))
          || MergeWriter.currentVersion(s"$dir/participants").isEmpty) {
        val cat = Catalog(dir, messageBuckets = buckets)
        cat.bootstrap()
        val (ok, _) = Ingest.quarantine(Ingest.projectParticipant(corpus(k)))
        val (sec, r) = timed(cat.upsert(spark, "participants",
          ok.drop("event_id", "error"),
          keys = Seq("user_id", "room_id"), orderBy = Seq("joined_ts"),
          changeCols = Some(Seq("display_name", "avatar_url", "membership"))))
        println(f"""{"state":"seed","scale":$k,"buckets":$buckets,"sec":$sec%.2f,"rows":${r.rows}}""")
      }
      dir
    }

    def workCopy(k: Int, buckets: Int, tag: String): Catalog = {
      val src = pristine(k, buckets)
      val dst = s"/tmp/graft-scale/member-state/work/${Paths.get(sf).getFileName}/x$k-b$buckets-$tag"
      if (Files.exists(Paths.get(dst))) Seq("rm", "-rf", dst).!
      Files.createDirectories(Paths.get(dst).getParent)
      Seq("cp", "-r", src, dst).!
      Catalog(dst, messageBuckets = buckets)
    }

    val b = joiners.cache()
    val batchRows = b.count()

    // JIT warm-up (untimed): the full measured flow at ×1/4-buckets
    {
      val cat = workCopy(1, 4, "warm")
      Pipeline(cat).applyBatch(spark, b, batchId = 1L)
      Bench.isolate(spark)
    }

    var checksum: Option[(Long, Long, Long)] = None
    for (k <- Seq(1, 10, 100); buckets <- Seq(16, 16 * k).distinct) {
      // pruning evidence (untimed): rows the consult's physical read
      // opens vs the full snapshot — the readForKeys bucket superset
      val catProbe = workCopy(k, buckets, "probe")
      val opened = catProbe.readForKeys(spark, "participants", joinerRooms).count()
      val total = catProbe.read(spark, "participants").count()

      // the REAL micro-batch body, min of 2 on fresh copies
      val (s1, _) = { val c = workCopy(k, buckets, "a")
        timed(Pipeline(c).applyBatch(spark, b, batchId = 1L)) }
      val catB = workCopy(k, buckets, "b")
      val (s2, _) = timed(Pipeline(catB).applyBatch(spark, b, batchId = 1L))
      val sec = math.min(s1, s2)

      // the batch's rendered names: disambiguation mass + byte-identity
      // across every decade and layout
      val r = catB.read(spark, "participants")
        .filter(col("user_id").startsWith("@n"))
        .agg(expr("bit_xor(xxhash64(user_id, room_id, display_name))").as("chk"),
          count(lit(1)).as("n"),
          sum(when(col("display_name").contains(" (@"), 1L).otherwise(0L)).as("disamb"))
        .collect()(0)
      val trip = (r.getAs[Long]("chk"), r.getAs[Long]("n"), r.getAs[Long]("disamb"))
      checksum match {
        case None => checksum = Some(trip)
        case Some(prev) => assert(prev == trip,
          s"joiner names changed under growth at x$k/b$buckets: $prev != $trip")
      }
      println(f"""{"state":"consult","scale":$k,"buckets":$buckets,"min_of_2_sec":$sec%.2f,"batch":$batchRows,"rows_opened":$opened,"snapshot_rows":$total,"new_users":${trip._2},"disambiguated":${trip._3},"names_stable":true}""")
    }
    spark.stop()
  }
}

package graft.ext

import graft.etl.MergeWriter
import org.apache.spark.sql.{DataFrame, MicroBatch, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}

/** STREAMING corpus pipeline (r18 VERDICT item 5) — the shape a
  * production training-data pipeline actually runs: documents ARRIVE in
  * micro-batches, and each batch flows through the same stages the
  * batch pipeline (`pipe_corpus_end2end`) composes, incrementally:
  *
  *   gate ∩ decontaminate  (per-doc verdicts — the registered
  *                          txt_gopher_gate / txt_decontaminate builds,
  *                          restricted to the batch's docs)
  *   → delta near-dup pairs ([[Dedup.minhashPairsDelta]] at
  *     [[Pipe.DedupTau]], both endpoints restricted to ARRIVED docs —
  *     a pair with a not-yet-arrived endpoint materializes when that
  *     doc's own batch lands)
  *   → frontier cluster assignment ([[Cluster.assignIncremental]]
  *     against the COMMITTED assignment snapshot; stable old-root ids)
  *   → keeper re-election (max quality, tie → min doc_id, per cluster
  *     over arrived survivors) MERGED into the keeper table, with an
  *     FK-style cascade dropping keepers of clusters that were absorbed
  *     into another (the Catalog.cascadeDelete shape — an upsert alone
  *     would leak rows for merged-away cluster ids).
  *
  * State = two MergeWriter tables (versioned segments, atomic pointer
  * swap): `asg(doc_id, comp)` and `keepers(cluster_id, doc_id,
  * quality)`. Re-delivery safety: a replayed batch's docs are dropped
  * by an anti-join against the committed assignment (the L1 upsert
  * discipline), so `applyBatch` is idempotent at the CONTENT level —
  * the invariant StreamingPipeSpec pins is final-state ≡ the batch
  * pipeline's election whatever the arrival order (the incremental ≡
  * batch law, lifted end-to-end).
  *
  * Scale notes: the per-batch cost is |delta|-proportional (delta pair
  * generation + frontier-only iteration — the decades PLANS.md round
  * 18 §6 and §10 measured), plus one bounded election window. The batch
  * membership predicate rides `isInCollection` over the micro-batch's
  * ids up to [[MaxFreshIds]]; a backfill-sized batch falls back to the
  * left-semi-join probe ([[Dedup.minhashPairsDeltaIds]]) with the ids
  * never collected to the driver (r19 finding #5, closed). The
  * gate/quality verdicts are per-doc scans of the batch only;
  * decontamination probes the FIXED benchmark set (broadcast — the
  * txt_decontaminate scaling note).
  *
  * Reference basis: the incremental-vs-initial sync branch of
  * /root/reference/src/app/matrix/client.ts:304-314 (one-shot drain ≙
  * Trigger.AvailableNow, checkpoint ≙ sync token), lifted to the
  * dedup domain per the builder brief.
  */
object StreamingPipe {

  val asgSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("comp", LongType)))

  val keeperSchema: StructType = StructType(Seq(
    StructField("cluster_id", LongType),
    StructField("doc_id", LongType),
    StructField("quality", DoubleType)))

  def asgDir(stateRoot: String): String = s"$stateRoot/asg"
  def keeperDir(stateRoot: String): String = s"$stateRoot/keepers"

  /** Cap on the driver-side fresh-id collect (r19 VERDICT finding #5):
    * up to this many fresh docs the batch-membership predicate rides an
    * IN-list (`isInCollection` — cheap, no extra join); above it — a
    * backfill-sized first batch — the ids stay distributed and the
    * delta probe takes a left-semi join instead
    * ([[Dedup.minhashPairsDeltaIds]]). The Pipeline.MaxPrunedRooms
    * discipline: a bound plus a fallback, never an uncapped collect. */
  val MaxFreshIds = 4096

  /** Drain every available micro-batch from `srcDir` (parquet files of
    * `doc_id BIGINT` arrivals; one file ≈ one ingest chunk) through
    * [[applyBatch]], checkpointed — the Streaming.runOnce discipline.
    * `maxFilesPerTrigger = 1` keeps one file per micro-batch so arrival
    * order is the on-disk file order. */
  def runOnce(spark: SparkSession, srcDir: String, ckpt: String,
      stateRoot: String, corpusDir: String,
      maxFreshIds: Int = MaxFreshIds): Unit = {
    val src = spark.readStream
      .schema(StructType(Seq(StructField("doc_id", LongType))))
      .option("maxFilesPerTrigger", 1)
      .parquet(srcDir)
    val q = src.writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        applyBatch(spark, MicroBatch.rehome(spark, batch), corpusDir, stateRoot, maxFreshIds)
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  private def streamRoot(s: SparkSession, dir: String): String =
    StoreRoot.resolve(s, dir, "GRAFT_STREAM_STORE_DIR", "stream-store",
      graft.Tables.documents, "doc_id")

  /** The streamed-drain state for `pipe_streaming_persisted`: the
    * corpus arrives in three interleaved micro-batches (doc_id % 3 —
    * small ids keep arriving in LATER batches, so the stable-old-root
    * rule and the absorbed-cluster cascade both fire, not vacuously),
    * drained through [[runOnce]]
    * (Trigger.AvailableNow, checkpointed, real MergeWriter commits per
    * batch). Returns the state root holding the final asg + keeper
    * snapshots. The gated surface downstream is arrival-order INVARIANT
    * (canonical component key, size, keeper, quality — the
    * StreamingPipeSpec law), so file-listing order inside the drain
    * cannot perturb the oracle compare. */
  private[graft] def materializeStreamed(s: SparkSession, dir: String): String = {
    val root = streamRoot(s, dir)
    val stateRoot = s"$root/state"
    StoreRoot.once(root) {
      val src = s"$root/src"
      val docs = graft.Tables.documents(s, dir).select(col("doc_id"))
      for (b <- 0 to 2)
        docs.filter(pmod(col("doc_id"), lit(3)) === b)
          .coalesce(1).write.mode("append").parquet(src)
      runOnce(s, src, s"$root/ckpt", stateRoot, dir)
    }
    stateRoot
  }

  /** One micro-batch of arrivals: assign incrementally, re-elect
    * keepers. Idempotent on re-delivery (already-assigned docs are
    * anti-joined away before touching state). `maxFreshIds` bounds the
    * driver-side id collect — above it the delta probe switches to the
    * join-based path (spec-exercised; identical end state). */
  def applyBatch(s: SparkSession, batch: DataFrame, corpusDir: String,
      stateRoot: String, maxFreshIds: Int = MaxFreshIds): Unit = {
    import s.implicits._
    val aDir = asgDir(stateRoot)
    val kDir = keeperDir(stateRoot)

    val oldAsg = MergeWriter.readSnapshot(s, aDir, asgSchema)
      .select($"doc_id".as("id"), $"comp")
    // re-delivery guard: only docs NOT already assigned enter the loop
    val fresh = batch.select($"doc_id".cast("long").as("id")).distinct()
      .join(oldAsg.select($"id"), Seq("id"), "left_anti")
      .localCheckpoint() // small (≤ batch); read 3× below
    val nFresh = fresh.count()
    if (nFresh > 0) {
      // delta pairs at the DELETION threshold, endpoints ∈ arrived ∪ batch
      val arrived = oldAsg.select($"id").union(fresh).localCheckpoint()
      val deltaRaw =
        if (nFresh <= maxFreshIds) {
          // bounded: the id list fits a plan-side IN predicate
          val freshIds = fresh.collect().map(_.getLong(0)).toSeq
          Dedup.minhashPairsDelta(s, corpusDir, c => c.isInCollection(freshIds))
        } else
          // backfill-sized batch: ids stay distributed, semi-join probe
          Dedup.minhashPairsDeltaIds(s, corpusDir, fresh.select($"id".as("doc_id")))
      val delta = deltaRaw
        .filter($"jaccard" >= Pipe.DedupTau)
        .join(arrived.select($"id".as("a_id")), Seq("a_id"), "left_semi")
        .join(arrived.select($"id".as("b_id")), Seq("b_id"), "left_semi")
        .select($"a_id".as("src"), $"b_id".as("dst"))
      val asg2 = Cluster.assignIncremental(oldAsg, fresh, delta)
      MergeWriter.merge(s, aDir,
        asg2.select($"id".as("doc_id"), $"comp"),
        keys = Seq("doc_id"), orderBy = Seq("comp"),
        changeCols = Some(Seq("comp")))
      ()
    }

    // keeper re-election over ALL arrived survivors at the new
    // assignment (the survivor-scoped election of pipe_corpus_end2end)
    val asgNow = MergeWriter.readSnapshot(s, aDir, asgSchema)
    val gate = TextStats.defs("txt_gopher_gate").build(s, corpusDir)
      .filter($"keep").select($"doc_id")
    val decon = TextStats.defs("txt_decontaminate").build(s, corpusDir)
      .filter(!$"contaminated").select($"doc_id")
    val qual = TextStats.defs("txt_quality_score").build(s, corpusDir)
      .select($"doc_id", $"quality")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"comp").orderBy($"quality".desc, $"doc_id".asc)
    val elected = asgNow.join(gate, "doc_id").join(decon, "doc_id")
      .join(qual, "doc_id")
      .withColumn("rk", row_number().over(w))
      .filter($"rk" === 1)
      .select($"comp".as("cluster_id"), $"doc_id", $"quality")
    MergeWriter.merge(s, kDir, elected,
      keys = Seq("cluster_id"), orderBy = Seq("doc_id"),
      changeCols = Some(Seq("doc_id", "quality")))

    // cascade: a cluster absorbed into a smaller old root this batch
    // leaves its keeper row ORPHANED (its cluster_id is no longer any
    // doc's comp) — drop it, or the keeper table grows stale rows the
    // batch pipeline would never emit
    val live = asgNow.select($"comp").distinct()
    MergeWriter.publish(s, kDir, base => {
      val keepers = base match {
        case Some(v) => MergeWriter.readVersion(s, kDir, keeperSchema, v)
        case None => MergeWriter.readSnapshot(s, kDir, keeperSchema)
      }
      keepers.join(live, $"cluster_id" === $"comp", "left_semi")
    }, None)
    ()
  }
}

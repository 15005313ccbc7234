package graft.etl

import org.apache.spark.sql.{DataFrame, MicroBatch, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Structured-Streaming ingest: the Spark re-expression of the
  * reference's /sync loop (SURVEY §2.7).
  *
  *  - source: file stream over raw-event parquet (the stand-in for the
  *    homeserver long-poll; `maxFilesPerTrigger` ≈ initialSyncLimit,
  *    client.ts:90);
  *  - per micro-batch: T1→T2→T3 projection then MergeWriter upsert on
  *    `event_id` — at-least-once delivery + idempotent merge =
  *    effectively-once, exactly the reference's contract
  *    (db.utils.ts:36-47);
  *  - checkpointLocation ≙ the `sync_state.next_batch` token
  *    (db.utils.ts:271-290): resume-from-checkpoint reprocesses nothing,
  *    and a cold start with an existing snapshot is the reference's
  *    "token present ⇒ skip initial fetch" branch (client.ts:304-314);
  *  - no watermark on the ingest path by design: the reference accepts
  *    late events forever and upserts them (SURVEY §2.7 late-data row);
  *  - every `foreachBatch` body runs in the caller's session: the
  *    micro-batch is re-homed there ([[MicroBatch.rehome]]) before
  *    anything reads it. Each streaming run plans in a fresh clone of the
  *    session, with a fresh task class loader, and Spark's codegen cache
  *    is keyed on the loader, so a body planned in the clone recompiled
  *    every class on every run (about 180 per sync micro-batch; 10 once
  *    re-homed, `CodegenReuseSpec`). The body is stateless, and the confs
  *    the clone sets (CBO off, state-store and watermark settings pinned
  *    from the offset log) equal the caller's defaults or only concern
  *    stateful operators; the stream's job group is a thread property,
  *    so the body's jobs keep it (`FullIngestBatchSpec`).
  */
object Streaming {

  /** Start the message-ingest stream.
    *
    * @param sourceDir     directory watched for raw-event parquet files
    * @param checkpointDir streaming checkpoint (≙ sync token)
    * @param tableDir      MergeWriter snapshot dir for `messages`
    */
  def startMessageIngest(
      spark: SparkSession,
      sourceDir: String,
      checkpointDir: String,
      tableDir: String,
      maxFilesPerTrigger: Int = 50,
      bucket: Option[MergeWriter.BucketSpec] = None): StreamingQuery = {
    val raw = spark.readStream
      .schema(Schemas.rawEvent)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(sourceDir)

    Ingest.messagesFromRaw(raw).writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // Batch-wins statement semantics (like the reference's ON
        // CONFLICT DO UPDATE): the (timestamp, id) ordering resolves
        // duplicates WITHIN a batch deterministically; against the
        // snapshot the incoming batch always wins, so a replayed batch
        // is idempotent but a late batch carrying an older event wins
        // over a newer snapshot row — exactly the reference's behavior.
        MergeWriter.merge(spark, tableDir, MicroBatch.rehome(spark, batch),
          keys = Seq("event_id"), orderBy = Seq("timestamp", "id"),
          bucket = bucket)
        ()
      }
      .start()
  }

  /** Blocking convenience for tests/backfills: process everything
    * currently in `sourceDir`, then stop. */
  def runOnce(spark: SparkSession, sourceDir: String, checkpointDir: String,
      tableDir: String): Unit = {
    val q = startMessageIngest(spark, sourceDir, checkpointDir, tableDir)
    q.awaitTermination()
  }

  /** Start the FULL ingest stream — the reference's steady state as one
    * micro-batch body. The reference's sync loop fans each batch into
    * three subscriptions feeding the whole upsert family
    * (client.ts:259-284 → db.utils.ts persistMessage/persistParticipant/
    * persistRoom + updateSyncToken); here the foreachBatch body is
    * [[Pipeline.applyBatch]]: decrypt (T8) → quarantine→logs → messages
    * LWW-merge + participants/rooms change-detection merges → sync-token
    * upsert (L8), all against one raw-event micro-batch.
    *
    * Per micro-batch:
    *  - read once: the batch is persisted before anything reads it and
    *    unpersisted when the body ends ([[readOnce]]), so the source is
    *    read and parsed once however many jobs the body runs;
    *  - the messages, participants and rooms chains run concurrently on
    *    threads started from the batch thread, so every writer job
    *    inherits the stream's job group and `stop()` cancels it; a failed
    *    chain is rethrown only after the other two ended;
    *  - dead letters are appended in step order (messages, then
    *    members), the sync token is the last write, and maintenance runs
    *    after it.
    *
    * Storage maintenance runs on a batch cadence: every `maintainEvery`
    * batches, every catalog table is compacted (fold append stacks /
    * fragmented buckets) and vacuumed (version retention + segment GC).
    * The reference gets this for free from Postgres autovacuum
    * (db.utils.ts:38-46 context); a manifest-over-segments layout at
    * streaming cadence grows a version per merge per batch without it.
    * Safe concurrently with this stream's own writes: maintenance runs
    * INSIDE the foreachBatch body (no self-racing), and vacuum never
    * touches segments above _CURRENT or young claim dirs. */
  def startFullIngest(
      spark: SparkSession,
      sourceDir: String,
      checkpointDir: String,
      pipeline: Pipeline,
      maxFilesPerTrigger: Int = 50,
      maintainEvery: Int = 16,
      keepVersions: Int = 2): StreamingQuery = {
    val raw = spark.readStream
      .schema(Schemas.rawEvent)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(sourceDir)

    val body = fullIngestBody(pipeline, maintainEvery, keepVersions)
    raw.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        readOnce(MicroBatch.rehome(spark, batch))(body(_, batchId))
      }
      .start()
  }

  /** The shared E2 micro-batch body: applyBatch + maintenance cadence.
    * Both full-ingest sources (parquet, JSONL) run exactly this, so the
    * semantics specs for one hold for the other. Maintenance runs after
    * applyBatch's last write, the sync token. */
  private def fullIngestBody(pipeline: Pipeline, maintainEvery: Int,
      keepVersions: Int): (DataFrame, Long) => Unit = { (batch, batchId) =>
    val s = batch.sparkSession
    pipeline.applyBatch(s, batch, batchId)
    if (maintainEvery > 0 && batchId % maintainEvery == (maintainEvery - 1))
      pipeline.catalog.maintain(s, keepVersions)
    ()
  }

  /** Run `body` over the micro-batch persisted, so the source is read
    * and parsed once however many jobs the body runs (without it, every
    * action re-runs the source scan: about 11 reads per event). The
    * entry is dropped in a `finally`, on success and on failure alike,
    * and the drop waits until the cached blocks are freed, so no block
    * removal outlives the batch into the next one. A micro-batch is
    * bounded by `maxFilesPerTrigger`; the whole-corpus backfill never
    * comes through here. */
  private def readOnce(batch: DataFrame)(body: DataFrame => Unit): Unit = {
    val cached = batch.persist()
    try body(cached) finally cached.unpersist(blocking = true)
  }

  /** Blocking convenience: full-pipeline twin of [[runOnce]]. */
  def runFullOnce(spark: SparkSession, sourceDir: String,
      checkpointDir: String, pipeline: Pipeline,
      maintainEvery: Int = 16, keepVersions: Int = 2): Unit =
    startFullIngest(spark, sourceDir, checkpointDir, pipeline,
      maintainEvery = maintainEvery, keepVersions = keepVersions)
      .awaitTermination()

  /** [[startFullIngest]] over the JSON-lines wire format instead of
    * parquet: text file-stream → [[Ingest.rawFromJsonLines]] → split.
    * Unparseable lines go to `logs` via [[Pipeline.logCorrupt]] (the T2
    * filter inside applyBatch would otherwise drop them silently — a
    * dead letter must be queryable, never invisible); well-formed rows
    * run the identical micro-batch body, so every semantics spec for
    * the parquet path holds verbatim here. The parsed batch is persisted
    * before the corrupt-line split, so both sides share one read, and
    * corrupt lines reach `logs` before the body's dead letters. */
  def startFullIngestJsonl(
      spark: SparkSession,
      sourceDir: String,
      checkpointDir: String,
      pipeline: Pipeline,
      maxFilesPerTrigger: Int = 50,
      maintainEvery: Int = 16,
      keepVersions: Int = 2): StreamingQuery = {
    val lines = spark.readStream
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .text(sourceDir)

    val body = fullIngestBody(pipeline, maintainEvery, keepVersions)
    Ingest.rawFromJsonLines(lines).writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        import org.apache.spark.sql.functions.col
        readOnce(MicroBatch.rehome(spark, batch)) { b =>
          pipeline.logCorrupt(b.sparkSession,
            b.filter(col("event_type") === "m.graft.corrupt"))
          body(b.filter(col("event_type") =!= "m.graft.corrupt"), batchId)
        }
      }
      .start()
  }
}

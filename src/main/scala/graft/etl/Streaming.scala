package graft.etl

import org.apache.spark.sql.{DataFrame, MicroBatch, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Structured-Streaming ingest: the Spark re-expression of the
  * reference's /sync loop (SURVEY §2.7).
  *
  *  - source: text file stream over JSON-lines /sync batches (the
  *    stand-in for the homeserver long-poll; one line per wire event,
  *    `maxFilesPerTrigger` ≈ initialSyncLimit, client.ts:90);
  *  - per micro-batch: [[Pipeline.applyBatch]] — T1→T2→T3 projection
  *    then MergeWriter upsert on `event_id`; at-least-once delivery +
  *    idempotent merge = effectively-once, exactly the reference's
  *    contract (db.utils.ts:36-47);
  *  - checkpointLocation ≙ the `sync_state.next_batch` token
  *    (db.utils.ts:271-290): resume-from-checkpoint reprocesses nothing,
  *    and a cold start with an existing snapshot is the reference's
  *    "token present ⇒ skip initial fetch" branch (client.ts:304-314);
  *  - no watermark on the ingest path by design: the reference accepts
  *    late events forever and upserts them (SURVEY §2.7 late-data row);
  *  - every micro-batch runs through [[start]], which re-homes it into
  *    the caller's session ([[MicroBatch.rehome]]) before the body reads
  *    it. Each streaming run plans in a fresh clone of the session, with
  *    a fresh task class loader, and Spark's codegen cache is keyed on
  *    the loader, so a body planned in the clone recompiled every class
  *    on every run (about 180 per sync micro-batch; 10 once re-homed,
  *    `CodegenReuseSpec`). The bodies are stateless, and the confs the
  *    clone sets (CBO off, state-store and watermark settings pinned
  *    from the offset log) equal the caller's defaults or only concern
  *    stateful operators; the stream's job group is a thread property,
  *    so the body's jobs keep it (`FullIngestBatchSpec`).
  */
object Streaming {

  /** The one micro-batch runner: drains what `source` holds now
    * (`AvailableNow`), checkpointed in `checkpointDir`, and hands each
    * micro-batch to `body` re-homed into the session `source` was read
    * in. */
  private[graft] def start(source: DataFrame, checkpointDir: String)(
      body: (DataFrame, Long) => Unit): StreamingQuery = {
    val home = source.sparkSession
    source.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        body(MicroBatch.rehome(home, batch), batchId)
      }
      .start()
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

  /** Start the FULL ingest stream — the reference's steady state as one
    * micro-batch body. The reference's sync loop fans each batch into
    * three subscriptions feeding the whole upsert family
    * (client.ts:259-284 → db.utils.ts persistMessage/persistParticipant/
    * persistRoom + updateSyncToken); here the body is
    * [[Pipeline.applyBatch]] over the parsed lines
    * ([[Ingest.rawFromJsonLines]]): corrupt lines → logs, decrypt (T8) →
    * quarantine→logs → messages LWW-merge + participants/rooms
    * change-detection merges → sync-token upsert (L8).
    *
    * Per micro-batch:
    *  - read once: the batch is persisted before anything reads it and
    *    unpersisted when the body ends ([[readOnce]]), so the source is
    *    read and parsed once however many jobs the body runs;
    *  - the messages, participants and rooms chains run concurrently on
    *    threads started from the batch thread, so every writer job
    *    inherits the stream's job group and `stop()` cancels it; a failed
    *    chain is rethrown only after the other two ended;
    *  - dead letters are appended in step order (corrupt lines, messages,
    *    then members), the sync token is the last write, and maintenance
    *    runs after it.
    *
    * Storage maintenance runs on a batch cadence: every `maintainEvery`
    * batches, every catalog table is compacted (fold append stacks /
    * fragmented buckets) and vacuumed (version retention + segment GC).
    * The reference gets this for free from Postgres autovacuum
    * (db.utils.ts:38-46 context); a manifest-over-segments layout at
    * streaming cadence grows a version per merge per batch without it.
    * Safe concurrently with this stream's own writes: maintenance runs
    * INSIDE the micro-batch body (no self-racing), and vacuum never
    * touches segments above _CURRENT or young claim dirs. */
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

    start(Ingest.rawFromJsonLines(lines), checkpointDir) { (batch, batchId) =>
      readOnce(batch) { b =>
        pipeline.applyBatch(spark, b, batchId)
        if (maintainEvery > 0 && batchId % maintainEvery == (maintainEvery - 1))
          pipeline.catalog.maintain(spark, keepVersions)
      }
    }
  }
}

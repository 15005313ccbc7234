package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** End-to-end sync pipeline: the reference's E1/E2 lifecycle (SURVEY §3)
  * as one orchestration object.
  *
  *  - `bootstrap`: schema creation (L9) — Catalog.bootstrap.
  *  - every run is Structured-Streaming ingest (Streaming.scala) with
  *    per-batch merges; the checkpoint directory IS the sync token
  *    (S5/S7/L8). The first run (no checkpoint) is the reference's
  *    `initialFetch` branch (client.ts:304-314): its first batch lands
  *    in an empty catalog, so `applyBatch` merges it with no persisted
  *    room state to consult;
  *  - when a [[CryptoConfig]] is supplied, every batch decrypts
  *    `is_encrypted` events in the hot path (T8, crypto.ts:181-224):
  *    successes land plaintext in `messages`, AES-GCM auth failures set
  *    the in-row error channel and the quarantine split routes them to
  *    `logs` — they never reach the serving tables.
  */
object Pipeline {
  /** Above this many distinct member rooms in one batch, the T4
    * room-state consult reads the full participants snapshot instead
    * of a per-bucket union: the driver-side room list stays bounded,
    * and a scan-all is the right plan for a batch that wide. */
  val MaxPrunedRooms = 4096

  /** Run `chains` on one new thread each and return their results in
    * order. The threads are started here, per call, so each inherits
    * the caller's Spark local properties (a stream's job group, so
    * `stop()` cancels their jobs too) and none outlives the call; each
    * makes `spark` its active session. Every chain ends before this
    * returns or throws; the first failure in chain order is rethrown,
    * with the others attached as suppressed. */
  private def concurrently[A](spark: SparkSession)(chains: (() => A)*): Seq[A] = {
    val results = new Array[Either[Throwable, A]](chains.size)
    val threads = chains.zipWithIndex.map { case (chain, i) =>
      val t = new Thread(() => {
        SparkSession.setActiveSession(spark)
        results(i) = try Right(chain()) catch { case e: Throwable => Left(e) }
      }, s"graft-batch-chain-$i")
      t.start()
      t
    }
    // an interrupt (stop() on the stream) must not abandon a chain
    // mid-commit: keep joining, then rethrow it first
    var interrupted: Option[InterruptedException] = None
    threads.foreach { t =>
      while (t.isAlive)
        try t.join() catch { case e: InterruptedException => interrupted = Some(e) }
    }
    val failures = interrupted.toSeq ++ results.toSeq.collect { case Left(e) => e }
    failures.headOption.foreach { first =>
      failures.tail.foreach(first.addSuppressed)
      throw first
    }
    results.toSeq.collect { case Right(a) => a }
  }
}

final case class Pipeline(catalog: Catalog, crypto: Option[CryptoConfig] = None) {

  /** T8 at the ingest edge, when configured (no-op otherwise). */
  private def decrypted(spark: SparkSession, messages: DataFrame): DataFrame =
    crypto match {
      case Some(c) => Ingest.decryptMessages(messages, c)
      case None => messages
    }

  /** `df` unless it is empty: a clean batch commits no empty log segment. */
  private def nonEmpty(df: DataFrame): Option[DataFrame] = Some(df).filterNot(_.isEmpty)

  /** Dead-letter rows are kept queryable — the reference persists the
    * error column in-row (schema.ts:66); we land them in `logs`, one
    * statement per step, in step order: source-boundary rows (corrupt
    * JSON lines), then messages, then members. All rows of one statement
    * share one `current_timestamp()`, so one union would reorder
    * `Api.logsTail`. A corrupt row is stamped now; a message row keeps
    * its processed_at, a participant row its last_updated. */
  private def writeDeadLetters(spark: SparkSession, corrupt: Option[DataFrame],
      message: Option[DataFrame], member: Option[DataFrame]): Unit =
    Seq((corrupt, current_timestamp(), "corrupt"),
      (message, col("processed_at"), "quarantined"),
      (member, col("last_updated"), "quarantined")).foreach { case (dead, ts, fallback) =>
      dead.foreach(d => catalog.append(spark, "logs", d.select(
        ts.as("timestamp"),
        lit("error").as("level"),
        concat_ws(": ", col("event_id"), coalesce(col("error"), lit(fallback)))
          .as("message"))))
    }

  /** Incremental micro-batch apply (the body of every E2 micro-batch):
    * the reference's three per-batch subscriptions (client.ts:259-284)
    * as three chains over one raw frame, each writing its own table dir:
    *
    *  - messages: T1–T3 → decrypt (T8) → quarantine split → LWW-merge;
    *  - participants: member-room collect → bucket-pruned `prior` read →
    *    T4 → change-detection merge;
    *  - rooms: T5 → change-detection merge.
    *
    * Guarantees:
    *  - corrupt source rows ([[Ingest.rawFromJsonLines]] marks them
    *    `m.graft.corrupt`) are split off first: the T2 filter would drop
    *    them silently, and a dead letter must be queryable, never
    *    invisible;
    *  - the chains touch disjoint table dirs, so they run concurrently
    *    (no claim conflicts) via [[Pipeline.concurrently]]: jobs started
    *    in a chain carry this thread's Spark local properties, so a
    *    stream's job group reaches every writer job and `stop()` cancels
    *    them. All three end before a failure is rethrown: no write
    *    outlives a failed batch into its retry;
    *  - dead letters are appended after the chains, in step order
    *    (corrupt, messages, members: [[writeDeadLetters]]);
    *  - the sync-token upsert (L8) is the batch's last write.
    *
    * The caller owns read-once: [[Streaming.startFullIngestJsonl]] hands
    * in a persisted micro-batch, so the split and the chains' jobs read
    * and parse the source once between them. */
  def applyBatch(spark: SparkSession, batch: DataFrame, batchId: Long): Unit = {
    val corruptRow = col("event_type") === "m.graft.corrupt"
    val corruptDead = nonEmpty(batch.filter(corruptRow))
    val raw = batch.filter(!corruptRow)
    val Seq(messageDead, memberDead, _) = Pipeline.concurrently(spark)(
      () => mergeMessages(spark, raw),
      () => mergeParticipants(spark, raw, roomStateFor(spark, raw)),
      () => { mergeRooms(spark, raw); None })
    writeDeadLetters(spark, corruptDead, messageDead, memberDead)
    // L8: sync-token upsert — batch id plays the next_batch role.
    // Zero-padded so lexicographic order == numeric order (readers
    // tie-break on the token string when created_at collides).
    import spark.implicits._
    catalog.upsert(spark, "sync_state",
      Seq((batchId.toString, f"batch-$batchId%012d")).toDF("id", "next_batch")
        .withColumn("created_at", current_timestamp())
        .select("id", "next_batch", "created_at"),
      keys = Seq("next_batch"), orderBy = Seq("created_at"))
  }

  /** The messages chain; returns its dead letters when there are any. */
  private def mergeMessages(spark: SparkSession, raw: DataFrame): Option[DataFrame] = {
    val (clean, quarantined) =
      Ingest.quarantine(decrypted(spark, Ingest.messagesFromRaw(raw)))
    catalog.upsert(spark, "messages", clean,
      keys = Seq("event_id"), orderBy = Seq("timestamp", "id"))
    nonEmpty(quarantined)
  }

  /** T4 scope: disambiguate against live room state (the persisted
    * snapshot ∪ this batch), as the SDK's calculateDisplayName does —
    * not against the batch alone. The batch's member rooms are
    * collected once (bounded by the micro-batch's own width, capped)
    * and drive a bucket-pruned state read: a batch touching k rooms
    * opens ≤ k buckets of the participants table, never the table. A
    * batch with no member events skips the consult entirely; a
    * pathologically wide batch (> MaxPrunedRooms distinct rooms) falls
    * back to the full snapshot — the collect stays bounded either way,
    * and at that width a scan-all is the better plan anyway. The read
    * is pinned to the segment files listed here, so it sees the same
    * state however often it is evaluated. */
  private def roomStateFor(spark: SparkSession, raw: DataFrame): Option[DataFrame] = {
    val memberRooms = raw.filter(col("event_type") === "m.room.member"
        && col("room_id").isNotNull)
      .select("room_id").distinct()
      .limit(Pipeline.MaxPrunedRooms + 1)
      .collect().map(_.getString(0)).toSeq
    if (memberRooms.isEmpty || !catalog.exists("participants")) None
    else if (memberRooms.size > Pipeline.MaxPrunedRooms)
      Some(catalog.read(spark, "participants"))
    // room list is already on the driver: besides the bucket-level
    // pruning, hand the scan the exact IN predicate so parquet
    // row-group stats can prune co-bucketed rooms too (the
    // projection's semi join then has nothing left to drop)
    else Some(catalog.readForKeys(spark, "participants", memberRooms)
      .filter(col("room_id").isin(memberRooms: _*)))
  }

  /** The participants chain (L2) with the reference's NOT NULL
    * membership rule applied: member events whose content yields no
    * membership are rejected by the reference's insert (schema.ts:45),
    * so they are returned as dead letters — never merged as a silent "".
    * `roomState` is the persisted participants snapshot for SDK-faithful
    * duplicate-name disambiguation scope (None when there is none to
    * consult: the batch IS the state). */
  private def mergeParticipants(spark: SparkSession, raw: DataFrame,
      roomState: Option[DataFrame]): Option[DataFrame] = {
    val (ok, bad) = Ingest.quarantine(Ingest.projectParticipant(raw, roomState))
    val dead = nonEmpty(bad)
    val members = ok.drop("event_id", "error")
    if (!members.isEmpty)
      catalog.upsert(spark, "participants", members,
        keys = Seq("user_id", "room_id"), orderBy = Seq("joined_ts"),
        changeCols = Some(Seq("display_name", "avatar_url", "membership")))
    dead
  }

  private def mergeRooms(spark: SparkSession, raw: DataFrame): Unit = {
    val rooms = Ingest.projectRooms(raw)
    if (!rooms.isEmpty)
      catalog.upsert(spark, "rooms", rooms,
        keys = Seq("room_id"), orderBy = Seq("created_ts"),
        changeCols = Some(Seq("name", "topic", "is_encrypted", "avatar_url")))
  }
}

package graft.etl

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Table catalog over MergeWriter snapshot directories — the analog of
  * the reference's DDL bootstrap (L9, src/server/db/client.ts:19-56:
  * transactional create-if-absent via information_schema probe).
  *
  * A `Catalog(root)` owns one directory per table; `bootstrap` is
  * idempotent (create-if-absent exactly like the reference's
  * `CREATE TABLE IF NOT EXISTS` loop), and every write commits through
  * `MergeWriter.publish` (versioned dir + atomic pointer swap) so
  * readers never observe a partial snapshot.
  */
final case class Catalog(root: String, messageBuckets: Int = 16) {

  val tables: Map[String, StructType] = Map(
    "messages" -> Schemas.messages,
    "rooms" -> Schemas.rooms,
    "participants" -> Schemas.participants,
    "sync_state" -> Schemas.syncState,
    "auth_credentials" -> Schemas.authCredentials,
    "key_backup_status" -> Schemas.keyBackupStatus,
    "logs" -> Schemas.logs)

  /** Physical layout per SURVEY §2.4 / reference schema.ts:81-87: the
    * `(room_id, timestamp)` composite index becomes hash buckets on
    * room_id with rows sorted by timestamp inside each bucket, so a
    * room-scoped merge rewrites only that room's bucket and
    * `Api.messagesPage` scans one bucket's files. `participants`
    * (composite PK (user_id, room_id), FK room_id — schema.ts:40-53)
    * buckets on room_id too, co-locating it with messages. Bucket
    * counts are small here; thousands at cluster scale. */
  val bucketSpecs: Map[String, MergeWriter.BucketSpec] = Map(
    "messages" -> MergeWriter.BucketSpec("room_id", messageBuckets, Seq("timestamp")),
    "participants" -> MergeWriter.BucketSpec("room_id", messageBuckets))

  def bucketOf(table: String): Option[MergeWriter.BucketSpec] = bucketSpecs.get(table)

  /** Unbucketed append logs whose segments should carry a manifest
    * zone map on this column, enabling [[readTail]]'s pruned scan.
    * Every ever-growing append shape read by recency is listed:
    * `logs` ≙ the reference's log table read only by `ORDER BY
    * timestamp DESC LIMIT n` (routes.ts:238-241) — the streaming
    * dead letters also land there (`Pipeline.writeDeadLetters`), so
    * they ride the same hint; `key_backup_status` ≙ the append-only
    * status history (L5, schema.ts:72-78). In the reference that table
    * is write-only (INSERT only, db.utils.ts:206-213); the
    * latest-status read pattern is INFERRED here from the reference's
    * analogous recency reads, which live on sync_state (`ORDER BY
    * created_at DESC LIMIT 1`, db.utils.ts:271-279) and sync_status
    * (routes.ts:220-223) — any future consumer of this history gets
    * the same pruned tail read they do. */
  val appendSortHints: Map[String, String] =
    Map("logs" -> "timestamp", "key_backup_status" -> "created_at")

  def dir(table: String): String = s"$root/$table"

  /** Idempotent create-if-absent of every table dir (≙ L9). */
  def bootstrap(): Unit =
    tables.keys.foreach(t => Files.createDirectories(Paths.get(dir(t))))

  def exists(table: String): Boolean =
    MergeWriter.currentVersion(dir(table)).isDefined

  /** Read a table's current snapshot (empty frame before first write). */
  def read(spark: SparkSession, table: String): DataFrame =
    MergeWriter.readSnapshot(spark, dir(table), tables(table))

  /** Append-only write (≙ L5 setKeyBackupStatus / L6 setAuthCredentials:
    * plain INSERT, no conflict handling). O(batch): writes only the new
    * rows as a segment; existing files are never read or rewritten. */
  def append(spark: SparkSession, table: String, batch: DataFrame): Unit = {
    MergeWriter.appendSegment(spark, dir(table), batch, bucketOf(table),
      statsCol = appendSortHints.get(table))
    ()
  }

  /** Zone-map-pruned tail scan: the physical read behind "top `limit`
    * rows by the table's append-sort column, descending". Opens only
    * the newest segments whose manifest stats can still reach the
    * page (see MergeWriter.readTailByStats for the bound proof);
    * tables without a sort hint or stats degrade to a full read. The
    * caller still applies its own orderBy/limit — pruning never
    * changes results. */
  def readTail(spark: SparkSession, table: String, limit: Int): DataFrame =
    MergeWriter.readTailByStats(spark, dir(table), tables(table), limit.toLong)

  /** Upsert with the table's natural key (≙ L1/L2/L3/L8). Bucketed
    * tables rewrite only the buckets the batch touches. */
  def upsert(spark: SparkSession, table: String, batch: DataFrame,
      keys: Seq[String], orderBy: Seq[String],
      changeCols: Option[Seq[String]] = None): MergeWriter.MergeResult =
    MergeWriter.merge(spark, dir(table), batch, keys, orderBy, changeCols,
      bucketOf(table))

  /** Bucket-pruned point read: only the segment files that can contain
    * `key` (one bucket + any unbucketed segments). Validates this
    * catalog's bucket count against the table's persisted layout first —
    * a catalog opened with the wrong count would prune with the wrong
    * modulus and silently return missing rows.
    *
    * `minSort`/`maxSort` (inclusive, in the sort column's own units —
    * epoch millis for messages.timestamp) additionally prune on the
    * manifest's per-segment zone maps: at 100 TB a hot key's bucket
    * holds thousands of append segments between compactions, and a
    * time-bounded page should open only the segments whose recorded
    * [min, max] intersects the range — the manifest analog of the
    * reference's `(room_id, timestamp)` composite B-tree
    * (schema.ts:81). Unmapped segments are always read; the caller's
    * row-level predicate stays the source of truth. */
  def readForKey(spark: SparkSession, table: String, key: String,
      minSort: Option[Long] = None, maxSort: Option[Long] = None): DataFrame =
    bucketOf(table) match {
      case Some(bs) =>
        MergeWriter.requireBucketLayout(dir(table), bs)
        MergeWriter.readBucketsRanged(spark, dir(table), tables(table),
          Set(MergeWriter.bucketIdOf(key, bs.buckets)), minSort, maxSort)
      case None => read(spark, table)
    }

  /** Plural [[readForKey]]: only the segment files whose bucket can
    * contain at least one of `keys` (plus unbucketed segments). Like
    * readForKey this returns a bucket-level SUPERSET of the keys' rows
    * — the caller's own predicate stays the source of truth. The
    * per-batch room-state consult in [[Pipeline.applyBatch]] rides
    * this: a micro-batch touching k rooms opens ≤ k buckets of the
    * participants table, never the table. Unbucketed tables fall back
    * to the full snapshot. */
  def readForKeys(spark: SparkSession, table: String,
      keys: Iterable[String]): DataFrame =
    bucketOf(table) match {
      case Some(bs) =>
        MergeWriter.requireBucketLayout(dir(table), bs)
        MergeWriter.readBucketsRanged(spark, dir(table), tables(table),
          keys.map(MergeWriter.bucketIdOf(_, bs.buckets)).toSet,
          minSort = None, maxSort = None)
      case None => read(spark, table)
    }

  /** Read the snapshot the publish planner was handed: pinned at `base`
    * so a claim-conflict retry re-plans against the version it will
    * actually commit over, never a stale one. */
  private def readAt(spark: SparkSession, table: String,
      base: Option[Long]): DataFrame = base match {
    case Some(v) => MergeWriter.readVersion(spark, dir(table), tables(table), v)
    case None => MergeWriter.readSnapshot(spark, dir(table), tables(table))
  }

  /** Update-only merge (≙ L7 updateDeviceId: UPDATE … WHERE, error when
    * nothing matched — db.utils.ts:240-269). Rows in `updates` whose key
    * is absent from the snapshot are rejected, not inserted.
    *
    * ANY duplicate key in the updates batch is ambiguous and rejected up
    * front — matched or not (a dup whose key misses the snapshot today
    * would half-apply arbitrarily after the row appears). The guard
    * scans only the small admin-path updates frame (O(batch), never the
    * snapshot) and runs BEFORE the segment write, so a bad batch costs
    * no table rewrite. The snapshot itself is still scanned once, by
    * the publish write — the matched count and a defense-in-depth
    * fan-out check ride that job as Observation metrics, checked AFTER
    * the segment write but BEFORE the pointer swap, so a violation
    * aborts loudly without committing (the reference's UPDATE errors
    * the statement, never half-applies). */
  def updateOnly(spark: SparkSession, table: String, updates: DataFrame,
      keys: Seq[String], setCols: Seq[String]): Long = {
    import org.apache.spark.sql.Observation
    val hasDup = updates.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("__n")).filter(col("__n") > 1).limit(1)
      .count() > 0
    if (hasDup)
      throw new IllegalArgumentException(
        s"updateOnly batch has duplicate keys $keys for $table — ambiguous UPDATE rejected")
    val updCols = keys ++ setCols
    var obsSnap: Observation = null
    var obsOut: Observation = null
    MergeWriter.publish(spark, dir(table), base => {
      val snap = readAt(spark, table, base)
      obsSnap = Observation(); obsOut = Observation()
      // explicit presence marker: "no matching update row" must keep the
      // old value, but an update row carrying NULL must SET NULL (the
      // reference's UPDATE can null a column — a coalesce would conflate
      // the two)
      val renamed = updates.select(updCols.map(c => col(c).as(s"__u_$c")): _*)
        .withColumn("__u_present", lit(true))
      val joinCond = keys.map(k => col(k) <=> col(s"__u_$k")).reduce(_ && _)
      snap.observe(obsSnap, count(lit(1)).as("n"))
        .join(renamed, joinCond, "left_outer")
        .select(snap.columns.toSeq.map { c =>
          if (setCols.contains(c))
            when(col("__u_present").isNotNull, col(s"__u_$c"))
              .otherwise(col(c)).as(c)
          else col(c)
        } :+ col("__u_present"): _*)
        .observe(obsOut, count(lit(1)).as("n"),
          count(col("__u_present")).as("matched"))
        .drop("__u_present")
    }, bucketOf(table), beforeCommit = () => {
      val nSnap = obsSnap.get.getOrElse("n", 0L).asInstanceOf[Long]
      val nOut = obsOut.get.getOrElse("n", 0L).asInstanceOf[Long]
      if (nOut > nSnap)
        throw new IllegalArgumentException(
          s"updateOnly batch has duplicate keys $keys for $table " +
            s"($nOut output rows from $nSnap snapshot rows)")
      if (obsOut.get.getOrElse("matched", 0L).asInstanceOf[Long] == 0L)
        throw new IllegalStateException(
          s"updateOnly matched 0 rows in $table on keys $keys")
    })
    obsOut.get.getOrElse("matched", 0L).asInstanceOf[Long]
  }

  /** FK-cascade cleanup (≙ ON DELETE CASCADE, schema.ts:51,68): drop
    * child rows whose parent key no longer exists — an anti-join.
    * Single pass: both the pre- and post-join row counts are observed
    * on the publish write itself, so the child table is scanned once
    * (the old count/count/publish shape evaluated the subtree 3×). */
  def cascadeDelete(spark: SparkSession, childTable: String,
      parentTable: String, childKey: String, parentKey: String): Long = {
    import org.apache.spark.sql.Observation
    var obsAll: Observation = null
    var obsKept: Observation = null
    MergeWriter.publish(spark, dir(childTable), base => {
      obsAll = Observation(); obsKept = Observation()
      val child = readAt(spark, childTable, base)
        .observe(obsAll, count(lit(1)).as("n"))
      val parents = read(spark, parentTable).select(col(parentKey))
      child.join(parents, child(childKey) === parents(parentKey), "left_semi")
        .observe(obsKept, count(lit(1)).as("n"))
    }, bucketOf(childTable))
    // an empty child table runs zero tasks → the observed row has no
    // fields at all; that genuinely means zero rows on either side
    obsAll.get.getOrElse("n", 0L).asInstanceOf[Long] -
      obsKept.get.getOrElse("n", 0L).asInstanceOf[Long]
  }

  /** Version retention + segment GC for one table — the autovacuum the
    * reference inherits from Postgres (db.utils.ts:38-46). Run after
    * merges/appends (e.g. once per micro-batch or on a cadence). */
  def vacuum(table: String, keepVersions: Int = 2): MergeWriter.VacuumStats =
    MergeWriter.vacuum(dir(table), keepVersions)

  /** One maintenance pass over every table: compact fragmented buckets /
    * append stacks, then vacuum old versions and unreferenced segments.
    * The streaming ingest calls this on a batch cadence
    * (Streaming.startFullIngestJsonl) so storage stays bounded while the
    * stream runs — a version per merge per micro-batch otherwise. */
  def maintain(spark: SparkSession, keepVersions: Int = 2): Unit =
    tables.keys.foreach { t =>
      if (exists(t)) { compact(spark, t); vacuum(t, keepVersions); () }
    }

  /** Fold append-accumulated small files: bucketed tables compact only
    * their fragmented buckets; unbucketed append logs fold with the
    * two-tier geometric policy (small-segment tail vs the large base) so
    * the maintenance cadence does NOT rewrite the whole log every pass —
    * that would make cumulative compaction I/O quadratic in stream
    * lifetime. Both paths re-plan at the claimed base on a conflict, so
    * a compact racing a streaming append folds the appended rows instead
    * of committing a stale pre-append snapshot over them. */
  def compact(spark: SparkSession, table: String): Long =
    bucketOf(table) match {
      case Some(bs) => MergeWriter.compact(spark, dir(table), tables(table), bs)
      case None => MergeWriter.compactAppends(spark, dir(table), tables(table),
        statsCol = appendSortHints.get(table))
    }
}

package graft.etl

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._
import scala.util.Using
import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Generic upsert ("merge-on-write") over a versioned parquet snapshot —
  * the Spark re-expression of the reference's `ON CONFLICT … DO UPDATE`
  * family (src/server/utils/db.utils.ts:30-66, 68-104, 106-152, 282-290).
  *
  * Storage layout (manifest-based since round 2):
  * {{{
  * tableDir/
  *   _CURRENT              current version number (atomic pointer swap)
  *   v{n}/_MANIFEST        lines "bucketId<TAB>relativeSegmentPath
  *                         [<TAB>sortMin<TAB>sortMax]" — the optional
  *                         zone map of the head sortBy column
  *   seg/v{n}-{tag}/       immutable parquet segments; bucketed segments
  *                         hold one __bucket=k/ leaf dir per bucket
  * }}}
  * A version is a MANIFEST over immutable segments, so:
  *  - `appendSegment` is O(batch): it writes ONLY the new rows and a new
  *    manifest that reuses every prior segment (the reference's plain
  *    INSERT, db.utils.ts:154-170, never rewrites the table either);
  *  - a bucketed `merge` rewrites ONLY the buckets the batch touches —
  *    untouched buckets' files are carried over by path, and the result
  *    row count is observed on the segment write itself (never a
  *    re-scan of carried buckets). Write amplification AND read
  *    amplification are O(touched buckets), not O(snapshot);
  *  - round-1 layout (v{n}/ holding parquet directly) reads as a single
  *    unbucketed segment, and the first bucketed merge on top of it
  *    migrates the table to bucketed segments;
  *  - `compact` folds append-accumulated per-bucket file stacks back to
  *    one sorted file per bucket; `vacuum` enforces version retention
  *    and deletes unreferenced segments (the reference gets both for
  *    free from Postgres autovacuum behind ON CONFLICT,
  *    db.utils.ts:38-46; a manifest-over-segments layout must collect
  *    its own garbage or streaming cadence grows storage per batch).
  *
  * Bucketing ≙ the reference's physical design: the `(room_id,
  * timestamp)` composite index + partial index (src/server/db/
  * schema.ts:81-87) become hash buckets on the key with rows sorted by
  * the sort columns inside each bucket (parquet min/max rowgroup
  * pruning takes the place of the B-tree's range order).
  *
  * Merge semantics (unchanged from round 1):
  *  - batch is first deduplicated per key, keeping the greatest
  *    `orderBy` tuple (deterministic last-write-wins; SURVEY §7.4 risk 2);
  *  - snapshot ⟗ batch on the key; batch side wins, except when
  *    `changeCols` is set and none of the tracked columns differ
  *    (`IS DISTINCT FROM` ⇄ negated `<=>` — the reference's SCD-1
  *    change-detection, db.utils.ts:82-86), in which case the existing
  *    row is kept untouched. NOTE: against the SNAPSHOT the batch wins
  *    unconditionally (statement semantics, like the reference's
  *    `ON CONFLICT DO UPDATE`); the orderBy LWW applies within a batch.
  *
  * Writer concurrency: every commit plans against the version it read
  * (`base`), then `claimVersionAt` atomically creates v{base+1} ONLY if
  * the pointer still reads `base` — a racing commit in the plan/claim
  * window surfaces as ConcurrentModificationException, and the writer
  * RE-PLANS against the new snapshot and retries with linear backoff
  * (bounded attempts), so ingest and compaction can coexist. After the
  * retries are exhausted the conflict is re-thrown loudly — the
  * remaining cause is an orphaned claim (a writer that crashed between
  * claim and commit); delete the manifest-less v{n} dir to recover.
  */
object MergeWriter {

  /** `rows` counts the rows of the segment this merge WROTE (the merged
    * content of the touched buckets), observed on the write itself —
    * not the whole-snapshot count, which would re-scan every carried
    * bucket after a merge that carefully avoided reading them.
    *
    * The remaining counters classify that same written segment, also
    * observed on the write (one Observation, zero extra jobs):
    * `inserted` = batch rows with no existing key; `updated` = batch
    * rows that replaced an existing row (for SCD-1 merges: replaced
    * because a changeCol differed); `unchangedHits` = batch rows whose
    * key existed but change detection kept the OLD row — the
    * reference's `IS DISTINCT FROM` no-op case (db.utils.ts:186-194),
    * i.e. the change-detection hit rate is unchangedHits / batch. Rows
    * carried untouched inside rewritten buckets are `rows - inserted -
    * updated - unchangedHits`. For changeCols=None (LWW) every matched
    * key counts as `updated` — `unchangedHits` is 0 by construction. */
  final case class MergeResult(version: Long, rows: Long,
      inserted: Long = 0L, updated: Long = 0L, unchangedHits: Long = 0L)

  final case class VacuumStats(droppedVersions: Int, droppedSegments: Int)

  /** Hash-bucket layout spec: `col` is the bucketing key, `buckets` the
    * bucket count (thousands at cluster scale; small here), `sortBy`
    * orders rows within each bucket for rowgroup min/max pruning. */
  final case class BucketSpec(col: String, buckets: Int, sortBy: Seq[String] = Nil)

  /** One manifest line: a segment (or bucket leaf) of the snapshot,
    * with optional ZONE-MAP stats — min/max of the head `sortBy` column
    * across the segment's files, harvested from the parquet FOOTERS at
    * commit time (driver metadata read, no job, no data scan). At
    * 100 TB a hot bucket accumulates thousands of segments between
    * compactions; a time-bounded keyset page (Api.messagesPage) prunes
    * on these before handing paths to the reader — the manifest analog
    * of the reference's `(room_id, timestamp)` B-tree range probe
    * (src/server/db/schema.ts:81) one level above parquet's own
    * rowgroup stats (which still require opening every footer). */
  final case class ManifestEntry(bucket: Int, path: String,
      min: Option[Long] = None, max: Option[Long] = None,
      rows: Option[Long] = None) {
    /** Can this segment hold a row with sort-col value <= `bound`?
      * Unknown stats (legacy lines, unbucketed segments) never prune. */
    def mayContainAtMost(bound: Long): Boolean = min.forall(_ <= bound)
    /** Can this segment hold a row with sort-col value >= `bound`? */
    def mayContainAtLeast(bound: Long): Boolean = max.forall(_ >= bound)
    /** Zone map + row count all present (required by the tail bound). */
    def mapped: Boolean = min.isDefined && max.isDefined && rows.isDefined
  }

  /** Internal partition-directory column name for bucketed segments. */
  val BucketCol = "__bucket"

  /** Bounded claim-conflict retries before failing loudly. Backoff is
    * sized for the contention window (a racer's in-flight segment write,
    * i.e. a whole Spark job): exponential from 200ms up to 3.2s per wait,
    * ~6s total across the attempts — long enough to outlive a typical
    * racing commit, short enough to fail loudly on a real wedge. */
  val MaxClaimAttempts = 6

  private def pointer(tableDir: Path): Path = tableDir.resolve("_CURRENT")

  /** Children of `p`, materialized with the directory stream CLOSED —
    * `Files.list`/`Files.walk` hold an open handle until closed, and the
    * maintenance paths (vacuum/compact) walk every segment of every
    * table on a streaming cadence, so a leak here exhausts descriptors. */
  private def listDir(p: Path): Seq[Path] =
    if (!Files.exists(p)) Seq.empty
    else Using.resource(Files.list(p))(_.iterator().asScala.toSeq)

  /** Recursive contents of `p` (including `p`), stream closed. */
  private def walkAll(p: Path): Seq[Path] =
    if (!Files.exists(p)) Seq.empty
    else Using.resource(Files.walk(p))(_.iterator().asScala.toSeq)

  /** Bucket id of a key column — CRC32 of the UTF-8 bytes mod buckets.
    * CRC32 (not Spark's murmur3 `hash`) because it is bit-identical and
    * trivially computable on the driver (`bucketIdOf`), which is what
    * lets point reads prune to one bucket without running a job. */
  def bucketExpr(c: Column, buckets: Int): Column =
    coalesce(pmod(crc32(c.cast("binary")), lit(buckets.toLong)), lit(0L)).cast("int")

  /** Driver-side twin of [[bucketExpr]] for point-query pruning. */
  def bucketIdOf(key: String, buckets: Int): Int = {
    val crc = new java.util.zip.CRC32()
    crc.update(key.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    (crc.getValue % buckets).toInt
  }

  /** Persisted bucket layout of a table dir: (bucket column, count).
    * Written on every bucketed commit; the manifest records bucket IDS
    * but not the modulus that produced them, so without this file a
    * reader/writer configured with a different count would prune with
    * the wrong modulus and silently miss rows — the layout must be a
    * property of the DATA, not of whoever opens it. */
  def readBucketLayout(tableDir: String): Option[(String, Int)] = {
    val p = Paths.get(tableDir, "_BUCKETS")
    if (!Files.exists(p)) None
    else {
      val Array(c, n) = new String(Files.readAllBytes(p)).trim.split("\t", 2)
      Some((c, n.toInt))
    }
  }

  /** Loud-fail unless `bs` matches the persisted layout (no-op when the
    * table has never committed a bucketed segment). sortBy may evolve
    * freely — only column+count decide which file a key lives in. */
  def requireBucketLayout(tableDir: String, bs: BucketSpec): Unit =
    readBucketLayout(tableDir).foreach { case (c, n) =>
      require(c == bs.col && n == bs.buckets,
        s"$tableDir is bucketed ($c, $n buckets) but caller expects " +
          s"(${bs.col}, ${bs.buckets}) — reads would prune with the wrong " +
          "modulus and miss rows; use rebucket to migrate the layout")
    }

  private def writeBucketLayout(tableDir: String, bs: BucketSpec): Unit =
    Files.write(Paths.get(tableDir, "_BUCKETS"),
      s"${bs.col}\t${bs.buckets}".getBytes)

  /** Current snapshot version, or None before the first commit. */
  def currentVersion(tableDir: String): Option[Long] = {
    val p = pointer(Paths.get(tableDir))
    if (Files.exists(p)) Some(new String(Files.readAllBytes(p)).trim.toLong)
    else None
  }

  /** Full manifest of version `v`: one [[ManifestEntry]] per line —
    * "bucketId TAB segmentPath [TAB min TAB max [TAB rows]]", the
    * zone-map fields present only when footer stats were harvestable at
    * commit time. bucketId -1 = unbucketed segment (may hold any key).
    * A round-1 layout version (no _MANIFEST) is one unbucketed segment.
    * Throws NoSuchElementException for a version that does not exist —
    * never committed, or dropped by [[vacuum]] retention. Shorter
    * legacy lines parse with the missing fields = None and never
    * prune. */
  def manifestFullAt(tableDir: String, v: Long): Seq[ManifestEntry] = {
    val vdir = Paths.get(tableDir, s"v$v")
    val mf = vdir.resolve("_MANIFEST")
    if (Files.exists(mf))
      Files.readAllLines(mf).asScala.toSeq.filter(_.nonEmpty).map { line =>
        line.split("\t") match {
          case Array(b, p) => ManifestEntry(b.toInt, p)
          case Array(b, p, mn, mx) =>
            ManifestEntry(b.toInt, p, Some(mn.toLong), Some(mx.toLong))
          case Array(b, p, mn, mx, rc) =>
            ManifestEntry(b.toInt, p, Some(mn.toLong), Some(mx.toLong),
              Some(rc.toLong))
          case _ => sys.error(s"malformed manifest line in $mf: $line")
        }
      }
    else if (Files.exists(vdir)) Seq(ManifestEntry(-1, s"v$v"))
    else throw new NoSuchElementException(
      s"version v$v of $tableDir does not exist (never committed, or outside vacuum retention)")
  }

  /** Full manifest of the current version (empty before first commit). */
  def manifestFull(tableDir: String): Seq[ManifestEntry] =
    currentVersion(tableDir) match {
      case None => Seq.empty
      case Some(v) => manifestFullAt(tableDir, v)
    }

  /** (bucketId, path) projection of [[manifestFullAt]]. */
  def manifestEntriesAt(tableDir: String, v: Long): Seq[(Int, String)] =
    manifestFullAt(tableDir, v).map(e => (e.bucket, e.path))

  /** (bucketId, path) projection of the current manifest. */
  def manifestEntries(tableDir: String): Seq[(Int, String)] =
    manifestFull(tableDir).map(e => (e.bucket, e.path))

  /** Driver-side log of the segment paths each read resolved — lets
    * specs pin the no-full-scan property (a bucketed merge must never
    * read untouched buckets). Bounded: a streaming driver calls
    * readPaths every micro-batch forever, so an uncapped log is a slow
    * driver-memory leak; specs clear() it right before the read they
    * assert on, so eviction of old entries never affects them. */
  private[graft] val ReadLogCap = 1024
  private[graft] val readLog =
    java.util.Collections.synchronizedList(
      new java.util.ArrayList[(String, Seq[String])]())

  private def readPaths(spark: SparkSession, tableDir: String,
      schema: StructType,
      rels: Seq[String]): DataFrame = {
    readLog.synchronized {
      while (readLog.size() >= ReadLogCap) readLog.remove(0)
      readLog.add((tableDir, rels))
    }
    if (rels.isEmpty)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    else
      spark.read.schema(schema).parquet(rels.map(r => s"$tableDir/$r"): _*)
  }

  /** Read the current snapshot (empty frame with `schema` if absent). */
  def readSnapshot(spark: SparkSession, tableDir: String,
      schema: StructType): DataFrame =
    readPaths(spark, tableDir, schema, manifestEntries(tableDir).map(_._2))

  /** Time-travel read of a committed version (segments are immutable, so
    * a reader holding version v is unaffected by later commits). */
  def readVersion(spark: SparkSession, tableDir: String,
      schema: StructType, v: Long): DataFrame =
    readPaths(spark, tableDir, schema, manifestEntriesAt(tableDir, v).map(_._2))

  /** Bucket-pruned read: only segments that can contain the given bucket
    * ids (plus any unbucketed segments, which may contain anything).
    * This is the scan `Api.messagesPage` runs — one bucket's files, not
    * the table. */
  def readBuckets(spark: SparkSession, tableDir: String,
      schema: StructType,
      bucketIds: Set[Int]): DataFrame =
    readBucketsRanged(spark, tableDir, schema, bucketIds, None, None)

  /** Atomically claim version base+1 — the writer lock. Throws
    * ConcurrentModificationException when the pointer no longer reads
    * `base` (someone committed since this writer planned) or the next
    * version dir already exists (a live racer mid-commit, or an orphan
    * from a crash). The createDirectory is the linearization point: once
    * it succeeds for base+1 while _CURRENT = base, no other writer can
    * commit base+1. */
  private def claimVersionAt(tableDir: String, base: Option[Long]): Long = {
    val dir = Paths.get(tableDir)
    Files.createDirectories(dir)
    val cur = currentVersion(tableDir)
    if (cur != base)
      throw new java.util.ConcurrentModificationException(
        s"$tableDir advanced to v${cur.getOrElse(-1L)} since this writer planned against " +
          s"v${base.getOrElse(-1L)} — replan required")
    val next = base.getOrElse(-1L) + 1
    try { Files.createDirectory(dir.resolve(s"v$next")); next }
    catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        throw new java.util.ConcurrentModificationException(
          s"version v$next of $tableDir already claimed by another writer " +
            "(or orphaned by a crash — delete the manifest-less dir to recover)")
    }
  }

  /** Run `attempt` (which must re-read _CURRENT and re-plan each time),
    * retrying claim conflicts with exponential backoff. Bounded: after
    * MaxClaimAttempts the conflict propagates loudly. Exhaustion means
    * either an orphaned claim dir (a writer that crashed between claim
    * and commit) or sustained live contention — check the claim dir's
    * mtime before deleting it to recover; a fresh mtime is a live
    * writer mid-commit, not an orphan. */
  private def retryClaim[A](tableDir: String)(attempt: => A): A = {
    var tries = 1
    while (true) {
      try return attempt
      catch {
        case e: java.util.ConcurrentModificationException =>
          if (tries >= MaxClaimAttempts) throw e
          // exponential backoff + per-thread offset so two contending
          // writers de-synchronize instead of re-colliding in lockstep
          Thread.sleep(math.min(4000L, 200L << (tries - 1)) +
            Thread.currentThread().getId % 37)
          tries += 1
      }
    }
    sys.error("unreachable")
  }

  /** Zone-map harvest: (min, max, rowCount) of `column` across every
    * parquet file under `absDir`, read from the file FOOTERS on the
    * driver — pure metadata, no Spark job, no data pages touched.
    * Returns None (no zone map, segment never pruned) when any
    * non-empty rowgroup lacks usable stats — conservative by
    * construction. Only integral physical types are harvested: the
    * sort columns this layout declares are epoch-millis longs
    * (Schemas.messages.timestamp) or INT64-micros timestamps
    * (Schemas.logs.timestamp — Sessions writes TIMESTAMP_MICROS, the
    * legacy INT96 default carries no stats at all); the recorded
    * bounds live in the column's own physical unit and are only ever
    * compared against bounds derived from the same stats space. */
  private def footerRange(absDir: String, column: String,
      conf: org.apache.hadoop.conf.Configuration): Option[(Long, Long, Long)] = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val files = walkAll(Paths.get(absDir)).filter(p =>
      Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet"))
    var lo = Long.MaxValue
    var hi = Long.MinValue
    var n = 0L
    var ok = files.nonEmpty
    files.foreach { f =>
      if (ok) Using.resource(ParquetFileReader.open(
          HadoopInputFile.fromPath(new org.apache.hadoop.fs.Path(f.toUri), conf))) { r =>
        r.getFooter.getBlocks.asScala.filter(_.getRowCount > 0).foreach { blk =>
          n += blk.getRowCount
          blk.getColumns.asScala.find(_.getPath.toDotString == column) match {
            case Some(cc) =>
              val st = cc.getStatistics
              if (st == null || st.isEmpty || !st.hasNonNullValue) ok = false
              else (st.genericGetMin, st.genericGetMax) match {
                case (mn: Number, mx: Number) =>
                  lo = math.min(lo, mn.longValue); hi = math.max(hi, mx.longValue)
                case _ => ok = false
              }
            case None => ok = false
          }
        }
      }
    }
    if (ok && lo <= hi) Some((lo, hi, n)) else None
  }

  /** Is `c` a column whose parquet footer stats we can use as a zone
    * map? (integral physical types; timestamps are INT64 micros under
    * the session's TIMESTAMP_MICROS output setting) */
  private def statsHarvestable(df: DataFrame, c: String): Boolean = {
    import org.apache.spark.sql.types.{IntegerType, LongType, TimestampType}
    df.schema.fields.exists(f => f.name == c &&
      (f.dataType == LongType || f.dataType == IntegerType ||
        f.dataType == TimestampType))
  }

  /** Write `df` as one immutable segment for version `v`; returns its
    * manifest entries. Bucketed segments repartition ON the bucket id so
    * each bucket is exactly one task → one sorted file per bucket dir;
    * when the spec declares an integral head sort column, each leaf's
    * footer stats become the entry's zone map. Unbucketed segments
    * harvest stats when the caller names a `statsCol` (the append-log
    * tail-read path, Catalog.appendSortHints). */
  private def writeSegment(df: DataFrame, tableDir: String, v: Long,
      tag: String, bucket: Option[BucketSpec],
      statsCol: Option[String] = None): Seq[ManifestEntry] = {
    val rel = s"seg/v$v-$tag"
    val abs = s"$tableDir/$rel"
    val conf = df.sparkSession.sparkContext.hadoopConfiguration
    bucket match {
      case Some(bs) =>
        val withB = df.withColumn(BucketCol, bucketExpr(col(bs.col), bs.buckets))
        // task count scales with the CLUSTER, not the layout: hash-
        // partitioning on the bucket id keeps each bucket's rows in one
        // task (so partitionBy still yields one file per bucket), while
        // capping partitions at 4× parallelism stops a small micro-batch
        // append/merge into a thousands-bucket table from scheduling one
        // (mostly empty) task per bucket — measured at 1600 buckets the
        // cap cut a 3×6.4k-row append stack from 17.3 s to the ~2 s the
        // 16-bucket layout pays (PLANS.md round 16, "The smoke caught
        // and fixed a real O(buckets) write overhead")
        val parts = math.min(bs.buckets,
          math.max(1, df.sparkSession.sparkContext.defaultParallelism * 4))
        val sorted = withB.repartition(parts, col(BucketCol))
          .sortWithinPartitions((BucketCol +: bs.sortBy).map(col): _*)
        sorted.write.mode("overwrite").partitionBy(BucketCol).parquet(abs)
        val sc = bs.sortBy.headOption.filter(statsHarvestable(df, _))
        listDir(Paths.get(abs))
          .map(_.getFileName.toString)
          .filter(_.startsWith(s"$BucketCol="))
          .map { d =>
            val leafRel = s"$rel/$d"
            val range = sc.flatMap(footerRange(s"$tableDir/$leafRel", _, conf))
            ManifestEntry(d.stripPrefix(s"$BucketCol=").toInt, leafRel,
              range.map(_._1), range.map(_._2), range.map(_._3))
          }
          .sortBy(_.bucket)
      case None =>
        df.write.mode("overwrite").parquet(abs)
        val range = statsCol.filter(statsHarvestable(df, _))
          .flatMap(footerRange(abs, _, conf))
        Seq(ManifestEntry(-1, rel,
          range.map(_._1), range.map(_._2), range.map(_._3)))
    }
  }

  /** Commit `entries` as version `v`: write _MANIFEST, swap the pointer. */
  private def commit(tableDir: String, v: Long, entries: Seq[ManifestEntry]): Unit = {
    val dir = Paths.get(tableDir)
    val body = entries.map { e =>
      val base = s"${e.bucket}\t${e.path}"
      (e.min, e.max, e.rows) match {
        case (Some(mn), Some(mx), Some(rc)) => s"$base\t$mn\t$mx\t$rc"
        case (Some(mn), Some(mx), None) => s"$base\t$mn\t$mx"
        case _ => base
      }
    }.mkString("\n")
    Files.write(dir.resolve(s"v$v").resolve("_MANIFEST"), body.getBytes)
    val tmp = dir.resolve(s"_CURRENT.tmp$v")
    Files.write(tmp, v.toString.getBytes)
    Files.move(tmp, pointer(dir), StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  /** Write `df` as version `next`'s segment, run `beforeCommit` (loud-
    * fail validation hook — see Catalog.updateOnly), then commit. Any
    * failure between claim and commit releases the claim dir and drops
    * the uncommitted segment, so a crashed/aborted write never blocks
    * later writers behind an orphan claim (vacuum's grace window stays
    * the backstop for whole-process crashes). */
  private def writeAndCommit(tableDir: String, next: Long, tag: String,
      df: DataFrame, bucket: Option[BucketSpec],
      carried: Seq[ManifestEntry],
      beforeCommit: () => Unit = () => (),
      statsCol: Option[String] = None): Unit =
    try {
      val newEntries = writeSegment(df, tableDir, next, tag, bucket, statsCol)
      beforeCommit()
      // record the layout BEFORE the pointer swap: a crash in between
      // leaves old data with a new layout record, which fails loudly on
      // the next old-spec write — the reverse order could leave NEW
      // data with the OLD record, silently mis-pruning reads. Callers
      // validated via requireBucketLayout; rebucket is the one writer
      // allowed to change it.
      val priorLayout = if (bucket.isDefined) readBucketLayout(tableDir) else None
      bucket.foreach(writeBucketLayout(tableDir, _))
      try commit(tableDir, next, carried ++ newEntries)
      catch {
        case e: Throwable =>
          priorLayout match { // un-publish the layout record
            case Some((c, n)) => writeBucketLayout(tableDir, BucketSpec(c, n))
            case None => bucket.foreach(_ =>
              Files.deleteIfExists(Paths.get(tableDir, "_BUCKETS")))
          }
          throw e
      }
    } catch {
      case e: Throwable =>
        val seg = Paths.get(tableDir, s"seg/v$next-$tag")
        if (Files.exists(seg)) deleteRecursively(seg)
        val claim = Paths.get(tableDir, s"v$next")
        if (Files.exists(claim)) deleteRecursively(claim)
        throw e
    }

  /** Upsert `batch` into the snapshot at `tableDir`.
    *
    * @param keys       natural-key columns (e.g. event_id)
    * @param orderBy    LWW ordering columns, greatest wins (e.g. timestamp)
    * @param changeCols if set, an existing row is only replaced when at
    *                   least one of these columns IS DISTINCT FROM the
    *                   incoming value (SCD-1 change detection)
    * @param bucket     if set, the snapshot is hash-bucketed on
    *                   `bucket.col` and the merge reads+rewrites ONLY the
    *                   buckets present in the batch. CONTRACT: a key's
    *                   bucket-column value must be immutable across its
    *                   versions (an event never changes room) — a batch
    *                   row re-homing an existing key to a different
    *                   bucket would leave the old row in an untouched,
    *                   unread bucket and the snapshot with two rows for
    *                   one key. Holds by construction for every table
    *                   here (messages/participants bucket on room_id,
    *                   which is part of the natural key's identity).
    */
  def merge(spark: SparkSession, tableDir: String, batch: DataFrame,
      keys: Seq[String], orderBy: Seq[String],
      changeCols: Option[Seq[String]] = None,
      bucket: Option[BucketSpec] = None): MergeResult = {
    require(keys.nonEmpty, "merge requires key columns")
    val cols = batch.columns.toSeq

    // 1. deterministic LWW dedup of the incoming batch
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(orderBy.map(c => col(c).desc): _*)
    val deduped = batch.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")

    retryClaim(tableDir) {
      bucket.foreach(requireBucketLayout(tableDir, _))
      val base = currentVersion(tableDir)
      val entries = base.map(manifestFullAt(tableDir, _)).getOrElse(Seq.empty)
      // A bucketed merge can skip untouched buckets only when every prior
      // segment is bucketed; any unbucketed (legacy/append) segment may
      // hold rows of a touched key, so it forces a one-time full rewrite
      // that migrates the table to the bucketed layout.
      val allBucketed = entries.forall(_.bucket >= 0)
      val (oldSide0, carried) = bucket match {
        case Some(bs) if allBucketed =>
          val touched = deduped
            .select(bucketExpr(col(bs.col), bs.buckets).as(BucketCol))
            .distinct().collect().map(_.getInt(0)).toSet // ≤ buckets ints — metadata
          val (touchedE, untouchedE) = entries.partition(e => touched.contains(e.bucket))
          (readPaths(spark, tableDir, batch.schema, touchedE.map(_.path)), untouchedE)
        case _ =>
          (readPaths(spark, tableDir, batch.schema, entries.map(_.path)),
            Seq.empty[ManifestEntry])
      }
      val snapshot = oldSide0.select(cols.map(col): _*)

      // 2. full-outer merge (touched buckets only when bucketed), batch
      //    wins unless change-detection says no-op
      val oldSide = snapshot.select(cols.map(c => col(c).as(s"__old_$c")): _*)
        .withColumn("__old_present", lit(true))
      val newSide = deduped.select(cols.map(c => col(c).as(s"__new_$c")): _*)
        .withColumn("__new_present", lit(true))
      val joinCond = keys.map(k => col(s"__old_$k") <=> col(s"__new_$k"))
        .reduce(_ && _)
      val joined = oldSide.join(newSide, joinCond, "full_outer")

      val changed = changeCols match {
        case Some(cc) if cc.nonEmpty =>
          cc.map(c => !(col(s"__old_$c") <=> col(s"__new_$c"))).reduce(_ || _)
        case _ => lit(true)
      }
      val takeNew = col("__old_present").isNull ||
        (col("__new_present").isNotNull && changed)

      // 3. claim v{n+1} (writer lock), write only the merged segment —
      //    its row count and batch-outcome classification are observed
      //    ON the write (one Observation, no post-merge re-scan) —
      //    commit manifest = carried untouched buckets + the segment.
      //    The classifying columns must be selected BEFORE the __old/
      //    __new scaffolding is projected away, so the observe rides on
      //    an extended projection that still carries both sides.
      val classified = joined.select(
        (cols.map { c =>
          when(takeNew, col(s"__new_$c")).otherwise(col(s"__old_$c")).as(c)
        } :+ when(col("__old_present").isNull, 1L).otherwise(0L).as("__ins")
          :+ when(col("__old_present").isNotNull && takeNew, 1L)
            .otherwise(0L).as("__upd")
          :+ when(col("__old_present").isNotNull &&
              col("__new_present").isNotNull && !takeNew, 1L)
            .otherwise(0L).as("__hit")): _*)
      val obs = Observation()
      val observed = classified.observe(obs,
          count(lit(1)).as("rows"),
          sum(col("__ins")).as("ins"),
          sum(col("__upd")).as("upd"),
          sum(col("__hit")).as("hit"))
        .drop("__ins", "__upd", "__hit")
      val next = claimVersionAt(tableDir, base)
      writeAndCommit(tableDir, next, "merge", observed, bucket, carried)
      // an all-empty write runs zero tasks → the observed row has no
      // fields at all; that genuinely means zero rows written (sums of
      // an empty frame are also null, not 0)
      def metric(name: String): Long = obs.get.get(name) match {
        case Some(v: Long) => v
        case _ => 0L
      }
      MergeResult(next, metric("rows"), metric("ins"), metric("upd"), metric("hit"))
    }
  }

  /** O(batch) append: write ONLY the new rows as a segment and commit a
    * manifest that reuses every existing segment file untouched — the
    * plain-INSERT path (L5/L6 append-only logs). Repeated appends to a
    * bucketed table accumulate per-bucket files; `compact` (or the next
    * `merge` touching the bucket) folds each back to one sorted file. */
  def appendSegment(spark: SparkSession, tableDir: String, batch: DataFrame,
      bucket: Option[BucketSpec] = None,
      statsCol: Option[String] = None): Long = retryClaim(tableDir) {
    bucket.foreach(requireBucketLayout(tableDir, _))
    val base = currentVersion(tableDir)
    val prior = base.map(manifestFullAt(tableDir, _)).getOrElse(Seq.empty)
    val next = claimVersionAt(tableDir, base)
    writeAndCommit(tableDir, next, "append", batch, bucket, prior,
      statsCol = statsCol)
    next
  }

  /** Full-rewrite commit as the next snapshot version — the path for
    * whole-table transforms (updateOnly, cascadeDelete, bootstrap).
    * Takes a PLANNER, not a DataFrame: `plan(base)` must build the new
    * content against exactly the snapshot version it receives (use
    * [[readVersion]]), because a claim conflict re-runs the planner
    * against the advanced version — committing a plan built against an
    * older snapshot would silently drop the racing writer's rows.
    * `beforeCommit` runs after the segment write (so Observation
    * metrics on the plan are available) and before the pointer swap —
    * throwing there aborts the commit loudly and releases the claim. */
  def publish(spark: SparkSession, tableDir: String,
      plan: Option[Long] => DataFrame,
      bucket: Option[BucketSpec] = None,
      beforeCommit: () => Unit = () => ()): Long = retryClaim(tableDir) {
    bucket.foreach(requireBucketLayout(tableDir, _))
    val base = currentVersion(tableDir)
    val df = plan(base)
    val next = claimVersionAt(tableDir, base)
    writeAndCommit(tableDir, next, "full", df, bucket, Seq.empty, beforeCommit)
    next
  }

  /** Zone-map-pruned variant of [[readBuckets]]: also drops segments
    * whose recorded [min, max] of the head sort column cannot intersect
    * the requested inclusive range. Segments without stats (legacy
    * manifests, unbucketed appends) are always read — pruning is only
    * ever an optimization, never a correctness filter; the query's own
    * predicate still applies to every row read. */
  def readBucketsRanged(spark: SparkSession, tableDir: String,
      schema: StructType, bucketIds: Set[Int],
      minSort: Option[Long], maxSort: Option[Long]): DataFrame = {
    val rels = manifestFull(tableDir)
      .filter(e => e.bucket == -1 || bucketIds.contains(e.bucket))
      .filter(e => minSort.forall(e.mayContainAtLeast) &&
        maxSort.forall(e.mayContainAtMost))
      .map(_.path)
    readPaths(spark, tableDir, schema, rels)
  }

  /** Tail read over an append log: the physical scan for "top `limit`
    * rows by the stats column, descending" (Api.logsTail). An unbounded
    * append log otherwise forces a FULL scan for a 100-row tail — at
    * 100 TB that is the single worst read in the system.
    *
    * The pruning bound is proven from the manifest alone: sort mapped
    * segments by max desc and take the shortest prefix whose row counts
    * sum to >= `limit`; every row in that prefix is >= its segment's
    * min, so L = min over the prefix of seg.min is a lower bound on the
    * limit-th largest value in the table (>= limit rows exist at >= L —
    * rows outside the prefix can only push the true cutoff HIGHER).
    * A mapped segment with max < L therefore cannot contribute to the
    * tail and is never opened. Unmapped segments (legacy manifests, a
    * publish rewrite that recorded no stats) are always read, and they
    * neither join the prefix nor weaken the bound. Time-ordered appends
    * (a streaming quarantine/log channel) give near-perfect pruning:
    * the newest segment usually covers the whole page. */
  def readTailByStats(spark: SparkSession, tableDir: String,
      schema: StructType, limit: Long): DataFrame = {
    val entries = manifestFull(tableDir)
    val (mapped, unmapped) = entries.partition(_.mapped)
    val sorted = mapped.sortBy(e => -e.max.get)
    var cum = 0L
    val prefix = sorted.takeWhile { e =>
      val need = cum < limit; cum += e.rows.get; need
    }
    val kept =
      if (cum < limit) mapped // fewer mapped rows than the page — all
      else {
        val bound = prefix.map(_.min.get).min
        mapped.filter(_.max.get >= bound)
      }
    readPaths(spark, tableDir, schema, (kept ++ unmapped).map(_.path))
  }

  /** Migrate a table to a new bucket layout — the operational need a
    * growing table hits (bucket counts sized for 1 TB are hot-spots at
    * 100 TB): full rewrite of the current snapshot under `newBucket`,
    * recording the new layout with the commit. The ONE writer allowed
    * to change `_BUCKETS`; a merge racing the migration loses the
    * claim, re-plans, and then fails the layout check loudly if it
    * still carries the old spec. */
  def rebucket(spark: SparkSession, tableDir: String, schema: StructType,
      newBucket: BucketSpec): Long = retryClaim(tableDir) {
    val base = currentVersion(tableDir)
    val entries = base.map(manifestFullAt(tableDir, _)).getOrElse(Seq.empty)
    val df = readPaths(spark, tableDir, schema, entries.map(_.path))
    val next = claimVersionAt(tableDir, base)
    writeAndCommit(tableDir, next, "rebucket", df, Some(newBucket), Seq.empty)
    next
  }

  /** Fold fragmented buckets back to one sorted file per bucket: buckets
    * referenced by more than one segment (append stacks) are read and
    * rewritten; single-segment buckets are carried by path, untouched.
    * Any unbucketed segment forces a full rewrite that migrates the
    * table to the bucketed layout. Returns the committed version (or
    * the current one when nothing is fragmented — no-op, no commit). */
  def compact(spark: SparkSession, tableDir: String, schema: StructType,
      bucket: BucketSpec): Long = retryClaim(tableDir) {
    requireBucketLayout(tableDir, bucket)
    val base = currentVersion(tableDir)
    val entries = base.map(manifestFullAt(tableDir, _)).getOrElse(Seq.empty)
    val byBucket = entries.groupBy(_.bucket)
    val hasUnbucketed = byBucket.contains(-1)
    val fragmented = byBucket.filter { case (b, es) => b >= 0 && es.size > 1 }
    if (entries.isEmpty || (!hasUnbucketed && fragmented.isEmpty))
      base.getOrElse(0L) // nothing to compact
    else if (hasUnbucketed) {
      // migration path: bucket everything
      val df = readPaths(spark, tableDir, schema, entries.map(_.path))
      val next = claimVersionAt(tableDir, base)
      writeAndCommit(tableDir, next, "compact", df, Some(bucket), Seq.empty)
      next
    } else {
      val carried = entries.filterNot(e => fragmented.contains(e.bucket))
      val df = readPaths(spark, tableDir, schema,
        fragmented.values.flatten.map(_.path).toSeq)
      val next = claimVersionAt(tableDir, base)
      writeAndCommit(tableDir, next, "compact", df, Some(bucket), carried)
      next
    }
  }

  /** On-disk bytes of one segment (driver metadata walk, no job). */
  private def segmentBytes(tableDir: String, rel: String): Long =
    walkAll(Paths.get(tableDir, rel))
      .filter(Files.isRegularFile(_)).map(Files.size).sum

  /** Fold an unbucketed append stack with a two-tier geometric policy so
    * a streaming append log is NOT rewritten in full every maintenance
    * pass. The largest segment is the "base" tier and is carried by
    * path, untouched; the small-segment tail is folded into one segment
    * only once `minSegments` of them accumulate; and the base itself is
    * only re-absorbed when the tail has grown to its size (the doubling
    * rule). The re-absorbs are geometric (base doubles each time), so
    * their lifetime cost is O(N); the tail re-folds still grow toward
    * base size within each doubling epoch, so cumulative I/O is not the
    * LSM O(N log N) bound but ~1/minSegments of the naive
    * rewrite-everything-every-pass cost — the right trade for a
    * maintenance cadence of every-N-batches (an LSM tier ladder would
    * only matter if compaction ran per batch). Returns the committed
    * version (current one when below the threshold — no-op, no commit).
    * Bucketed tables must use [[compact]] — folding here would commit a
    * bucket=None segment and silently de-bucket the layout. */
  def compactAppends(spark: SparkSession, tableDir: String,
      schema: StructType, minSegments: Int = 16,
      statsCol: Option[String] = None): Long = retryClaim(tableDir) {
    val base = currentVersion(tableDir)
    val entries = base.map(manifestFullAt(tableDir, _)).getOrElse(Seq.empty)
    require(entries.forall(_.bucket == -1),
      s"compactAppends is for unbucketed append logs; $tableDir has bucketed " +
        "segments — use compact, which preserves the bucket layout")
    if (entries.size <= 1) base.getOrElse(0L)
    else {
      val sized = entries.map(e => (e, segmentBytes(tableDir, e.path)))
      val largest = sized.maxBy(_._2)
      val tail = sized.filterNot(_ eq largest)
      if (tail.size < minSegments && tail.map(_._2).sum < largest._2)
        base.getOrElse(0L)
      else {
        val foldAll = tail.map(_._2).sum >= largest._2
        val (folded, carried) =
          if (foldAll) (sized.map(_._1), Seq.empty[ManifestEntry])
          else (tail.map(_._1), Seq(largest._1))
        val df = readPaths(spark, tableDir, schema, folded.map(_.path))
        val next = claimVersionAt(tableDir, base)
        writeAndCommit(tableDir, next, "compact", df, None, carried,
          statsCol = statsCol)
        next
      }
    }
  }

  private def deleteRecursively(p: Path): Unit =
    walkAll(p).reverse.foreach(Files.deleteIfExists(_))

  /** Snapshot retention: keep the `keepVersions` most recent committed
    * versions; delete older version dirs and every segment no longer
    * referenced by a retained manifest. Readers holding a retained
    * version are unaffected (immutable segments they reference stay);
    * `readVersion` outside retention throws NoSuchElementException.
    * Also removes orphaned claim dirs ABOVE the current version that
    * have no _MANIFEST and are older than `orphanGraceMs` (a crashed
    * writer's leftover lock — removing it unblocks future claims;
    * the grace window protects a live writer mid-commit). */
  def vacuum(tableDir: String, keepVersions: Int = 2,
      orphanGraceMs: Long = 60 * 60 * 1000L): VacuumStats = {
    require(keepVersions >= 1, "must keep at least the current version")
    currentVersion(tableDir) match {
      case None => VacuumStats(0, 0)
      case Some(cur) =>
        val dir = Paths.get(tableDir)
        val minKeep = math.max(0L, cur - (keepVersions - 1))
        val versionDirs = listDir(dir)
          .filter(p => p.getFileName.toString.matches("v\\d+"))
        val present = versionDirs.map(_.getFileName.toString.drop(1).toLong)
        val retained = present.filter(v => v >= minKeep && v <= cur)
          .filter(v => Files.exists(Paths.get(tableDir, s"v$v", "_MANIFEST")) ||
            !Files.exists(Paths.get(tableDir, s"v$v"))) // committed only
        val referenced: Set[String] =
          retained.flatMap(v => manifestEntriesAt(tableDir, v).map(_._2)).toSet
        var droppedV = 0
        versionDirs.foreach { p =>
          val v = p.getFileName.toString.drop(1).toLong
          val committed = Files.exists(p.resolve("_MANIFEST"))
          val orphan = v > cur && !committed &&
            Files.getLastModifiedTime(p).toMillis < System.currentTimeMillis() - orphanGraceMs
          // a legacy version dir can double as a referenced segment
          if ((v < minKeep && !referenced.contains(s"v$v")) || orphan) {
            deleteRecursively(p); droppedV += 1
          }
        }
        var droppedS = 0
        val segRoot = dir.resolve("seg")
        val segName = "v(\\d+)-.*".r
        if (Files.exists(segRoot)) {
          listDir(segRoot).foreach { segDir =>
            val segRel = s"seg/${segDir.getFileName}"
            // a segment ABOVE the current version is a live writer's
            // in-flight write (it holds the v{cur+1} claim, so _CURRENT
            // cannot advance past it until it commits or its claim is
            // orphan-GC'd): it is unreferenced by construction until
            // commit, and deleting it mid-write would leave the
            // committed manifest pointing at missing bucket leaves.
            // Unparseable names are skipped too (never GC the unknown).
            val segVersion = segDir.getFileName.toString match {
              case segName(n) => n.toLong
              case _ => Long.MaxValue
            }
            if (segVersion <= cur && !referenced.contains(segRel)) {
              val leaves = listDir(segDir)
                .filter(_.getFileName.toString.startsWith(s"$BucketCol="))
              if (leaves.isEmpty) { // unbucketed, unreferenced: drop whole segment
                deleteRecursively(segDir); droppedS += 1
              } else {
                leaves.foreach { leaf =>
                  if (!referenced.contains(s"$segRel/${leaf.getFileName}")) {
                    deleteRecursively(leaf); droppedS += 1
                  }
                }
                // drop the husk once no bucket leaf remains
                if (!listDir(segDir)
                    .exists(_.getFileName.toString.startsWith(s"$BucketCol=")))
                  deleteRecursively(segDir)
              }
            }
          }
        }
        VacuumStats(droppedV, droppedS)
    }
  }
}

package graft

import java.nio.file.Files
import graft.etl.{Api, Catalog, Decrypt}
import org.apache.spark.sql.{Row, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** L5/L6 append sinks: key-backup status log and auth credentials with
  * the 32-byte binary storage key (schema.ts:2-16, 72-78), including a
  * full PBKDF2-derived key write/read/decrypt roundtrip. */
class CatalogSpec extends AnyFunSuite {
  lazy val spark: SparkSession = Sessions.local(cores = 4, appName = "graft-cat")

  test("auth_credentials append preserves the binary storage key end-to-end") {
    val cat = Catalog(Files.createTempDirectory("graft-cat").toString)
    cat.bootstrap()
    val key = Decrypt.deriveKey("passphrase", "salt1234".getBytes, 1000)
    val now = new java.sql.Timestamp(0L)
    val row = Row("id1", "@alice:x", "DEVICEABCD", "tokA", "tokR",
      "example.org", "https://example.org", key, 3600000L, now)
    cat.append(spark, "auth_credentials",
      spark.createDataFrame(
        spark.sparkContext.parallelize(Seq(row), 1),
        etl.Schemas.authCredentials))

    // S6-style lookup, then decrypt with the persisted key
    import org.apache.spark.sql.functions._
    val back = cat.read(spark, "auth_credentials")
      .filter(col("user_id") === "@alice:x")
      .select("device_id", "access_token", "storage_key")
      .collect()(0)
    assert(back.getString(0) == "DEVICEABCD")
    val storedKey = back.getAs[Array[Byte]]("storage_key")
    assert(storedKey.toSeq == key.toSeq && storedKey.length == 32)
    val ct = CryptoFixtures.encryptRandomIv("payload", key)
    assert(Decrypt.decrypt(ct, storedKey).contains("payload"))
  }

  test("key_backup_status is append-only (no merge, history kept)") {
    val cat = Catalog(Files.createTempDirectory("graft-cat2").toString)
    cat.bootstrap()
    import spark.implicits._
    def status(b: Boolean, t: Long) =
      Seq(("s" + t, b, new java.sql.Timestamp(t)))
        .toDF("id", "status", "created_at")
    cat.append(spark, "key_backup_status", status(true, 1L))
    cat.append(spark, "key_backup_status", status(false, 2L))
    cat.append(spark, "key_backup_status", status(true, 3L))
    val rows = cat.read(spark, "key_backup_status").count()
    assert(rows == 3, "append must keep full history")
  }

  test("a catalog reopened with the wrong bucket count fails loudly instead of mis-pruning") {
    val root = Files.createTempDirectory("graft-cat4").toString
    val cat16 = Catalog(root, messageBuckets = 16)
    cat16.bootstrap()
    import spark.implicits._
    val msgs = (0 until 8).map(i =>
      (s"id$i", s"e$i", s"room$i", "@u:x", "{}", "m.room.message",
        1000L + i, false, null.asInstanceOf[String], null.asInstanceOf[String],
        new java.sql.Timestamp(0L)))
      .toDF("id", "event_id", "room_id", "sender", "content", "event_type",
        "timestamp", "is_encrypted", "relates_to", "error", "processed_at")
    cat16.upsert(spark, "messages", msgs, Seq("event_id"), Seq("timestamp", "id"))
    val cat8 = Catalog(root, messageBuckets = 8)
    intercept[IllegalArgumentException] { cat8.readForKey(spark, "messages", "room3") }
    intercept[IllegalArgumentException] {
      cat8.upsert(spark, "messages", msgs.limit(1), Seq("event_id"), Seq("timestamp", "id"))
    }
    // the right count still reads through
    assert(cat16.readForKey(spark, "messages", "room3")
      .filter(org.apache.spark.sql.functions.col("room_id") === "room3").count() == 1)
  }

  test("rebucket migration: the catalog reopened with the new count reads and writes; the old one fails loudly") {
    import graft.etl.MergeWriter
    val root = Files.createTempDirectory("graft-cat5").toString
    val cat16 = Catalog(root, messageBuckets = 16)
    cat16.bootstrap()
    import spark.implicits._
    def msg(eid: String, room: String, ts: Long) =
      Seq((eid, eid, room, "@u:x", "{}", "m.room.message", ts, false,
        null.asInstanceOf[String], null.asInstanceOf[String],
        new java.sql.Timestamp(0L)))
        .toDF("id", "event_id", "room_id", "sender", "content", "event_type",
          "timestamp", "is_encrypted", "relates_to", "error", "processed_at")
    (0 until 8).foreach(i => cat16.upsert(spark, "messages",
      msg(s"e$i", s"room$i", 1000L + i), Seq("event_id"), Seq("timestamp", "id")))

    // operational path: bucket count outgrown -> migrate the DATA, then
    // reopen the catalog with the new count
    MergeWriter.rebucket(spark, cat16.dir("messages"), cat16.tables("messages"),
      MergeWriter.BucketSpec("room_id", 8, Seq("timestamp")))
    val cat8 = Catalog(root, messageBuckets = 8)
    import org.apache.spark.sql.functions.col
    assert(cat8.readForKey(spark, "messages", "room3")
      .filter(col("room_id") === "room3").count() == 1, "point read under the new modulus")
    cat8.upsert(spark, "messages", msg("e9", "room3", 2000L),
      Seq("event_id"), Seq("timestamp", "id"))
    assert(cat8.read(spark, "messages").count() == 9, "writes continue under the new layout")
    intercept[IllegalArgumentException] {
      cat16.readForKey(spark, "messages", "room3")
    }
  }

  test("readForKeys opens only the requested rooms' buckets (proven by deleting another bucket's file)") {
    import graft.etl.MergeWriter
    import org.apache.spark.sql.functions.col
    val cat = Catalog(Files.createTempDirectory("graft-cat-keys").toString)
    cat.bootstrap()
    import spark.implicits._
    val now = new java.sql.Timestamp(0L)
    val parts = (0 until 64).map(i =>
      (s"@u$i:x", s"!r$i:x", s"User $i", "", "join", 1000L + i, now, now))
      .toDF("user_id", "room_id", "display_name", "avatar_url", "membership",
        "joined_ts", "last_updated", "created_at")
    cat.upsert(spark, "participants", parts,
      keys = Seq("user_id", "room_id"), orderBy = Seq("joined_ts"))

    val buckets = cat.bucketOf("participants").get.buckets
    val wanted = Seq("!r3:x", "!r7:x")
    val wantedIds = wanted.map(MergeWriter.bucketIdOf(_, buckets)).toSet

    // bucket superset + the caller's exact predicate == full-read filter
    def users(df: org.apache.spark.sql.DataFrame): Set[String] = df
      .filter(col("room_id").isin(wanted: _*))
      .select("user_id").collect().map(_.getString(0)).toSet
    val exp = users(cat.read(spark, "participants"))
    assert(users(cat.readForKeys(spark, "participants", wanted)) == exp
      && exp == Set("@u3:x", "@u7:x"))

    // pruning proof: physically delete a segment of a bucket OUTSIDE
    // the requested set — the pruned read must never notice; a full
    // read of the same snapshot must fail on the missing file
    val victim = MergeWriter.manifestFull(cat.dir("participants"))
      .find(e => e.bucket >= 0 && !wantedIds.contains(e.bucket))
      .getOrElse(fail("expected a segment in an untouched bucket"))
    val victimPath = java.nio.file.Paths.get(cat.dir("participants"), victim.path)
    import scala.jdk.CollectionConverters._
    Files.walk(victimPath).iterator().asScala.toSeq.reverse.foreach(Files.delete)
    assert(users(cat.readForKeys(spark, "participants", wanted)) == exp,
      "pruned read must not open the deleted untouched bucket")
    intercept[Exception] { cat.read(spark, "participants").count() }
  }

  test("logs tail read opens only the newest segments that can reach the page") {
    import scala.jdk.CollectionConverters._
    import spark.implicits._
    val cat = Catalog(Files.createTempDirectory("graft-cat-tail").toString)
    cat.bootstrap()
    // three append epochs of 50 rows each, time-ordered like a real
    // streaming log channel (epoch k covers ts [k*1000, k*1000+49])
    def epoch(k: Int) = (0 until 50).map(i =>
      (new java.sql.Timestamp(k * 1000L + i), "info", s"m$k-$i"))
      .toDF("timestamp", "level", "message")
    (1 to 3).foreach(k => cat.append(spark, "logs", epoch(k)))
    val dir = cat.dir("logs")
    val entries = graft.etl.MergeWriter.manifestFull(dir)
    assert(entries.size == 3 && entries.forall(_.mapped),
      s"3 append segments, each with footer-stat zone map + row count: $entries")

    val api = Api(cat)
    def tail(limit: Int): (Int, Seq[String]) = {
      graft.etl.MergeWriter.readLog.clear()
      val rows = api.logsTail(spark, limit)
        .select("message").collect().map(_.getString(0)).toSeq
      val read = graft.etl.MergeWriter.readLog.asScala.toSeq
        .filter(_._1 == dir).flatMap(_._2)
      (read.size, rows)
    }
    // page fits in the newest epoch → ONLY that segment is opened
    val (n1, got1) = tail(30)
    assert(n1 == 1, s"a 30-row tail must open 1 of 3 segments, opened $n1")
    assert(got1 == (49 to 20 by -1).map(i => s"m3-$i"),
      "tail rows identical to a full-scan ORDER BY ts DESC LIMIT 30")
    // page spans two epochs → two segments
    val (n2, got2) = tail(80)
    assert(n2 == 2, s"an 80-row tail must open 2 segments, opened $n2")
    assert(got2.size == 80 && got2.take(50).forall(_.startsWith("m3-")) &&
      got2.drop(50).forall(_.startsWith("m2-")))
    // page larger than the table → everything, still correct
    val (n3, got3) = tail(500)
    assert(n3 == 3 && got3.size == 150)

    // compaction folds the stack and re-harvests stats, so the pruned
    // tail keeps working on the folded layout
    cat.compact(spark, "logs")
    val folded = graft.etl.MergeWriter.manifestFull(dir)
    assert(folded.size == 1 && folded.head.mapped,
      s"folded segment must carry a re-harvested zone map: $folded")
    val (_, got4) = tail(30)
    assert(got4 == got1, "identical page after compaction")
  }

  test("key_backup_status tail read prunes on its created_at zone map") {
    // L5's status history is the same ever-growing append shape as
    // logs, read by recency ("latest backup status") — with the
    // appendSortHints entry its segments carry zone maps too, so the
    // tail read opens fewer segments than the table holds
    import scala.jdk.CollectionConverters._
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val cat = Catalog(Files.createTempDirectory("graft-cat-kbs-tail").toString)
    cat.bootstrap()
    def epoch(k: Int) = (0 until 10).map(i =>
      (s"s$k-$i", i % 2 == 0, new java.sql.Timestamp(k * 1000L + i)))
      .toDF("id", "status", "created_at")
    (1 to 3).foreach(k => cat.append(spark, "key_backup_status", epoch(k)))
    val dir = cat.dir("key_backup_status")
    val entries = graft.etl.MergeWriter.manifestFull(dir)
    assert(entries.size == 3 && entries.forall(_.mapped),
      s"3 append segments, each zone-mapped on created_at: $entries")

    graft.etl.MergeWriter.readLog.clear()
    val latest = cat.readTail(spark, "key_backup_status", 1)
      .orderBy(col("created_at").desc).limit(1)
      .select("id").collect().map(_.getString(0)).toSeq
    val opened = graft.etl.MergeWriter.readLog.asScala.toSeq
      .filter(_._1 == dir).flatMap(_._2)
    assert(latest == Seq("s3-9"), "the newest status row")
    assert(opened.size == 1,
      s"a latest-status read must open 1 of 3 segments, opened ${opened.size}")
  }

  test("compact + vacuum: append log folds to one segment, old versions GC'd") {
    val cat = Catalog(Files.createTempDirectory("graft-cat3").toString)
    cat.bootstrap()
    import spark.implicits._
    def status(t: Long) =
      Seq(("s" + t, t % 2 == 0, new java.sql.Timestamp(t))).toDF("id", "status", "created_at")
    (1L to 4L).foreach(t => cat.append(spark, "key_backup_status", status(t)))
    val dir = cat.dir("key_backup_status")
    assert(graft.etl.MergeWriter.manifestEntries(dir).size == 4, "4 append segments")
    cat.compact(spark, "key_backup_status") // fold to one segment (v4)
    assert(graft.etl.MergeWriter.manifestEntries(dir).size == 1)
    assert(cat.read(spark, "key_backup_status").count() == 4, "history intact")
    val stats = cat.vacuum("key_backup_status", keepVersions = 1)
    assert(stats.droppedVersions == 4, s"v0..v3 dropped: $stats")
    assert(stats.droppedSegments == 4, s"the 4 pre-compact append segments GC'd: $stats")
    assert(cat.read(spark, "key_backup_status").count() == 4, "snapshot unaffected")
  }
}

package graft

import java.nio.file.Files
import graft.etl._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end reference lifecycle over the FIXTURES §A1 corpus:
  * bootstrap → first batch into the empty catalog → incremental
  * batches with duplicate / late / membership-churn events → API
  * reads (Q1–Q8 true shapes). */
class PipelineSpec extends AnyFunSuite {
  lazy val spark: SparkSession = Sessions.local(cores = 4, appName = "graft-pipe")

  private def raw(rows: Seq[Row]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), Schemas.rawEvent)

  private def msg(id: Int, room: String, sender: String, ts: Long,
      body: String = "hi", backfill: Boolean = false): Row =
    Row(s"$$m$id:x", room, sender, "m.room.message", ts,
      s"""{"msgtype":"m.text","body":"$body"}""", null, false, backfill, null)

  private def member(room: String, user: String, ts: Long, name: String,
      membership: String = "join"): Row =
    Row(s"$$mem-$user-$room-$ts:x", room, user, "m.room.member", ts,
      s"""{"displayname":"$name","membership":"$membership"}""",
      null, false, false, null)

  private def state(room: String, typ: String, ts: Long, content: String): Row =
    Row(s"$$st-$typ-$room:x", room, "@admin:x", typ, ts, content, null, false, false, null)

  test("full lifecycle: backfill, incremental merges, API queries") {
    val root = Files.createTempDirectory("graft-pipe").toString
    val cat = Catalog(root)
    cat.bootstrap()
    val pipe = Pipeline(cat)

    val corpus = raw(Seq(
      state("!r1:x", "m.room.create", 1L, """{"creator":"@a:x"}"""),
      state("!r1:x", "m.room.name", 2L, """{"name":"Room One"}"""),
      state("!r1:x", "m.room.encryption", 3L, """{"algorithm":"megolm"}"""),
      state("!r2:x", "m.room.create", 1L, """{"creator":"@b:x"}"""),
      state("!r2:x", "m.room.name", 2L, """{"name":"Room Two"}"""),
      member("!r1:x", "@alice:x", 10L, "Alice"),
      member("!r1:x", "@bob:x", 11L, "Bob"),
      member("!r2:x", "@alice:x", 12L, "Alice"),
      msg(1, "!r1:x", "@alice:x", 100L),
      msg(2, "!r1:x", "@bob:x", 110L),
      msg(3, "!r2:x", "@alice:x", 120L),
      msg(99, "!r1:x", "@bob:x", 90L, backfill = true) // must be dropped
    ))

    // the first run is the stream's first batch into an empty catalog
    pipe.applyBatch(spark, corpus, batchId = 0L)
    def counts = Seq("messages", "rooms", "participants").map(cat.read(spark, _).count())
    assert(counts == Seq(3L, 2L, 3L))
    pipe.applyBatch(spark, corpus, batchId = 0L)
    assert(counts == Seq(3L, 2L, 3L), "a replayed first batch changes no table")

    val api = Api(cat)

    // Q1: after the first batch, r2 (ts=120) has the latest message
    val roomsOrdered = api.listRooms(spark).select("room_id").collect().map(_.getString(0))
    assert(roomsOrdered.head == "!r2:x", s"got ${roomsOrdered.toSeq}")
    // encryption state reached the rooms dimension (T5)
    val r1 = api.roomDetail(spark, "!r1:x").collect()(0)
    assert(r1.getAs[Boolean]("is_encrypted"))
    assert(r1.getAs[String]("name") == "Room One")
    assert(r1.getAs[scala.collection.Seq[Row]]("participants").size == 2)

    // incremental batch: duplicate msg1 (late, higher ts wins), new msg4,
    // display-name churn for alice in r1 (change-detection update)
    pipe.applyBatch(spark, raw(Seq(
      msg(1, "!r1:x", "@alice:x", 500L, body = "edited"),
      msg(4, "!r2:x", "@alice:x", 130L),
      member("!r1:x", "@alice:x", 20L, "Alice Cooper")
    )), batchId = 1L)

    val msgs = cat.read(spark, "messages")
    assert(msgs.count() == 4, "duplicate merged, not appended")
    val m1 = msgs.filter(col("event_id") === "$m1:x").collect()(0)
    assert(m1.getAs[Long]("timestamp") == 500L, "LWW replay wins")
    val alice = cat.read(spark, "participants")
      .filter(col("user_id") === "@alice:x" && col("room_id") === "!r1:x")
      .collect()(0)
    assert(alice.getAs[String]("display_name") == "Alice Cooper")

    // Q3 keyset pagination: page 1 then keyset page 2
    val p1 = api.messagesPage(spark, "!r1:x", limit = 1).collect()
    assert(p1(0).getAs[String]("event_id") == "$m1:x")
    val p2 = api.messagesPage(spark, "!r1:x",
      before = Some(p1(0).getAs[Long]("timestamp")), limit = 10).collect()
    assert(p2.map(_.getAs[String]("event_id")).toSeq == Seq("$m2:x"))

    // Q4/Q5
    assert(api.listUsers(spark).count() == 2)
    val aliceRooms = api.userDetail(spark, "@alice:x").collect()(0)
      .getAs[scala.collection.Seq[Row]]("rooms")
    assert(aliceRooms.size == 2)

    // Q6 stats: all five metrics, one job
    val st = api.stats(spark).collect()(0)
    assert(st.getAs[Long]("total_messages") == 4)
    assert(st.getAs[Long]("total_rooms") == 2)
    assert(st.getAs[Long]("encrypted_rooms") == 1)
    assert(st.getAs[Long]("total_participants") == 3)
    assert(st.getAs[java.sql.Timestamp]("last_sync") != null)

    // Q8: sync token recorded by the batch (L8)
    val cfg = api.configSingleton(spark).collect()(0)
    assert(cfg.getAs[String]("next_batch") == "batch-000000000001")

    // L7: update-only merge errors on unmatched keys
    import spark.implicits._
    val ok = cat.updateOnly(spark, "participants",
      Seq(("@alice:x", "!r1:x", "avatar2")).toDF("user_id", "room_id", "avatar_url"),
      keys = Seq("user_id", "room_id"), setCols = Seq("avatar_url"))
    assert(ok == 1)
    intercept[IllegalStateException] {
      cat.updateOnly(spark, "participants",
        Seq(("@nobody:x", "!r1:x", "x")).toDF("user_id", "room_id", "avatar_url"),
        keys = Seq("user_id", "room_id"), setCols = Seq("avatar_url"))
    }
    // duplicate keys in an update batch are ambiguous → rejected
    intercept[IllegalArgumentException] {
      cat.updateOnly(spark, "participants",
        Seq(("@alice:x", "!r1:x", "a"), ("@alice:x", "!r1:x", "b"))
          .toDF("user_id", "room_id", "avatar_url"),
        keys = Seq("user_id", "room_id"), setCols = Seq("avatar_url"))
    }
    // ... including duplicates whose key matches NO snapshot row (they
    // would otherwise be silently dropped as non-matching, and the
    // snapshot must not be rewritten before the rejection)
    val vBefore = MergeWriter.currentVersion(cat.dir("participants"))
    intercept[IllegalArgumentException] {
      cat.updateOnly(spark, "participants",
        Seq(("@alice:x", "!r1:x", "a"),
          ("@ghost:x", "!r9:x", "b"), ("@ghost:x", "!r9:x", "c"))
          .toDF("user_id", "room_id", "avatar_url"),
        keys = Seq("user_id", "room_id"), setCols = Seq("avatar_url"))
    }
    assert(MergeWriter.currentVersion(cat.dir("participants")) == vBefore,
      "rejected batch must not commit a new version")
    // an explicit NULL in a set column must be written (not coalesced away)
    cat.updateOnly(spark, "participants",
      Seq(("@alice:x", "!r1:x", null: String)).toDF("user_id", "room_id", "avatar_url"),
      keys = Seq("user_id", "room_id"), setCols = Seq("avatar_url"))
    assert(cat.read(spark, "participants")
      .filter(col("user_id") === "@alice:x" && col("room_id") === "!r1:x")
      .collect()(0).getAs[String]("avatar_url") == null)

    // FK cascade: removing r2 from rooms orphans its participants/messages
    MergeWriter.publish(spark, cat.dir("rooms"),
      _ => cat.read(spark, "rooms").filter(col("room_id") =!= "!r2:x"))
    val removed = cat.cascadeDelete(spark, "participants", "rooms", "room_id", "room_id")
    assert(removed == 1)
  }

  test("T8 hot path: encrypted events decrypt in-pipeline; tampered payloads quarantine") {
    val root = Files.createTempDirectory("graft-pipe-t8").toString
    val cat = Catalog(root)
    cat.bootstrap()
    val crypto = CryptoConfig("pipe-pass-t8", java.util.Base64.getEncoder
      .encodeToString("pipe-salt".getBytes), 1000)
    val pipe = Pipeline(cat, Some(crypto))
    val key = Decrypt.deriveKey("pipe-pass-t8", "pipe-salt".getBytes, 1000)

    def enc(id: Int, room: String, ts: Long, plain: String): Row =
      Row(s"$$e$id:x", room, "@alice:x", "m.room.message", ts,
        CryptoFixtures.encryptRandomIv(plain, key), null, true, false, null)
    // tamper mid-ciphertext but keep valid base64 → GCM auth must fail
    val goodCt = CryptoFixtures.encryptRandomIv("""{"body":"never-see-this"}""", key)
    val tampered = {
      val i = 20
      val c = if (goodCt(i) == 'A') 'B' else 'A'
      goodCt.updated(i, c)
    }
    val derivationsBefore = Decrypt.deriveCount.get()

    pipe.applyBatch(spark, raw(Seq(
      enc(1, "!r1:x", 100L, """{"msgtype":"m.text","body":"secret one"}"""),
      enc(2, "!r1:x", 110L, """{"msgtype":"m.text","body":"secret two"}"""),
      Row("$e3:x", "!r1:x", "@bob:x", "m.room.message", 120L,
        tampered, null, true, false, null),
      msg(4, "!r1:x", "@bob:x", 130L, body = "plaintext untouched")
    )), batchId = 0L)

    val msgs = cat.read(spark, "messages")
    assert(msgs.count() == 3, "2 decrypted + 1 plaintext; tampered row kept out")
    val m1 = msgs.filter(col("event_id") === "$e1:x").collect()(0)
    assert(m1.getAs[String]("content") == """{"msgtype":"m.text","body":"secret one"}""",
      "content must be the decrypted plaintext")
    assert(m1.getAs[String]("error") == null)
    assert(msgs.filter(col("event_id") === "$e3:x").count() == 0)
    val quarantined = cat.read(spark, "logs")
      .filter(col("message").contains("$e3:x")).collect()
    assert(quarantined.length == 1, "tampered event must land in logs")
    assert(quarantined(0).getAs[String]("message").contains("decrypt_failed"),
      "error channel must carry the failure cause")
    val plain4 = msgs.filter(col("event_id") === "$m4:x").collect()(0)
    assert(plain4.getAs[String]("content").contains("plaintext untouched"))

    // incremental batch goes through the same decrypt path
    pipe.applyBatch(spark, raw(Seq(
      enc(5, "!r1:x", 200L, """{"msgtype":"m.text","body":"secret three"}""")
    )), batchId = 1L)
    assert(cat.read(spark, "messages").filter(col("event_id") === "$e5:x")
      .collect()(0).getAs[String]("content").contains("secret three"))

    // PBKDF2 ran once for the whole run, not once per row (memoized)
    assert(Decrypt.deriveCount.get() - derivationsBefore <= 1,
      "key derivation must be cached across rows and batches")
  }

  test("T4 roomState scope: incremental disambiguation consults persisted participants") {
    // matrix-js-sdk's calculateDisplayName decides collisions against
    // live roomState, not against whatever happens to share a sync
    // batch. The incremental path therefore scopes its collision window
    // over (persisted participants ∪ batch), with the batch superseding
    // a user's own persisted name — i.e. the post-batch roomState.
    // Persisted rows are NOT retro-renamed: the reference persists only
    // the member each event is about (db.utils.ts:89-97). The rendered
    // names must not depend on the bucket layout the consult prunes by.
    for (buckets <- Seq(16, 64)) {
      val root = Files.createTempDirectory(s"graft-pipe-t4scope-b$buckets").toString
      val cat = Catalog(root, messageBuckets = buckets)
      cat.bootstrap()
      val pipe = Pipeline(cat)

      def falsy(room: String, user: String, ts: Long): Row =
        Row(s"$$mem-$user-$room-$ts:x", room, user, "m.room.member", ts,
          """{"displayname":42,"membership":"join"}""", null, false, false, null)

      pipe.applyBatch(spark, raw(Seq(
        member("!ra:x", "@a:x", 10L, "Alice"),
        member("!rb:x", "@x:x", 11L, "Dup"),
        member("!rb:x", "@y:x", 12L, "Dup"),
        member("!rc:x", "@r:x", 13L, "Bob"),
        member("!rd:x", "@j1:x", 14L, "Jos\u00E9"), // composed é
        member("!re:x", "@solo:x", 15L, "Solo"),
        falsy("!rf:x", "@f1:x", 16L),
        member("!rg:x", "@g:x", 17L, "Alice")
      )), batchId = 1L)

      pipe.applyBatch(spark, raw(Seq(
        member("!ra:x", "@b:x", 20L, "Alice"),       // collides with PERSISTED @a only
        member("!rb:x", "@z:x", 21L, "Dup"),         // persisted rows are suffixed → key inversion
        member("!rc:x", "@r:x", 22L, "Carol"),       // rename: @r's stale "Bob" must not count…
        member("!rc:x", "@c:x", 23L, "Bob"),         // …so the new Bob is unique
        member("!rd:x", "@j2:x", 24L, "José"), // decomposed é collides with persisted composed
        member("!re:x", "@solo:x", 25L, "Solo"),     // own persisted row is no collision
        falsy("!rf:x", "@f2:x", 26L),                // falsy↔falsy: sentinel keys never collide
        member("!rf:x", "@f3:x", 27L, "ok"),
        // a membership-less member event is REJECTED by the reference's
        // insert (schema.ts:45): it must neither supersede its user's
        // persisted name in the scope nor contribute its own name key
        Row("$gbad:x", "!rg:x", "@g:x", "m.room.member", 28L,
          """{"displayname":"Bob"}""", null, false, false, null),
        member("!rg:x", "@h:x", 29L, "Alice"),       // collides with @g's PERSISTED "Alice"
        // INTRA-batch rename: @m's superseded "X" is not in post-batch
        // room state, so @n's "X" has no live twin and stays bare — only
        // each member's LATEST clean row contributes a collision key
        member("!rh:x", "@m:x", 40L, "X"),
        member("!rh:x", "@m:x", 41L, "Y"),
        member("!rh:x", "@n:x", 42L, "X"),
        // …but a TRAILING quarantined event must not shadow the member's
        // real latest clean name: @p's "Z" stays live (the membership-less
        // row is rejected by the reference's insert), so @q's "Z" collides
        member("!ri:x", "@p:x", 43L, "Z"),
        Row("$pbad:x", "!ri:x", "@p:x", "m.room.member", 44L,
          """{"displayname":"Renamed"}""", null, false, false, null),
        member("!ri:x", "@q:x", 45L, "Z")
      )), batchId = 2L)

      // wider than MaxPrunedRooms: the consult must fall back to the
      // full snapshot with IDENTICAL semantics — the colliding room
      // rides along in a batch of 4097+ distinct rooms
      pipe.applyBatch(spark, raw(
        member("!ra:x", "@wide:x", 30L, "Alice") +:
          (0 until Pipeline.MaxPrunedRooms).map(i =>
            member(s"!w$i:x", s"@w$i:x", 31L, s"W$i"))
      ), batchId = 3L)
      assert(cat.read(spark, "participants")
        .filter(col("user_id") === "@wide:x").collect()(0)
        .getAs[String]("display_name") == "Alice (@wide:x)",
        s"b$buckets: full-snapshot fallback must still disambiguate against state")

      val got = cat.read(spark, "participants")
        .filter(!col("user_id").startsWith("@w"))
        .select("room_id", "user_id", "display_name").collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.getString(2)).toMap
      val want = Map(
        ("!ra:x", "@a:x") -> "Alice", // persisted row not retro-renamed (reference-faithful)
        ("!ra:x", "@b:x") -> "Alice (@b:x)",
        ("!rb:x", "@x:x") -> "Dup (@x:x)",
        ("!rb:x", "@y:x") -> "Dup (@y:x)",
        ("!rb:x", "@z:x") -> "Dup (@z:x)",
        ("!rc:x", "@r:x") -> "Carol",
        ("!rc:x", "@c:x") -> "Bob",
        ("!rd:x", "@j1:x") -> "Jos\u00E9",
        ("!rd:x", "@j2:x") -> "José (@j2:x)",
        ("!re:x", "@solo:x") -> "Solo",
        ("!rf:x", "@f1:x") -> "@f1:x",
        ("!rf:x", "@f2:x") -> "@f2:x",
        ("!rf:x", "@f3:x") -> "ok",
        ("!rg:x", "@g:x") -> "Alice", // quarantined rename never lands
        ("!rg:x", "@h:x") -> "Alice (@h:x)", // @g's persisted row still counts
        ("!rh:x", "@m:x") -> "Y",  // intra-batch rename: final name wins the merge
        ("!rh:x", "@n:x") -> "X",  // @m's superseded "X" contributed no key
        ("!ri:x", "@p:x") -> "Z (@p:x)",  // quarantined trailing rename never lands…
        ("!ri:x", "@q:x") -> "Z (@q:x)")  // …so both live "Z"s collide
      assert(got == want, s"b$buckets got:\n${got.toSeq.sortBy(_._1).mkString("\n")}")
    }
  }
}

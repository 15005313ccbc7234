package graft

import java.nio.file.{Files, Paths}
import graft.etl.{Catalog, Ingest, MergeWriter, Pipeline, Schemas, Streaming}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** SURVEY §5 item 5: streaming micro-batches with out-of-order replay;
  * checkpoint resume ≡ sync-token resume (S5/S7/L8); effectively-once. */
class StreamingSpec extends AnyFunSuite {
  lazy val spark: SparkSession = Sessions.local(cores = 4, appName = "graft-stream")

  private def rawRows(ids: Range, tsBase: Long, backfill: Boolean = false): DataFrame =
    RestartFixtures.rawRows(spark, ids, tsBase, backfill)

  /** One AvailableNow run of the sync stream: everything now in `src`. */
  private def ingest(s: SparkSession, src: String, ckpt: String, pipe: Pipeline): Unit =
    Streaming.startFullIngestJsonl(s, src, ckpt, pipe).awaitTermination()

  test("ingest stream: filters, projection, merge, checkpoint resume") {
    val base = Files.createTempDirectory("graft-stream")
    val src = base.resolve("src").toString
    val ckpt = base.resolve("ckpt").toString
    Files.createDirectories(Paths.get(src))
    val cat = Catalog(base.resolve("cat").toString)
    cat.bootstrap()
    val pipe = Pipeline(cat)
    val table = cat.dir("messages")

    // chunk 1: 20 messages + 5 backfill rows (must be dropped, T1)
    RestartFixtures.writeJsonl(src, "c1-live.jsonl", rawRows(0 until 20, 1000L))
    RestartFixtures.writeJsonl(src, "c1-backfill.jsonl", rawRows(100 until 105, 50L, backfill = true))
    ingest(spark, src, ckpt, pipe)
    val after1 = MergeWriter.readSnapshot(spark, table, Schemas.messages)
    assert(after1.count() == 20, "backfill rows must be filtered out")

    // chunk 2: 10 new + 5 duplicate event_ids (late replays — upsert wins once)
    RestartFixtures.writeJsonl(src, "c2-new.jsonl", rawRows(20 until 30, 2000L))
    RestartFixtures.writeJsonl(src, "c2-replay.jsonl", rawRows(0 until 5, 3000L))
    ingest(spark, src, ckpt, pipe)
    val after2 = MergeWriter.readSnapshot(spark, table, Schemas.messages)
    assert(after2.count() == 30, "duplicates must merge, not append")
    // the replayed duplicates carry the newer timestamp (LWW)
    import org.apache.spark.sql.functions._
    val e0ts = after2.filter(col("event_id") === "$evt0:x")
      .select("timestamp").collect()(0).getLong(0)
    assert(e0ts == 3000L)

    // restart with same checkpoint and no new files: nothing reprocessed
    val vBefore = MergeWriter.currentVersion(table)
    ingest(spark, src, ckpt, pipe)
    assert(MergeWriter.currentVersion(table) == vBefore,
      "checkpoint resume must not re-merge old files")
  }

  test("full ingest stream: decrypt, quarantine, 3 merges, sync token, checkpoint resume") {
    import graft.etl.{CryptoConfig, Decrypt}
    import org.apache.spark.sql.functions._
    val base = Files.createTempDirectory("graft-fullstream")
    val src = base.resolve("src").toString
    val ckpt = base.resolve("ckpt").toString
    Files.createDirectories(Paths.get(src))
    val cat = Catalog(base.resolve("cat").toString)
    cat.bootstrap()
    val crypto = CryptoConfig("stream-pass", java.util.Base64.getEncoder
      .encodeToString("stream-salt".getBytes), 1000)
    val pipe = Pipeline(cat, Some(crypto))
    val key = Decrypt.deriveKey("stream-pass", "stream-salt".getBytes, 1000)

    def batch(name: String, rs: Seq[Row]): Unit = RestartFixtures.writeJsonl(src, name,
      spark.createDataFrame(spark.sparkContext.parallelize(rs, 1), Schemas.rawEvent))

    // micro-batch 1: room state + membership + plaintext + encrypted
    batch("b1.jsonl", Seq(
      Row("$st-create:x", "!r1:x", "@admin:x", "m.room.create", 1L,
        """{"creator":"@a:x"}""", null, false, false, null),
      Row("$st-name:x", "!r1:x", "@admin:x", "m.room.name", 2L,
        """{"name":"Stream Room"}""", null, false, false, null),
      Row("$mem-a:x", "!r1:x", "@alice:x", "m.room.member", 10L,
        """{"displayname":"Alice","membership":"join"}""", null, false, false, null),
      Row("$p1:x", "!r1:x", "@alice:x", "m.room.message", 100L,
        """{"msgtype":"m.text","body":"plain"}""", null, false, false, null),
      Row("$e1:x", "!r1:x", "@alice:x", "m.room.message", 110L,
        CryptoFixtures.encryptRandomIv("""{"msgtype":"m.text","body":"secret"}""", key),
        null, true, false, null)
    ))
    ingest(spark, src, ckpt, pipe)

    assert(cat.read(spark, "messages").count() == 2)
    assert(cat.read(spark, "messages").filter(col("event_id") === "$e1:x")
      .collect()(0).getAs[String]("content").contains("secret"),
      "streamed encrypted event must land decrypted")
    assert(cat.read(spark, "rooms").filter(col("name") === "Stream Room").count() == 1)
    assert(cat.read(spark, "participants").count() == 1)
    assert(cat.read(spark, "sync_state").count() == 1, "L8 token per batch")

    // micro-batch 2: tampered ciphertext (→ quarantine) + late duplicate
    val goodCt = CryptoFixtures.encryptRandomIv("""{"body":"x"}""", key)
    val tampered = goodCt.updated(20, if (goodCt(20) == 'A') 'B' else 'A')
    batch("b2.jsonl", Seq(
      Row("$e2:x", "!r1:x", "@bob:x", "m.room.message", 200L,
        tampered, null, true, false, null),
      Row("$p1:x", "!r1:x", "@alice:x", "m.room.message", 500L,
        """{"msgtype":"m.text","body":"edited"}""", null, false, false, null),
      // a twin "Alice" joining one micro-batch LATER: the T4 roomState
      // consult must see batch 1's persisted Alice through the real
      // foreachBatch wiring, not just in direct applyBatch calls
      Row("$mem-b:x", "!r1:x", "@alice2:x", "m.room.member", 210L,
        """{"displayname":"Alice","membership":"join"}""", null, false, false, null)
    ))
    ingest(spark, src, ckpt, pipe)

    val msgs = cat.read(spark, "messages")
    assert(msgs.count() == 2, "tampered row quarantined; duplicate merged not appended")
    assert(msgs.filter(col("event_id") === "$p1:x").collect()(0)
      .getAs[Long]("timestamp") == 500L, "LWW replay wins across micro-batches")
    val names = cat.read(spark, "participants")
      .select("user_id", "display_name").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(names == Map("@alice:x" -> "Alice", "@alice2:x" -> "Alice (@alice2:x)"),
      s"cross-batch twin must disambiguate against persisted state, got $names")
    val q = cat.read(spark, "logs").filter(col("message").contains("$e2:x")).collect()
    assert(q.length == 1 && q(0).getAs[String]("message").contains("decrypt_failed"),
      "tampered event must land in the logs quarantine")
    assert(cat.read(spark, "sync_state").count() == 2, "token advanced per batch")

    // checkpoint resume with no new files reprocesses nothing
    val vBefore = MergeWriter.currentVersion(cat.dir("messages"))
    ingest(spark, src, ckpt, pipe)
    assert(MergeWriter.currentVersion(cat.dir("messages")) == vBefore,
      "checkpoint resume must not re-merge old files")
  }

  test("checkpoint resume across a Spark RESTART: new session + new pipeline objects, effectively-once holds") {
    // S5/S7/L8 after a driver crash: session A ingests batch 1 and is
    // abandoned; a NEW isolated SparkSession with NEW Catalog/Pipeline
    // objects over the same on-disk checkpoint + catalog must (a) skip
    // batch 1's files entirely, (b) ingest only the new files, (c) merge
    // replayed duplicates instead of appending. A true SparkContext
    // bounce isn't possible in the shared-JVM test harness, but
    // newSession() resets everything a restart resets that matters for
    // this contract — SQL conf, session catalog, streaming-query state,
    // and every in-memory pipeline object — so the only state carried
    // across the "crash" is the durable checkpoint + catalog dirs,
    // which is exactly the contract under test.
    import org.apache.spark.sql.functions._
    val base = Files.createTempDirectory("graft-restart")
    val src = base.resolve("src").toString
    val ckpt = base.resolve("ckpt").toString
    Files.createDirectories(Paths.get(src))

    // --- session A: ingest 20 messages, then "crash"
    val catA = Catalog(base.resolve("cat").toString)
    catA.bootstrap()
    RestartFixtures.writeJsonl(src, "b0.jsonl", rawRows(0 until 20, 1000L))
    ingest(spark, src, ckpt, Pipeline(catA))
    assert(catA.read(spark, "messages").count() == 20)
    assert(catA.read(spark, "sync_state").count() == 1)

    // --- restart: fresh session, fresh catalog/pipeline objects
    val spark2 = spark.newSession()
    val catB = Catalog(base.resolve("cat").toString)
    val pipeB = Pipeline(catB)
    // new data arrives while "down": 10 new + 5 replayed duplicates
    RestartFixtures.writeJsonl(src, "b1-new.jsonl", rawRows(20 until 30, 2000L))
    RestartFixtures.writeJsonl(src, "b1-replay.jsonl", rawRows(0 until 5, 3000L))
    ingest(spark2, src, ckpt, pipeB)

    val msgs = catB.read(spark2, "messages")
    assert(msgs.count() == 30,
      "restart must skip batch-1 files and merge the 5 replays, not append")
    assert(msgs.select(countDistinct(col("event_id"))).head().getLong(0) == 30,
      "no duplicate event_ids after restart")
    assert(msgs.filter(col("event_id") === "$evt0:x").head()
      .getAs[Long]("timestamp") == 3000L, "LWW replay wins across the restart")
    // exactly ONE new micro-batch ran post-restart (token count 1 → 2):
    // had batch 1 been reprocessed the restarted source would have
    // emitted it as an extra micro-batch and written an extra token
    assert(catB.read(spark2, "sync_state").count() == 2,
      "restarted stream must process only the new files")

    // and a further restart with no new files reprocesses nothing
    val vBefore = MergeWriter.currentVersion(catB.dir("messages"))
    ingest(spark2, src, ckpt, pipeB)
    assert(MergeWriter.currentVersion(catB.dir("messages")) == vBefore,
      "idle restart must not re-merge old files")
  }

  test("checkpoint resume across a FORKED-JVM process restart: only durable state crosses") {
    // The newSession() variant above shares the SparkContext, so
    // static/JVM-level state (object singletons, codegen caches, the
    // context itself) could in principle smuggle resume state across
    // the "crash". Phase 2 therefore runs as graft.RestartProbe in a
    // brand-new java process over the same checkpoint + catalog dirs:
    // nothing but the on-disk state can cross a process boundary, so a
    // green probe is the full restart contract with no sliver left.
    val base = Files.createTempDirectory("graft-restart-fork")
    val src = base.resolve("src").toString
    val ckpt = base.resolve("ckpt").toString
    Files.createDirectories(Paths.get(src))

    // --- phase 1 (this JVM): ingest 20 messages, then "crash"
    val catA = Catalog(base.resolve("cat").toString)
    catA.bootstrap()
    RestartFixtures.writeJsonl(src, "b0.jsonl", rawRows(0 until 20, 1000L))
    ingest(spark, src, ckpt, Pipeline(catA))
    assert(catA.read(spark, "messages").count() == 20)
    assert(catA.read(spark, "sync_state").count() == 1)

    // --- phase 2: a fresh JVM resumes from the durable dirs alone.
    // Classpath is this forked test JVM's own (build.sbt Test/fork),
    // module opens come from Spark's public launcher helper — the same
    // list spark-submit injects.
    val javaBin = Paths.get(sys.props("java.home"), "bin", "java").toString
    val moduleOpts = org.apache.spark.launcher.JavaModuleOptions
      .defaultModuleOptions().trim.split("\\s+").toSeq
    val cmd = Seq(javaBin) ++ moduleOpts ++ Seq(
      "-Xmx3g", "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
      "-cp", sys.props("java.class.path"),
      "graft.RestartProbe", base.toString)
    // output goes to a file, not a pipe: no pipe-buffer deadlock, and
    // the wait can be bounded so a wedged probe JVM fails the test
    // instead of hanging the whole suite
    val outFile = base.resolve("probe.out").toFile
    val proc = new ProcessBuilder(cmd: _*).redirectErrorStream(true)
      .redirectOutput(outFile).start()
    val finished = proc.waitFor(8, java.util.concurrent.TimeUnit.MINUTES)
    if (!finished) proc.destroyForcibly().waitFor()
    val out = new String(java.nio.file.Files.readAllBytes(outFile.toPath))
    assert(finished, s"probe JVM hung (killed), tail:\n${out.takeRight(4000)}")
    val rc = proc.exitValue()
    assert(rc == 0 && out.contains("RESTARTPROBE OK"),
      s"forked restart probe failed rc=$rc, tail:\n${out.takeRight(4000)}")

    // and the state the probe wrote is readable back in THIS JVM
    val catB = Catalog(base.resolve("cat").toString)
    assert(catB.read(spark, "messages").count() == 30,
      "probe-merged state must be visible across the process boundary")
    assert(catB.read(spark, "sync_state").count() == 2)
  }

  test("maintenance cadence keeps versions and segments bounded across batches") {
    import scala.jdk.CollectionConverters._
    val base = Files.createTempDirectory("graft-maint")
    val src = base.resolve("src").toString
    val ckpt = base.resolve("ckpt").toString
    Files.createDirectories(Paths.get(src))
    val cat = Catalog(base.resolve("cat").toString)
    cat.bootstrap()
    val pipe = Pipeline(cat)

    // 6 single-file batches (maxFilesPerTrigger=1 → one micro-batch each);
    // maintenance every batch with retention 1 — the tightest cadence
    (0 until 6).foreach { b =>
      RestartFixtures.writeJsonl(src, s"b$b.jsonl", rawRows(b * 10 until (b * 10 + 10), 1000L * (b + 1)))
    }
    Streaming.startFullIngestJsonl(spark, src, ckpt, pipe,
      maxFilesPerTrigger = 1, maintainEvery = 1, keepVersions = 1)
      .awaitTermination()

    assert(cat.read(spark, "messages").count() == 60, "all batches ingested")
    assert(cat.read(spark, "sync_state").count() == 6)
    // bounded storage: without vacuum this is ≥ 1 version dir per batch
    // (6 merges + compact commits); retention 1 leaves O(1)
    Seq("messages", "sync_state").foreach { t =>
      val vdirs = Files.list(Paths.get(cat.dir(t))).iterator().asScala
        .count(_.getFileName.toString.matches("v\\d+"))
      assert(vdirs <= 2, s"$t version dirs must stay bounded, got $vdirs")
      val perBucket = MergeWriter.manifestEntries(cat.dir(t)).groupBy(_._1)
      assert(perBucket.forall(_._2.size == 1),
        s"$t buckets must stay compacted under the cadence")
    }
  }

  test("the stream handle reports a finished run: progress per batch, no exception") {
    val base = Files.createTempDirectory("graft-handle")
    val src = Files.createDirectories(base.resolve("src")).toString
    RestartFixtures.writeJsonl(src, "b0.jsonl", rawRows(0 until 4, 1L))
    val cat = Catalog(base.resolve("cat").toString)
    cat.bootstrap()
    val q = Streaming.startFullIngestJsonl(spark, src, base.resolve("ckpt").toString, Pipeline(cat))
    q.awaitTermination()
    assert(!q.isActive, "an AvailableNow run terminates")
    assert(q.exception.isEmpty, s"a clean run reports no exception: ${q.exception}")
    val progress = q.recentProgress.toSeq
    assert(progress.nonEmpty, "a finished run keeps its progress")
    assert(progress.map(p => (p.batchId, p.numInputRows)).contains((0L, 4L)),
      s"batch 0 read the file's 4 lines: ${progress.map(p => (p.batchId, p.numInputRows))}")
  }

  test("quarantine split routes error rows") {
    val raw = rawRows(0 until 10, 0L)
    val msgs = Ingest.messagesFromRaw(raw)
    import org.apache.spark.sql.functions._
    val withErr = msgs.withColumn("error",
      when(col("event_id") === "$evt3:x", "decrypt_failed"))
    val (clean, quarantined) = Ingest.quarantine(withErr)
    assert(clean.count() == 9 && quarantined.count() == 1)
  }
}

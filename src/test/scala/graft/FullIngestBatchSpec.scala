package graft

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import graft.etl._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.sql.streaming.StreamingQuery
import org.scalatest.funsuite.AnyFunSuite

/** The full-ingest micro-batch body's guarantees (Streaming.startFullIngestJsonl,
  * Pipeline.applyBatch): the micro-batch's source is read once; the body
  * runs in the caller's session; the three table chains run as the
  * stream's jobs (its job group); a failed chain surfaces only after the
  * others ended, with no sync token and no cache entry left behind; dead
  * letters keep their step order in `logs`. */
class FullIngestBatchSpec extends AnyFunSuite {
  lazy val spark: SparkSession = Sessions.local(cores = 4, appName = "graft-batch-body")

  private val crypto = CryptoConfig("body-pass", java.util.Base64.getEncoder
    .encodeToString("body-salt".getBytes), 1000)
  private lazy val key = Decrypt.deriveKey("body-pass", "body-salt".getBytes, 1000)

  private def ev(id: String, room: String, sender: String, typ: String, ts: Long,
      content: String, encrypted: Boolean = false): Row =
    Row(id, room, sender, typ, ts, content, null, encrypted, false, null)

  private def tampered: String = {
    val ct = CryptoFixtures.encryptRandomIv("""{"body":"never"}""", key)
    ct.updated(20, if (ct(20) == 'A') 'B' else 'A')
  }

  /** One batch that feeds all three chains and both dead-letter steps. */
  private def batchRows(tag: String, ts: Long): Seq[Row] = Seq(
    ev(s"$$create-$tag:x", s"!r$tag:x", "@admin:x", "m.room.create", ts, """{"creator":"@a:x"}"""),
    ev(s"$$name-$tag:x", s"!r$tag:x", "@admin:x", "m.room.name", ts + 1, s"""{"name":"Room $tag"}"""),
    ev(s"$$mem-$tag:x", s"!r$tag:x", "@alice:x", "m.room.member", ts + 2,
      """{"displayname":"Alice","membership":"join"}"""),
    ev(s"$$nomem-$tag:x", s"!r$tag:x", "@bob:x", "m.room.member", ts + 3, """{"displayname":"Bob"}"""),
    ev(s"$$p-$tag:x", s"!r$tag:x", "@alice:x", "m.room.message", ts + 4, """{"body":"plain"}"""),
    ev(s"$$e-$tag:x", s"!r$tag:x", "@alice:x", "m.room.message", ts + 5,
      CryptoFixtures.encryptRandomIv("""{"body":"secret"}""", key), encrypted = true),
    ev(s"$$bad-$tag:x", s"!r$tag:x", "@bob:x", "m.room.message", ts + 6, tampered, encrypted = true))

  private def frame(rows: Seq[Row]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), Schemas.rawEvent)

  private def fresh(name: String): (String, String, Catalog) = {
    val base = Files.createTempDirectory(name)
    val src = Files.createDirectories(base.resolve("src")).toString
    val cat = Catalog(base.resolve("cat").toString)
    cat.bootstrap()
    (src, base.resolve("ckpt").toString, cat)
  }

  private def dataProgress(q: StreamingQuery) = q.recentProgress.filter(_.numInputRows > 0).toSeq

  private def numCached: Int = org.apache.spark.sql.CacheEntries.count(spark)

  test("read once: numInputRows equals the source's row count for a parquet micro-batch") {
    val (src, ckpt, cat) = fresh("graft-body-parquet")
    val rows = batchRows("a", 100L)
    RestartFixtures.writeJsonl(src, "b0.jsonl", frame(rows))
    val q = Streaming.startFullIngestJsonl(spark, src, ckpt, Pipeline(cat, Some(crypto)))
    q.awaitTermination()
    val p = dataProgress(q)
    assert(p.map(_.numInputRows) == Seq(rows.size.toLong),
      s"one batch reading ${rows.size} rows once, got ${p.map(_.numInputRows)}")
    assert(cat.read(spark, "messages").count() == 2)
  }

  test("read once: numInputRows equals the source's line count for a JSONL micro-batch") {
    val (src, ckpt, cat) = fresh("graft-body-jsonl")
    val n = RestartFixtures.writeJsonl(src, "b0.jsonl", frame(batchRows("a", 100L)), Seq("""{"broken"""))
    val q = Streaming.startFullIngestJsonl(spark, src, ckpt, Pipeline(cat, Some(crypto)))
    q.awaitTermination()
    val p = dataProgress(q)
    assert(p.map(_.numInputRows) == Seq(n.toLong),
      s"one batch reading $n lines once, got ${p.map(_.numInputRows)}")
  }

  test("every job of a micro-batch carries the stream's job group") {
    val (src, ckpt, cat) = fresh("graft-body-group")
    RestartFixtures.writeJsonl(src, "b0.jsonl", frame(batchRows("a", 100L)))
    val seen = new ConcurrentLinkedQueue[(Int, String)]()
    val marker = s"body-spec-marker-${System.nanoTime()}"
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.add((e.jobId, Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull))
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val q = Streaming.startFullIngestJsonl(spark, src, ckpt, Pipeline(cat, Some(crypto)))
      q.awaitTermination()
      // the listener bus delivers in order: once the marker job arrives,
      // every job of the stream has been seen
      spark.sparkContext.setJobGroup(marker, marker)
      try spark.range(1).count() finally spark.sparkContext.clearJobGroup()
      val deadline = System.currentTimeMillis() + 30000
      while (!seen.asScala.exists(_._2 == marker) && System.currentTimeMillis() < deadline)
        Thread.sleep(20)
      val stream = seen.asScala.toSeq.filterNot(_._2 == marker)
      assert(stream.size >= 10, s"the batch body's jobs were seen: ${stream.size}")
      val runId = q.runId.toString
      assert(stream.forall(_._2 == runId),
        s"jobs outside group $runId: ${stream.filterNot(_._2 == runId)}")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("the micro-batch body plans and runs in the caller's session") {
    val (src, ckpt, cat) = fresh("graft-body-session")
    RestartFixtures.writeJsonl(src, "b0.jsonl", frame(batchRows("a", 100L)), Seq("""{"broken"""))
    val seen = new ConcurrentLinkedQueue[(SparkSession, Boolean)]()
    val marker = s"body_spec_marker_${System.nanoTime()}"
    // the caller's listeners are copied into the stream's cloned session,
    // so a body planned in the clone reports the clone here
    val listener = new QueryExecutionListener {
      private def add(qe: QueryExecution): Unit =
        seen.add((qe.sparkSession, qe.analyzed.output.exists(_.name == marker)))
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = add(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = add(qe)
    }
    spark.listenerManager.register(listener)
    try {
      Streaming.startFullIngestJsonl(spark, src, ckpt, Pipeline(cat, Some(crypto)))
        .awaitTermination()
      // delivered in order: once the marker arrives, the body's actions have
      spark.range(1).toDF(marker).collect()
      val deadline = System.currentTimeMillis() + 30000
      while (!seen.asScala.exists(_._2) && System.currentTimeMillis() < deadline) Thread.sleep(20)
    } finally spark.listenerManager.unregister(listener)
    val body = seen.asScala.toSeq.filterNot(_._2).map(_._1)
    assert(body.nonEmpty && body.forall(_ eq spark),
      s"${body.count(_ ne spark)} of ${body.size} body actions ran outside the caller's session")
  }

  /** Batch 0 commits every table; the messages dir then records a
    * different bucket count, so batch 1's messages merge fails in
    * `requireBucketLayout` before any job while the other chains run. */
  private def breakMessagesLayout(cat: Catalog): Unit =
    Files.write(java.nio.file.Paths.get(cat.dir("messages"), "_BUCKETS"),
      s"room_id\t${cat.messageBuckets / 2}".getBytes)

  private def chainThreadsAlive: Seq[String] =
    Thread.getAllStackTraces.keySet.asScala.toSeq.filter(_.isAlive).map(_.getName)
      .filter(_.startsWith("graft-batch-chain"))

  test("a failing chain is rethrown only after the other chains end; no sync token for the batch") {
    val (_, _, cat) = fresh("graft-body-fail")
    val pipe = Pipeline(cat, Some(crypto))
    pipe.applyBatch(spark, frame(batchRows("a", 100L)), batchId = 0L)
    breakMessagesLayout(cat)
    val partsV = MergeWriter.currentVersion(cat.dir("participants"))
    val roomsV = MergeWriter.currentVersion(cat.dir("rooms"))
    val e = intercept[IllegalArgumentException](
      pipe.applyBatch(spark, frame(batchRows("b", 200L)), batchId = 1L))
    assert(e.getMessage.contains("bucketed"), e.getMessage)
    assert(chainThreadsAlive.isEmpty, s"chains still running: $chainThreadsAlive")
    assert(MergeWriter.currentVersion(cat.dir("participants")).get > partsV.get,
      "the participants chain ran to its commit before the failure surfaced")
    assert(MergeWriter.currentVersion(cat.dir("rooms")).get > roomsV.get,
      "the rooms chain ran to its commit before the failure surfaced")
    assert(cat.read(spark, "sync_state").select("id").collect().map(_.getString(0)).toSeq == Seq("0"),
      "a failed batch writes no sync token")
  }

  test("a failing micro-batch leaves no cache entry and no sync token") {
    val (src, ckpt, cat) = fresh("graft-body-fail-stream")
    val pipe = Pipeline(cat, Some(crypto))
    RestartFixtures.writeJsonl(src, "b0.jsonl", frame(batchRows("a", 100L)))
    Streaming.startFullIngestJsonl(spark, src, ckpt, pipe,
      maxFilesPerTrigger = 1).awaitTermination()
    breakMessagesLayout(cat)
    RestartFixtures.writeJsonl(src, "b1.jsonl", frame(batchRows("b", 200L)))
    val cachedBefore = numCached
    val q = Streaming.startFullIngestJsonl(spark, src, ckpt, pipe,
      maxFilesPerTrigger = 1)
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException](q.awaitTermination())
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(c => c.isInstanceOf[IllegalArgumentException] && c.getMessage.contains("bucketed")),
      s"the chain's error surfaces: $e")
    assert(numCached == cachedBefore, "the micro-batch's cache entry is dropped on failure")
    assert(chainThreadsAlive.isEmpty, s"chains still running: $chainThreadsAlive")
    assert(cat.read(spark, "sync_state").count() == 1, "only batch 0 has a sync token")
  }

  test("dead letters of one batch land in step order: corrupt < message < member") {
    val (src, ckpt, cat) = fresh("graft-body-order")
    RestartFixtures.writeJsonl(src, "b0.jsonl", frame(batchRows("a", 100L)), Seq("""{"event_id": not json"""))
    Streaming.startFullIngestJsonl(spark, src, ckpt, Pipeline(cat, Some(crypto)))
      .awaitTermination()
    val logs = cat.read(spark, "logs").select("timestamp", "message").collect()
      .map(r => r.getString(1) -> r.getTimestamp(0)).toSeq
    def at(marker: String) = {
      val hit = logs.filter(_._1.contains(marker))
      assert(hit.size == 1, s"one log row for $marker in $logs")
      hit.head._2
    }
    val corrupt = at("not json")
    val message = at("$bad-a:x")
    val member = at("$nomem-a:x")
    assert(corrupt.before(message) && message.before(member),
      s"logs must order corrupt < message < member: $corrupt, $message, $member")
  }
}

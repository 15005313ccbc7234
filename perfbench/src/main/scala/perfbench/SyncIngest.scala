package perfbench

import java.nio.file.{Files, Path}
import java.nio.file.attribute.FileTime
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.streaming.StreamingQueryProgress
import graft.etl.{Catalog, Ingest, MergeWriter, Pipeline, Streaming}

/** The write path as a `/sync` client drives it: a closed loop that
  * asks for the next batch only after the last one is processed.
  *
  * Each generated batch is one JSON-lines file; the ingest runs through
  * `Streaming.startFullIngestJsonl` with one file per trigger, so one
  * file is one micro-batch, and the streaming checkpoint plays the sync
  * token. Set-up first pushes a small batch of an unrelated stream
  * through a throwaway catalog and checkpoint, so the engine's first-use
  * code generation is paid before the timing starts. Phase `backlog`
  * then catches up after being offline: one batch of several thousand
  * events, including the initial room state, through one run of the
  * stream. Phase `live` resumes from the same checkpoint once per batch
  * of about 10² events until the time budget is spent (at least
  * [[MinLiveBatches]]), so it separates per-batch fixed cost (live) from
  * per-event cost (backlog). Storage maintenance runs on its cadence
  * inside the run.
  */
object SyncIngest {
  /** Maintenance cadence in batches; fires on batch ids 1, 3, 5, …: on
    * the first resumed batch of every run, and every other one after. */
  val MaintainEvery = 2
  val MinLiveBatches = 2
  val MaxLiveBatches = 40
  /** The generated population and batch sizes. */
  val Rooms = 240
  val Users = 600
  val BacklogEvents = 3000
  val LiveEvents = 100
  /** Seed salt of the warm-up stream, so it shares no batch with the
    * measured one. */
  private val WarmUpSalt = 0x5eed5eedL

  /** One catalog plus its source directory and checkpoint: the state a
    * sync client keeps between runs. */
  final class Sink(root: Path) {
    val src: Path = Files.createDirectories(root.resolve("src"))
    val checkpoint: String = root.resolve("checkpoint").toString
    val catalog: Catalog = Catalog(root.resolve("catalog").toString)
    catalog.bootstrap()
    val pipeline: Pipeline = Pipeline(catalog, Some(SyncGen.Crypto))
    private var files = 0
    private val mtime0 = System.currentTimeMillis() - 3600 * 1000L

    /** Drop batches into the source directory, oldest first. The file
      * source orders files by modification time, so each file gets a
      * distinct, increasing one. */
    def put(batches: Seq[SyncGen.Batch]): Unit = batches.foreach { b =>
      val p = src.resolve(f"batch-$files%05d.jsonl")
      Files.write(p, b.bytes)
      Files.setLastModifiedTime(p, FileTime.fromMillis(mtime0 + files * 1000L))
      files += 1
    }

    /** Run the stream until every dropped file is processed. */
    def drain(spark: SparkSession): Unit =
      Streaming.startFullIngestJsonl(spark, src.toString, checkpoint, pipeline,
        maxFilesPerTrigger = 1, maintainEvery = MaintainEvery).awaitTermination()
  }

  /** What the write phases leave behind: the catalog for the read
    * phase, the model it must equal, and the figures for the report.
    * `layers` is evaluated after the whole timed region. */
  final case class Written(sink: Sink, model: SyncModel.State, batches: Int, ok: Boolean,
      liveP50: Option[Stats.Figure], backlogMs: Double, backlogEventsPerS: Double, firstOpMs: Long,
      detail: Seq[Metric], layers: () => Seq[Metric])

  /** Untimed: a live batch of an unrelated stream through a throwaway
    * catalog and checkpoint. It takes the create path the backlog takes,
    * so that path's first-use code generation lands in set-up and not in
    * the backlog's time. (The merge path compiles in the first live
    * batch, which runs maintenance and so is left out of the live
    * figure.) */
  private def warmUp(c: Ctx): Unit = {
    val sink = new Sink(c.dir("warmup"))
    sink.put(SyncGen.generate(c.seed ^ WarmUpSalt, liveBatches = 1).tail)
    c.probe.recording = false
    try sink.drain(c.spark) finally c.probe.recording = true
    waitFor(c.probe.progress.size >= 1, 30000)
    c.probe.progress.clear()
    c.mark("write path warmed up")
  }

  def run(c: Ctx): Written = {
    val spark = c.spark
    val batches = SyncGen.generate(c.seed)
    val (backlog, liveAll) = batches.partition(_.phase == "backlog")
    warmUp(c)
    val sink = new Sink(c.dir("sync"))

    // ---- timed: backlog phase, one run of the stream
    val firstOp = c.timedStart()
    sink.put(backlog)
    val b0 = System.nanoTime()
    c.probe.span("streaming.run", "backlog")(sink.drain(spark))
    val backlogWallS = (System.nanoTime() - b0) / 1e9
    val backlogEvents = backlog.map(_.lines.size).sum
    c.mark("backlog ingested")

    // ---- timed: live phase, one resumed run per batch until time is up
    val deadline = System.nanoTime() + (c.seconds * 1e9).toLong
    var live = 0
    var failedRuns = 0L
    // a traced run takes a few more, so that every per-layer figure has
    // samples on both sides of the maintenance cadence
    val minLive = if (c.trace) 2 * MinLiveBatches else MinLiveBatches
    while (live < MaxLiveBatches && (live < minLive || System.nanoTime() < deadline)) {
      // in a traced run every other maintenance cycle runs untraced, so
      // the overhead compares like batches
      if (c.trace) c.probe.recording = recordedLive(live)
      sink.put(Seq(liveAll(live)))
      try c.probe.span("streaming.run", s"live-$live")(sink.drain(spark))
      catch { case e: Exception => failedRuns += 1; System.err.println(s"live batch $live failed: $e") }
      live += 1
    }
    c.probe.recording = true
    c.mark(s"$live live batches ingested")
    val ingested = backlog ++ liveAll.take(live)
    // the listener bus delivers progress asynchronously
    waitFor(c.probe.progress.size >= ingested.size, 30000)
    val progress = c.probe.progress.asScala.toSeq.sortBy(_.batchId)

    // ---- untimed: correctness against the independent model
    val model = SyncModel.run(ingested)
    spark.sparkContext.setLocalProperty(Probe.OpProperty, Probe.Untraced + "check")
    val checks = try checkCatalog(spark, sink.catalog, model)
      finally spark.sparkContext.setLocalProperty(Probe.OpProperty, null)
    checks.filterNot(_.ok).foreach(k => System.err.println(s"[check] ${k.name}: ${k.problems.mkString("; ")}"))
    c.mark("catalog checked")
    val ok = checks.forall(_.ok) && progress.size == ingested.size && failedRuns == 0

    // the live figure is the plain batches; the maintenance batches'
    // extra cost is a per-layer figure
    val liveTrig = progress.filter(_.batchId >= backlog.size).filterNot(p => maintains(p.batchId))
      .map(dur(_, "triggerExecution"))
    val storagePerEvent = dirBytes(Path.of(sink.catalog.root)).toDouble / ingested.map(_.lines.size).sum
    val liveP50 = Stats.median(liveTrig)
    val detail = Seq(
      Metric("sync_backlog_events_per_s", backlogEvents / backlogWallS, "1/s", backlog.size),
      Metric("sync_live_batch_p50_s", liveP50.map(_.value / 1000).getOrElse(Double.NaN), "s", liveTrig.size),
      Metric("sync_storage_bytes_per_event", storagePerEvent, "B"),
      Metric("sync_events_ingested", ingested.map(_.lines.size).sum, "count", ingested.size))
    val layers = () => layerMetrics(c, sink, backlog, liveAll.take(live), progress, storagePerEvent)
    Written(sink, model, ingested.size, ok, liveP50, backlogWallS * 1000, backlogEvents / backlogWallS,
      firstOp, detail, layers)
  }

  /** Whether batch `id` runs the maintenance cadence after its body. */
  private def maintains(id: Long): Boolean = id % MaintainEvery == MaintainEvery - 1

  /** Whether a traced run records live batch `i` (0 = first resumed). */
  private def recordedLive(i: Long): Boolean = (i / MaintainEvery) % 2 == 0

  private def dur(p: StreamingQueryProgress, k: String): Double =
    Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)

  /** Poll `cond` until it holds or `timeoutMs` passes; returns it. */
  private def waitFor(cond: => Boolean, timeoutMs: Long): Boolean = {
    val end = System.currentTimeMillis() + timeoutMs
    while (!cond && System.currentTimeMillis() < end) Thread.sleep(20)
    cond
  }

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else scala.util.Using.resource(Files.walk(p))(
      _.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum)

  // ---------------------------------------------------------------- check

  def checkCatalog(spark: SparkSession, cat: Catalog, m: SyncModel.State): Seq[Check] = {
    def rows(t: String): Seq[Row] = cat.read(spark, t).collect().toSeq
    def opt(r: Row, i: Int): Option[String] = if (r.isNullAt(i)) None else Some(r.getString(i))
    val msgs = rows("messages").map(r => (r.getAs[String]("id"), SyncModel.Msg(
      r.getAs[String]("event_id"), r.getAs[String]("room_id"), r.getAs[String]("sender"),
      r.getAs[String]("content"), r.getAs[Long]("timestamp"), r.getAs[Boolean]("is_encrypted"),
      opt(r, r.fieldIndex("relates_to"))), r.getAs[String]("event_type"), r.getAs[String]("error")))
    val wantMsgs = m.messages.values.toSeq.map(x => (SyncModel.md5Hex(x.eventId), x, "m.room.message", null))
    val parts = rows("participants").map(r => (r.getAs[String]("user_id"), r.getAs[String]("room_id"),
      r.getAs[String]("display_name"), r.getAs[String]("avatar_url"), r.getAs[String]("membership"),
      r.getAs[Long]("joined_ts")))
    val wantParts = m.participants.values.toSeq.map(p =>
      (p.userId, p.roomId, p.displayName, p.avatarUrl, p.membership, p.joinedTs))
    val rooms = rows("rooms").map(r => SyncModel.Room(r.getAs[String]("room_id"), r.getAs[String]("name"),
      r.getAs[String]("topic"), r.getAs[Boolean]("is_encrypted"), r.getAs[Long]("created_ts"),
      r.getAs[String]("avatar_url")) -> r.getAs[String]("membership"))
    val wantRooms = m.rooms.values.toSeq.map(_ -> "join")
    val logs = rows("logs").map(r => (r.getAs[String]("level"), r.getAs[String]("message")))
    val wantLogs = m.logs.map(l => ("error", l.message))
    val sync = rows("sync_state").map(_.getAs[String]("next_batch"))
    val wantSync = (0 until m.batches).map(i => f"batch-$i%012d")
    Seq(
      Check.sameMultiset("messages", msgs, wantMsgs),
      Check.sameMultiset("participants", parts, wantParts),
      Check.sameMultiset("rooms", rooms, wantRooms),
      Check.sameMultiset("logs", logs, wantLogs),
      Check.sameMultiset("sync_state", sync, wantSync))
  }

  // ------------------------------------------------------------- per-layer

  /** T1–T8 on one staged batch, into the `noop` sink: µs per event,
    * best of `passes` after one warm-up. */
  def transformUsPerEvent(c: Ctx, b: SyncGen.Batch, passes: Int = 3): Double = {
    val spark = c.spark
    val f = c.dir("staged").resolve("batch.jsonl")
    Files.write(f, b.bytes)
    val lines = spark.read.text(f.toString).cache()
    lines.count()
    def once(): Long = {
      val t0 = System.nanoTime()
      c.probe.span("ingest.transforms", "staged") {
        val raw = Ingest.rawFromJsonLines(lines).cache()
        raw.write.format("noop").mode("overwrite").save()
        val msgs = Ingest.decryptMessages(Ingest.messagesFromRaw(raw), SyncGen.Crypto)
        msgs.write.format("noop").mode("overwrite").save()
        Ingest.projectParticipant(raw).write.format("noop").mode("overwrite").save()
        Ingest.projectRooms(raw).write.format("noop").mode("overwrite").save()
        raw.unpersist()
      }
      System.nanoTime() - t0
    }
    once()
    val best = (1 to passes).map(_ => once()).min
    lines.unpersist()
    best / 1e3 / b.lines.size
  }

  private def layerMetrics(c: Ctx, sink: Sink, backlog: Seq[SyncGen.Batch],
      live: Seq[SyncGen.Batch], progress: Seq[StreamingQueryProgress],
      storagePerEvent: Double): Seq[Metric] = {
    val B = backlog.size
    val all = backlog ++ live
    val jobs = c.probe.jobList
    final case class BatchView(p: StreamingQueryProgress, batch: SyncGen.Batch,
        jobs: Seq[Probe.Job], trig: Double, add: Double) {
      val startMs: Long = java.time.Instant.parse(p.timestamp).toEpochMilli
      def live: Boolean = p.batchId >= B
      def maintenance: Boolean = maintains(p.batchId)
    }
    val views = progress.map { p =>
      val s = java.time.Instant.parse(p.timestamp).toEpochMilli
      val e = s + dur(p, "triggerExecution").toLong
      BatchView(p, all(p.batchId.toInt), jobs.filter(j => j.startMs >= s && j.startMs <= e),
        dur(p, "triggerExecution"), dur(p, "addBatch"))
    }
    def recorded(v: BatchView): Boolean = !v.live || recordedLive(v.p.batchId - B)
    val liveViews = views.filter(_.live)
    val plain = liveViews.filter(recorded).filterNot(_.maintenance)
    val bv = views.filterNot(_.live)
    val rec = views.filter(recorded)
    def med(xs: Seq[Double]): Option[Stats.Figure] = Stats.median(xs)
    def m(name: String, f: Option[Stats.Figure], unit: String): Option[Metric] =
      f.map(x => Metric(name, x.value, unit, x.samples))
    val gap = plain.map { v =>
      val iv = v.jobs.map(j => (j.startMs, if (j.endMs > 0) j.endMs else j.startMs))
      math.max(0.0, v.add - Probe.unionLength(iv))
    }
    val backlogEvents = bv.map(_.batch.lines.size).sum
    val backlogTasks = c.probe.tasks(bv.flatMap(_.jobs))
    val recTasks = c.probe.tasks(rec.flatMap(_.jobs))
    val recInputBytes = rec.map(_.batch.bytes.length.toLong).sum
    val bucketsTouched = views.map(v => v.batch.events.map(e =>
      MergeWriter.bucketIdOf(e.roomId, sink.catalog.messageBuckets)).distinct.size.toDouble)
    val segments = sink.catalog.tables.keys.toSeq.filter(sink.catalog.exists)
      .map(t => MergeWriter.manifestFull(sink.catalog.dir(t)).size).sum
    // one cadence's maintenance, timed around the call on the final
    // catalog (the plain batches since the last cadence run). Inside a
    // batch it is the cadence batch's extra addBatch time, which one or
    // two batches per run cannot tell apart from batch-to-batch noise.
    val m0 = System.nanoTime()
    c.probe.span("catalog.maintain", "final")(sink.catalog.maintain(c.spark))
    val maintainMs = (System.nanoTime() - m0) / 1e6
    val transform = transformUsPerEvent(c, backlog.last)
    val overhead = for (a <- med(plain.map(_.trig));
        b <- med(liveViews.filterNot(recorded).filterNot(_.maintenance).map(_.trig)))
      yield Metric("trace.overhead_pct.live_batch", (a.value / b.value - 1) * 100, "%", a.samples + b.samples)
    Seq(
      m("streaming.overhead_ms_p50", med(plain.map(v => v.trig - v.add)), "ms"),
      Some(Metric("streaming.source_rows_read_per_event",
        views.map(_.p.numInputRows).sum.toDouble / views.map(_.batch.lines.size).sum, "ratio", views.size)),
      m("pipeline.apply_ms_p50.live", med(plain.map(_.add)), "ms"),
      m("pipeline.apply_ms_p50.backlog", med(bv.map(_.add)), "ms"),
      m("pipeline.jobs_per_batch", med(plain.map(_.jobs.size.toDouble)), "count"),
      m("pipeline.driver_gap_ms_p50", med(gap), "ms"),
      Some(Metric("pipeline.task_cpu_ms_per_kevent", backlogTasks.cpuNs / 1e6 / backlogEvents * 1000, "ms", bv.size)),
      Some(Metric("ingest.transform_us_per_event", transform, "us", 1)),
      Some(Metric("merge.bytes_written_per_input_byte", recTasks.bytesWritten.toDouble / recInputBytes, "ratio", rec.size)),
      m("merge.buckets_touched_per_batch", med(bucketsTouched), "count"),
      Some(Metric("catalog.maintain_ms", maintainMs, "ms")),
      Some(Metric("storage.segments_live", segments, "count")),
      Some(Metric("storage.bytes_per_event", storagePerEvent, "B")),
      overhead,
    ).flatten
  }
}

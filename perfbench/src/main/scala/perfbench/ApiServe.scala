package perfbench

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.SparkPlan
import graft.etl.{Api, Catalog}

/** The read phase: the dashboard's REST routes served from the catalog
  * the write phase just built, under open-loop load at one fixed rate.
  *
  * Every route's expected answer comes from the independent model,
  * never through `etl.Api`. After an untimed warm-up, the timed phase
  * issues the dashboard's routes at [[RatePerS]] for the run's seconds,
  * about half the seed's capacity on four client threads.
  */
object ApiServe {
  /** Fixed request rate of the open loop: about half of the 12–14
    * requests/s of read capacity the seed shows on four client threads
    * of a shared 4-vCPU host. */
  val RatePerS = 6.0
  val RoomZipf = 1.1
  val UserZipf = 1.0

  /** The dashboard's routes, equally weighted. The reference's client
    * fixes no request frequency except a 30 s poll of the stats route,
    * which sets no ratio to the user-driven ones; equal weights give
    * every route's per-layer median the same number of samples. */
  val Routes: Seq[String] = Seq("stats", "rooms", "room_detail", "messages_page",
    "users", "user_detail", "logs_tail", "config")

  final case class Req(route: String, key: String)

  /** The seeded request sequence: each round holds every one of the
    * [[Routes]] once, in seeded order, so runs differ in order and keys
    * but not in how much of each route they serve; rooms and users are
    * Zipf-chosen. */
  def requests(seed: Long, n: Int, rooms: Int, users: IndexedSeq[String]): IndexedSeq[Req] = {
    val rnd = new java.util.Random(seed * 31 + 7)
    val roomPick = new Zipf(rooms, RoomZipf)
    val userPick = new Zipf(users.size, UserZipf)
    val routes = Iterator.continually {
      val shuffled = Routes.toArray
      for (i <- shuffled.indices.reverse) {
        val j = rnd.nextInt(i + 1)
        val t = shuffled(i); shuffled(i) = shuffled(j); shuffled(j) = t
      }
      shuffled.toSeq
    }.flatten
    routes.take(n).toIndexedSeq.map { route =>
      route match {
        case "room_detail" | "messages_page" => Req(route, SyncGen.roomId(roomPick.sample(rnd)))
        case "user_detail" => Req(route, users(userPick.sample(rnd)))
        case _ => Req(route, "")
      }
    }
  }

  /** Expected answers, from the model only. */
  final class Expected(m: SyncModel.State) {
    val stats: Seq[Any] = Seq(m.messages.size.toLong, m.rooms.size.toLong,
      m.rooms.values.count(_.encrypted).toLong, m.participants.size.toLong)
    val rooms: Seq[Seq[Any]] = m.rooms.values.toSeq
      .map(r => (r, m.lastMessage.get(r.roomId)))
      .sortBy { case (r, t) => (t.map(-_).getOrElse(Long.MaxValue), r.roomId) }
      .map { case (r, t) => Seq(r.roomId, r.name, r.topic, r.encrypted, t.map(x => x: Any).orNull) }
    def roomDetail(id: String): Seq[Any] = m.rooms.get(id).toSeq.flatMap { r =>
      Seq(r.roomId, r.name, r.topic, "join", r.encrypted, r.createdTs, r.avatarUrl,
        m.participants.values.filter(_.roomId == id)
          .map(p => Seq(p.userId, p.displayName, p.avatarUrl, p.membership)).toSet)
    }
    def pages(id: String): (Seq[String], Seq[String]) = {
      val ms = m.messagesOf(id).map(_.eventId)
      (ms.take(50), ms.slice(50, 100))
    }
    val users: Seq[Seq[Any]] = SyncModel.users(m).map(u => Seq(u._1, u._2, u._3))
    def userDetail(id: String): Set[Seq[Any]] = m.participants.values.filter(_.userId == id)
      .flatMap(p => m.rooms.get(p.roomId).map(r => Seq(r.roomId, r.name, r.topic))).toSet
    val logs: Seq[String] = SyncModel.logsNewestFirst(m).take(100)
    val config: String = f"batch-${m.batches - 1}%012d"
  }

  /** Per-request observations made in a traced run. */
  final case class Obs(planMs: Double, files: Long, rowsScanned: Long, rowsOut: Long)

  /** The timed requests, and the figures for the report. `layers` is
    * evaluated after the whole timed region. */
  final case class Served(samples: IndexedSeq[OpenLoop.Sample], ok: Boolean,
      detail: Seq[Metric], layers: () => Seq[Metric])

  /** The tail percentile a read phase of about 40 requests supports. */
  val TailP = 0.75

  def run(c: Ctx, catalog: Catalog, model: SyncModel.State): Served = {
    val spark = c.spark
    val want = new Expected(model)
    val api = Api(catalog)
    val userIds = model.participants.values.map(_.userId).toSeq.distinct.sorted.toIndexedSeq
    val traced = new java.util.concurrent.ConcurrentHashMap[Int, Obs]()

    def collect(i: Int, df: DataFrame): Array[Row] = {
      val rows = df.collect()
      if (c.trace && !c.probe.muted.get) {
        val qe = df.queryExecution
        val plan = qe.tracker.phases.values.map(p => p.endTimeMs - p.startTimeMs).sum.toDouble
        val scans = scanLeaves(qe.executedPlan)
        def metric(k: String) = scans.flatMap(_.metrics.get(k)).map(_.value).sum
        val prev = Option(traced.get(i)).getOrElse(Obs(0, 0, 0, 0))
        traced.put(i, Obs(prev.planMs + plan, prev.files + metric("numFiles"),
          prev.rowsScanned + metric("numOutputRows"), prev.rowsOut + rows.length))
      }
      rows
    }

    // in a traced run every odd request (and the warm-up) runs untraced
    def serve(i: Int, r: Req): Boolean = {
      val untraced = c.trace && (i % 2 != 0 || i < 0)
      c.probe.muted.set(untraced)
      spark.sparkContext.setLocalProperty(Probe.OpProperty,
        (if (untraced) Probe.Untraced else "") + s"req-$i")
      try c.probe.span(s"api.${r.route}", s"req-$i") {
        r.route match {
          case "stats" =>
            val row = collect(i, api.stats(spark)).head
            Seq(row.getLong(0), row.getLong(1), row.getLong(2), row.getLong(3)) == want.stats &&
              !row.isNullAt(4)
          case "rooms" =>
            collect(i, api.listRooms(spark)).toSeq.map(x => Seq(x.getAs[String]("room_id"),
              x.getAs[String]("name"), x.getAs[String]("topic"), x.getAs[Boolean]("is_encrypted"),
              x.getAs[Any]("last_message_timestamp"))) == want.rooms
          case "room_detail" =>
            collect(i, api.roomDetail(spark, r.key)).toSeq.flatMap { x =>
              Seq(x.getAs[String]("room_id"), x.getAs[String]("name"), x.getAs[String]("topic"),
                x.getAs[String]("membership"), x.getAs[Boolean]("is_encrypted"),
                x.getAs[Long]("created_ts"), x.getAs[String]("avatar_url"),
                Option(x.getAs[scala.collection.Seq[Row]]("participants")).toSeq.flatten
                  .map(p => Seq(p.getString(0), p.getString(1), p.getString(2), p.getString(3))).toSet)
            } == want.roomDetail(r.key)
          case "messages_page" =>
            val (p1, p2) = want.pages(r.key)
            val first = collect(i, api.messagesPage(spark, r.key))
            val back = first.lastOption.map { last =>
              collect(i, api.messagesPage(spark, r.key, before = Some(last.getAs[Long]("timestamp")),
                beforeEvent = Some(last.getAs[String]("event_id")))).toSeq.map(_.getAs[String]("event_id"))
            }.getOrElse(Nil)
            first.toSeq.map(_.getAs[String]("event_id")) == p1 && back == p2
          case "users" =>
            collect(i, api.listUsers(spark)).toSeq.map(x => Seq(x.getString(0), x.getString(1),
              x.getString(2))) == want.users
          case "user_detail" =>
            collect(i, api.userDetail(spark, r.key)).toSeq.flatMap(_.getSeq[Row](1))
              .map(x => Seq(x.getString(0), x.getString(1), x.getString(2))).toSet == want.userDetail(r.key)
          case "logs_tail" =>
            collect(i, api.logsTail(spark)).toSeq.map(_.getAs[String]("message")) == want.logs
          case "config" =>
            collect(i, api.configSingleton(spark)).toSeq.map(_.getAs[String]("next_batch")) == Seq(want.config)
        }
      } finally {
        spark.sparkContext.setLocalProperty(Probe.OpProperty, null)
        c.probe.muted.set(false)
      }
    }

    // warm-up, untimed
    val warmReqs = requests(c.seed ^ 0x2545f491L, 2 * c.threads, SyncIngest.Rooms, userIds)
    val warmPool = java.util.concurrent.Executors.newFixedThreadPool(c.threads)
    val warmOk = warmReqs.indices.map(i => warmPool.submit(() => serve(-1 - i, warmReqs(i))))
      .forall(_.get())
    warmPool.shutdown()
    c.mark("read path warmed up")
    if (!warmOk) System.err.println("[check] a warm-up request returned a wrong answer")
    traced.clear()

    // a traced run serves twice as long: half its requests run untraced
    val n = math.max(1, (c.seconds * RatePerS).toInt) * (if (c.trace) 2 else 1)
    val reqs = requests(c.seed, n, SyncIngest.Rooms, userIds)
    val samples = OpenLoop.run(n, RatePerS, c.threads)(i => serve(i, reqs(i)))
    c.mark(s"$n requests served")

    val lat = samples.map(_.latencyMs)
    val p50 = Stats.median(lat)
    val tail = Stats.tail(lat, TailP)
    // read capacity at this mix: client threads over the mean
    // service time (queueing excluded) — the mean, unlike the median,
    // moves with the slow routes too
    val capacity = c.threads * 1000.0 / (samples.map(_.serviceMs).sum / samples.size)
    val detail = Seq(
      p50.map(f => Metric("api_latency_p50_ms", f.value, "ms", f.samples)),
      tail.map(f => Metric("api_latency_p75_ms", f.value, "ms", f.samples)),
      Some(Metric("api_rate_per_s", RatePerS, "1/s", n)),
      Some(Metric("api_capacity_per_s", capacity, "1/s", samples.size))).flatten
    val layers = () => {
      def med(name: String, xs: Seq[Double], unit: String) =
        Stats.median(xs).map(f => Metric(name, f.value, unit, f.samples))
      val tracedIdx = samples.filter(s => s.index % 2 == 0)
      val perRoute = Routes.flatMap(route =>
        med(s"api.$route.ms_p50", tracedIdx.filter(s => reqs(s.index).route == route).map(_.serviceMs), "ms"))
      val obs = tracedIdx.flatMap(s => Option(traced.get(s.index)))
      val jobsPerReq = c.probe.jobList.filter(_.op.startsWith("req-")).groupBy(_.op).map(_._2.size.toDouble).toSeq
      val untraced = samples.filter(_.index % 2 == 1).map(_.serviceMs)
      val overhead = for (a <- Stats.median(tracedIdx.map(_.serviceMs)); b <- Stats.median(untraced))
        yield Metric("trace.overhead_pct.request", (a.value / b.value - 1) * 100, "%", a.samples + b.samples)
      perRoute ++ Seq(
        p50.map(f => Metric("api.latency_p50_ms", f.value, "ms", f.samples)),
        med("api.plan_ms_p50", obs.map(_.planMs), "ms"),
        med("api.jobs_per_request", jobsPerReq, "count"),
        med("api.files_read_per_request", obs.map(_.files.toDouble), "count"),
        Some(Metric("api.rows_scanned_per_row_returned",
          obs.map(_.rowsScanned).sum.toDouble / math.max(1L, obs.map(_.rowsOut).sum), "ratio", obs.size)),
        Stats.tail(samples.map(_.queueWaitMs), TailP).map(f => Metric("api.queue_wait_ms_p75", f.value, "ms", f.samples)),
        Some(Metric("api.generator_late_ms_max", samples.map(_.generatorLateMs).max, "ms", samples.size)),
        overhead).flatten
    }
    Served(samples, warmOk && samples.forall(_.ok), detail, layers)
  }

  /** Scan leaves of an executed plan, through adaptive plans and their
    * query stages. */
  def scanLeaves(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => scanLeaves(a.executedPlan)
    case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => scanLeaves(q.plan)
    case s if s.children.isEmpty => if (s.nodeName.contains("Scan")) Seq(s) else Nil
    case other => other.children.flatMap(scanLeaves)
  }
}

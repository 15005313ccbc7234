package perfbench

import java.nio.file.{Files, Path}
import org.apache.spark.sql.SparkSession

/** Shared run context handed to every workload. */
final class Ctx(val spark: SparkSession, val probe: Probe, val root: Path,
    val seed: Long, val seconds: Double, val threads: Int, val trace: Boolean) {
  def dir(name: String): Path = Files.createDirectories(root.resolve(name))

  private val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
  /** Log a phase boundary to stderr, as seconds since process start. */
  def mark(phase: String): Unit =
    System.err.println(f"[perfbench] +${(System.currentTimeMillis() - jvmStartMs) / 1000.0}%.1fs $phase")

  private var gcStart = 0L
  private var gcEnd = 0L
  /** Wall-clock ms at the end of the timed region. */
  var timedEndMs: Long = Long.MaxValue
  /** Marks the first timed operation; returns its wall-clock ms. */
  def timedStart(): Long = { gcStart = Probe.gcMs; System.currentTimeMillis() }
  def timedEnd(): Unit = { gcEnd = Probe.gcMs; timedEndMs = System.currentTimeMillis() }
  def gcTimedMs: Long = gcEnd - gcStart
}

/** Engine-wide totals over the jobs of a timed region (traced runs). */
object Spark {
  def totals(c: Ctx, jobs: Seq[Probe.Job]): Seq[Metric] = {
    val t = c.probe.tasks(jobs)
    Seq(
      Metric("spark.jobs", jobs.size, "count"),
      Metric("spark.task_cpu_s", t.cpuNs / 1e9, "s", t.tasks.toInt),
      Metric("spark.shuffle_bytes", t.shuffleBytes.toDouble, "B"),
      Metric("spark.spill_bytes", t.spillBytes.toDouble, "B"),
      Metric("jvm.gc_ms", c.gcTimedMs.toDouble, "ms"))
  }

  /** Host-speed yardstick: a fixed, pure-CPU, shuffle-free job whose
    * cost depends on the host only (the `bit_xor(xxhash64(id))` probe
    * of the engine's own bench, at a tenth of its size). Run after the
    * timed region; the best of two after one warm-up. */
  def calibrationS(spark: SparkSession): Double = {
    def once(): Double = {
      val t0 = System.nanoTime()
      spark.range(0L, 20000000L, 1, 16).selectExpr("bit_xor(xxhash64(id)) AS s").collect()
      (System.nanoTime() - t0) / 1e9
    }
    once()
    math.min(once(), once())
  }
}

/** Benchmark entry point:
  * `perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --workdir <dir>`.
  *
  * The last line of standard output is the result object; the line
  * before it (prefixed `detail `) lists every figure with its unit and
  * sample count. Exit code 0 means the run completed, whether or not
  * its outputs were correct (that is the `correct` field).
  */
object Main {
  val Workloads: Map[String, Ctx => Outcome] = Map(
    "sync_serve" -> SyncServe.run,
    "corpus_batch" -> CorpusBatch.run)

  /** Every per-layer figure, with its unit, in the order BENCHMARK.json
    * declares them. A traced run reports all of them; a figure of a
    * layer its workload does not exercise reads 0. */
  val PerLayer: Seq[(String, String)] = Seq(
    "streaming.overhead_ms_p50" -> "ms",
    "streaming.source_rows_read_per_event" -> "ratio",
    "pipeline.apply_ms_p50.live" -> "ms",
    "pipeline.apply_ms_p50.backlog" -> "ms",
    "pipeline.jobs_per_batch" -> "count",
    "pipeline.driver_gap_ms_p50" -> "ms",
    "pipeline.task_cpu_ms_per_kevent" -> "ms",
    "ingest.transform_us_per_event" -> "us",
    "merge.bytes_written_per_input_byte" -> "ratio",
    "merge.buckets_touched_per_batch" -> "count",
    "catalog.maintain_ms" -> "ms",
    "storage.segments_live" -> "count",
    "storage.bytes_per_event" -> "B",
    "trace.overhead_pct.live_batch" -> "%") ++
    ApiServe.Routes.map(r => s"api.$r.ms_p50" -> "ms") ++ Seq(
    "api.latency_p50_ms" -> "ms",
    "api.plan_ms_p50" -> "ms",
    "api.jobs_per_request" -> "count",
    "api.files_read_per_request" -> "count",
    "api.rows_scanned_per_row_returned" -> "ratio",
    "api.queue_wait_ms_p75" -> "ms",
    "api.generator_late_ms_max" -> "ms",
    "trace.overhead_pct.request" -> "%") ++
    CorpusBatch.Stages.map(st => s"corpus.$st.ms" -> "ms") ++ Seq(
    "dedup.candidate_pairs" -> "count",
    "dedup.verified_pairs" -> "count",
    "dedup.useful_ratio" -> "ratio",
    "dedup.verify_rows_in" -> "count",
    "cluster.jobs" -> "count",
    "trace.overhead_pct.pass" -> "%",
    "spark.jobs" -> "count",
    "spark.task_cpu_s" -> "s",
    "spark.shuffle_bytes" -> "B",
    "spark.spill_bytes" -> "B",
    "jvm.gc_ms" -> "ms",
    "host.calib_s" -> "s")

  /** A traced run's report: every [[PerLayer]] figure, 0 where the
    * workload does not exercise the layer. */
  def perLayer(measured: Seq[Metric]): Seq[Metric] = {
    val byName = measured.map(m => m.name -> m).toMap
    val unknown = byName.keySet -- PerLayer.map(_._1)
    require(unknown.isEmpty, s"per-layer figures not declared: $unknown")
    PerLayer.map { case (n, u) =>
      val m = byName.getOrElse(n, Metric(n, 0.0, u, 0))
      require(m.unit == u, s"$n is in ${m.unit}, declared $u")
      m
    }
  }

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = a.getOrElse("workload", sys.error("--workload is required"))
    val run = Workloads.getOrElse(workload, sys.error(s"unknown workload $workload"))
    val seed = a.getOrElse("seed", "1").toLong
    val seconds = a.getOrElse("seconds", "10").toDouble
    val trace = a.getOrElse("trace", "0") == "1"
    val root = Path.of(a.getOrElse("workdir", sys.error("--workdir is required")))
    val threads = Runtime.getRuntime.availableProcessors()

    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = graft.Sessions.local(cores = threads, appName = s"perfbench-$workload")
    val probe = new Probe(trace).attach(spark)
    val ctx = new Ctx(spark, probe, root, seed, seconds, threads, trace)
    ctx.mark("session up")
    val out = try run(ctx) finally probe.detach(spark)
    ctx.mark("workload done")
    val calib = Spark.calibrationS(spark)
    ctx.mark("calibrated")
    val setupS = (out.firstTimedOpMs - jvmStartMs) / 1000.0
    val common = Seq(Metric("setup_s", setupS, "s"), Metric("peak_rss_mb", Probe.peakRssMb, "MB"))
    val calibM = Metric("host.calib_s", calib, "s", 2)
    val env = Seq(calibM, Metric("default_parallelism", spark.sparkContext.defaultParallelism, "count"))
    if (trace) Files.write(Files.createDirectories(root.resolve("trace")).resolve("trace.json"),
      probe.dumpJson.getBytes("UTF-8"))
    val metrics = if (trace) perLayer(out.layers :+ calibM) else common ++ out.endToEnd
    val detail = (common ++ out.endToEnd ++ out.detail ++ env ++ (if (trace) metrics else Nil)).map(m => Json.obj(
      "name" -> Json.str(m.name), "value" -> Json.num(m.value), "unit" -> Json.str(m.unit),
      "samples" -> m.samples.toString))
    println("detail " + Json.obj("workload" -> Json.str(workload),
      "master" -> Json.str(spark.sparkContext.master), "seed" -> seed.toString,
      "trace" -> trace.toString, "figures" -> detail.mkString("[", ",", "]")))
    println(Json.obj(
      "correct" -> out.correct.toString,
      "attempted" -> out.attempted.toString,
      "failed" -> out.failed.toString,
      "metrics" -> metrics.map(m => Json.str(m.name) -> Json.obj(
        "value" -> Json.num(m.value), "unit" -> Json.str(m.unit))).map { case (k, v) => s"$k:$v" }
        .mkString("{", ",", "}")))
    spark.stop()
  }
}

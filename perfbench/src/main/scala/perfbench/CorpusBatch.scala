package perfbench

import java.nio.file.{Files, Path}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.SparkEntry
import graft.ext.Dedup

/** Repeated passes of the registered `pipe_corpus_end2end` pipeline
  * (gate → decontaminate → near-dup clusters → keeper election → mix →
  * split → pack) over a generated corpus.
  *
  * The corpus (`perfbench/corpus_gen.py`, written by `run.py` before
  * this process starts) is the sf0.1 `documents` table plus a stated,
  * seeded share of near-duplicate copies. That share is what the LSH
  * candidate and connected-components costs depend on.
  *
  * End-to-end figures: `first_op_ms` is the first pass, which runs cold
  * as a one-off batch job does; `op_p50_ms` the median of the warm
  * passes after it; `throughput_per_s` input documents over that median.
  * An operation is a pass; a pass whose output differs from the first
  * pass's fails, and the first pass is checked against the DuckDB twin
  * (`SparkEntry.oracleSql`) after the process ends.
  */
object CorpusBatch {
  val MinWarmPasses = 1
  val Entry = "pipe_corpus_end2end"
  /** The pipeline's stages, timed one by one in a traced run. */
  val Stages = Seq("txt_gopher_gate", "txt_decontaminate", "txt_quality_score",
    "dedup_minhash_lsh", "dedup_clusters", "txt_sample_stratified", "txt_pack_chunks")

  /** Canonical form of the pipeline's output rows, for comparing passes. */
  def canon(rows: Seq[Row]): Seq[String] = rows.map(_.mkString("|")).sorted

  def run(c: Ctx): Outcome = {
    val spark = c.spark
    val dir = c.root.resolve("corpus").toString
    require(Files.exists(Path.of(dir, "documents.parquet")),
      s"no generated corpus at $dir/documents.parquet (run through perfbench/run.py)")
    val entry = SparkEntry.all(Entry)
    val docs = spark.read.parquet(s"$dir/documents.parquet").count()
    def pass(i: Int): (Seq[Row], org.apache.spark.sql.types.StructType) =
      c.probe.span("corpus.pass", s"pass-$i") {
        val df = entry.build(spark, dir)
        (df.collect().toSeq, df.schema)
      }
    // timed: the first pass runs cold, as a one-off batch job would; the
    // warm passes repeat until the run's seconds are spent
    val firstOp = c.timedStart()
    val times = scala.collection.mutable.ArrayBuffer[Double]()
    val outputs = scala.collection.mutable.ArrayBuffer[Option[Seq[String]]]()
    var first: (Seq[Row], org.apache.spark.sql.types.StructType) = null
    var deadline = Long.MaxValue
    var i = 0
    val minWarm = if (c.trace) 2 * MinWarmPasses else MinWarmPasses
    while (i < 1 + minWarm || (System.nanoTime() < deadline && i < 50)) {
      // in a traced run every odd warm pass runs untraced, for the overhead
      if (c.trace) c.probe.recording = i % 2 == 1 || i == 0
      val t0 = System.nanoTime()
      val out = try Some(pass(i)) catch { case e: Exception => System.err.println(s"pass $i: $e"); None }
      times += (System.nanoTime() - t0) / 1e6
      if (i == 0) deadline = System.nanoTime() + (c.seconds * 1e9).toLong
      if (first == null) out.foreach(first = _)
      outputs += out.map(o => canon(o._1))
      i += 1
    }
    c.probe.recording = true
    c.timedEnd()
    c.mark(s"$i passes done")
    // every pass must equal the first; run.py checks the first against
    // the DuckDB twin, whose SQL it gets here, after this process ends
    Files.write(c.root.resolve("oracle.sql"), entry.oracle.get.getBytes("UTF-8"))
    if (first != null) spark.createDataFrame(spark.sparkContext.parallelize(first._1), first._2)
      .coalesce(1).write.mode("overwrite").parquet(c.root.resolve("corpus_out").toString)
    val reference = outputs.head.getOrElse(Nil)
    val failed = outputs.count(o => o.isEmpty || o.get != reference)

    val warm = times.drop(1).toSeq
    val med = Stats.median(warm).get
    val e2e = Seq(
      Metric("first_op_ms", times.head, "ms"),
      Metric("op_p50_ms", med.value, "ms", med.samples),
      Metric("throughput_per_s", docs / (med.value / 1000), "1/s", med.samples))
    val detail = Seq(
      Metric("corpus_docs_per_s", docs / (med.value / 1000), "1/s", med.samples),
      Metric("corpus_cold_pass_s", times.head / 1000, "s"),
      Metric("corpus_output_rows", reference.size, "count"))
    val layers = if (!c.trace) Nil else {
      val passJobs = c.probe.jobList.filter(j => j.op == "" && j.startMs >= firstOp)
      val traced = warm.indices.filter(_ % 2 == 0).map(warm)
      val untraced = warm.indices.filter(_ % 2 == 1).map(warm)
      val overhead = for (a <- Stats.median(traced); b <- Stats.median(untraced))
        yield Metric("trace.overhead_pct.pass", (a.value / b.value - 1) * 100, "%", a.samples + b.samples)
      val totals = Spark.totals(c, passJobs)
      stageMetrics(c, dir) ++ dedupMetrics(c, dir) ++ overhead.toSeq ++ totals
    }
    Outcome(times.size, failed, failed == 0, e2e, layers, detail, firstOp)
  }

  /** Run `df` to completion as operation `op`; returns its wall ms. */
  private def timed(c: Ctx, op: String)(df: => DataFrame): Double = {
    c.spark.sparkContext.setLocalProperty(Probe.OpProperty, op)
    val t0 = System.nanoTime()
    try c.probe.span(op)(df.write.format("noop").mode("overwrite").save())
    finally c.spark.sparkContext.setLocalProperty(Probe.OpProperty, null)
    (System.nanoTime() - t0) / 1e6
  }

  private def stageMetrics(c: Ctx, dir: String): Seq[Metric] =
    Stages.map { s =>
      val build = SparkEntry.all(s).build
      timed(c, s"warm.$s")(build(c.spark, dir))
      Metric(s"corpus.$s.ms", timed(c, s"corpus.$s")(build(c.spark, dir)), "ms")
    }

  private def dedupMetrics(c: Ctx, dir: String): Seq[Metric] = {
    val spark = c.spark
    val bands = Dedup.minhashBands(spark, dir)
    val cand = bands.select(col("doc_id").as("a_id"), col("band"), col("h"))
      .join(bands.select(col("doc_id").as("b_id"), col("band"), col("h")), Seq("band", "h"))
      .filter(col("a_id") < col("b_id")).select("a_id", "b_id").distinct().count()
    val pairs = Dedup.minhashPairs(spark, dir)
    val verified = pairs.collect().length.toLong
    // rows into the verify aggregate: the widest join output of the plan
    val qe = pairs.queryExecution
    val verifyIn = joinOutputs(qe.executedPlan).foldLeft(0L)(math.max)
    val clusterJobs = c.probe.jobList.count(_.op == "corpus.dedup_clusters")
    Seq(
      Metric("dedup.candidate_pairs", cand.toDouble, "count"),
      Metric("dedup.verified_pairs", verified.toDouble, "count"),
      Metric("dedup.useful_ratio", verified.toDouble / math.max(1L, cand), "ratio"),
      Metric("dedup.verify_rows_in", verifyIn.toDouble, "count"),
      Metric("cluster.jobs", clusterJobs, "count"))
  }

  private def joinOutputs(p: org.apache.spark.sql.execution.SparkPlan): Seq[Long] = {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    p match {
      case a: AdaptiveSparkPlanExec => joinOutputs(a.executedPlan)
      case q: QueryStageExec => joinOutputs(q.plan)
      case j if j.nodeName.contains("Join") =>
        j.metrics.get("numOutputRows").map(_.value).toSeq ++ j.children.flatMap(joinOutputs)
      case other => other.children.flatMap(joinOutputs)
    }
  }
}

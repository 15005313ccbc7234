package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Structural contracts of the end-to-end corpus pipeline entry that
  * the value-level DuckDB gate can't state: shard-manifest shape
  * (contiguous chunk ids per split) and conservation (the chunk
  * summaries carry exactly the docs/tokens the upstream stages let
  * through — no row lost or duplicated across the pack join). */
class PipeSpec extends AnyFunSuite {
  lazy val spark: SparkSession = Sessions.local(cores = 4, appName = "graft-pipe")
  private val sf = "/root/testdata/sf0.001"

  test("pipe_corpus_end2end: contiguous chunk ids per split; totals conserve the mixed survivor set") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val out = SparkEntry.queries("pipe_corpus_end2end")(spark, sf).collect()
    assert(out.nonEmpty, "pipeline must emit at least one chunk")

    // manifest shape: within each split, chunk ids are 0..max with no
    // holes (a hole means a SeqLen span of the packed stream vanished).
    // FIXTURE ASSUMPTION (guarded below): no packed document exceeds
    // SeqLen tokens — a doc with n_tokens > SeqLen legitimately skips a
    // chunk id (its start_off jumps more than one SeqLen window), so
    // the contiguity assert is only meaningful when the guard holds.
    val maxDocTokens = Tables.documents(spark, sf)
      .select(max(size(expr(graft.ext.TextExpr.toksE))))
      .collect()(0).getInt(0)
    assert(maxDocTokens <= graft.ext.Corpus.SeqLen,
      s"fixture drifted: a $maxDocTokens-token doc exceeds SeqLen " +
        s"${graft.ext.Corpus.SeqLen}; the contiguity assert below would " +
        "report legitimate holes as failures — re-derive the check " +
        "against covered chunk ranges instead")
    out.groupBy(_.getString(0)).foreach { case (split, rows) =>
      val ids = rows.map(_.getLong(1)).sorted
      assert(ids.head == 0L && ids.last == ids.length - 1L,
        s"split $split: chunk ids not contiguous from 0: ${ids.mkString(",")}")
    }

    // conservation: n_docs/n_tokens totals equal the independently
    // re-composed survivor set (same registered stage builds, stopped
    // BEFORE packing — catches any row loss/duplication in the pack
    // join + window, whatever the oracle's own chain says)
    val gate = graft.ext.TextStats.defs("txt_gopher_gate").build(spark, sf)
      .filter($"keep").select($"doc_id")
    val decon = graft.ext.TextStats.defs("txt_decontaminate").build(spark, sf)
      .filter(!$"contaminated").select($"doc_id")
    val mix = graft.ext.Corpus.defs("txt_sample_stratified").build(spark, sf)
      .select($"doc_id")
    // cluster assignment at the pipeline's deletion threshold (the
    // keeper ENTRY elects corpus-wide over the full ≥0.01 graph; the
    // pipeline clusters at DedupTau and elects among survivors — both
    // re-derived here)
    val clusters = graft.ext.Cluster.assignFrame(spark, sf,
      graft.ext.Pipe.DedupTau)
    val surv = gate.join(decon, "doc_id")
    val toks = Tables.documents(spark, sf)
      .withColumn("n", size(expr(graft.ext.TextExpr.toksE)).cast("long"))
      .select($"doc_id", $"n")

    val packedDocs = out.map(_.getLong(2)).sum
    val packedTokens = out.map(_.getLong(3)).sum
    // exact conservation: re-derive the post-mix keeper set with the
    // same survivor-scoped election the entry runs
    val qual = graft.ext.TextStats.defs("txt_quality_score").build(spark, sf)
      .select($"doc_id", $"quality")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"cluster_id").orderBy($"quality".desc, $"doc_id".asc)
    val elected = surv.join(clusters, "doc_id").join(qual, "doc_id")
      .withColumn("rk", row_number().over(w)).filter($"rk" === 1)
      .select($"doc_id")
    val finalSet = elected.join(mix, "doc_id").join(toks, "doc_id")
    val (nDocs, nTokens) = finalSet.agg(count(lit(1)), sum($"n")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).head
    assert(packedDocs == nDocs,
      s"chunk n_docs total $packedDocs != mixed survivor count $nDocs")
    assert(packedTokens == nTokens,
      s"chunk n_tokens total $packedTokens != mixed survivor tokens $nTokens")
  }

  test("composed plan carries no HOF lambda quality signals (the O(tokens²) pushdown hazard stays closed)") {
    // The r18 gate barrier existed because the lambda-chain quality
    // signals (array_max(transform(array_distinct(...)))) were
    // CodegenFallback AND quadratic once a pushed predicate inlined the
    // tokenizer alias per element. r19 replaced them with the one-pass
    // codegen token_stats expression and removed the barrier (measured
    // 7.98 s vs 7.76 s at sf0.1 — the 17× cliff gone). This pins the
    // fix structurally: if a refactor reintroduces a lambda-chain
    // signal anywhere in the composed plan, the hazard is back and this
    // fails. (The pipe's own
    // optimizedPlan can't be inspected end-to-end: its packing barrier
    // is an EAGER localCheckpoint, so the upstream stages collapse to a
    // LogicalRDD at build time. The hazard lived in exactly one frame —
    // the keep-predicate pushed into the gate's projection — so that
    // frame, as the composed pipeline builds it, is what's pinned.)
    import spark.implicits._
    val plan = graft.ext.TextStats.defs("txt_gopher_gate").build(spark, sf)
      .filter($"keep").select($"doc_id")
      .queryExecution.optimizedPlan.toString
    assert(plan.contains("token_stats"),
      "gate stage no longer routes quality signals through token_stats")
    assert(!plan.contains("array_max(transform("),
      "O(types·tokens) lambda top-token search reappeared in the pushed gate predicate")
  }
}

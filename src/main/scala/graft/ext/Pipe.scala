package graft.ext

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The end-to-end corpus pipeline — every stage of the cleaned-corpus →
  * training-run path COMPOSED in one plan, over the same `documents`
  * table the stages are individually gated on:
  *
  *   quality gate (txt_gopher_gate) →
  *   benchmark decontamination (txt_decontaminate) →
  *   near-dup cluster keeper election (dedup clusters at [[DedupTau]] ×
  *     txt_quality_score, elected among the stage's SURVIVORS) →
  *   stratified mixing (txt_sample_stratified) →
  *   deterministic split assignment (txt_hash_split's shared splitCol) →
  *   sequence packing (txt_pack_chunks' shared packAssign, per split).
  *
  * Composition discipline: every Spark stage IS the registered build of
  * its standalone entry (or the extracted helper that entry runs), so
  * the chain can never drift from the operators it claims to compose —
  * the one new semantic here is stage ORDER and the survivor-scoped
  * keeper election. The DuckDB twin re-derives the whole chain
  * independently (recursive-CTE components, window election, window
  * prefix sum), so the hash gate checks the end-to-end column
  * contracts, filter ordering, and determinism — the round's flagship
  * demo artifact: per-(split, chunk) shard manifest rows.
  *
  * Keeper scope: election runs per cluster over the docs that SURVIVED
  * gate+decontamination (max quality, tie → min doc_id) — the
  * production semantics: dropping a cluster's best member to the gate
  * must promote its next-best survivor, not silently delete the
  * cluster. `dedup_keeper_quality` keeps the corpus-wide election; this
  * entry is the composed, survivor-scoped variant.
  *
  * Scale: the chain adds NO shuffle beyond its stages' own — gate and
  * mixing are shuffle-free scans, decontamination broadcasts the probe
  * set, clustering pays its diameter-bounded rounds, election is one
  * per-cluster window, packing the bounded two-phase prefix sum. The
  * survivor frame is localCheckpointed once before packing because
  * packAssign walks it three times (bounds, subtotals, final) — without
  * it the full upstream chain (LSH pairs + component rounds) would
  * re-run per walk.
  */
object Pipe {

  /** Jaccard threshold for the pipeline's DELETION decision. The pair
    * family's ≥0.01 cut is the high-recall ANALYSIS surface; deleting
    * on its transitive closure would collapse the corpus (at sf0.1 the
    * ≥0.01 graph is 7 giant components over 5,000 docs — measured,
    * PLANS round 18). The corpus pair-similarity distribution is
    * bimodal — background glue ≤ ~0.05, template near-dups ≥ ~0.96 at
    * both sf0.01 and sf0.1 — so any mid-gap threshold yields identical
    * clusters; 0.5 is the conventional choice. Same
    * fitted-to-the-signal practice as txt_gopher_gate / dedup_semantic. */
  val DedupTau = 0.5

  /** The pipeline's intermediate stage frames, shared by the packed
    * end-to-end entry and the funnel report so both are the SAME
    * stage composition (no drift possible). */
  private[graft] final case class PipeStages(
      gate: DataFrame, decon: DataFrame, keepers: DataFrame, mixed: DataFrame)

  /** `stageCheckpoint` materializes each stage's doc_id frame once
    * (≤|docs| narrow rows): the FUNNEL entry reads gate/decon twice
    * directly and twice more through keepers/mixed, and the gate scan
    * has no Exchange for ReuseExchange to deduplicate — without the
    * barrier the token_stats gate scan runs 4× per funnel invocation.
    * The packed end-to-end entry consumes each stage exactly once, so
    * it keeps the barrier-free composed plan (r19 parity measurement
    * unchanged). */
  private[graft] def pipeStages(s: SparkSession, dir: String,
      stageCheckpoint: Boolean = false): PipeStages = {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        def bar(df: DataFrame): DataFrame =
          if (stageCheckpoint) df.localCheckpoint() else df
        val gate = bar(TextStats.defs("txt_gopher_gate").build(s, dir)
          .filter($"keep").select($"doc_id"))
        val decon = bar(TextStats.defs("txt_decontaminate").build(s, dir)
          .filter(!$"contaminated").select($"doc_id"))
        val qual = TextStats.defs("txt_quality_score").build(s, dir)
          .select($"doc_id", $"quality")
        val w = Window.partitionBy($"cluster_id")
          .orderBy($"quality".desc, $"doc_id".asc)
        val keepers = bar(gate.join(decon, "doc_id")
          .join(Cluster.assignFrame(s, dir, DedupTau), "doc_id")
          .join(qual, "doc_id")
          .withColumn("rk", row_number().over(w))
          .filter($"rk" === 1).select($"doc_id"))
        val mixed = keepers.join(
          Corpus.defs("txt_sample_stratified").build(s, dir).select($"doc_id"),
          "doc_id")
        PipeStages(gate, decon, keepers, mixed)
  }

  /** The composed-pipeline body. No localCheckpoint barrier follows the
    * gate: the codegen `token_stats` gate keeps a pushed `keep` predicate
    * O(tokens), and at sf0.1 the barrier-free plan measured at parity
    * (7.98 s vs 7.76 s with the barrier, PLANS round 19). */
  private[graft] def pipeBuild(s: SparkSession, dir: String): DataFrame = {
        import s.implicits._
        val st = pipeStages(s, dir)
        val docs = Tables.documents(s, dir)
          .withColumn("toks", expr(TextExpr.toksE))
          .select($"doc_id", size($"toks").cast("long").as("n_tokens"),
            Corpus.splitCol.as("split"))
        val packedIn = st.mixed.join(docs, "doc_id")
          .select($"split", $"doc_id", $"n_tokens")
          .localCheckpoint()
        Corpus.packAssign(s, packedIn)
          .groupBy($"split", $"chunk_id")
          .agg(count(lit(1)).as("n_docs"), sum($"n_tokens").as("n_tokens"),
            min($"doc_id").as("first_doc"), max($"doc_id").as("last_doc"))
  }

  /** DuckDB twins of stages 1–3's inputs (pre-tokens `pt`, gate,
    * decontamination survivors `surv`, rounded quality `q`) — shared
    * between the composed batch oracle and `pipe_streaming_persisted`'s
    * (one definition of "survivor" and "quality" across both). */
  private val stageCtes: String = """
        pt AS (SELECT doc_id, source, string_split_regex(trim(text), '\s+') AS tk
               FROM documents),
        -- stage 1: Gopher-style keep gate (txt_gopher_gate twin)
        gm AS (SELECT doc_id, len(tk) AS n,
                      CAST(list_max(list_transform(list_distinct(tk),
                        w -> len(list_filter(tk, x -> x = w)))) AS DOUBLE) / len(tk) AS ttf,
                      CASE WHEN len(tk) >= 2
                           THEN CAST(len(tk) - 1 - len(list_distinct(list_transform(
                                  generate_series(1, len(tk)-1), i -> tk[i] || ' ' || tk[i+1])))
                                AS DOUBLE) / (len(tk) - 1)
                           ELSE 0.0 END AS d2
               FROM pt),
        gate AS (SELECT doc_id FROM gm
                 WHERE n >= 20 AND ttf <= 0.125 AND d2 <= 0.06),
        -- stage 2: 8-gram decontamination (txt_decontaminate twin)
        g8 AS (SELECT doc_id,
                      unnest(list_distinct(list_transform(generate_series(1, len(tk)-7),
                        i -> tk[i]||' '||tk[i+1]||' '||tk[i+2]||' '||tk[i+3]||' '||
                             tk[i+4]||' '||tk[i+5]||' '||tk[i+6]||' '||tk[i+7]))) AS sh8
               FROM pt WHERE len(tk) >= 8),
        probe AS (SELECT DISTINCT sh8 FROM g8 WHERE doc_id % 97 = 0),
        contam AS (SELECT DISTINCT g8.doc_id FROM g8 JOIN probe USING (sh8)
                   WHERE g8.doc_id % 97 <> 0),
        decon AS (SELECT doc_id FROM documents
                  WHERE doc_id % 97 <> 0
                    AND doc_id NOT IN (SELECT doc_id FROM contam)),
        surv AS (SELECT doc_id FROM gate JOIN decon USING (doc_id)),
        -- stage 3: survivor-scoped keeper election (quality twin)
        qm AS (SELECT doc_id,
                      CAST(len(list_filter(tk, t -> t IN ('the','a','of','and','to','in','is','it'))) AS DOUBLE) / len(tk) AS stop_ratio,
                      1.0 - CAST(len(list_distinct(tk)) AS DOUBLE) / len(tk) AS rep_ratio,
                      least(CAST(len(tk) AS DOUBLE) / 200.0, 1.0) AS len_score
               FROM pt),
        q AS (SELECT doc_id,
                     round(0.5 * len_score + 0.3 * (1.0 - rep_ratio) + 0.2 * (1.0 - abs(stop_ratio - 0.1)), 4) AS quality
              FROM qm)"""

  val defs: Map[String, QueryDef] = Map(
    "pipe_corpus_end2end" -> QueryDef(
      build = pipeBuild,
      oracle = Some(s"""
        WITH RECURSIVE ${Cluster.compCtesAt(DedupTau)},
        $stageCtes,
        keeper AS (SELECT s.doc_id
                   FROM surv s JOIN comp c USING (doc_id) JOIN q USING (doc_id)
                   QUALIFY row_number() OVER (PARTITION BY c.cluster_id
                     ORDER BY q.quality DESC, s.doc_id ASC) = 1),
        -- stage 4: stratified mixing (txt_sample_stratified twin)
        mix AS (SELECT k.doc_id FROM keeper k JOIN documents d USING (doc_id)
                WHERE ('0x' || substr(md5('mix|' || CAST(d.doc_id AS VARCHAR)), 1, 4))::INT % 10000
                      < [10000, 6000, 3000, 1000][(CAST(substr(d.source, 4) AS INT) % 4) + 1]),
        -- stage 5+6: split assignment + per-split sequence packing
        spb AS (SELECT m.doc_id, CAST(len(p.tk) AS BIGINT) AS n,
                       ('0x' || substr(md5(CAST(m.doc_id AS VARCHAR)), 1, 4))::INT % 100 AS b
                FROM mix m JOIN pt p USING (doc_id)),
        sp AS (SELECT doc_id, n,
                      CASE WHEN b < 80 THEN 'train'
                           WHEN b < 90 THEN 'validation'
                           ELSE 'test' END AS split
               FROM spb),
        packed AS (SELECT split, doc_id, n,
                          COALESCE(sum(n) OVER (PARTITION BY split ORDER BY doc_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS so
                   FROM sp)
        SELECT split, CAST(so // ${Corpus.SeqLen} AS BIGINT) AS chunk_id,
               count(*) AS n_docs, CAST(sum(n) AS BIGINT) AS n_tokens,
               min(doc_id) AS first_doc, max(doc_id) AS last_doc
        FROM packed GROUP BY 1, 2"""),
      doc = "end-to-end corpus pipeline: gate -> decontaminate -> survivor-scoped keeper election -> stratified mix -> hash split -> per-split sequence packing, one composed plan hash-gated against a full independent DuckDB chain"),

    // the FUNNEL report — the observability surface a pipeline
    // operator actually watches: exact per-stage survivor counts and
    // the token-budget consequence, from the SAME pipeStages frames
    // the packed entry consumes (shared code, no drift) and the SAME
    // stageCtes on the oracle side. pipe_corpus_end2end gates the end
    // state; this gates every intermediate cut, so a stage silently
    // passing everything (or nothing) flips the hash even when the
    // final packing happens to look plausible. The "no silent caps"
    // discipline as a registered query. One row; the panels are 1-row
    // aggregates cross-joined (the api_q6_stats shape).
    "pipe_corpus_funnel" -> QueryDef(
      build = (s, dir) => {
        import s.implicits._
        // r21: stageCheckpoint — the six panels read the stage frames
        // 2–4× each; see pipeStages
        val st = pipeStages(s, dir, stageCheckpoint = true)
        val docs = Tables.documents(s, dir)
          .withColumn("toks", expr(TextExpr.toksE))
          .select($"doc_id", size($"toks").cast("long").as("n_tokens"))
        val pTotal = docs.agg(count(lit(1)).as("n_total"),
          sum($"n_tokens").as("tokens_total"))
        val pGate = st.gate.agg(count(lit(1)).as("n_gate"))
        val pDecon = st.decon.agg(count(lit(1)).as("n_decon"))
        val pSurv = st.gate.join(st.decon, "doc_id").agg(count(lit(1)).as("n_surv"))
        val pKeep = st.keepers.agg(count(lit(1)).as("n_keeper"))
        val pMix = st.mixed.join(docs, "doc_id")
          .agg(count(lit(1)).as("n_mixed"), sum($"n_tokens").as("tokens_mixed"))
        pTotal.crossJoin(pGate).crossJoin(pDecon).crossJoin(pSurv)
          .crossJoin(pKeep).crossJoin(pMix)
          .select($"n_total", $"n_gate", $"n_decon", $"n_surv",
            $"n_keeper", $"n_mixed", $"tokens_total", $"tokens_mixed",
            round($"tokens_mixed".cast("double") / $"tokens_total", 4)
              .as("token_keep_ratio"))
      },
      oracle = Some(s"""
        WITH RECURSIVE ${Cluster.compCtesAt(DedupTau)},
        $stageCtes,
        keeper AS (SELECT s.doc_id
                   FROM surv s JOIN comp c USING (doc_id) JOIN q USING (doc_id)
                   QUALIFY row_number() OVER (PARTITION BY c.cluster_id
                     ORDER BY q.quality DESC, s.doc_id ASC) = 1),
        mix AS (SELECT k.doc_id FROM keeper k JOIN documents d USING (doc_id)
                WHERE ('0x' || substr(md5('mix|' || CAST(d.doc_id AS VARCHAR)), 1, 4))::INT % 10000
                      < [10000, 6000, 3000, 1000][(CAST(substr(d.source, 4) AS INT) % 4) + 1]),
        tok AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS n FROM pt)
        SELECT (SELECT count(*) FROM documents) AS n_total,
               (SELECT count(*) FROM gate) AS n_gate,
               (SELECT count(*) FROM decon) AS n_decon,
               (SELECT count(*) FROM surv) AS n_surv,
               (SELECT count(*) FROM keeper) AS n_keeper,
               (SELECT count(*) FROM mix) AS n_mixed,
               CAST((SELECT sum(n) FROM tok) AS BIGINT) AS tokens_total,
               CAST((SELECT CAST(sum(t.n) AS BIGINT) FROM mix m JOIN tok t USING (doc_id)) AS BIGINT) AS tokens_mixed,
               round(CAST((SELECT sum(t.n) FROM mix m JOIN tok t USING (doc_id)) AS DOUBLE)
                     / (SELECT sum(n) FROM tok), 4) AS token_keep_ratio"""),
      doc = "pipeline funnel report: exact survivor counts at every stage (gate, decontaminate, intersection, keeper election, stratified mix) plus the token-budget consequence, from the same stage frames the packed entry consumes — every intermediate cut hash-gated, the no-silent-caps discipline as a query"),

    // ---- the STREAMING pipeline's storage truth (r19 VERDICT item 6):
    // StreamingPipe was spec-gated only (arrival order isn't
    // SQL-expressible) — this entry hash-gates the KEEPER TABLE a
    // multi-batch drain actually COMMITS. Build: drain three
    // interleaved deterministic micro-batches through
    // StreamingPipe.runOnce (Trigger.AvailableNow, per-batch MergeWriter
    // merges incl. the absorbed-cluster cascade delete), once per
    // (sfDir, corpus fingerprint); read back the committed asg + keeper
    // snapshots. Gated surface is ARRIVAL-ORDER INVARIANT — raw
    // streamed cluster ids depend on arrival history, so each keeper
    // row is projected to (canonical component key = min doc_id over
    // its cluster, cluster size, keeper doc, quality). The oracle
    // re-derives the final keeper set FROM SCRATCH (DedupTau components
    // × gate × decon survivors × quality top-1), so: an orphan keeper
    // the cascade failed to delete joins no live component (NULL canon
    // → hash flip), a missing keeper drops a row, a mis-elected keeper
    // changes keeper_id. The cascade's correctness is now hash-gated,
    // not just spec-gated.
    "pipe_streaming_persisted" -> QueryDef(
      build = (s, dir) => {
        import s.implicits._
        val stateRoot = StreamingPipe.materializeStreamed(s, dir)
        val asg = graft.etl.MergeWriter.readSnapshot(s,
          StreamingPipe.asgDir(stateRoot), StreamingPipe.asgSchema)
        val keep = graft.etl.MergeWriter.readSnapshot(s,
          StreamingPipe.keeperDir(stateRoot), StreamingPipe.keeperSchema)
        val canon = asg.groupBy($"comp")
          .agg(min($"doc_id").as("canon_id"), count(lit(1)).as("cluster_size"))
        // LEFT join: an orphan keeper row surfaces as NULL canon_id and
        // flips the hash instead of being silently dropped
        keep.join(canon, $"cluster_id" === $"comp", "left")
          .select($"canon_id", $"cluster_size",
            $"doc_id".as("keeper_id"), $"quality")
      },
      oracle = Some(s"""
        WITH RECURSIVE ${Cluster.compCtesAt(DedupTau)},
        $stageCtes,
        sz AS (SELECT cluster_id, count(*) AS cluster_size FROM comp GROUP BY 1)
        SELECT c.cluster_id AS canon_id, z.cluster_size,
               s.doc_id AS keeper_id, q.quality
        FROM surv s JOIN comp c USING (doc_id) JOIN q USING (doc_id)
        JOIN sz z ON z.cluster_id = c.cluster_id
        QUALIFY row_number() OVER (PARTITION BY c.cluster_id
          ORDER BY q.quality DESC, s.doc_id ASC) = 1"""),
      doc = "streaming pipeline storage truth: keeper table after a three-batch checkpointed drain (incl. cascade deletes), projected to the arrival-order-invariant surface (canonical component key, size, keeper, quality) and hash-gated against a from-scratch DuckDB election")
  )
}

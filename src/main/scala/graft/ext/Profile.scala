package graft.ext

import graft.{QueryDef, Tables}
import graft.etl.MergeWriter
import org.apache.spark.sql.functions._

/** Data-quality profiling — the audit pass a pipeline runs before
  * admitting a new drop of data (the deequ/dbt-test niche): per-column
  * null counts, exact distinct cardinalities, and min/max rendered to
  * a type-stable string surface.
  *
  * Plan shape: ONE aggregate over the scan computes all 6×4 statistics
  * (the multi-distinct is planned by Catalyst as a single Expand+
  * shuffle, ×6 row expansion), then a 1-row stack() pivots wide →
  * long. At 100 TB the exact-distinct Expand is the knob you'd turn
  * first — swap countDistinct for approx_count_distinct and the plan
  * loses the expansion entirely (the qx_approx_distinct entry is that
  * sketch path, 5%-bounded against its exact twin).
  *
  * String surface rules (both engines must format identically):
  * timestamps via an explicit pattern, doubles through DECIMAL(18,2)
  * (exact 2-decimal corpus values), integers/strings as-is.
  *
  * Reference basis: no profiling exists in the reference (SURVEY §2) —
  * extended-surface operator per the builder brief.
  */
object Profile {

  /** The profile body over the events shape — exposed so the spec can
    * drive it with injected nulls (the corpus itself has none, so the
    * null-counting path needs a synthetic exercise).
    *
    * r22 plan shape (guide §2.3/§2.4): nulls + min/max for all six
    * columns ride ONE aggregate pass; each exact distinct count is its
    * OWN two-phase aggregation (partial per-partition dedup → count)
    * over a single-column projection, and the six counts enter the
    * base row's projection as uncorrelated scalar subqueries, so the
    * plan holds no join. The previous all-in-one aggregate made Catalyst plan
    * the 6-way multi-distinct as a single Expand — every input row
    * expanded ×6 into one wide hash aggregate whose grouping state
    * spans every column at once. Measured at sf0.1 (min of 3;
    * OPTIMIZATION_r22.md row 3): Expand shape 3.49 s vs 0.33 s (base
    * pass) + 0.72 s (six per-column distincts) — and the per-column scans column-prune
    * where the Expand scan reads all six at once. Values are
    * bit-identical: countDistinct is null-free in both shapes, the
    * formatting functions are unchanged. */
  def profileEvents(ev: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    def nulls(c: String) = sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"${c}_nulls")
    type C = org.apache.spark.sql.Column
    val asStr: Map[String, C => C] = Map[String, C => C](
      "ts" -> ((c: C) => date_format(c, "yyyy-MM-dd HH:mm:ss")),
      "value" -> ((c: C) => c.cast("decimal(18,2)").cast("string"))
    ).withDefaultValue((c: C) => c.cast("string"))
    val cols = Seq("event_id", "ts", "user_id", "event_type", "value", "props")
    val baseAggs = cols.flatMap { c =>
      val f = asStr(c)
      Seq(nulls(c), f(min(col(c))).as(s"${c}_min"), f(max(col(c))).as(s"${c}_max"))
    }
    val base = ev.agg(baseAggs.head, baseAggs.tail: _*)
    val wide = base.select(col("*") +: cols.map(c =>
      ev.select(col(c)).agg(countDistinct(col(c))).scalar().as(s"${c}_distinct")): _*)
    val stackArgs = cols.map(c =>
      s"'$c', ${c}_nulls, ${c}_distinct, ${c}_min, ${c}_max").mkString(", ")
    wide.select(expr(s"stack(${cols.size}, $stackArgs) AS (col_name, n_nulls, n_distinct, min_s, max_s)"))
  }

  val defs: Map[String, QueryDef] = Map(
    "qa_profile" -> QueryDef(
      build = (s, dir) => profileEvents(Tables.eventsNorm(s, dir)),
      oracle = Some {
        def render(c: String) = c match {
          case "ts" => (e: String) => s"strftime($e, '%Y-%m-%d %H:%M:%S')"
          case "value" => (e: String) => s"CAST($e::DECIMAL(18,2) AS VARCHAR)"
          case _ => (e: String) => s"CAST($e AS VARCHAR)"
        }
        Seq("event_id", "ts", "user_id", "event_type", "value", "props").map { c =>
          val f = render(c)
          s"""SELECT '$c' AS col_name,
               CAST(count(*) - count($c) AS BIGINT) AS n_nulls,
               CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct,
               ${f(s"min($c)")} AS min_s,
               ${f(s"max($c)")} AS max_s
             FROM events"""
        }.mkString("\nUNION ALL\n")
      },
      doc = "per-column profile (nulls, exact distinct, min/max) in one aggregate pass"),

    // ---- corpus DRIFT between two document generations (the dataset-
    // shift monitor a production pipeline runs on every new drop, the
    // deequ AnomalyDetection / evidently niche): per-signal binned
    // distributions of the old (doc_id%10<7, the established
    // generation convention) vs new generation, scored by TOTAL
    // VARIATION distance. TV = ½·Σ|p_new − p_old| is chosen over the
    // usual PSI/KL deliberately: those need ln(), whose cross-engine
    // ULP noise can flip a hash on ties, and a zero bin needs epsilon
    // fudging — TV is exact rational arithmetic with none of that. The
    // per-bin term rides PURE INTEGERS via cross-multiplication
    // (|n_new·t_old − n_old·t_new|; exact long sums, order-free), and
    // the single division happens once per row on exact operands. At
    // 100 TB the cross products exceed long range — the scaladoc knob
    // is DECIMAL(38,0) casts on the products (ANSI mode fails loudly,
    // never wraps silently). Plan: one groupBy(signal, bin) shuffle +
    // a 1-row totals broadcast + a per-signal window sum over ≤ bins
    // rows. Signals: token-count decades and quality deciles — the
    // quality column is txt_quality_score's REGISTERED rounded
    // composite, one definition across the registry.
    "qa_drift_tv" -> QueryDef(
      build = (s, dir) => {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        val tagged = TextStats.defs("txt_quality_score").build(s, dir)
          .select($"doc_id", $"n_tokens", $"quality")
          .withColumn("is_new", pmod($"doc_id", lit(10)) >= 7)
        val binned = tagged.select(lit("n_tokens").as("signal"),
            floor($"n_tokens" / 10).cast("long").as("bin"), $"is_new")
          .union(tagged.select(lit("quality").as("signal"),
            floor($"quality" * 10).cast("long").as("bin"), $"is_new"))
        val counts = binned.groupBy($"signal", $"bin")
          .agg(sum(when(!$"is_new", 1L).otherwise(0L)).as("n_old"),
            sum(when($"is_new", 1L).otherwise(0L)).as("n_new"))
        val totals = tagged.agg(
          sum(when(!$"is_new", 1L).otherwise(0L)).as("t_old"),
          sum(when($"is_new", 1L).otherwise(0L)).as("t_new"))
        val w = Window.partitionBy($"signal")
        counts.crossJoin(broadcast(totals))
          .withColumn("d", abs($"n_new" * $"t_old" - $"n_old" * $"t_new"))
          .withColumn("tv", round(sum($"d").over(w).cast("double") /
            (lit(2.0) * $"t_old" * $"t_new"), 6))
          .select($"signal", $"bin", $"n_old", $"n_new", $"tv")
      },
      oracle = Some("""
        WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS tk FROM documents),
        qm AS (SELECT doc_id, len(tk) AS n_tokens,
                      CAST(len(list_filter(tk, x -> x IN ('the','a','of','and','to','in','is','it'))) AS DOUBLE) / len(tk) AS stop_ratio,
                      1.0 - CAST(len(list_distinct(tk)) AS DOUBLE) / len(tk) AS rep_ratio,
                      least(CAST(len(tk) AS DOUBLE) / 200.0, 1.0) AS len_score
               FROM t),
        tag AS (SELECT doc_id, n_tokens,
                       round(0.5 * len_score + 0.3 * (1.0 - rep_ratio) + 0.2 * (1.0 - abs(stop_ratio - 0.1)), 4) AS quality,
                       doc_id % 10 >= 7 AS is_new
                FROM qm),
        b AS (SELECT 'n_tokens' AS signal, CAST(floor(n_tokens / 10) AS BIGINT) AS bin, is_new FROM tag
              UNION ALL
              SELECT 'quality', CAST(floor(quality * 10) AS BIGINT), is_new FROM tag),
        c AS (SELECT signal, bin,
                     CAST(sum(CASE WHEN NOT is_new THEN 1 ELSE 0 END) AS BIGINT) AS n_old,
                     CAST(sum(CASE WHEN is_new THEN 1 ELSE 0 END) AS BIGINT) AS n_new
              FROM b GROUP BY 1, 2),
        tot AS (SELECT CAST(sum(CASE WHEN NOT is_new THEN 1 ELSE 0 END) AS BIGINT) AS t_old,
                       CAST(sum(CASE WHEN is_new THEN 1 ELSE 0 END) AS BIGINT) AS t_new
                FROM tag)
        SELECT c.signal, c.bin, c.n_old, c.n_new,
               round(CAST(CAST(sum(abs(c.n_new * tot.t_old - c.n_old * tot.t_new))
                       OVER (PARTITION BY c.signal) AS BIGINT) AS DOUBLE)
                     / (2.0 * tot.t_old * tot.t_new), 6) AS tv
        FROM c CROSS JOIN tot"""),
      doc = "generation drift monitor: binned token-count/quality distributions old-vs-new generation scored by total-variation distance — log-free, integer-exact per-bin terms, one shuffle + 1-row totals broadcast"),

    // ---- corpus COMPOSITION report (the mix dashboard every training
    // run is planned against, and the observability twin of
    // txt_sample_stratified's mixing knobs): per (source, lang) cell —
    // doc count, token count, share of total tokens, and mean quality.
    // Determinism: token sums are exact longs; the mean quality rides
    // the registered ROUNDED 4-decimal quality lifted to fixed-point
    // longs (round(q·10⁴)) so the cross-engine sum is exact and the
    // one division per row runs on exact operands; token_share divides
    // exact longs from a 1-row broadcast (the api_q6_stats pattern).
    // One groupBy shuffle over ~|sources|·|langs| cells.
    "qa_corpus_mix" -> QueryDef(
      build = (s, dir) => {
        import s.implicits._
        val qual = TextStats.defs("txt_quality_score").build(s, dir)
          .select($"doc_id", $"n_tokens",
            round($"quality" * 10000).cast("long").as("q4"))
        val base = Tables.documents(s, dir).select($"doc_id", $"source", $"lang")
          .join(qual, "doc_id")
        val cells = base.groupBy($"source", $"lang")
          .agg(count(lit(1)).as("n_docs"),
            sum($"n_tokens".cast("long")).as("n_tokens"),
            sum($"q4").as("sq4"))
        val tot = base.agg(sum($"n_tokens".cast("long")).as("t_tokens"))
        cells.crossJoin(broadcast(tot))
          .select($"source", $"lang", $"n_docs", $"n_tokens",
            round($"n_tokens".cast("double") / $"t_tokens", 6).as("token_share"),
            round($"sq4".cast("double") / (lit(10000.0) * $"n_docs"), 6).as("mean_quality"))
      },
      oracle = Some("""
        WITH t AS (SELECT doc_id, source, lang,
                          string_split_regex(trim(text), '\s+') AS tk FROM documents),
        qm AS (SELECT doc_id, source, lang, len(tk) AS n_tokens,
                      CAST(len(list_filter(tk, x -> x IN ('the','a','of','and','to','in','is','it'))) AS DOUBLE) / len(tk) AS stop_ratio,
                      1.0 - CAST(len(list_distinct(tk)) AS DOUBLE) / len(tk) AS rep_ratio,
                      least(CAST(len(tk) AS DOUBLE) / 200.0, 1.0) AS len_score
               FROM t),
        q AS (SELECT doc_id, source, lang, n_tokens,
                     CAST(round(round(0.5 * len_score + 0.3 * (1.0 - rep_ratio) + 0.2 * (1.0 - abs(stop_ratio - 0.1)), 4) * 10000) AS BIGINT) AS q4
              FROM qm),
        cells AS (SELECT source, lang,
                         CAST(count(*) AS BIGINT) AS n_docs,
                         CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
                         CAST(sum(q4) AS BIGINT) AS sq4
                  FROM q GROUP BY 1, 2),
        tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS t_tokens FROM q)
        SELECT c.source, c.lang, c.n_docs, c.n_tokens,
               round(CAST(c.n_tokens AS DOUBLE) / tot.t_tokens, 6) AS token_share,
               round(CAST(c.sq4 AS DOUBLE) / (10000.0 * c.n_docs), 6) AS mean_quality
        FROM cells c CROSS JOIN tot"""),
      doc = "corpus composition report: per (source, lang) doc/token counts, token share, fixed-point-exact mean quality — the mix dashboard behind stratified sampling decisions"),

    // ---- EMBEDDING-space drift (r19 VERDICT item 7 — closes the QA
    // monitor family): qa_drift_tv watches text distributions; this
    // watches the vector side, for free off the PERSISTED incremental
    // IVF index (Embeddings.materializeIndexInc — quantizer trained on
    // the old generation, new vectors assigned against the FROZEN
    // committed quantizer). Signal: per-cell population share, old vs
    // new generation, scored by the same log-free exact-long TV
    // machinery as qa_drift_tv (cross-multiplied |n_new·t_old −
    // n_old·t_new|; single division per row on exact operands). A new
    // data drop whose embedding distribution shifts shows up as mass
    // moving between quantizer cells — the monitor a 100 TB vector
    // store runs on every index append, at the cost of one groupBy
    // over the assignment table (≤ k cells of state; the window runs
    // over ≤ k rows, so the constant partition is not a skew hazard).
    // The oracle re-derives the old-trained quantizer AND every
    // assignment from scratch, so it also re-gates the committed
    // index's content (the sim_ivf_index_append discipline).
    "qa_embedding_drift" -> QueryDef(
      build = (s, dir) => {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        val adir = Embeddings.materializeIndexInc(s, dir)
        val t = MergeWriter.readSnapshot(s, adir, Embeddings.idxAsgSchema)
          .withColumn("is_new", pmod($"vec_id", lit(10)) >= 7)
        val counts = t.groupBy($"cell")
          .agg(sum(when(!$"is_new", 1L).otherwise(0L)).as("n_old"),
            sum(when($"is_new", 1L).otherwise(0L)).as("n_new"))
        val totals = t.agg(
          sum(when(!$"is_new", 1L).otherwise(0L)).as("t_old"),
          sum(when($"is_new", 1L).otherwise(0L)).as("t_new"))
        val w = Window.partitionBy(lit(1))
        counts.crossJoin(broadcast(totals))
          .withColumn("d", abs($"n_new" * $"t_old" - $"n_old" * $"t_new"))
          .withColumn("tv", round(sum($"d").over(w).cast("double") /
            (lit(2.0) * $"t_old" * $"t_new"), 6))
          .select($"cell", $"n_old", $"n_new", $"tv")
      },
      oracle = Some(s"""
        WITH ${Embeddings.centCtesAt("WHERE q.vec_id % 10 < 7")},
        d AS (SELECT q.vec_id, cent.c_label, ${Embeddings.d2Sql} AS d2
              FROM q CROSS JOIN cent),
        asg AS (SELECT vec_id, c_label AS cell, vec_id % 10 >= 7 AS is_new FROM d
                QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d2 ASC, c_label ASC) = 1),
        c AS (SELECT cell,
                     CAST(sum(CASE WHEN NOT is_new THEN 1 ELSE 0 END) AS BIGINT) AS n_old,
                     CAST(sum(CASE WHEN is_new THEN 1 ELSE 0 END) AS BIGINT) AS n_new
              FROM asg GROUP BY 1),
        tot AS (SELECT CAST(sum(CASE WHEN NOT is_new THEN 1 ELSE 0 END) AS BIGINT) AS t_old,
                       CAST(sum(CASE WHEN is_new THEN 1 ELSE 0 END) AS BIGINT) AS t_new
                FROM asg)
        SELECT c.cell, c.n_old, c.n_new,
               round(CAST(CAST(sum(abs(c.n_new * tot.t_old - c.n_old * tot.t_new))
                       OVER () AS BIGINT) AS DOUBLE)
                     / (2.0 * tot.t_old * tot.t_new), 6) AS tv
        FROM c CROSS JOIN tot"""),
      doc = "embedding-space drift monitor: per-cell old/new population shares over the COMMITTED incremental IVF assignment table, scored by exact-long TV distance — the vector-side sibling of qa_drift_tv, re-gating the persisted index content on the way")
  )
}

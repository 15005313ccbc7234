package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{expr, lit}
import org.scalatest.funsuite.AnyFunSuite

/** Smoke + semantic checks for every registered query at sf0.001.
  * The DuckDB value-level gate is driver-side; here we pin the
  * structural contracts the oracle can't see (schema names, limits,
  * non-emptiness of the flagship path).
  */
class QueriesSpec extends AnyFunSuite {
  lazy val spark: SparkSession = Sessions.local(cores = 4, appName = "graft-test")
  val sf = "/root/testdata/sf0.001"

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every query builds and executes at sf0.001") {
    SparkEntry.queries.foreach { case (name, fn) =>
      val df = fn(spark, sf)
      assert(df.columns.nonEmpty, s"$name has no columns")
      val n = df.count()
      assert(n >= 0, s"$name failed to execute")
    }
  }

  test("ANSI mode is on: unit sums fail loudly on overflow, never wrap") {
    assert(spark.conf.get("spark.sql.ansi.enabled") == "true")
    val e = intercept[Exception] {
      spark.sql("SELECT sum(x) FROM VALUES (9223372036854775807), (1) t(x)").collect()
    }
    assert(e.getMessage.contains("ARITHMETIC_OVERFLOW"), e.getMessage)
  }

  test("oracleSql keys are a subset of queries") {
    val qk = SparkEntry.queries.keySet
    val missing = SparkEntry.oracleSql.keySet -- qk
    assert(missing.isEmpty, s"oracle without query: $missing")
  }

  test("limit queries respect their page size") {
    assert(SparkEntry.queries("ref_q3_message_page")(spark, sf).count() <= 50)
    assert(SparkEntry.queries("ref_q7_logs_tail")(spark, sf).count() <= 100)
    assert(SparkEntry.queries("ref_s7_latest_token")(spark, sf).count() == 1)
  }

  test("ref_l1 LWW dedup yields unique (user_id, event_type) keys") {
    val df = SparkEntry.queries("ref_l1_upsert_lww")(spark, sf)
    assert(df.count() == df.select("user_id", "event_type").distinct().count())
  }

  test("dedup_embedding_cosine plans as a bounded equi-join (no nested-loop cartesian)") {
    val df = SparkEntry.queries("dedup_embedding_cosine")(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    assert(df.count() == 20, "exact top-20 unchanged")
  }

  test("dedup_embedding_cosine top-20 is block-count invariant (P in {4,16,64} + auto)") {
    // the triangular block-pair sharding is a physical distribution
    // choice; the answer must not depend on it (nor on the auto-derived
    // default P, which varies with corpus size and core count)
    def run(): Seq[(Long, Long, Double)] =
      SparkEntry.queries("dedup_embedding_cosine")(spark, sf)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val auto = run()
    assert(auto.size == 20)
    Seq(4, 16, 64).foreach { p =>
      spark.conf.set("spark.graft.cosineBlocks", p.toString)
      try assert(run() == auto, s"P=$p changed the top-20")
      finally spark.conf.unset("spark.graft.cosineBlocks")
    }
  }

  test("dedup_embedding_cosine: a NULL element against a zero-norm vector is NULL, as cosine_sim") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-cosine-null").toString
    Seq[(Long, Seq[Option[Float]])](
      (1L, Seq(Some(1f), None)),
      (2L, Seq(Some(0f), Some(0f))),
      (3L, Seq(Some(1f), Some(2f))))
      .toDF("vec_id", "embedding").withColumn("label", lit(0))
      .write.parquet(s"$dir/embeddings.parquet")
    val e = Tables.embeddings(spark, dir)
    val want = e.as("a").join(e.as("b"), $"a.vec_id" < $"b.vec_id")
      .select($"a.vec_id", $"b.vec_id",
        expr("round(cosine_sim(a.embedding, b.embedding), 4)"))
      .collect().map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toSet
    val got = SparkEntry.queries("dedup_embedding_cosine")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toSet
    assert(want.contains((1L, 2L, None)), want)
    assert(got == want)
  }

  test("suite-wide plan guard: no cartesian products; nested-loop joins only where documented") {
    // The scale-killer a 100 TB plan cannot contain is an unbounded
    // nested-loop join. Allowlist = the sanctioned nested loops, all
    // with a provably tiny build side (single-row aggregate combines,
    // the 8-row hyperplane set); everything else must plan bounded
    // hash/sort-merge equi-joins. A new query that accidentally plans a
    // cartesian fails here at sf0.001 instead of at cluster scale.
    val bnljAllowed = Set(
      "api_q6_stats",       // crossJoin of five 1-row aggregate panels (Api.scala)
      "sim_lsh_bucket_topk", // 8-row broadcast hyperplane set (Similarity.scala)
      "sim_lsh_planes12_topk", // same hyperplane panel at 12 rows — the oracle-gated scale knob
      "sim_cosine_topk",     // broadcast ~50-row query set — the declared exact baseline
      "sim_quantize_int8",   // 1-row broadcast query-vector panel (Embeddings.scala)
      "sim_kmeans_assign",   // k-row broadcast centroid panel (Embeddings.scala)
      "sim_ivf_persisted_probe", // same k-row centroid panel, read from the persisted index
      "qa_drift_tv",         // 1-row generation-totals broadcast (the api_q6_stats shape)
      "qa_corpus_mix",       // 1-row corpus-token-total broadcast (the api_q6_stats shape)
      "qa_embedding_drift",  // 1-row generation-totals broadcast over ≤k cells (Profile.scala)
      "sim_ivf_recall_audit", // 20-row broadcast query panel for the truth side (the sim_cosine_topk shape)
      "sim_ivf_recall_curve", // 20-row query panel + 3-row nprobe frame (both broadcast)
      "sim_ivf_recall_structured", // 20-row query panel + 8-row planted-centroid panel (both broadcast)
      "sim_pq_encode",       // k-row codebook + 4-row subspace panels (both broadcast, Pq.scala)
      "sim_pq_distortion",   // same codebook/subspace panels feeding the per-subspace report
      "sim_pq_adc_topk",     // same codebook/subspace panels feeding the code argmin
      "sim_pq_recall_audit", // those panels + the 10-row query panel for the truth side
      "sim_pq_recall_structured", // same shape over the planted zero-noise corpus
      "sim_ivfpq_topk",      // codebook/subspace/query panels + the k-row persisted quantizer probe
      "sim_ivfpq_persisted_topk", // k-row committed-quantizer probe panel (codes read from the index, no corpus encode)
      "sim_ivfpq_recall_audit", // that probe panel + the 10-row query panel for the exact-L2 truth side
      "sim_ivfpq_recall_structured", // planted-centroid panels + the 10-row query panel (the control)
      "pipe_corpus_funnel",  // six 1-row funnel-count panels cross-joined (the api_q6_stats shape)
      "txt_tfidf_top")       // 1-row corpus-count broadcast (the api_q6_stats shape)
    val violations = SparkEntry.queries.toSeq.flatMap { case (name, fn) =>
      val plan = fn(spark, sf).queryExecution.executedPlan.toString
      val cart = if (plan.contains("CartesianProduct")) Seq(s"$name: CartesianProduct") else Nil
      val bnlj = if (!bnljAllowed(name) && plan.contains("BroadcastNestedLoopJoin"))
        Seq(s"$name: BroadcastNestedLoopJoin") else Nil
      cart ++ bnlj
    }
    assert(violations.isEmpty, s"unbounded join plans:\n${violations.mkString("\n")}")
  }

  test("pushdown reaches the scan: q6 predicates and ref_q3 keyset predicate in PushedFilters") {
    // PLANS.md documents these as the pushdown showcases; pin them so a
    // refactor that silently breaks pushdown (e.g. an opaque UDF wrapped
    // around the filter column) fails here, not at 100 TB
    val q6 = SparkEntry.queries("q6_revenue_forecast")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(q6.contains("PushedFilters: [") && q6.contains("l_shipdate"),
      s"q6 date predicates must reach the parquet scan:\n$q6")
    val q3 = SparkEntry.queries("ref_q3_message_page")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(q3.contains("PushedFilters: [") && q3.contains("LessThan"),
      s"ref_q3 keyset predicate must reach the parquet scan:\n$q3")
  }

  test("sketch queries stay within 5% of their exact twins (sf0.01)") {
    // The 5 %-bound comparison is computed INSIDE each query since
    // round 11 (the within_5pct column — a drifting sketch flips it and
    // fails the driver's hash gate against DuckDB's literal TRUE). This
    // spec is the belt-and-braces twin of that gate at a second SF.
    val sf01 = "/root/testdata/sf0.01"
    Seq("qx_approx_distinct", "qx_approx_quantiles").foreach { q =>
      val rows = SparkEntry.queries(q)(spark, sf01).collect()
      assert(rows.nonEmpty, s"$q returned no groups")
      rows.foreach { r =>
        assert(r.getBoolean(r.fieldIndex("within_5pct")),
          s"$q group ${r.get(0)}: sketch outside the 5% bound")
      }
    }
  }

  test("TPC-H suite is complete: all 22 query shapes registered") {
    val have = SparkEntry.queries.keySet
    val q = (1 to 22).map {
      case 1 => "q1_pricing_summary"; case 2 => "q2_correlated_min"
      case 3 => "q3_shipping_priority"; case 4 => "q4_order_priority"
      case 5 => "q5_local_supplier"; case 6 => "q6_revenue_forecast"
      case 7 => "q7_volume_shipping"; case 8 => "q8_market_share"
      case 9 => "q9_product_profit"; case 10 => "q10_returned_items"
      case 11 => "q11_important_parts"; case 12 => "q12_shipmode_priority"
      case 13 => "q13_customer_distribution"; case 14 => "q14_promo_effect"
      case 15 => "q15_top_supplier"; case 16 => "q16_distinct_suppliers"
      case 17 => "q17_small_quantity"; case 18 => "q18_large_volume"
      case 19 => "q19_disjunctive"; case 20 => "q20_promotion_suppliers"
      case 21 => "q21_anti_join"; case 22 => "q22_above_avg_inactive"
    }
    val missing = q.filterNot(have)
    assert(missing.isEmpty, s"missing TPC-H shapes: $missing")
  }

  test("q13 histogram conserves customers; left join preserves zero-count bucket rows") {
    // the histogram is a partition of the customer table: bucket counts
    // must sum exactly to |customer| whatever the predicate selectivity
    val rows = SparkEntry.queries("q13_customer_distribution")(spark, sf).collect()
    val total = rows.map(_.getLong(1)).sum
    val nCust = graft.Tables.customer(spark, sf).count()
    assert(total == nCust, s"histogram sums to $total, |customer| = $nCust")
  }

  test("q20 plans the IN-subquery as a bounded semi-join over the grouped table") {
    val plan = SparkEntry.queries("q20_promotion_suppliers")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("LeftSemi"), s"IN must plan as semi-join:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("retired ML MinHashLSH variant agrees with the shipped banded operator (sf0.01)") {
    val sf01 = "/root/testdata/sf0.01"
    // the ML variant is no longer a registered query (13s for the same
    // answer the 3.6s band-bucket operator produces) — this is its
    // accuracy gate: identical near-dup pair sets at Jaccard >= 0.5
    val ml = graft.queries.Misc.minhashMlPairs(spark, sf01)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val banded = SparkEntry.queries("dedup_minhash_lsh")(spark, sf01)
      .filter(org.apache.spark.sql.functions.col("jaccard") >= 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ml == banded,
      s"ml-only: ${ml -- banded}, banded-only: ${banded -- ml}")
    assert(banded.nonEmpty, "corpus must contain near-dup pairs at J >= 0.5")
    Bench.isolate(spark) // the ML path localCheckpoints; drop the blocks
  }
}

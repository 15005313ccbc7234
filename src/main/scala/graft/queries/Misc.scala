package graft.queries

import graft.{Num, QueryDef, Tables}
import org.apache.spark.sql.functions._

/** Remaining operator coverage: scalar string/date functions (the
  * SURVEY §2.5 inventory: date_format, initcap, upper/lower, concat),
  * exact quantiles, skew-mitigating salted aggregation, CUBE, and the
  * Spark-ML MinHashLSH variant of near-dedup.
  */
object Misc {
  import Num._

  val defs: Map[String, QueryDef] = Map(
    // scalar function coverage: date formatting + string functions
    "qx_string_date_funcs" -> QueryDef(
      build = (s, dir) => {
        import s.implicits._
        Tables.orders(s, dir)
          .groupBy(
            date_format($"o_orderdate", "yyyy-MM").as("month"),
            initcap(lower($"o_orderpriority")).as("priority_label"),
            upper($"o_orderstatus").as("status"))
          .agg(count(lit(1)).as("n"),
            dbl(sum(dec($"o_totalprice"))).as("total"))
      },
      oracle = Some("""
        SELECT strftime(o_orderdate, '%Y-%m') AS month,
               array_to_string(list_transform(string_split(lower(o_orderpriority), ' '),
                 w -> upper(substr(w, 1, 1)) || substr(w, 2)), ' ') AS priority_label,
               upper(o_orderstatus) AS status,
               count(*) AS n,
               CAST(sum(o_totalprice::DECIMAL(12,2)) AS DOUBLE) AS total
        FROM orders GROUP BY 1, 2, 3"""),
      doc = "scalar functions: date_format, initcap, upper/lower in group keys"),

    // exact interpolated quantiles per group
    "qx_exact_quantiles" -> QueryDef(
      build = (s, dir) => {
        import s.implicits._
        // one percentile buffer per group (array form), not three
        Tables.lineitem(s, dir)
          .groupBy($"l_returnflag")
          .agg(expr("percentile(l_extendedprice, array(0.25, 0.5, 0.9))").as("ps"))
          .select($"l_returnflag",
            round($"ps".getItem(0), 4).as("p25"),
            round($"ps".getItem(1), 4).as("p50"),
            round($"ps".getItem(2), 4).as("p90"))
      },
      oracle = Some("""
        SELECT l_returnflag,
               round(quantile_cont(l_extendedprice, 0.25), 4) AS p25,
               round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
               round(quantile_cont(l_extendedprice, 0.9), 4) AS p90
        FROM lineitem GROUP BY 1"""),
      doc = "exact interpolated quantiles (percentile ⇄ quantile_cont)"),

    // sketch quantiles: the 100 TB path next to qx_exact_quantiles.
    // approx_percentile keeps O(1/accuracy) state per group (Greenwald-
    // Khanna) instead of buffering every distinct value, so a high-
    // cardinality value column can't OOM an executor. Sketch VALUES are
    // engine-specific (GK internals aren't ANSI-expressible), so the
    // hash-gated output is (group, exact percentiles, within_5pct): the
    // exact values come from the ANSI-expressible percentile path and
    // the boolean compares the sketch against them IN the query — DuckDB
    // emits the same exact values and literal TRUE, so a sketch that
    // drifts out of bound flips the boolean and fails the hash gate.
    "qx_approx_quantiles" -> QueryDef(
      build = (s, dir) => {
        import s.implicits._
        Tables.lineitem(s, dir)
          .groupBy($"l_returnflag")
          .agg(
            expr("percentile(l_extendedprice, array(0.25, 0.5, 0.9))").as("ex"),
            expr(
              "approx_percentile(l_extendedprice, array(0.25, 0.5, 0.9), 10000)").as("ap"))
          .select($"l_returnflag",
            round($"ex".getItem(0), 4).as("p25"),
            round($"ex".getItem(1), 4).as("p50"),
            round($"ex".getItem(2), 4).as("p90"),
            expr("""aggregate(sequence(0, 2),
                    true,
                    (acc, i) -> acc AND abs(ap[i] - ex[i]) / ex[i] <= 0.05)""")
              .as("within_5pct"))
      },
      oracle = Some("""
        SELECT l_returnflag,
               round(quantile_cont(l_extendedprice, 0.25), 4) AS p25,
               round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
               round(quantile_cont(l_extendedprice, 0.9), 4) AS p90,
               TRUE AS within_5pct
        FROM lineitem GROUP BY 1"""),
      doc = "approx quantiles: GK sketch hash-gated against its exact twin (within_5pct)"),

    // skew mitigation: two-phase salted aggregation (5 hot keys across
    // the whole table ⇒ the classic hot-partition shape). Salting
    // changes the physical shuffle, never the result: oracle is the
    // plain GROUP BY.
    "qx_salted_skew_agg" -> QueryDef(
      build = (s, dir) => {
        import s.implicits._
        Tables.events(s, dir)
          .withColumn("__salt", pmod($"event_id", lit(16)))
          .groupBy($"event_type", $"__salt")
          .agg(count(lit(1)).as("pn"), sum(dec($"value")).as("pv"))
          .groupBy($"event_type")
          .agg(sum($"pn").as("n"), dbl(sum($"pv")).as("total_value"))
      },
      oracle = Some("""
        SELECT event_type, count(*) AS n,
               CAST(sum(value::DECIMAL(12,2)) AS DOUBLE) AS total_value
        FROM events GROUP BY 1"""),
      doc = "salted two-phase aggregation: same semantics, skew-proof shuffle"),

    // as-of join: for each purchase, the user's latest signup at-or-
    // before it. Implemented shuffle-once: union both sides, one
    // window pass carrying the last signup ts forward (the merge-sort
    // formulation — no per-row range probe, survives any scale);
    // DuckDB's native ASOF LEFT JOIN is the oracle.
    "qx_asof_join" -> QueryDef(
      build = (s, dir) => {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        val e = Tables.eventsNorm(s, dir)
        val purchases = e.filter($"event_type" === "purchase")
          .select($"user_id", $"ts", $"event_id", lit(1).as("is_p"),
            lit(null).cast("timestamp").as("sig_ts"))
        val signups = e.filter($"event_type" === "signup")
          .select($"user_id", $"ts", $"event_id", lit(0).as("is_p"),
            $"ts".as("sig_ts"))
        // signup sorts before a purchase at the same ts (is_p asc) so
        // ts >= matching is inclusive, same as ASOF's a.ts >= b.ts
        val w = Window.partitionBy($"user_id")
          .orderBy($"ts".asc, $"is_p".asc, $"event_id".asc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        purchases.unionByName(signups)
          .withColumn("asof_sig_ts", last($"sig_ts", ignoreNulls = true).over(w))
          .filter($"is_p" === 1)
          .select($"event_id", $"user_id", unix_micros($"ts").as("ts_us"),
            unix_micros($"asof_sig_ts").as("signup_ts_us"))
      },
      oracle = Some("""
        SELECT p.event_id, p.user_id, epoch_us(p.ts) AS ts_us,
               epoch_us(sg.ts) AS signup_ts_us
        FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'signup') sg
          ON p.user_id = sg.user_id AND p.ts >= sg.ts"""),
      doc = "as-of join via union + one window pass (merge-sort formulation)"),

    // range join, composed scalably: each error event owns a 1-hour
    // window; events are matched by TIME-BUCKET EQUI-JOIN (window spans
    // ≤ 2 hourly buckets → explode probe side to 2 keys) then refined
    // by the exact range predicate. No broadcast-nested-loop, no n·m
    // pair blowup — the standard interval-join recipe at scale. Oracle
    // is the plain inequality join.
    "qx_range_join_bucketed" -> QueryDef(
      build = (s, dir) => {
        import s.implicits._
        val e = Tables.eventsNorm(s, dir)
        val errors = e.filter($"event_type" === "error")
          .select($"event_id".as("err_id"), unix_micros($"ts").as("t0"))
          .withColumn("t1", $"t0" + 3600000000L)
        val probes = errors
          .withColumn("bucket", explode(array(($"t0" / 3600000000L).cast("long"),
            ($"t0" / 3600000000L).cast("long") + 1)))
        val victims = e.select(unix_micros($"ts").as("tv"))
          .withColumn("bucket", ($"tv" / 3600000000L).cast("long"))
        probes.join(victims, Seq("bucket"))
          .filter($"tv" >= $"t0" && $"tv" < $"t1")
          .groupBy($"err_id")
          .agg(count(lit(1)).as("n_events_in_window"))
      },
      oracle = Some("""
        SELECT e.event_id AS err_id, count(*) AS n_events_in_window
        FROM (SELECT event_id, epoch_us(ts) AS t0 FROM events WHERE event_type = 'error') e
        JOIN (SELECT epoch_us(ts) AS tv FROM events) v
          ON v.tv >= e.t0 AND v.tv < e.t0 + 3600000000
        GROUP BY 1"""),
      doc = "range join via time-bucket equi-join + refine (no pair blowup)"),

    // approximate sketches: HLL++ distinct counts. Sketch VALUES are
    // engine-specific, so (like qx_approx_quantiles) the hash-gated
    // output is (group, exact count, within_5pct): the exact
    // countDistinct is ANSI-expressible, and the boolean compares the
    // HLL estimate against it IN the query — DuckDB emits the exact
    // count and literal TRUE, making the entry hash-gated end-to-end
    // (Spark's HLL++ is deterministic for fixed input). The exact path
    // rides along only to anchor the gate; at 100 TB a user runs the
    // sketch alone — bounded state per group, no Expand double-shuffle.
    "qx_approx_distinct" -> QueryDef(
      build = (s, dir) => {
        import s.implicits._
        Tables.lineitem(s, dir)
          .groupBy($"l_returnflag")
          .agg(countDistinct($"l_partkey").as("exact_parts"),
            approx_count_distinct($"l_partkey", 0.02).as("__approx"))
          .select($"l_returnflag", $"exact_parts",
            (abs($"__approx" - $"exact_parts").cast("double")
              / $"exact_parts" <= 0.05).as("within_5pct"))
      },
      oracle = Some("""
        SELECT l_returnflag,
               count(DISTINCT l_partkey) AS exact_parts,
               TRUE AS within_5pct
        FROM lineitem GROUP BY 1"""),
      doc = "HLL++ approx distinct hash-gated against exact countDistinct (within_5pct)"),

    // moment statistics computed from EXACT integer sums (cents-scaled
    // longs), so stddev/corr are IEEE-deterministic — the built-in
    // stddev/corr aggregates accumulate doubles in engine-specific
    // order and cannot hash-match across engines
    "qx_exact_stddev_corr" -> QueryDef(
      build = (s, dir) => {
        import s.implicits._
        // q in cents, p in whole dollars (a cents Σp² would exceed even
        // comfortable headroom); per-row products stay primitive longs,
        // the aggregation buffers are decimal (sumUnits — cannot wrap).
        // The outer moment formula runs in double with each sum cast
        // FIRST — deterministic IEEE on identical exact inputs in both
        // engines (a long n*sqq product would overflow before the cast).
        Tables.lineitem(s, dir)
          .select($"l_returnflag", cents($"l_quantity").as("q"),
            floor($"l_extendedprice" + 0.5).cast("long").as("p"))
          .groupBy($"l_returnflag")
          .agg(count(lit(1)).as("n"),
            sumUnits($"q").as("sq"), sumUnits($"p").as("sp"),
            sumUnits($"q" * $"q").as("sqq"), sumUnits($"p" * $"p").as("spp"),
            sumUnits($"q" * $"p").as("sqp"))
          .select($"l_returnflag", $"n",
            round(sqrt((dbl($"n") * dbl($"sqq") - dbl($"sq") * dbl($"sq"))
              / (dbl($"n") * (dbl($"n") - 1.0))) / 100.0, 4).as("stddev_qty"),
            round((dbl($"n") * dbl($"sqp") - dbl($"sq") * dbl($"sp"))
              / (sqrt(dbl($"n") * dbl($"sqq") - dbl($"sq") * dbl($"sq"))
                * sqrt(dbl($"n") * dbl($"spp") - dbl($"sp") * dbl($"sp"))), 4)
              .as("corr_qty_price"))
      },
      oracle = Some("""
        WITH c AS (SELECT l_returnflag,
                          CAST(floor(l_quantity * 100.0 + 0.5) AS BIGINT) AS q,
                          CAST(floor(l_extendedprice + 0.5) AS BIGINT) AS p
                   FROM lineitem),
        m AS (SELECT l_returnflag, count(*) AS n,
                     sum(q) AS sq, sum(p) AS sp,
                     sum(q * q) AS sqq, sum(p * p) AS spp,
                     sum(q * p) AS sqp
              FROM c GROUP BY 1)
        SELECT l_returnflag, n,
               round(sqrt((CAST(n AS DOUBLE) * CAST(sqq AS DOUBLE) - CAST(sq AS DOUBLE) * CAST(sq AS DOUBLE))
                          / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0))) / 100.0, 4) AS stddev_qty,
               round((CAST(n AS DOUBLE) * CAST(sqp AS DOUBLE) - CAST(sq AS DOUBLE) * CAST(sp AS DOUBLE))
                     / (sqrt(CAST(n AS DOUBLE) * CAST(sqq AS DOUBLE) - CAST(sq AS DOUBLE) * CAST(sq AS DOUBLE))
                        * sqrt(CAST(n AS DOUBLE) * CAST(spp AS DOUBLE) - CAST(sp AS DOUBLE) * CAST(sp AS DOUBLE))), 4) AS corr_qty_price
        FROM m"""),
      doc = "stddev/correlation from exact integer moments (deterministic)"),

    // pivot: long→wide reshaping with an explicit value list
    "qx_pivot_status" -> QueryDef(
      build = (s, dir) => {
        import s.implicits._
        Tables.orders(s, dir)
          .groupBy($"o_orderpriority")
          .pivot($"o_orderstatus", Seq("F", "O", "P"))
          .agg(count(lit(1)))
          .na.fill(0L)
      },
      oracle = Some("""
        SELECT o_orderpriority,
               CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS "F",
               CAST(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS "O",
               CAST(sum(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS "P"
        FROM orders GROUP BY 1"""),
      doc = "pivot long->wide with explicit value list"),

    // CUBE: all grouping-set combinations in one pass
    "qx_cube_sales" -> QueryDef(
      build = (s, dir) => {
        import s.implicits._
        Tables.lineitem(s, dir)
          .cube($"l_returnflag", $"l_linestatus")
          .agg(count(lit(1)).as("n"))
      },
      oracle = Some("""
        SELECT l_returnflag, l_linestatus, count(*) AS n
        FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)"""),
      doc = "CUBE grouping sets"),

    // exact top-k per group through the custom bounded-buffer Aggregator
    // (functions/TopK): O(k) partial state per group vs the O(group)
    // a window row_number materializes
    "qx_topk_aggregator" -> QueryDef(
      build = (s, dir) => {
        import s.implicits._
        val ds = Tables.lineitem(s, dir)
          .select($"l_returnflag", $"l_extendedprice", $"l_orderkey", $"l_linenumber")
          .as[(String, Double, Long, Int)]
        ds.groupByKey(_._1)
          .mapValues(t => (t._2, t._3, t._4))
          .agg(graft.functions.TopK.topK(3).toColumn.name("top"))
          .toDF("l_returnflag", "top")
          .select($"l_returnflag", posexplode($"top"))
          .select($"l_returnflag", ($"pos" + 1).cast("int").as("rank"),
            $"col._1".as("l_extendedprice"), $"col._2".as("l_orderkey"),
            $"col._3".as("l_linenumber"))
      },
      oracle = Some("""
        SELECT l_returnflag,
               CAST(row_number() OVER w AS INT) AS rank,
               l_extendedprice, l_orderkey, l_linenumber
        FROM lineitem
        WINDOW w AS (PARTITION BY l_returnflag
                     ORDER BY l_extendedprice DESC, l_orderkey ASC, l_linenumber ASC)
        QUALIFY rank <= 3"""),
      doc = "exact top-k per group via custom bounded-buffer Aggregator")
  )
}

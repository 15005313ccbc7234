package graft.ext

import org.apache.spark.sql.SparkSession

/** REAL byte-pair-encoding tokenizer (round 20 — r19 VERDICT item 3):
  * a greedy merge-table BPE ENCODER behind `txt_bpe_tokens`'s regex
  * pre-tokenization, replacing "pre-tokens" with actual BPE tokens.
  *
  * Algorithm (the canonical encoder of Sennrich et al. 2016 / GPT-2's
  * `bpe()`): start from characters; repeatedly find the LOWEST-RANK
  * adjacent symbol pair present in the merge table and merge all its
  * non-overlapping occurrences left-to-right; stop when no adjacent
  * pair is in the table.
  *
  * The merge table is PLANTED (the planted-payload discipline of the
  * multimodal family): ranks are chosen for this corpus's closed
  * vocabulary and exercise deep cascades — "scan" needs three chained
  * merges (s+c → sc+a → sca+n), "the" two, and "row" consumes another
  * rule's OUTPUT as a merge operand (o+w → ow, then r+ow). The table is
  * WELL-FORMED in the BPE-training sense: every non-char operand of
  * rule k is the output of some rule j < k. For well-formed tables the
  * priority-queue encode is equivalent to replaying the rules once each
  * in rank order ([[replay]]) — the property real learned merge tables
  * have by construction, because rule k was trained on a corpus state
  * where rules 1..k-1 had been fully applied. BpeSpec PROVES the
  * equivalence over every distinct corpus pre-token (plus adversarial
  * cases), which is what licenses the DuckDB oracle to gate the
  * priority encoder by unrolling the sequential replay.
  */
object Bpe {

  /** Planted merge table; rank = index (lower merges first). */
  val Merges: Vector[(String, String)] = Vector(
    "s" -> "c",   //  0: sc      (scan)
    "sc" -> "a",  //  1: sca     — cascade depth 2
    "sca" -> "n", //  2: scan    — cascade depth 3
    "e" -> "r",   //  3: er      (order, filter, merge, customer, query)
    "t" -> "h",   //  4: th      (the, hash? no — t before h only)
    "th" -> "e",  //  5: the     — cascade depth 2
    "i" -> "n",   //  6: in      (window, join, line)
    "o" -> "w",   //  7: ow      (window, row, slow)
    "r" -> "ow",  //  8: row     — consumes rule 7's OUTPUT
    "a" -> "t",   //  9: at      (batch, data)
    "s" -> "t",   // 10: st      (stream, fast)
    "q" -> "u")   // 11: qu      (query)

  private val Rank: Map[(String, String), Int] =
    Merges.zipWithIndex.toMap

  /** One left-to-right non-overlapping merge pass of (a, b) → a+b. */
  private def mergePass(syms: Array[String], a: String, b: String): Array[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < syms.length) {
      if (i < syms.length - 1 && syms(i) == a && syms(i + 1) == b) {
        out += a + b; i += 2
      } else { out += syms(i); i += 1 }
    }
    out.toArray
  }

  /** TRUE greedy BPE encode: lowest-rank present pair merges first,
    * until no adjacent pair is in the table. `merges` defaults to the
    * planted table; the spec passes targeted tables to pin the
    * leftmost-non-overlap and rank-priority semantics in isolation. */
  def encode(word: String, merges: Vector[(String, String)] = Merges): List[String] = {
    val rank: Map[(String, String), Int] =
      if (merges eq Merges) Rank else merges.zipWithIndex.toMap
    var syms: Array[String] = word.map(_.toString).toArray
    var done = syms.length < 2
    while (!done) {
      var best = Int.MaxValue
      var i = 0
      while (i < syms.length - 1) {
        val r = rank.getOrElse((syms(i), syms(i + 1)), Int.MaxValue)
        if (r < best) best = r
        i += 1
      }
      if (best == Int.MaxValue) done = true
      else {
        val (a, b) = merges(best)
        syms = mergePass(syms, a, b)
        if (syms.length < 2) done = true
      }
    }
    syms.toList
  }

  /** Sequential rank-order replay — one merge pass per rule, in rank
    * order. This is the shape the DuckDB oracle unrolls (12 nested
    * folds); for the well-formed planted table it is provably ≡
    * [[encode]], and BpeSpec re-checks that over the corpus. */
  def replay(word: String, merges: Vector[(String, String)] = Merges): List[String] = {
    var syms: Array[String] = word.map(_.toString).toArray
    for ((a, b) <- merges) syms = mergePass(syms, a, b)
    syms.toList
  }

  /** DuckDB twin of one [[mergePass]]: symbols travel as a chr(31)-
    * prefixed, chr(31)-joined string (the separator guards symbol
    * boundaries — "ab","b" can never false-match "b","b"); the fold
    * appends each symbol, merging it into the accumulator's LAST symbol
    * when that symbol is exactly `a` and the incoming one exactly `b`.
    * A freshly merged a+b never re-triggers as `a` for the same rule
    * (its trailing 1+len(a) chars contain no separator), which is
    * precisely the left-to-right non-overlap rule. */
  private def mergePassSql(st: String, a: String, b: String): String =
    s"""list_reduce(list_transform(string_split(substr($st, 2), chr(31)), s -> chr(31) || s),
        (acc, x) -> CASE WHEN right(acc, ${a.length + 1}) = chr(31) || '$a' AND x = chr(31) || '$b'
                         THEN acc || '$b' ELSE acc || x END)"""

  /** The full unrolled replay chain over a column named `piece`. */
  def encodeChainSql: String =
    Merges.foldLeft("chr(31) || array_to_string(string_split(piece, ''), chr(31))") {
      case (st, (a, b)) => mergePassSql(st, a, b)
    }

  // ---- BPE TRAINING (round 20): the merge table LEARNED from the
  // corpus, as the real iterative job — Sennrich et al. 2016's training
  // loop over the pre-token vocabulary: count adjacent symbol pairs
  // weighted by word frequency (naive zip count, the reference
  // algorithm's semantics), merge the argmax pair (ties → lexicographic
  // (a, b) so both engines agree), repeat. Tables learned this way are
  // well-formed BY CONSTRUCTION (rule k is mined from the state where
  // rules 1..k-1 were applied), which is the very property the planted
  // table's spec asserts by hand — BpeSpec re-proves priority ≡ replay
  // under the learned table too.

  /** One training round's selection + application over a vocabulary of
    * (piece, cnt, syms). Returns the chosen (a, b, weighted pair count)
    * and the merged vocabulary. The argmax collect is a 1-ROW driver
    * collect per round (documented bound — the api_q6 panel class). */
  private def trainRound(vocab: org.apache.spark.sql.DataFrame)
      : ((String, String, Long), org.apache.spark.sql.DataFrame) = {
    val s = vocab.sparkSession
    import s.implicits._
    import org.apache.spark.sql.functions._
    val top = vocab
      .select(col("cnt"), explode(expr(
        "transform(slice(syms, 1, size(syms) - 1), (x, i) -> struct(x AS a, element_at(syms, i + 2) AS b))")).as("p"))
      .groupBy($"p.a", $"p.b").agg(sum($"cnt").as("c"))
      .orderBy($"c".desc, $"a".asc, $"b".asc)
      .limit(1).collect()(0)
    val (a, b, c) = (top.getString(0), top.getString(1), top.getLong(2))
    val merged = vocab.as[(String, Long, Seq[String])]
      .map { case (p, cnt, syms) => (p, cnt, mergePass(syms.toArray, a, b).toSeq) }
      .toDF("piece", "cnt", "syms")
      .localCheckpoint(true) // ≤ |vocab| rows; cuts the per-round lineage
    ((a, b, c), merged)
  }

  /** The ONE corpus pass of BPE training: pre-token frequency counts
    * collapsed to the (piece, cnt, syms) VOCABULARY. Everything after
    * this touches only the vocabulary — the property that keeps the
    * training loop tractable at 100 TB (PLANS.md round 20 §2 measured
    * it at ×1/×10/×100: this pass grows ~K with the corpus, the rounds
    * below stay ~flat).
    * `checkpoint = false` skips the materialization when the caller
    * consumes the vocabulary exactly once (the local trainer's
    * collect). */
  def pretokenVocab(s: SparkSession, dir: String, checkpoint: Boolean = true)
      : org.apache.spark.sql.DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.functions._
    val v = graft.Tables.documents(s, dir)
      .select(explode(expr(
        "regexp_extract_all(text, '[a-z0-9]+|[^a-z0-9\\\\s]', 0)")).as("piece"))
      .groupBy($"piece").agg(count(lit(1)).as("cnt"))
      .select($"piece", $"cnt", split($"piece", "").as("syms"))
    if (checkpoint) v.localCheckpoint(true) else v
  }

  /** `rounds` training rounds over a prepared vocabulary. */
  def trainOnVocab(vocabIn: org.apache.spark.sql.DataFrame, rounds: Int)
      : Seq[(Int, String, String, Long)] = {
    var vocab = vocabIn
    (1 to rounds).map { r =>
      val ((a, b, c), next) = trainRound(vocab)
      vocab = next
      (r, a, b, c)
    }
  }

  /** Corpus-learned merge table: `rounds` training rounds over the
    * regex pre-token vocabulary of `documents`, DISTRIBUTED loop —
    * one Spark job per round. Kept as the fallback for vocabularies
    * too large to collect and as the equivalence twin BpeSpec gates
    * [[trainMergesLocal]] against. */
  def trainMerges(s: SparkSession, dir: String, rounds: Int)
      : Seq[(Int, String, String, Long)] =
    trainOnVocab(pretokenVocab(s, dir), rounds)

  /** Vocabulary-size cap for [[trainMergesLocal]]'s driver collect:
    * the vocabulary is DISTINCT pre-tokens (metadata-scale — a few
    * thousand here, single-digit millions on web corpora); past the
    * cap the trainer falls back to the distributed round loop instead
    * of risking driver memory. 4M rows × ~50 bytes ≈ 200 MB, inside
    * the same bounded-collect discipline as the merge planner. */
  val MaxLocalVocab: Int = 4 * 1024 * 1024

  /** Driver-local training after the one corpus pass (r21, VERDICT r20
    * item 4 — the 100 TB-correct shape): the distributed pass reduces
    * the corpus to the (cnt, syms) vocabulary, the vocabulary is
    * collected ONCE (bounded by [[MaxLocalVocab]], falling back to the
    * distributed loop above it), and the merge rounds run locally —
    * identical argmax semantics (frequency-weighted adjacent-pair
    * counts including intra-word repeats, ties → lexicographic (a, b)),
    * identical [[mergePass]] application, so the learned table is
    * row-identical to [[trainMerges]] (BpeSpec gates the equivalence;
    * the DuckDB oracle is unchanged). What it removes is the
    * one-Spark-job-per-merge-round shape: a real 30k–50k-merge
    * vocabulary is 30k sequential jobs distributed vs a local loop
    * over a few MB after ONE job here. */
  def trainMergesLocal(s: SparkSession, dir: String, rounds: Int)
      : Seq[(Int, String, String, Long)] = {
    import s.implicits._
    val vocabDf = pretokenVocab(s, dir, checkpoint = false)
    // r22 (ADVICE r21 item 1, VERDICT item 8): the cap check rides the
    // SAME bounded collect as the vocabulary — limit(cap + 1) collects
    // at most cap + 1 rows in one corpus pass; row cap + 1 existing is
    // the over-cap signal. The old count() + collect() ran the full
    // pre-token aggregation twice (checkpoint = false materializes
    // nothing between them).
    val rows: Array[(Long, Seq[String])] = vocabDf
      .select($"cnt", $"syms").as[(Long, Seq[String])]
      .limit(MaxLocalVocab + 1).collect()
    if (rows.length > MaxLocalVocab) return trainMerges(s, dir, rounds)
    var vocab: Array[(Long, Array[String])] =
      rows.map { case (c, sy) => (c, sy.toArray) }
    (1 to rounds).map { r =>
      val counts = scala.collection.mutable.HashMap.empty[(String, String), Long]
      vocab.foreach { case (cnt, sy) =>
        var i = 0
        while (i < sy.length - 1) {
          val k = (sy(i), sy(i + 1))
          counts.update(k, counts.getOrElse(k, 0L) + cnt)
          i += 1
        }
      }
      require(counts.nonEmpty,
        s"BPE training round $r: no adjacent pairs left in the vocabulary")
      // argmax with the distributed loop's exact tie-break: c DESC,
      // a ASC, b ASC in UTF-8 BINARY order — Spark's string ASC. Java
      // String `<` compares UTF-16 code units, which diverges from
      // UTF-8 byte order for supplementary characters (ADVICE r21
      // item 2); unreachable for the ASCII-only pre-token alphabet but
      // compared correctly anyway so the equivalence is unconditional.
      def utf8Lt(x: String, y: String): Boolean =
        org.apache.spark.unsafe.types.UTF8String.fromString(x)
          .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(y)) < 0
      var bestA: String = null; var bestB: String = null; var bestC = -1L
      counts.foreach { case ((a, b), c) =>
        val better = c > bestC || (c == bestC &&
          (utf8Lt(a, bestA) || (a == bestA && utf8Lt(b, bestB))))
        if (better) { bestA = a; bestB = b; bestC = c }
      }
      vocab = vocab.map { case (cnt, sy) => (cnt, mergePass(sy, bestA, bestB)) }
      (r, bestA, bestB, bestC)
    }
  }

  /** DuckDB twin of [[trainMerges]]: `rounds` unrolled training rounds —
    * each round's pair counts, argmax (same tie-break), and merge
    * application (the [[mergePassSql]] fold with the argmax pair
    * captured as columns) as CTE blocks over the previous round's
    * vocabulary. Emits (rank, a, b, pair_count). */
  def trainOracleSql(rounds: Int): String = {
    val ctes = new StringBuilder
    ctes.append("""
        pt AS (SELECT regexp_extract_all(text, '[a-z0-9]+|[^a-z0-9\s]') AS pieces FROM documents),
        v0 AS (SELECT piece, CAST(count(*) AS BIGINT) AS cnt,
                      chr(31) || array_to_string(string_split(piece, ''), chr(31)) AS st
               FROM (SELECT unnest(pieces) AS piece FROM pt) GROUP BY 1)""")
    for (r <- 1 to rounds) {
      val prev = s"v${r - 1}"
      ctes.append(s""",
        sv$r AS (SELECT cnt, string_split(substr(st, 2), chr(31)) AS sym FROM $prev),
        pr$r AS (SELECT cnt, sym, unnest(generate_series(1, len(sym) - 1)) AS i FROM sv$r),
        pc$r AS (SELECT sym[i] AS a, sym[i + 1] AS b, CAST(sum(cnt) AS BIGINT) AS c
                 FROM pr$r GROUP BY 1, 2),
        m$r AS (SELECT a, b, c FROM pc$r ORDER BY c DESC, a ASC, b ASC LIMIT 1),
        v$r AS (SELECT v.piece, v.cnt,
                       list_reduce(list_transform(string_split(substr(v.st, 2), chr(31)), s -> chr(31) || s),
                         (acc, x) -> CASE WHEN right(acc, strlen(m.a) + 1) = chr(31) || m.a
                                               AND x = chr(31) || m.b
                                          THEN acc || m.b ELSE acc || x END) AS st
                FROM $prev v CROSS JOIN m$r m)""")
    }
    val sel = (1 to rounds)
      .map(r => s"SELECT $r AS rank, a, b, c AS pair_count FROM m$r")
      .mkString("\n        UNION ALL\n        ")
    s"WITH ${ctes.result()}\n        $sel"
  }
}

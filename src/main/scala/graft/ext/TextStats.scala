package graft.ext

import graft.{QueryDef, Tables}
import org.apache.spark.sql.functions._

/** Text-analysis operators over the `documents` table: token counting,
  * quality scoring, language-ID heuristic, and document fingerprinting.
  * These are the per-document scoring passes of an LLM training-data
  * pipeline — embarrassingly parallel scans with no shuffle, so they
  * scale linearly with input size.
  *
  * Determinism: all ratios are integer÷integer double divisions
  * (IEEE-identical across engines); formulas are written with identical
  * operation order on both sides.
  */
object TextStats {
  import TextExpr.toksE

  /** The quality-family stopword vocabulary as a SQL array literal —
    * the second argument of `token_stats` (and still spelled out inside
    * the lambda-based entries that filter on it). */
  private val stopArrE = "array('the','a','of','and','to','in','is','it')"

  /** `token_stats(toks, stops)` over the tokenized text — ONE O(tokens)
    * codegen pass (graft.functions.TokenStats) emitting every signal the
    * quality/repetition family reads; the per-signal HOF lambda chains
    * this replaces were the bench's CodegenFallback noise floor AND the
    * O(tokens²) pushdown hazard (r18 VERDICT item 1). */
  private def tokenStats(s: org.apache.spark.sql.SparkSession,
      stops: String = "array()"): org.apache.spark.sql.Column = {
    expr(s"token_stats($toksE, $stops)")
  }

  val defs: Map[String, QueryDef] = Map(
    // token counting (whitespace tokenizer + distinct-type stats) — all
    // counts from the one-pass token_stats struct; ratio operation
    // order unchanged (sum/size as double ÷ int, exactly the values
    // the lambda chain produced, so the oracle is untouched)
    "txt_token_stats" -> QueryDef(
      build = (s, dir) => {
        import s.implicits._
        Tables.documents(s, dir)
          .withColumn("st", tokenStats(s))
          .select(
            $"doc_id",
            $"st.n_tokens".as("n_tokens"),
            length($"text").as("len_chars"),
            $"st.n_distinct".as("n_distinct"),
            round($"st.sum_len".cast("double") / $"st.n_tokens", 4).as("avg_token_len"),
            round($"st.n_distinct".cast("double") / $"st.n_tokens", 4).as("ttr"))
      },
      oracle = Some("""
        WITH t AS (SELECT doc_id, text, string_split_regex(trim(text), '\s+') AS toks FROM documents)
        SELECT doc_id,
               len(toks) AS n_tokens,
               length(text) AS len_chars,
               len(list_distinct(toks)) AS n_distinct,
               round(CAST(list_sum(list_transform(toks, t -> length(t))) AS DOUBLE) / len(toks), 4) AS avg_token_len,
               round(CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks), 4) AS ttr
        FROM t"""),
      doc = "token counting: whitespace tokens, type-token ratio, avg token length"),

    // PII scrubbing: email/phone redaction — the standard pre-training
    // cleanup pass. The synthetic corpus carries no PII, so the query
    // plants one deterministic contact line per document and the oracle
    // proves the scrub removes exactly that (plus anything
    // pattern-shaped already in the text). Patterns stay in the
    // Java-regex ∩ RE2 dialect (no backrefs/lookarounds) so Spark and
    // DuckDB match identically; the scan is shuffle-free.
    "txt_pii_scrub" -> QueryDef(
      build = (s, dir) => {
        import s.implicits._
        val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
        val phone = "\\+[0-9]{1,3}[- ][0-9]{3}[- ][0-9]{4}"
        Tables.documents(s, dir)
          .withColumn("raw", concat($"text",
            lit(" contact u"), $"doc_id".cast("string"),
            lit("@example.com or +1 555-"),
            lpad(pmod($"doc_id", lit(10000)).cast("string"), 4, "0")))
          .withColumn("n_emails", size(regexp_extract_all($"raw", lit(email), lit(0))))
          .withColumn("n_phones", size(regexp_extract_all($"raw", lit(phone), lit(0))))
          .withColumn("scrubbed",
            regexp_replace(regexp_replace($"raw", email, "<EMAIL>"), phone, "<PHONE>"))
          .select($"doc_id", $"n_emails", $"n_phones",
            (!($"scrubbed".rlike(email) || $"scrubbed".rlike(phone))).as("clean"),
            md5($"scrubbed").as("scrub_hash"))
      },
      oracle = Some("""
        WITH r AS (SELECT doc_id,
                          text || ' contact u' || doc_id || '@example.com or +1 555-' ||
                            lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS raw
                   FROM documents),
        sc AS (SELECT doc_id, raw,
                      regexp_replace(regexp_replace(raw,
                        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                        '\+[0-9]{1,3}[- ][0-9]{3}[- ][0-9]{4}', '<PHONE>', 'g') AS scrubbed
               FROM r)
        SELECT doc_id,
               len(regexp_extract_all(raw, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_emails,
               len(regexp_extract_all(raw, '\+[0-9]{1,3}[- ][0-9]{3}[- ][0-9]{4}')) AS n_phones,
               NOT (regexp_matches(scrubbed, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')
                    OR regexp_matches(scrubbed, '\+[0-9]{1,3}[- ][0-9]{3}[- ][0-9]{4}')) AS clean,
               md5(scrubbed) AS scrub_hash
        FROM sc"""),
      doc = "PII scrubbing: email/phone redaction with per-doc planted PII, proof-of-removal flags"),

    // quality scoring: length/repetition/stopword-profile composite
    "txt_quality_score" -> QueryDef(
      build = (s, dir) => {
        import s.implicits._
        Tables.documents(s, dir)
          .withColumn("st", tokenStats(s, stopArrE))
          .withColumn("n_tokens", $"st.n_tokens")
          .withColumn("stop_ratio", $"st.n_stop".cast("double") / $"n_tokens")
          .withColumn("rep_ratio",
            lit(1.0) - $"st.n_distinct".cast("double") / $"n_tokens")
          .withColumn("len_score", least($"n_tokens".cast("double") / 200.0, lit(1.0)))
          .select($"doc_id", $"n_tokens",
            round($"stop_ratio", 4).as("stop_ratio"),
            round($"rep_ratio", 4).as("rep_ratio"),
            round(lit(0.5) * $"len_score" + lit(0.3) * (lit(1.0) - $"rep_ratio") +
              lit(0.2) * (lit(1.0) - abs($"stop_ratio" - 0.1)), 4).as("quality"))
      },
      oracle = Some("""
        WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents),
        m AS (SELECT doc_id,
                     len(toks) AS n_tokens,
                     CAST(len(list_filter(toks, t -> t IN ('the','a','of','and','to','in','is','it'))) AS DOUBLE) / len(toks) AS stop_ratio,
                     1.0 - CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS rep_ratio,
                     least(CAST(len(toks) AS DOUBLE) / 200.0, 1.0) AS len_score
              FROM t)
        SELECT doc_id, n_tokens,
               round(stop_ratio, 4) AS stop_ratio,
               round(rep_ratio, 4) AS rep_ratio,
               round(0.5 * len_score + 0.3 * (1.0 - rep_ratio) + 0.2 * (1.0 - abs(stop_ratio - 0.1)), 4) AS quality
        FROM m"""),
      doc = "quality scoring: composite of length, repetition, stopword profile"),

    // language-ID: marker-token n-gram heuristic with fixed tie precedence
    "txt_lang_id" -> QueryDef(
      build = (s, dir) => {
        import s.implicits._
        Tables.documents(s, dir)
          .withColumn("toks", expr(toksE))
          .withColumn("s_en", size(expr("filter(toks, t -> t IN ('the','a','and','of'))")))
          .withColumn("s_fr", size(expr("filter(toks, t -> t IN ('le','la','les','et'))")))
          .withColumn("s_de", size(expr("filter(toks, t -> t IN ('der','die','das','und'))")))
          .withColumn("s_es", size(expr("filter(toks, t -> t IN ('el','los','las','y'))")))
          .withColumn("pred_lang",
            when($"s_en" + $"s_fr" + $"s_de" + $"s_es" === 0, "und")
              .when($"s_en" >= $"s_fr" && $"s_en" >= $"s_de" && $"s_en" >= $"s_es", "en")
              .when($"s_fr" >= $"s_de" && $"s_fr" >= $"s_es", "fr")
              .when($"s_de" >= $"s_es", "de")
              .otherwise("es"))
          .select($"doc_id", $"pred_lang", $"lang",
            ($"pred_lang" === $"lang").as("is_match"))
      },
      oracle = Some("""
        WITH t AS (SELECT doc_id, lang, string_split_regex(trim(text), '\s+') AS toks FROM documents),
        sc AS (SELECT doc_id, lang,
                      len(list_filter(toks, t -> t IN ('the','a','and','of'))) AS s_en,
                      len(list_filter(toks, t -> t IN ('le','la','les','et'))) AS s_fr,
                      len(list_filter(toks, t -> t IN ('der','die','das','und'))) AS s_de,
                      len(list_filter(toks, t -> t IN ('el','los','las','y'))) AS s_es
               FROM t)
        SELECT doc_id,
               CASE WHEN s_en + s_fr + s_de + s_es = 0 THEN 'und'
                    WHEN s_en >= s_fr AND s_en >= s_de AND s_en >= s_es THEN 'en'
                    WHEN s_fr >= s_de AND s_fr >= s_es THEN 'fr'
                    WHEN s_de >= s_es THEN 'de'
                    ELSE 'es' END AS pred_lang,
               lang,
               (CASE WHEN s_en + s_fr + s_de + s_es = 0 THEN 'und'
                     WHEN s_en >= s_fr AND s_en >= s_de AND s_en >= s_es THEN 'en'
                     WHEN s_fr >= s_de AND s_fr >= s_es THEN 'fr'
                     WHEN s_de >= s_es THEN 'de'
                     ELSE 'es' END) = lang AS is_match
        FROM sc"""),
      doc = "language-ID: marker-token heuristic, deterministic tie precedence"),

    // corpus cleaning: stopword removal + re-serialization (the
    // pre-training text-normalization pass)
    "txt_stopword_clean" -> QueryDef(
      build = (s, dir) => {
        import s.implicits._
        Tables.documents(s, dir)
          .withColumn("toks", expr(toksE))
          .withColumn("kept", expr(
            "filter(toks, t -> NOT t IN ('the','a','of','and','to','in','is','it'))"))
          .select($"doc_id",
            size($"toks").as("n_before"),
            size($"kept").as("n_after"),
            md5(array_join($"kept", " ")).as("cleaned_md5"))
      },
      oracle = Some("""
        WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents),
        k AS (SELECT doc_id, toks,
                     list_filter(toks, t -> NOT t IN ('the','a','of','and','to','in','is','it')) AS kept
              FROM t)
        SELECT doc_id, len(toks) AS n_before, len(kept) AS n_after,
               md5(array_to_string(kept, ' ')) AS cleaned_md5
        FROM k"""),
      doc = "corpus cleaning: stopword filter + canonical re-serialization"),

    // BPE-ish regex tokenization: word pieces + standalone non-word
    // chars (the pre-tokenizer shape BPE vocabularies train over)
    "txt_bpe_tokens" -> QueryDef(
      build = (s, dir) => {
        import s.implicits._
        Tables.documents(s, dir)
          .withColumn("pieces", expr(
            "regexp_extract_all(text, '[a-z0-9]+|[^a-z0-9\\\\s]', 0)"))
          .select($"doc_id",
            size($"pieces").as("n_pieces"),
            size(array_distinct($"pieces")).as("n_unique_pieces"),
            // try_: a whitespace-only doc has no pieces and must yield
            // NULL (like DuckDB's pieces[1]), not an ANSI index error
            expr("try_element_at(pieces, 1)").as("first_piece"))
      },
      oracle = Some("""
        WITH t AS (SELECT doc_id, regexp_extract_all(text, '[a-z0-9]+|[^a-z0-9\s]') AS pieces
                   FROM documents)
        SELECT doc_id, len(pieces) AS n_pieces,
               len(list_distinct(pieces)) AS n_unique_pieces,
               pieces[1] AS first_piece
        FROM t"""),
      doc = "BPE-style pre-tokenization via regex extraction"),

    // REAL BPE encoding (round 20): the greedy merge-table encoder
    // ([[graft.ext.Bpe]]) behind the pre-tokenization above — chars →
    // lowest-rank-first pair merges until fixpoint, with a planted
    // well-formed merge table exercising 3-deep cascades and a merge
    // whose operand is another rule's output. The full token stream is
    // md5-gated (order-sensitive reassembly across pre-tokens), so a
    // wrong merge order, a missed cascade, or an overlap slip flips the
    // hash. The oracle unrolls the rank-order replay as 12 nested
    // DuckDB folds over a DISTINCT-piece dictionary (the vocabulary is
    // closed, so encode-once-join-back is exact); BpeSpec proves
    // replay ≡ priority encode over every corpus pre-token, which is
    // what licenses the replay-shaped oracle to gate the priority
    // encoder. Whitespace-only docs yield n_tokens = 0 and NULL md5 on
    // both sides (the DuckDB empty-list array_to_string trap).
    // Scale: one narrow map per doc (no shuffle); token counts here
    // are the drop-in replacement for txt_pack_chunks' whitespace
    // counter (the budget machinery is count-agnostic — swap
    // documented there).
    "txt_bpe_encode" -> QueryDef(
      build = (s, dir) => {
        import s.implicits._
        Tables.documents(s, dir)
          .select($"doc_id", expr(
            "regexp_extract_all(text, '[a-z0-9]+|[^a-z0-9\\\\s]', 0)").as("pieces"))
          .as[(Long, Seq[String])]
          .map { case (id, pieces) =>
            val toks = pieces.iterator.flatMap(p => Bpe.encode(p)).toSeq
            (id, pieces.size, toks.size, toks.mkString(" "))
          }
          .toDF("doc_id", "n_pretokens", "n_tokens", "joined")
          .select($"doc_id", $"n_pretokens", $"n_tokens",
            when($"n_tokens" > 0, md5($"joined")).as("tokens_md5"))
      },
      oracle = Some(s"""
        WITH t AS (SELECT doc_id, regexp_extract_all(text, '[a-z0-9]+|[^a-z0-9\\s]') AS pieces
                   FROM documents),
        w AS (SELECT doc_id, unnest(pieces) AS piece,
                     unnest(generate_series(1, len(pieces))) AS pos
              FROM t),
        vocab AS (SELECT DISTINCT piece FROM w),
        encv AS (SELECT piece, string_split(substr(${Bpe.encodeChainSql}, 2), chr(31)) AS toks
                 FROM vocab),
        enc AS (SELECT w.doc_id, w.pos, e.toks FROM w JOIN encv e USING (piece)),
        agg AS (SELECT doc_id, CAST(sum(len(toks)) AS BIGINT) AS n_tokens,
                       string_agg(array_to_string(toks, ' '), ' ' ORDER BY pos) AS joined
                FROM enc GROUP BY 1)
        SELECT t.doc_id, len(t.pieces) AS n_pretokens,
               coalesce(a.n_tokens, 0) AS n_tokens,
               CASE WHEN coalesce(a.n_tokens, 0) = 0 THEN NULL ELSE md5(a.joined) END AS tokens_md5
        FROM t LEFT JOIN agg a USING (doc_id)"""),
      doc = "REAL greedy merge-table BPE encode (lowest-rank-first, planted well-formed table with 3-deep cascades): full token stream md5-gated against a DuckDB unrolled-replay oracle over the distinct-piece dictionary"),

    // BPE TRAINING, oracle-gated (round 20): the merge table LEARNED
    // from this corpus — nine rounds of the real Sennrich training loop
    // (weighted adjacent-pair counts over the pre-token vocabulary,
    // argmax with lexicographic tie-break, merge, repeat) as an
    // iterative Spark job whose per-round argmax is a 1-row driver
    // collect. The oracle re-derives all nine rounds from scratch
    // (unrolled CTE blocks: count → argmax → column-captured merge
    // fold), so a wrong count weighting, a tie-break slip, or a merge
    // application bug in ANY round flips the hash. Scale: each round is
    // one groupBy over the VOCABULARY (not the corpus — the corpus is
    // touched once to build word counts), which is the property that
    // makes BPE training tractable at 100 TB. Nine rounds is deep
    // enough that the LEARNED table itself contains output-as-operand
    // merges on this corpus (rank 8 = p+ar, rank 9 = m+er), so the
    // well-formedness law BpeSpec asserts is non-vacuous for learned
    // tables too.
    "txt_bpe_train" -> QueryDef(
      build = (s, dir) => {
        import s.implicits._
        // r21: driver-local rounds after the one corpus pass
        // (Bpe.trainMergesLocal — row-identical to the distributed
        // loop, BpeSpec-gated; kills the one-Spark-job-per-round shape)
        Bpe.trainMergesLocal(s, dir, 9).toDF("rank", "a", "b", "pair_count")
      },
      oracle = Some(Bpe.trainOracleSql(9)),
      doc = "corpus-learned BPE merge table: nine real training rounds (frequency-weighted pair counts over the pre-token vocabulary, deterministic argmax, merge, repeat) hash-gated against a from-scratch unrolled DuckDB derivation"),

    // polynomial rolling hash (Rabin-Karp flavor) over the normalized
    // text — exact integer fold, identical in both engines
    "txt_rolling_hash" -> QueryDef(
      build = (s, dir) => {
        import s.implicits._
        Tables.documents(s, dir)
          .withColumn("norm", regexp_replace(lower(trim($"text")), "\\s+", " "))
          .select($"doc_id",
            expr("aggregate(transform(split(norm, ''), c -> ascii(c)), " +
              "0L, (acc, x) -> (acc * 31 + x) % 2147483647)").as("rolling_hash"))
      },
      oracle = Some("""
        WITH t AS (SELECT doc_id, regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS norm
                   FROM documents)
        SELECT doc_id,
               list_reduce(
                 list_prepend(0::BIGINT, list_transform(string_split(norm, ''), c -> ascii(c)::BIGINT)),
                 (acc, x) -> (acc * 31 + x) % 2147483647) AS rolling_hash
        FROM t"""),
      doc = "Rabin-Karp rolling hash: exact integer left-fold fingerprint"),

    // corpus-wide n-gram frequency: top-20 word bigrams (the LM-style
    // corpus statistic; explode → hash-agg → top-k, one shuffle)
    "txt_bigram_freq" -> QueryDef(
      build = (s, dir) => {
        import s.implicits._
        // r22: one-pass shingle_wins(toks, 2) windows instead of the
        // HOF lambda (ShinglesNSpec pins equivalence)
        Tables.documents(s, dir)
          .withColumn("toks", expr(toksE))
          .select(explode(expr("shingle_wins(toks, 2)")).as("w"))
          .select($"w.sh".as("bigram"))
          .groupBy($"bigram")
          .agg(count(lit(1)).as("freq"))
          .orderBy($"freq".desc, $"bigram".asc)
          .limit(20)
      },
      oracle = Some("""
        WITH t AS (SELECT string_split_regex(trim(text), '\s+') AS toks FROM documents),
        b AS (SELECT unnest(list_transform(generate_series(1, len(toks)-1),
                     i -> toks[i] || ' ' || toks[i+1])) AS bigram FROM t)
        SELECT bigram, count(*) AS freq
        FROM b GROUP BY 1
        ORDER BY freq DESC, bigram ASC
        LIMIT 20"""),
      doc = "corpus bigram frequencies: explode + hash-agg + top-20"),

    // document fingerprinting: content hash + min-shingle fingerprint
    "txt_fingerprint" -> QueryDef(
      build = (s, dir) => {
        import s.implicits._
        Tables.documents(s, dir)
          .withColumn("norm", regexp_replace(lower(trim($"text")), "\\s+", " "))
          .withColumn("toks", expr(toksE))
          .select(
            $"doc_id",
            md5($"norm").as("content_md5"),
            expr(s"array_min(${TextExpr.shingleMd5E})").as("min_shingle_md5"))
      },
      oracle = Some("""
        WITH t AS (SELECT doc_id,
                          regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS norm,
                          string_split_regex(trim(text), '\s+') AS toks
                   FROM documents)
        SELECT doc_id,
               md5(norm) AS content_md5,
               list_min(list_transform(generate_series(1, len(toks)-2),
                        i -> md5(toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))) AS min_shingle_md5
        FROM t"""),
      doc = "fingerprinting: normalized-content md5 + min word-3-gram shingle hash"),

    // repetition signals (Gopher-style quality filtering, Rae et al.
    // 2021 §A1.1, adapted token-level for a single-line corpus): the
    // fraction of mass held by the most frequent token and by repeated
    // word-2-grams. High values mark boilerplate/spam for the drop
    // set. Shuffle-free per-doc scan; all three signals ride the ONE
    // O(tokens) token_stats pass — no cross-doc state.
    "txt_repetition" -> QueryDef(
      build = (s, dir) => {
        import s.implicits._
        Tables.documents(s, dir)
          .withColumn("st", tokenStats(s))
          .select(
            $"doc_id",
            $"st.n_tokens".as("n_tokens"),
            round($"st.top_cnt".cast("double") / $"st.n_tokens", 4).as("top_tok_frac"),
            when($"st.n_2grams" > 0,
              round($"st.n_dup2".cast("double") / $"st.n_2grams", 4))
              .otherwise(0.0).as("dup_2gram_frac"))
      },
      oracle = Some("""
        WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS tk FROM documents),
        g AS (SELECT doc_id, tk,
                     CASE WHEN len(tk) >= 2
                          THEN list_transform(generate_series(1, len(tk)-1), i -> tk[i] || ' ' || tk[i+1])
                          ELSE [] END AS g2
              FROM t)
        SELECT doc_id,
               len(tk) AS n_tokens,
               round(CAST(list_max(list_transform(list_distinct(tk),
                       w -> len(list_filter(tk, x -> x = w)))) AS DOUBLE) / len(tk), 4) AS top_tok_frac,
               CASE WHEN len(g2) > 0
                    THEN round(CAST(len(g2) - len(list_distinct(g2)) AS DOUBLE) / len(g2), 4)
                    ELSE 0.0 END AS dup_2gram_frac
        FROM g"""),
      doc = "repetition signals: top-token mass + duplicate word-2-gram fraction (Gopher-style quality gate)"),

    // benchmark decontamination (the 13-gram-overlap practice of the
    // GPT-3/PaLM reports, 8-grams here to fit the 10-99-token corpus):
    // flag every training doc sharing any word-8-gram with the probe
    // set (doc_id % 97 — a stand-in for a held-out benchmark suite).
    // A REAL benchmark suite is fixed-size (MMLU+HellaSwag+... is a
    // few hundred MB of n-grams however big the corpus), which is what
    // justifies the broadcast: the corpus-side scan joins an in-memory
    // hash set, no corpus shuffle. The %97 stand-in is NOT that — it is
    // ~1% of the corpus's distinct 8-grams and grows linearly with it,
    // fine at test SFs but a deployment would size-check the probe
    // (spark.sql.autoBroadcastJoinThreshold semantics) and fall back to
    // a shuffle join past ~8 GB. The corpus invariant doc_id >= 0 makes
    // Spark % ≡ DuckDB %.
    "txt_decontaminate" -> QueryDef(
      build = (s, dir) => {
        import s.implicits._
        // r22: one-pass shingles_n(toks, 8) expression instead of the
        // HOF transform/array_distinct lambda chain (ShinglesNSpec pins
        // equivalence)
        val docs = Tables.documents(s, dir).withColumn("toks", expr(toksE))
        val grams = docs.select($"doc_id", explode(expr("shingles_n(toks, 8)")).as("sh"))
        val probe = grams.filter($"doc_id" % 97 === 0).select($"sh").distinct()
        val hits = grams.filter($"doc_id" % 97 =!= 0)
          .join(broadcast(probe), "sh")
          .groupBy($"doc_id").agg(count(lit(1)).as("n_hits"))
        docs.filter($"doc_id" % 97 =!= 0)
          .join(hits, Seq("doc_id"), "left")
          .select($"doc_id",
            coalesce($"n_hits", lit(0L)).as("n_hits"),
            (coalesce($"n_hits", lit(0L)) > 0).as("contaminated"))
      },
      oracle = Some("""
        WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS tk FROM documents),
        g AS (SELECT doc_id,
                     unnest(list_distinct(list_transform(generate_series(1, len(tk)-7),
                       i -> tk[i]||' '||tk[i+1]||' '||tk[i+2]||' '||tk[i+3]||' '||
                            tk[i+4]||' '||tk[i+5]||' '||tk[i+6]||' '||tk[i+7]))) AS sh
              FROM t WHERE len(tk) >= 8),
        probe AS (SELECT DISTINCT sh FROM g WHERE doc_id % 97 = 0),
        hits AS (SELECT g.doc_id, count(*) AS n_hits
                 FROM g JOIN probe USING (sh)
                 WHERE g.doc_id % 97 <> 0 GROUP BY 1)
        SELECT d.doc_id, coalesce(h.n_hits, 0) AS n_hits,
               coalesce(h.n_hits, 0) > 0 AS contaminated
        FROM documents d LEFT JOIN hits h USING (doc_id)
        WHERE d.doc_id % 97 <> 0"""),
      doc = "benchmark decontamination: word-8-gram overlap vs a broadcast probe set, per-doc hit counts"),

    // the terminal KEEP/DROP gate (Gopher-style rule stack, thresholds
    // fitted to this corpus's signal quantiles so the gate actually
    // discriminates): fixed precedence — too_short, then top-token
    // mass, then duplicate-2-gram mass — and the FIRST failing rule is
    // the recorded reason, mirroring how production filters report
    // drop attribution. Shuffle-free scan.
    "txt_gopher_gate" -> QueryDef(
      build = (s, dir) => {
        import s.implicits._
        Tables.documents(s, dir)
          .withColumn("st", tokenStats(s))
          .withColumn("n_tokens", $"st.n_tokens")
          .withColumn("ttf", $"st.top_cnt".cast("double") / $"n_tokens")
          .withColumn("d2", when($"st.n_2grams" > 0,
            $"st.n_dup2".cast("double") / $"st.n_2grams")
            .otherwise(0.0))
          .select($"doc_id",
            when($"n_tokens" < 20, lit("too_short"))
              .when($"ttf" > 0.125, lit("top_token"))
              .when($"d2" > 0.06, lit("dup_2gram"))
              .otherwise(lit("pass")).as("verdict"),
            ($"n_tokens" >= 20 && $"ttf" <= 0.125 && $"d2" <= 0.06).as("keep"))
      },
      oracle = Some("""
        WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS tk FROM documents),
        m AS (SELECT doc_id, len(tk) AS n,
                     CAST(list_max(list_transform(list_distinct(tk),
                       w -> len(list_filter(tk, x -> x = w)))) AS DOUBLE) / len(tk) AS ttf,
                     CASE WHEN len(tk) >= 2
                          THEN CAST(len(tk) - 1 - len(list_distinct(list_transform(
                                 generate_series(1, len(tk)-1), i -> tk[i] || ' ' || tk[i+1])))
                               AS DOUBLE) / (len(tk) - 1)
                          ELSE 0.0 END AS d2
              FROM t)
        SELECT doc_id,
               CASE WHEN n < 20 THEN 'too_short'
                    WHEN ttf > 0.125 THEN 'top_token'
                    WHEN d2 > 0.06 THEN 'dup_2gram'
                    ELSE 'pass' END AS verdict,
               n >= 20 AND ttf <= 0.125 AND d2 <= 0.06 AS keep
        FROM m"""),
      doc = "Gopher-style keep/drop gate: fixed-precedence rule stack with drop attribution"),

    // corpus-level TF-IDF: the classic two-phase corpus-statistics
    // plan — one shuffle builds the global document-frequency table,
    // which joins back to the per-doc term list (equi-join on term; at
    // 100 TB that is the canonical vocab-partitioned shuffle), and a
    // per-doc window picks the most distinctive term. The idf factor is
    // the LOG-FREE monotone form (N+1)/(df+1): ranking is identical to
    // ln-idf, but the score stays pure rational double arithmetic with
    // one operation order on both engines — ln() ULP differences
    // between engines could flip a tie, a hash-gate hazard with zero
    // ranking benefit. N rides a sanctioned 1-row broadcast (the
    // api_q6_stats pattern, QueriesSpec allowlist).
    "txt_tfidf_top" -> QueryDef(
      build = (s, dir) => {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        val docs = Tables.documents(s, dir)
          .withColumn("toks", expr(toksE))
          .withColumn("n_tokens", size($"toks"))
        // one-pass codegen term-frequency table (r21): replaces the
        // O(types·tokens) CodegenFallback lambda
        //   transform(array_distinct(toks), w ->
        //     struct(w AS term, size(filter(toks, t -> t = w)) AS cnt))
        // — identical elements in identical order (TokenCountsSpec), so
        // the oracle is untouched
        val terms = docs.select($"doc_id", $"n_tokens",
          explode(expr("token_counts(toks)")).as("tc"))
          .select($"doc_id", $"n_tokens", $"tc.term", $"tc.cnt")
        // r21 note: a window-count df (count over the term partition)
        // was measured no better — dfTab is vocabulary-sized and
        // broadcasts, so the join never shuffles the term table. Kept.
        val dfTab = terms.groupBy($"term").agg(count(lit(1)).as("df"))
        val nTab = docs.agg(count(lit(1)).as("n"))
        val w = Window.partitionBy($"doc_id").orderBy($"score".desc, $"term".asc)
        terms.join(dfTab, "term")
          .crossJoin(broadcast(nTab))
          .withColumn("score",
            ($"cnt".cast("double") / $"n_tokens") * (($"n" + 1).cast("double") / ($"df" + 1)))
          .withColumn("rk", row_number().over(w))
          .filter($"rk" === 1)
          .select($"doc_id", $"term".as("top_term"), round($"score", 6).as("tfidf"))
      },
      oracle = Some("""
        WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS tk FROM documents),
        n AS (SELECT count(*) AS n FROM documents),
        terms AS (SELECT doc_id, len(tk) AS ntok, tk,
                         unnest(list_distinct(tk)) AS term
                  FROM t),
        counted AS (SELECT doc_id, ntok, term,
                           len(list_filter(tk, x -> x = term)) AS cnt
                    FROM terms),
        dfv AS (SELECT term, count(*) AS df FROM counted GROUP BY 1),
        scored AS (SELECT c.doc_id, c.term,
                          (CAST(c.cnt AS DOUBLE) / c.ntok) * (CAST(n.n + 1 AS DOUBLE) / (d.df + 1)) AS score
                   FROM counted c JOIN dfv d USING (term) CROSS JOIN n)
        SELECT doc_id, term AS top_term, round(score, 6) AS tfidf
        FROM scored
        QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term ASC) = 1"""),
      doc = "corpus TF-IDF: global df table joined back per doc, top distinctive term per doc (log-free monotone idf for cross-engine determinism)"),

    // bigram-LM fluency scoring (the CCNet/Wenzek et al. 2020 practice:
    // rank documents by language-model perplexity; here the LM is the
    // corpus's own bigram MLE — self-trained, the in-query variant; a
    // deployment scores against a FIXED reference-corpus LM, which
    // broadcasts and makes this scan shuffle-free). Plan shape: one
    // shuffle builds the bigram count table, its regroup yields the
    // prefix counts, and the (w1, w2) join back to per-doc positions is
    // the vocab-partitioned shuffle (the tfidf shape, keyed two-deep).
    // Determinism: P(w2|w1) = c2/c1 rides PURE INTEGER fixed-point —
    // fp = (c2 * 1e9) DIV c1 — so no float exists until the final
    // per-doc render; sums of fp are exact longs (c2 ≤ 9.2e9 before
    // the scale must drop — a 100 TB deployment lifts the sum to
    // DECIMAL(38) or scales at 1e6). Low avg_p / min_p mark disfluent
    // docs (the drop signal); DuckDB `//` floors and Spark DIV
    // truncates, identical on the non-negative operands here.
    "txt_lm_score" -> QueryDef(
      build = (s, dir) => {
        import s.implicits._
        val docs = Tables.documents(s, dir).withColumn("toks", expr(toksE))
        val bb = docs.select($"doc_id", explode(expr("bigrams(toks)")).as("b"))
          .select($"doc_id", $"b.w1", $"b.w2")
        // r21 note: a window-count rewrite (count over (w1,w2)/(w1)
        // partitions) was MEASURED SLOWER here — the c2/c1 aggregates
        // are vocabulary-sized and broadcast back onto bb, so the old
        // shape never shuffles the bigram table at all, while windows
        // force two full shuffles + sorts of it. Kept as-is.
        val c2 = bb.groupBy($"w1", $"w2").agg(count(lit(1)).as("c2"))
        val c1 = c2.groupBy($"w1").agg(sum($"c2").as("c1"))
        val pd = bb.join(c2, Seq("w1", "w2")).join(c1, Seq("w1"))
          .withColumn("fp", expr("(c2 * 1000000000) DIV c1"))
          .groupBy($"doc_id")
          .agg(count(lit(1)).as("n_bigrams"), sum($"fp").as("sfp"),
            min($"fp").as("min_fp"))
        docs.select($"doc_id").join(pd, Seq("doc_id"), "left")
          .select($"doc_id",
            coalesce($"n_bigrams", lit(0L)).as("n_bigrams"),
            round(coalesce($"sfp".cast("double") / ($"n_bigrams" * lit(1e9)), lit(0.0)), 6).as("avg_p"),
            round(coalesce($"min_fp".cast("double") / lit(1e9), lit(0.0)), 6).as("min_p"))
      },
      oracle = Some("""
        WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS tk FROM documents),
        bb AS (SELECT doc_id,
                      unnest(list_transform(generate_series(1, len(tk)-1),
                        i -> {'w1': tk[i], 'w2': tk[i+1]}), recursive := true)
               FROM t WHERE len(tk) >= 2),
        cb AS (SELECT w1, w2, count(*) AS c2 FROM bb GROUP BY 1, 2),
        cp AS (SELECT w1, CAST(sum(c2) AS BIGINT) AS c1 FROM cb GROUP BY 1),
        sc AS (SELECT doc_id, (cb.c2 * 1000000000) // cp.c1 AS fp
               FROM bb JOIN cb USING (w1, w2) JOIN cp USING (w1)),
        pd AS (SELECT doc_id, count(*) AS n_bigrams,
                      CAST(sum(fp) AS BIGINT) AS sfp, min(fp) AS min_fp
               FROM sc GROUP BY 1)
        SELECT d.doc_id,
               coalesce(pd.n_bigrams, 0) AS n_bigrams,
               round(coalesce(CAST(pd.sfp AS DOUBLE) / (pd.n_bigrams * 1000000000.0), 0.0), 6) AS avg_p,
               round(coalesce(CAST(pd.min_fp AS DOUBLE) / 1000000000.0, 0.0), 6) AS min_p
        FROM documents d LEFT JOIN pd USING (doc_id)"""),
      doc = "bigram-LM fluency score (CCNet-style): corpus-MLE conditional probabilities on pure-integer fixed-point, per-doc average and minimum — low scores mark disfluent documents"),

    // DSIR-flavored DATA SELECTION (Xie et al. 2023 "Data Selection
    // for Language Models via Importance Resampling", adapted to this
    // engine's determinism discipline): score every document under TWO
    // bigram LMs — the corpus LM (txt_lm_score's) and a TARGET-domain
    // LM trained on a source slice (source suffix % 5 = 0, the
    // txt_sample_stratified mapping) — and emit the affinity
    // avg_p_target − avg_p_corpus. DSIR proper ranks by a
    // log-likelihood ratio; ln() is a cross-engine ULP hazard with
    // zero ranking benefit here (the paper's hashed-ngram features are
    // ratios too), so the affinity stays in the SAME pure-integer
    // fixed-point as txt_lm_score — fp = (c·1e9) DIV prefix, exact
    // long sums, one double division per doc at render. Unseen-in-
    // target bigrams back off to probability 0 (fp_t = 0) through the
    // left join, exactly representable. Positive affinity = more
    // target-like than corpus-average — the resampling keep signal.
    // Plan: ONE bigram explode feeds both LM builds (the target table
    // is a filtered regroup, not a second scan); the join back is the
    // same vocab-partitioned (w1, w2) shuffle as txt_lm_score.
    "txt_domain_affinity" -> QueryDef(
      build = (s, dir) => {
        import s.implicits._
        val docs = Tables.documents(s, dir).withColumn("toks", expr(toksE))
          .withColumn("is_tgt", expr("CAST(substring(source, 4) AS INT) % 5 = 0"))
        val bb = docs.select($"doc_id", $"is_tgt", explode(expr("bigrams(toks)")).as("b"))
          .select($"doc_id", $"is_tgt", $"b.w1", $"b.w2")
        // r21 note: the window-count rewrite was measured slower here
        // too (see txt_lm_score) — the four LM tables are
        // vocabulary-sized broadcast panels. Kept as-is.
        // r22 (§2.3 aggregate-before-shuffle): corpus AND target bigram
        // counts ride ONE aggregation — t2 = count_if(is_tgt) inside
        // the c2 groupBy, t1 = sum(t2) inside the c1 regroup — where
        // the old shape ran a SECOND full pass over the exploded bigram
        // table (bb.filter(is_tgt) → its own groupBy exchange) plus two
        // extra joins back. Values identical: a bigram absent from the
        // target slice had NULL t2 through the old left join (→ fp_t
        // 0 via coalesce) and has t2 = 0 here (→ fp_t 0 via the guard;
        // the guard also keeps the DIV away from t1 = 0, which ANSI
        // mode would fault on — t2 > 0 implies t1 > 0).
        val cc2 = bb.groupBy($"w1", $"w2").agg(count(lit(1)).as("c2"),
          count(when($"is_tgt", 1)).as("t2"))
        val cc1 = cc2.groupBy($"w1").agg(sum($"c2").as("c1"), sum($"t2").as("t1"))
        val pd = bb.join(cc2, Seq("w1", "w2")).join(cc1, Seq("w1"))
          .withColumn("fp_c", expr("(c2 * 1000000000) DIV c1"))
          .withColumn("fp_t", when($"t2" === 0, lit(0L))
            .otherwise(expr("(t2 * 1000000000) DIV t1")))
          .groupBy($"doc_id")
          .agg(count(lit(1)).as("n_bigrams"),
            sum($"fp_c").as("sc2"), sum($"fp_t").as("st2"))
        docs.select($"doc_id", $"is_tgt").join(pd, Seq("doc_id"), "left")
          .select($"doc_id", $"is_tgt",
            coalesce($"n_bigrams", lit(0L)).as("n_bigrams"),
            round(coalesce($"st2".cast("double") / ($"n_bigrams" * lit(1e9)), lit(0.0)), 6).as("avg_p_target"),
            round(coalesce($"sc2".cast("double") / ($"n_bigrams" * lit(1e9)), lit(0.0)), 6).as("avg_p_corpus"),
            round(coalesce(($"st2" - $"sc2").cast("double") / ($"n_bigrams" * lit(1e9)), lit(0.0)), 6).as("affinity"))
      },
      oracle = Some("""
        WITH t AS (SELECT doc_id, source, string_split_regex(trim(text), '\s+') AS tk FROM documents),
        d AS (SELECT doc_id, CAST(substr(source, 4) AS INT) % 5 = 0 AS is_tgt, tk FROM t),
        bb AS (SELECT doc_id, is_tgt,
                      unnest(list_transform(generate_series(1, len(tk)-1),
                        i -> {'w1': tk[i], 'w2': tk[i+1]}), recursive := true)
               FROM d WHERE len(tk) >= 2),
        cc AS (SELECT w1, w2, count(*) AS c2 FROM bb GROUP BY 1, 2),
        cp AS (SELECT w1, CAST(sum(c2) AS BIGINT) AS c1 FROM cc GROUP BY 1),
        tcc AS (SELECT w1, w2, count(*) AS t2 FROM bb WHERE is_tgt GROUP BY 1, 2),
        tcp AS (SELECT w1, CAST(sum(t2) AS BIGINT) AS t1 FROM tcc GROUP BY 1),
        sc AS (SELECT bb.doc_id,
                      (cc.c2 * 1000000000) // cp.c1 AS fp_c,
                      COALESCE((tcc.t2 * 1000000000) // tcp.t1, 0) AS fp_t
               FROM bb JOIN cc USING (w1, w2) JOIN cp USING (w1)
               LEFT JOIN tcc USING (w1, w2) LEFT JOIN tcp USING (w1)),
        pd AS (SELECT doc_id, count(*) AS n_bigrams,
                      CAST(sum(fp_c) AS BIGINT) AS sc2,
                      CAST(sum(fp_t) AS BIGINT) AS st2
               FROM sc GROUP BY 1)
        SELECT d.doc_id, d.is_tgt,
               coalesce(pd.n_bigrams, 0) AS n_bigrams,
               round(coalesce(CAST(pd.st2 AS DOUBLE) / (pd.n_bigrams * 1000000000.0), 0.0), 6) AS avg_p_target,
               round(coalesce(CAST(pd.sc2 AS DOUBLE) / (pd.n_bigrams * 1000000000.0), 0.0), 6) AS avg_p_corpus,
               round(coalesce(CAST(pd.st2 - pd.sc2 AS DOUBLE) / (pd.n_bigrams * 1000000000.0), 0.0), 6) AS affinity
        FROM d LEFT JOIN pd USING (doc_id)"""),
      doc = "DSIR-flavored domain-affinity data selection: per-doc average probability under a target-slice bigram LM vs the corpus LM, pure-integer fixed-point, positive affinity = target-like (the importance-resampling keep signal)"),

    // cross-document SPAN redundancy (the signal behind exact-substring
    // dedup, Lee et al. 2022 "Deduplicating Training Data Makes
    // Language Models Better": drop verbatim spans already seen
    // elsewhere in the corpus): per doc, the fraction of its distinct
    // word-8-grams whose FIRST corpus occurrence (min doc_id over docs
    // containing the gram — the keep-first convention of dedup_exact /
    // SemDeDup) lies in an EARLIER document. High dup_span_frac marks
    // boilerplate/mirrored text for span-level scrubbing; the full
    // suffix-array pipeline the paper builds is the offline variant of
    // exactly this signal. Plan: one explode + one gram-keyed shuffle
    // (min doc per gram — the txt_decontaminate shape pointed at
    // intra-corpus redundancy) + the join back. Docs under 8 tokens
    // carry zero grams and report 0/0.0 via the left join.
    "txt_span_redundancy" -> QueryDef(
      build = (s, dir) => {
        import s.implicits._
        // r22: one-pass shingles_n(toks, 8) (see txt_decontaminate)
        // r21: min-over-window instead of groupBy+join-back — the old
        // shape shuffled the exploded gram table TWICE (once into the
        // min aggregate, once into the SMJ back-join); the window
        // computes first_doc with ONE exchange of the gram rows. Same
        // values: min over the sh partition ≡ the joined group min.
        import org.apache.spark.sql.expressions.Window
        val grams = Tables.documents(s, dir).withColumn("toks", expr(toksE))
          .select($"doc_id", explode(expr("shingles_n(toks, 8)")).as("sh"))
        val wF = Window.partitionBy($"sh")
        val per = grams.withColumn("first_doc", min($"doc_id").over(wF))
          .groupBy($"doc_id")
          .agg(count(lit(1)).as("n_8grams"),
            sum(when($"first_doc" < $"doc_id", 1L).otherwise(0L)).as("n_dup_spans"))
        Tables.documents(s, dir).select($"doc_id").join(per, Seq("doc_id"), "left")
          .select($"doc_id",
            coalesce($"n_8grams", lit(0L)).as("n_8grams"),
            coalesce($"n_dup_spans", lit(0L)).as("n_dup_spans"),
            round(coalesce($"n_dup_spans".cast("double") / $"n_8grams", lit(0.0)), 6)
              .as("dup_span_frac"))
      },
      oracle = Some("""
        WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS tk FROM documents),
        g AS (SELECT doc_id,
                     unnest(list_distinct(list_transform(generate_series(1, len(tk)-7),
                       i -> tk[i]||' '||tk[i+1]||' '||tk[i+2]||' '||tk[i+3]||' '||
                            tk[i+4]||' '||tk[i+5]||' '||tk[i+6]||' '||tk[i+7]))) AS sh
              FROM t WHERE len(tk) >= 8),
        f AS (SELECT sh, min(doc_id) AS first_doc FROM g GROUP BY 1),
        per AS (SELECT g.doc_id,
                       count(*) AS n_8grams,
                       CAST(sum(CASE WHEN f.first_doc < g.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_spans
                FROM g JOIN f USING (sh) GROUP BY 1)
        SELECT d.doc_id,
               coalesce(per.n_8grams, 0) AS n_8grams,
               coalesce(per.n_dup_spans, 0) AS n_dup_spans,
               round(coalesce(CAST(per.n_dup_spans AS DOUBLE) / per.n_8grams, 0.0), 6) AS dup_span_frac
        FROM documents d LEFT JOIN per USING (doc_id)"""),
      doc = "cross-document span redundancy: fraction of a doc's distinct word-8-grams first seen in an earlier document (keep-first) — the exact-substring-dedup drop signal"),

    // the ACTION on that signal: exact-substring SPAN SCRUBBING (Lee et
    // al. 2022's dedup applied span-level, the txt_pii_scrub discipline
    // of emitting the scrubbed artifact with proof columns): every
    // token covered by ANY word-8-gram window whose first corpus
    // occurrence is an earlier document is removed; the first
    // occurrence keeps its text verbatim (keep-first). NOTE: the scrub
    // is deliberately defined on the ORIGINAL text's windows (the Lee
    // et al. convention) — removal can make previously-distant tokens
    // adjacent, so a re-scrub of scrubbed text is a DIFFERENT (and not
    // generally empty) operation; pipelines run this pass once per
    // corpus snapshot. Position logic rides the
    // ENGINES' index lambdas (Spark `filter(toks, (t, i) -> …)`
    // 0-based ⇄ DuckDB `list_filter(tk, (x, i) -> …)` 1-based — each
    // side's window starts use its own base, so the KEPT TOKEN SET is
    // identical and the reassembled md5 hash-gates the scrub
    // end-to-end). Plan: the span-redundancy shuffle + a per-doc
    // covered-position set (bounded by doc length) + a shuffle-free
    // reassembly scan.
    "txt_span_scrub" -> QueryDef(
      build = (s, dir) => {
        import s.implicits._
        // r22: one-pass shingle_wins(toks, 8) positional windows
        // instead of the HOF lambda (ShinglesNSpec pins equivalence)
        val docs = Tables.documents(s, dir).withColumn("toks", expr(toksE))
        // r21: the span-redundancy window rewrite (one exchange of the
        // window rows instead of groupBy + SMJ back-join); same values
        import org.apache.spark.sql.expressions.Window
        val wins = docs.select($"doc_id", explode(expr("shingle_wins(toks, 8)")).as("w"))
          .select($"doc_id", $"w.j", $"w.sh")
        val wF = Window.partitionBy($"sh")
        val cov = wins.withColumn("first_doc", min($"doc_id").over(wF))
          .filter($"first_doc" < $"doc_id")
          .select($"doc_id", explode(expr("sequence(j, j + 7)")).as("pos"))
          .groupBy($"doc_id").agg(collect_set($"pos").as("cov"))
        docs.join(cov, Seq("doc_id"), "left")
          .withColumn("cov", coalesce($"cov", expr("CAST(array() AS ARRAY<INT>)")))
          .withColumn("kept", expr("filter(toks, (t, i) -> NOT array_contains(cov, i))"))
          .select($"doc_id",
            size($"toks").as("n_before"),
            size($"kept").as("n_after"),
            md5(array_join($"kept", " ")).as("scrub_hash"))
      },
      oracle = Some("""
        WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS tk FROM documents),
        w AS (SELECT doc_id,
                     unnest(list_transform(generate_series(1, len(tk)-7),
                       j -> {'j': j,
                             'sh': tk[j]||' '||tk[j+1]||' '||tk[j+2]||' '||tk[j+3]||' '||
                                   tk[j+4]||' '||tk[j+5]||' '||tk[j+6]||' '||tk[j+7]}),
                       recursive := true)
              FROM t WHERE len(tk) >= 8),
        f AS (SELECT sh, min(doc_id) AS first_doc FROM w GROUP BY 1),
        covp AS (SELECT w.doc_id, unnest(generate_series(w.j, w.j + 7)) AS pos
                 FROM w JOIN f USING (sh) WHERE f.first_doc < w.doc_id),
        cov AS (SELECT doc_id, list_distinct(list(pos)) AS cov FROM covp GROUP BY 1),
        k AS (SELECT t.doc_id, t.tk,
                     list_filter(t.tk, (x, i) -> NOT list_contains(coalesce(c.cov, []), i)) AS kept
              FROM t LEFT JOIN cov c USING (doc_id))
        SELECT doc_id, len(tk) AS n_before, len(kept) AS n_after,
               -- array_to_string([]) is NULL in DuckDB where Spark's
               -- array_join gives '' (a fully-scrubbed doc) — align
               md5(coalesce(array_to_string(kept, ' '), '')) AS scrub_hash
        FROM k"""),
      doc = "exact-substring span scrubbing: tokens covered by any word-8-gram first seen in an earlier doc are removed (keep-first, defined on the original text's windows), scrubbed text hash-gated end-to-end")
  )
}

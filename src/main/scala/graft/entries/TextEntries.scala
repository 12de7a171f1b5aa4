package graft.entries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{AsOf, Dedup, Multimodal,
  RangeJoin, Relational, Similarity, TextOps}
import OracleLib._

/** Text-analysis family: stats, quality, LM scores,
  * retrieval, decontamination.
  *
  * Split out of the monolithic `graft.SparkEntry` (round 11): one module
  * per operator family, each holding the family's `queries` entries and
  * their DuckDB `oracleSql` twins. `SparkEntry` aggregates the modules;
  * `SparkEntrySpec` still guards queries↔oracle key parity on the
  * aggregate. Shared oracle SQL fragments live in [[OracleLib]].
  */
private[graft] object TextEntries {
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // LLM-pipeline: text analysis family
    "q_text_stats" -> (TextOps.textStats _),
    "q_token_count" -> (TextOps.tokenCount _),
    "q_lang_profile" -> (TextOps.langProfile _),
    "q_quality_score" -> (TextOps.qualityScore _),
    "q_stopword_quality" -> (TextOps.stopwordQuality _),
    "q_charclass_quality" -> (TextOps.charClassQuality _),
    "q_repetition" -> (TextOps.repetition _),
    // cumulative quality-filter funnel: one corpus scan, 4-row
    // retention curve over the portable rule cascade
    "q_quality_funnel" -> (TextOps.qualityFunnel _),
    "q_gopher_repetition" -> (TextOps.gopherRepetition _),
    "q_bigram_vocab" -> ((s, d) => TextOps.bigramVocab(s, d)),
    "q_bpe_merges" -> ((s, d) => TextOps.learnBpeMerges(s, d)),
    "q_bpe_tokens" -> ((s, d) => TextOps.bpeTokenize(s, d)),
    // unigram-LM (SentencePiece-style) trainer: hard-EM over Viterbi
    // segmentations of the bounded distinct-word dictionary; golden
    // VALUES oracle (the EM loop is not expressible in SQL), semantics
    // spec-pinned on hand fixtures in UnigramLmSpec
    "q_unigram_vocab" -> ((s, d) =>
      graft.operators.UnigramLm.learnVocab(s, d)),
    "q_pii_redact" -> (TextOps.piiRedact _),
    "q_length_histogram" -> ((s, d) => TextOps.lengthHistogram(s, d)),
    "q_unigram_logprob" -> (TextOps.unigramLogProb _),
    // CCNet-style head/middle/tail split by fixed LM-score cutoffs (a
    // narrow map after scoring — no global-rank sort; see scaladoc)
    "q_perplexity_buckets" -> ((s, d) => TextOps.perplexityBuckets(s, d)),
    // tokens-per-word by language — the tokenizer-equity metric
    "q_token_fertility" -> (TextOps.tokenFertility _),
    // stupid-backoff bigram LM scored against the hash-complement train
    // split — held-out docs exercise the backoff path for real
    "q_bigram_logprob" -> ((s, d) => TextOps.bigramLogProb(s, d)),
    // trigram novelty: fraction of a doc's distinct trigrams with df=1
    "q_novelty" -> ((s, d) => TextOps.ngramNovelty(s, d)),
    // pairwise source JS divergence over the smoothed top-200 vocab
    "q_source_divergence" -> ((s, d) => TextOps.sourceDivergence(s, d)),
    // expression form: corpus side is one codegen'd map (no gram
    // explode/join/agg); spec-pinned identical to the join form
    "q_decontaminate" -> ((s, d) => TextOps.decontaminateFast(s, d)),
    // the over-closure-budget path: bloom pre-filter + exact confirm
    "q_decontaminate_bloom" -> ((s, d) => TextOps.decontaminateBloom(s, d)),
    // inverted-index postings (hot-term pruned, rank-capped)
    // maxDf sized to the synthetic corpus's tiny dense vocabulary (the
    // default 50 would prune nearly every word at sf0.01)
    "q_inverted_index" -> ((s, d) =>
      TextOps.invertedIndex(s, d, maxDf = 5000)),
    "q_lang_id" -> (TextOps.langId _),
    // langID vs declared-label confusion matrix (label-quality audit)
    "q_langid_confusion" -> ((s, d) => TextOps.langIdConfusion(s, d)),
    "q_fingerprints" -> (TextOps.fingerprints _),
    "q_tfidf" -> (TextOps.tfIdf _),
    "q_char_entropy" -> (TextOps.charEntropy _),
    "q_bm25" -> ((s, d) => TextOps.bm25(s, d)),
    // hybrid-retrieval fusion: BM25 ∪ TF-IDF shortlists, 1/(60+rank) sum
    "q_rrf_fusion" -> ((s, d) => TextOps.rrfFusion(s, d)),
    "q_top_terms" -> ((s, d) => TextOps.topTerms(s, d)),
    // fingerprints scanned from the build-once table, not re-winnowed
    // per self-join side (plan is winnow-free, spec-guarded)
    "q_containment" -> ((s, d) => TextOps.containmentPairs(s, d)),
  )

  val oracleSql: Map[String, String] = Map(
    // corpus bigram frequencies (the BPE merge statistic), deterministic
    // top-k via (count DESC, gram) — both engines select the same set
    "q_bigram_vocab" ->
      ("SELECT g AS gram, count(*) AS n FROM (SELECT unnest(" +
        "list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i + 1])) " +
        "AS g FROM (SELECT list_filter(string_split_regex(text, '\\s+'), " +
        "x -> len(x) > 0) AS w FROM documents) WHERE len(w) >= 2) " +
        "GROUP BY g ORDER BY n DESC, g LIMIT 50"),
    // BPE merge learning: the merge loop is iterative (not expressible in
    // SQL) but fully deterministic on a fixed corpus (max-freq pair,
    // lexicographic tie-break) — golden VALUES, the q_simhash_pairs
    // treatment; semantics are additionally spec-pinned on a
    // hand-computed fixture in TextOpsSpec
    "q_bpe_merges" ->
      ("SELECT rank, merge_left, merge_right, pair_freq FROM (VALUES " +
        Seq(
          (0, "e", "r", 4568), (1, "e", "·", 4473), (2, "n", "·", 2834),
          (3, "er", "·", 2779), (4, "o", "w", 2747), (5, "ow", "·", 2747),
          (6, "o", "r", 2696), (7, "s", "t", 2676), (8, "h", "·", 1884),
          (9, "a", "t", 1845), (10, "l", "u", 1831), (11, "i", "n", 1796),
          (12, "a", "·", 1788), (13, "g", "·", 1777), (14, "y", "·", 1767),
          (15, "a", "r", 1758), (16, "p", "ar", 1758), (17, "t", "·", 1750),
          (18, "i", "n·", 964), (19, "j", "o", 964)
        ).map { case (r, l, rt, f) =>
          s"(CAST($r AS BIGINT), '$l', '$rt', CAST($f AS BIGINT))"
        }.mkString(", ") +
        ") AS t(rank, merge_left, merge_right, pair_freq)"),
    // apply half of the BPE pair: corpus token frequencies under the 20
    // learned merges (deterministic encode + tie-broken top-k → golden
    // VALUES; merged tokens e·/er·/ow·/or/st visibly in the vocabulary)
    // final-EM piece use counts at the gate corpus; (n_uses desc,
    // piece asc) ties pinned (i before v at 1809)
    "q_unigram_vocab" ->
      ("SELECT piece, n_uses FROM (VALUES " +
        Seq(
          ("e", 6272), ("t", 6251), ("a", 6247), ("l", 5531), ("g", 4474),
          ("s", 3598), ("m", 2750), ("d", 2732), ("or", 2696), ("r", 2637),
          ("mer", 1852), ("er", 1845), ("u", 1838), ("al", 1825),
          ("o", 1812), ("i", 1809), ("v", 1809), ("ow", 1804),
          ("in", 1796), ("f", 1787)
        ).map { case (p, n) => s"('$p', CAST($n AS BIGINT))" }
          .mkString(", ") +
        ") AS t(piece, n_uses)"),
    "q_bpe_tokens" ->
      ("SELECT token, n FROM (VALUES " +
        Seq(
          ("a", 7259), ("l", 5525), ("s", 5481), ("·", 5366), ("c", 4653),
          ("m", 4602), ("e·", 4473), ("t", 3593), ("er·", 2779),
          ("ow·", 2747), ("o", 2746), ("d", 2732), ("b", 2721), ("r", 2709),
          ("u", 2709), ("g", 2697), ("e", 2696), ("or", 2696), ("st", 2676),
          ("h·", 1884)
        ).map { case (t, n) => s"('$t', CAST($n AS BIGINT))" }
          .mkString(", ") +
        ") AS t(token, n)"),
    // PII scrub: same Java∩RE2 regex constants, same email-first cascade;
    // DuckDB regexp_replace needs the 'g' flag for replace-all
    "q_pii_redact" -> {
      val e = graft.operators.TextOps.EmailRe
      val p = graft.operators.TextOps.PhoneRe
      "SELECT doc_id, " +
        s"regexp_replace(regexp_replace(text, '$e', '<EMAIL>', 'g'), " +
        s"'$p', '<PHONE>', 'g') AS redacted, " +
        s"CAST(len(regexp_extract_all(text, '$e')) AS BIGINT) AS n_emails, " +
        s"CAST(len(regexp_extract_all(regexp_replace(text, '$e', " +
        s"'<EMAIL>', 'g'), '$p')) AS BIGINT) AS n_phones FROM documents"
    },
    // char-class ratios: DuckDB regexp_replace needs the 'g' flag to
    // match Spark's replace-all default
    "q_charclass_quality" ->
      ("SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars, " +
        Seq("punct_ratio" -> "[.,;:!?]", "upper_ratio" -> "[A-Z]",
          "digit_ratio" -> "[0-9]").map { case (name, pat) =>
            "CASE WHEN length(text) = 0 THEN 0.0 ELSE " +
              "round(CAST(length(text) - length(regexp_replace(text, " +
              s"'$pat', '', 'g')) AS DOUBLE) / " +
              s"CAST(length(text) AS DOUBLE), 4) END AS $name"
          }.mkString(", ") +
        " FROM documents"),
    // duplicate-token fraction (Gopher-style repetition rule)
    // funnel oracle: identical cumulative conditions re-derived in
    // DuckDB (same \s+ word split, same stop-hit string arithmetic,
    // same IEEE double repetition ratio), stages via UNION ALL
    "q_quality_funnel" -> {
      val sh = Seq(" the ", " and ", " of ", " a ").map { w =>
        s"(length(concat(' ', text, ' ')) - " +
          s"length(replace(concat(' ', text, ' '), '$w', ''))) // ${w.length}"
      }.mkString("(", " + ", ")")
      val stages = Seq(
        (1, "nonempty", "nw >= 1"),
        (2, "min_30_words", "nw >= 30"),
        (3, "stopword_hits", "nw >= 30 AND sh >= 2"),
        (4, "low_repetition", "nw >= 30 AND sh >= 2 AND " +
          "(1.0 - CAST(nd AS DOUBLE) / CAST(nw AS DOUBLE)) <= 0.3"))
      "WITH t AS (SELECT " +
        "len(list_filter(string_split_regex(text, '\\s+'), " +
        "x -> len(x) > 0)) AS nw, " +
        "len(list_distinct(list_filter(string_split_regex(text, " +
        "'\\s+'), x -> len(x) > 0))) AS nd, " +
        s"$sh AS sh FROM documents), " +
        "f AS (SELECT count(*) AS total, " +
        stages.map { case (i, _, cond) =>
          s"sum(CASE WHEN $cond THEN 1 ELSE 0 END) AS s$i"
        }.mkString(", ") + " FROM t) " +
        stages.map { case (i, name, _) =>
          s"SELECT CAST($i AS BIGINT) AS stage_idx, '$name' AS stage, " +
            s"CAST(s$i AS BIGINT) AS survivors, " +
            s"round(CAST(s$i AS DOUBLE) / CAST(total AS DOUBLE), 4) " +
            "AS yield_ratio FROM f"
        }.mkString(" UNION ALL ")
    },
    "q_repetition" ->
      ("SELECT doc_id, CAST(len(w) AS BIGINT) AS n_words, " +
        "CAST(len(list_distinct(w)) AS BIGINT) AS n_distinct, " +
        "CASE WHEN len(w) = 0 THEN 0.0 ELSE " +
        "round(1.0 - CAST(len(list_distinct(w)) AS DOUBLE) / " +
        "CAST(len(w) AS DOUBLE), 4) END AS rep_ratio FROM " +
        "(SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), " +
        "x -> len(x) > 0) AS w FROM documents) t"),
    // Gopher §A1.1 repetition signals: dup-line fraction + top word/2-gram
    // token share, re-derived with DuckDB list/group algebra (unnest → mode
    // count; only the top COUNT is used, so no tie-break divergence)
    "q_gopher_repetition" ->
      ("WITH w AS (SELECT doc_id, " +
        "list_filter(string_split_regex(text, '\\s+'), x -> len(x) > 0) " +
        "AS w, string_split(text, chr(10)) AS lines FROM documents), " +
        "wc AS (SELECT doc_id, g, count(*) AS c FROM " +
        "(SELECT doc_id, unnest(w) AS g FROM w) GROUP BY doc_id, g), " +
        "wtop AS (SELECT doc_id, round(CAST(max(c) AS DOUBLE) / " +
        "CAST(sum(c) AS DOUBLE), 4) AS twf FROM wc GROUP BY doc_id), " +
        "bc AS (SELECT doc_id, g, count(*) AS c FROM " +
        "(SELECT doc_id, unnest(list_transform(range(1, len(w)), " +
        "i -> w[i] || ' ' || w[i + 1])) AS g FROM w WHERE len(w) >= 2) " +
        "GROUP BY doc_id, g), " +
        "btop AS (SELECT doc_id, round(CAST(max(c) AS DOUBLE) / " +
        "CAST(sum(c) AS DOUBLE), 4) AS tbf FROM bc GROUP BY doc_id) " +
        "SELECT w.doc_id, CASE WHEN len(lines) = 0 THEN 0.0 ELSE " +
        "round(1.0 - CAST(len(list_distinct(lines)) AS DOUBLE) / " +
        "CAST(len(lines) AS DOUBLE), 4) END AS dup_line_frac, " +
        "coalesce(wtop.twf, 0.0) AS top_word_frac, " +
        "coalesce(btop.tbf, 0.0) AS top_bigram_frac " +
        "FROM w LEFT JOIN wtop ON wtop.doc_id = w.doc_id " +
        "LEFT JOIN btop ON btop.doc_id = w.doc_id"),
    "q_text_stats" ->
      ("SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars, " +
        "CAST(strlen(text) AS BIGINT) AS n_bytes, " +
        s"$wordsExpr AS n_words, " +
        "round(CAST(length(regexp_replace(text, '\\s+', '', 'g')) AS DOUBLE) / " +
        s"CAST($wordsExpr AS DOUBLE), 4) AS avg_word_len FROM documents"),
    "q_token_count" ->
      (s"SELECT doc_id, $wordsExpr AS ws_tokens, " +
        "CAST(ceil(CAST(length(text) AS DOUBLE) / 4.0) AS BIGINT) " +
        "AS approx_bpe_tokens FROM documents"),
    "q_lang_profile" ->
      ("SELECT lang, count(*) AS n_docs, round(avg(n_chars), 2) AS avg_chars, " +
        "min(n_chars) AS min_chars, max(n_chars) AS max_chars " +
        "FROM documents GROUP BY lang"),
    "q_quality_score" ->
      ("SELECT doc_id, n_words, " +
        "round(CAST(least(n_words, 200) AS DOUBLE) / 200.0, 4) AS quality, " +
        "CASE WHEN n_words < 30 THEN 'short' WHEN n_words > 150 THEN 'long' " +
        "ELSE 'ok' END AS flag FROM " +
        s"(SELECT doc_id, $wordsExpr AS n_words FROM documents) t"),
    // unigram LM score: same tokenization, ln, and broadcast-total shape
    "q_unigram_logprob" ->
      ("WITH t AS (SELECT doc_id, " +
        "unnest(list_filter(string_split_regex(text, '\\s+'), " +
        "x -> len(x) > 0)) AS word FROM documents), " +
        "c AS (SELECT word, count(*) AS cnt FROM t GROUP BY word), " +
        "tot AS (SELECT CAST(count(*) AS DOUBLE) AS total FROM t) " +
        "SELECT doc_id, count(*) AS n_words, " +
        "round(avg(ln(CAST(cnt AS DOUBLE) / total)), 4) AS avg_logprob " +
        "FROM t JOIN c USING (word) CROSS JOIN tot GROUP BY doc_id"),
    // head/middle/tail by fixed cutoffs over the same unigram LM score;
    // cutoffs sit between round-4 grid points, so assignment is tie-free
    "q_perplexity_buckets" ->
      ("WITH t AS (SELECT doc_id, " +
        "unnest(list_filter(string_split_regex(text, '\\s+'), " +
        "x -> len(x) > 0)) AS word FROM documents), " +
        "c AS (SELECT word, count(*) AS cnt FROM t GROUP BY word), " +
        "tot AS (SELECT CAST(count(*) AS DOUBLE) AS total FROM t), " +
        "sc AS (SELECT doc_id, " +
        "round(avg(ln(CAST(cnt AS DOUBLE) / total)), 4) AS avg_logprob " +
        "FROM t JOIN c USING (word) CROSS JOIN tot GROUP BY doc_id) " +
        "SELECT doc_id, avg_logprob, " +
        "CASE WHEN avg_logprob >= -3.39985 THEN 'head' " +
        "WHEN avg_logprob >= -3.40395 THEN 'middle' " +
        "ELSE 'tail' END AS bucket FROM sc"),
    // stupid-backoff bigram LM: the train split (doc_id % 10 != 0) and
    // both count tables re-derived; DuckDB's zipped unnest of the two
    // shifted list slices is the twin of the Spark array transform
    "q_bigram_logprob" ->
      ("WITH w AS (SELECT doc_id, " +
        "list_filter(string_split_regex(text, '\\s+'), " +
        "x -> len(x) > 0) AS ws FROM documents), " +
        "bg AS (SELECT doc_id, unnest(ws[1:len(ws)-1]) AS prev, " +
        "unnest(ws[2:len(ws)]) AS cur FROM w WHERE len(ws) >= 2), " +
        "tw AS (SELECT unnest(ws) AS word FROM w WHERE doc_id % 10 <> 0), " +
        "cu AS (SELECT word, count(*) AS cu FROM tw GROUP BY word), " +
        "tot AS (SELECT CAST(count(*) AS DOUBLE) AS n_tok, " +
        "CAST(count(DISTINCT word) AS DOUBLE) AS v FROM tw), " +
        "cb AS (SELECT prev, cur, count(*) AS cb FROM bg " +
        "WHERE doc_id % 10 <> 0 GROUP BY prev, cur), " +
        "sc AS (SELECT g.doc_id, CASE WHEN cb.cb IS NOT NULL " +
        "THEN ln(CAST(cb.cb AS DOUBLE) / CAST(cp.cu AS DOUBLE)) " +
        "ELSE ln(0.4 * (CAST(coalesce(cc.cu, 0) AS DOUBLE) + 1.0) / " +
        "(tot.n_tok + tot.v)) END AS s, " +
        "CASE WHEN cb.cb IS NULL THEN 1 ELSE 0 END AS backoff " +
        "FROM bg g LEFT JOIN cb ON cb.prev = g.prev AND cb.cur = g.cur " +
        "LEFT JOIN cu cp ON cp.word = g.prev " +
        "LEFT JOIN cu cc ON cc.word = g.cur CROSS JOIN tot), " +
        "agg AS (SELECT doc_id, count(*) AS n_bigrams, " +
        "CAST(sum(backoff) AS BIGINT) AS n_backoff, " +
        "round(avg(s), 4) AS avg_logprob FROM sc GROUP BY doc_id) " +
        "SELECT d.doc_id, coalesce(a.n_bigrams, 0) AS n_bigrams, " +
        "coalesce(a.n_backoff, 0) AS n_backoff, a.avg_logprob " +
        "FROM documents d LEFT JOIN agg a ON a.doc_id = d.doc_id"),
    // trigram novelty: distinct-within-doc grams, corpus df, df=1 share
    "q_novelty" ->
      ("WITH w AS (SELECT doc_id, " +
        "list_filter(string_split_regex(text, '\\s+'), " +
        "x -> len(x) > 0) AS ws FROM documents), " +
        "g AS (SELECT doc_id, unnest(list_distinct(list_transform(" +
        "range(1, len(ws) - 1), i -> ws[i] || ' ' || ws[i + 1] || ' ' || " +
        "ws[i + 2]))) AS gram FROM w WHERE len(ws) >= 3), " +
        "df AS (SELECT gram, count(*) AS df FROM g GROUP BY gram), " +
        "agg AS (SELECT g.doc_id, count(*) AS n_grams, " +
        "CAST(sum(CASE WHEN df.df = 1 THEN 1 ELSE 0 END) AS BIGINT) " +
        "AS n_unique FROM g JOIN df ON df.gram = g.gram GROUP BY g.doc_id) " +
        "SELECT d.doc_id, d.lang, d.source, " +
        "coalesce(a.n_grams, 0) AS n_grams, " +
        "coalesce(a.n_unique, 0) AS n_unique, " +
        "round(CAST(a.n_unique AS DOUBLE) / CAST(a.n_grams AS DOUBLE), 4) " +
        "AS novelty FROM documents d LEFT JOIN agg a ON a.doc_id = d.doc_id"),
    // JS divergence over the densified, add-0.5-smoothed top-200 vocab
    // grid — same densification, same smoothing, same pair expansion
    "q_source_divergence" ->
      ("WITH c AS (SELECT source, unnest(list_filter(" +
        "string_split_regex(text, '\\s+'), x -> len(x) > 0)) AS word " +
        "FROM documents), " +
        "counts AS (SELECT source, word, count(*) AS n FROM c " +
        "GROUP BY source, word), " +
        "vocab AS (SELECT word FROM (SELECT word, sum(n) AS tot " +
        "FROM counts GROUP BY word) ORDER BY tot DESC, word LIMIT 200), " +
        "srcs AS (SELECT DISTINCT source FROM counts), " +
        "grid AS (SELECT s.source, v.word, " +
        "CAST(coalesce(c2.n, 0) AS DOUBLE) + 0.5 AS c FROM srcs s " +
        "CROSS JOIN vocab v LEFT JOIN counts c2 " +
        "ON c2.source = s.source AND c2.word = v.word), " +
        "probs AS (SELECT source, word, " +
        "c / sum(c) OVER (PARTITION BY source) AS p FROM grid) " +
        "SELECT a.source AS source_a, b.source AS source_b, " +
        "round(sum(a.p * ln(a.p * 2 / (a.p + b.p)) + " +
        "b.p * ln(b.p * 2 / (a.p + b.p))) / 2.0, 6) AS js_divergence " +
        "FROM probs a JOIN probs b ON a.word = b.word " +
        "AND a.source < b.source GROUP BY a.source, b.source"),
    "q_token_fertility" ->
      ("SELECT lang, count(*) AS n_docs, " +
        s"CAST(sum($wordsExpr) AS BIGINT) AS total_words, " +
        "CAST(sum(CAST(ceil(CAST(length(text) AS DOUBLE) / 4.0) AS BIGINT)) " +
        "AS BIGINT) AS total_tokens, " +
        "round(CAST(sum(CAST(ceil(CAST(length(text) AS DOUBLE) / 4.0) " +
        "AS BIGINT)) AS DOUBLE) / " +
        s"CAST(sum($wordsExpr) AS DOUBLE), 4) AS fertility " +
        "FROM documents GROUP BY lang"),
    // decontamination: word 8-gram overlap vs the doc_id<10 stand-in
    // benchmark (same shingle semantics as Dedup.shingleArray at k=8)
    "q_decontaminate" ->
      ("WITH w AS (SELECT doc_id, " +
        "list_filter(string_split_regex(text, '\\s+'), x -> len(x) > 0) " +
        "AS w FROM documents), " +
        "g AS (SELECT doc_id, unnest(list_distinct(" +
        "CASE WHEN len(w) < 8 THEN [array_to_string(w, ' ')] " +
        "ELSE list_transform(range(1, len(w) - 6), i -> " +
        "array_to_string(w[i:i+7], ' ')) END)) AS gram FROM w), " +
        "b AS (SELECT DISTINCT gram FROM g WHERE doc_id < 10) " +
        "SELECT g.doc_id, count(DISTINCT g.gram) AS n_shared_grams " +
        "FROM g JOIN b ON b.gram = g.gram WHERE g.doc_id >= 10 " +
        "GROUP BY g.doc_id"),
    // bloom pre-filter + exact confirm is EXACT by construction → the
    // oracle is the same decontamination SQL
    "q_decontaminate_bloom" ->
      ("WITH w AS (SELECT doc_id, " +
        "list_filter(string_split_regex(text, '\\s+'), x -> len(x) > 0) " +
        "AS w FROM documents), " +
        "g AS (SELECT doc_id, unnest(list_distinct(" +
        "CASE WHEN len(w) < 8 THEN [array_to_string(w, ' ')] " +
        "ELSE list_transform(range(1, len(w) - 6), i -> " +
        "array_to_string(w[i:i+7], ' ')) END)) AS gram FROM w), " +
        "b AS (SELECT DISTINCT gram FROM g WHERE doc_id < 10) " +
        "SELECT g.doc_id, count(DISTINCT g.gram) AS n_shared_grams " +
        "FROM g JOIN b ON b.gram = g.gram WHERE g.doc_id >= 10 " +
        "GROUP BY g.doc_id"),
    // fixed-width length histogram (floor-div binning, no global sort)
    "q_length_histogram" ->
      ("SELECT CAST(floor(length(text) / 50) AS BIGINT) AS bin, " +
        "count(*) AS n_docs, " +
        "CAST(min(length(text)) AS BIGINT) AS min_chars, " +
        "CAST(max(length(text)) AS BIGINT) AS max_chars " +
        "FROM documents GROUP BY 1"),
    // inverted index: tf per (word, doc), df-pruned (<= 50), postings
    // rank-capped (<= 10) by tf DESC with doc_id tiebreak
    "q_inverted_index" ->
      (wordCteWith() + ", t AS (SELECT word, doc_id, count(*) AS tf " +
        "FROM w GROUP BY word, doc_id), " +
        "d AS (SELECT word, count(*) AS df FROM t GROUP BY word " +
        "HAVING count(*) <= 5000) " +
        "SELECT word, df, doc_id, tf, rank FROM (" +
        "SELECT t.word, d.df, t.doc_id, t.tf, row_number() OVER (" +
        "PARTITION BY t.word ORDER BY t.tf DESC, t.doc_id) AS rank " +
        "FROM t JOIN d ON t.word = d.word) r WHERE rank <= 10"),
    "q_stopword_quality" ->
      ("WITH h AS (SELECT doc_id, " +
        Seq(" the ", " and ", " of ", " a ").map { w =>
          s"(length(concat(' ', text, ' ')) - " +
            s"length(replace(concat(' ', text, ' '), '$w', ''))) // ${w.length}"
        }.mkString("(", " + ", ")") +
        " AS stop_hits, " +
        s"$wordsExpr AS n_words " +
        "FROM documents) " +
        "SELECT doc_id, CAST(stop_hits AS BIGINT) AS stop_hits, n_words, " +
        "round(CAST(stop_hits AS DOUBLE) / CAST(n_words AS DOUBLE), 4) AS stop_ratio FROM h"),
    // n-gram language ID: same (score, lang) argmax as TextOps.langId —
    // struct comparison is field-order lexicographic in BOTH engines, and
    // Spark's greatest(...) over structs == DuckDB's list_max of structs
    "q_lang_id" ->
      ("SELECT doc_id, lang AS declared_lang, " +
        "CASE WHEN m.s > 0 THEN m.l ELSE 'und' END AS predicted_lang " +
        "FROM (SELECT doc_id, lang, list_max([" +
        graft.operators.TextOps.langProfiles.map { case (lang, toks) =>
          "{'s': (" + toks.map(t =>
            s"CASE WHEN contains(' ' || lower(text) || ' ', '$t') " +
              "THEN 1 ELSE 0 END").mkString(" + ") + s"), 'l': '$lang'}"
        }.mkString(", ") +
        "]) AS m FROM documents)"),
    // confusion matrix over the same classifier CTE + share-of-declared
    "q_langid_confusion" ->
      ("WITH p AS (SELECT doc_id, lang AS declared_lang, " +
        "CASE WHEN m.s > 0 THEN m.l ELSE 'und' END AS predicted_lang " +
        "FROM (SELECT doc_id, lang, list_max([" +
        graft.operators.TextOps.langProfiles.map { case (lang, toks) =>
          "{'s': (" + toks.map(t =>
            s"CASE WHEN contains(' ' || lower(text) || ' ', '$t') " +
              "THEN 1 ELSE 0 END").mkString(" + ") + s"), 'l': '$lang'}"
        }.mkString(", ") +
        "]) AS m FROM documents)) " +
        "SELECT declared_lang, predicted_lang, " +
        "CAST(count(*) AS BIGINT) AS n, " +
        "round(CAST(count(*) AS DOUBLE) / CAST(sum(count(*)) OVER " +
        "(PARTITION BY declared_lang) AS DOUBLE), 4) AS share " +
        "FROM p GROUP BY declared_lang, predicted_lang"),
    // winnowing fingerprints (Schleimer et al., SIGMOD'03): see fpCte
    "q_fingerprints" ->
      (fpCte + " SELECT doc_id, fp_hash FROM fp"),
    // cross-document containment: the fingerprint pipeline re-derived in
    // DuckDB end-to-end (hash → winnow → hot-gram prune → pair join →
    // shared / min-size score), same >100-df cap and >=0.5 cutoff
    "q_containment" ->
      (fpCte +
        ", hotf AS (SELECT fp_hash FROM fp GROUP BY fp_hash " +
        "HAVING count(*) > 100), " +
        "p AS (SELECT doc_id, fp_hash FROM fp " +
        "WHERE fp_hash NOT IN (SELECT fp_hash FROM hotf)), " +
        "sz AS (SELECT doc_id, count(*) AS n FROM p GROUP BY doc_id), " +
        "sh AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, " +
        "count(*) AS shared FROM p a JOIN p b ON a.fp_hash = b.fp_hash " +
        "AND a.doc_id < b.doc_id GROUP BY 1, 2) " +
        "SELECT sh.doc_a, sh.doc_b, sh.shared, " +
        s"round($containSqlExpr, 4) AS containment " +
        "FROM sh JOIN sz sa ON sh.doc_a = sa.doc_id " +
        "JOIN sz sb ON sh.doc_b = sb.doc_id " +
        s"WHERE round($containSqlExpr, 4) >= 0.5"),
    // TF-IDF: unnest words → tf/df aggregates → smoothed idf; ln over
    // doubles is the same correctly-rounded libm call in both engines
    "q_tfidf" ->
      (wordCte +
        ", tf AS (SELECT doc_id, word, count(*) AS tf FROM w " +
        "GROUP BY doc_id, word), " +
        "df AS (SELECT word, count(*) AS df FROM tf GROUP BY word), " +
        "n AS (SELECT count(*) AS n_docs FROM documents) " +
        "SELECT tf.doc_id, tf.word, tf.tf, df.df, " +
        "round(CAST(tf.tf AS DOUBLE) * (ln(CAST(n.n_docs + 1 AS DOUBLE) / " +
        "CAST(df.df + 1 AS DOUBLE)) + 1.0), 4) AS tfidf " +
        "FROM tf JOIN df ON tf.word = df.word CROSS JOIN n"),
    // Shannon char entropy, same sorted-distinct fold on both engines:
    // list_sort fixes the summation order, so the double arithmetic is
    // the identical IEEE sequence (DuckDB codepoints == JVM UTF-16 units
    // on this ASCII corpus). Spark's split keeps a trailing '' — both
    // sides filter empties; length(text) is the denominator on both.
    "q_char_entropy" -> {
      val p = "(CAST(len(list_filter(string_split(text, ''), " +
        "x -> x = c)) AS DOUBLE) / CAST(length(text) AS DOUBLE))"
      "SELECT doc_id, round(CASE WHEN length(text) = 0 THEN 0.0 ELSE " +
        "0.0 - list_aggregate(list_transform(list_sort(list_distinct(" +
        s"string_split(text, ''))), c -> $p * log2($p)), 'sum') END, 4) " +
        "AS char_entropy FROM documents"
    },
    // Okapi BM25 (k1=1.2, b=0.75) over fixed query terms, re-derived
    // end-to-end: every intermediate (tf, df, dl, avgdl) is an exact
    // integer-valued double, so only the final ≤3-term sum is
    // order-sensitive (round 4 absorbs the ulp)
    "q_bm25" ->
      (wordCteWith() +
        ", dl AS (SELECT doc_id, count(*) AS dl FROM w GROUP BY 1), " +
        "stats AS (SELECT avg(CAST(dl AS DOUBLE)) AS avgdl, " +
        "CAST(count(*) AS DOUBLE) AS n_docs FROM dl), " +
        "tf AS (SELECT doc_id, word, count(*) AS tf FROM w " +
        "WHERE word IN ('join', 'scan', 'filter') GROUP BY 1, 2), " +
        "df AS (SELECT word, CAST(count(*) AS DOUBLE) AS df FROM tf " +
        "GROUP BY 1) " +
        "SELECT tf.doc_id, round(sum(" +
        "ln((n_docs - df + 0.5) / (df + 0.5) + 1.0) * " +
        "CAST(tf AS DOUBLE) * (1.2 + 1.0) / (CAST(tf AS DOUBLE) + " +
        "1.2 * (1.0 - 0.75 + 0.75 * CAST(dl AS DOUBLE) / avgdl))), 4) " +
        "AS bm25 FROM tf JOIN df USING (word) JOIN dl USING (doc_id) " +
        "CROSS JOIN stats GROUP BY tf.doc_id"),
    // RRF fusion: both rankings re-derived in full (the q_bm25 and
    // q_tfidf pipelines as CTEs), rank windows capped at the shortlist,
    // 1/(60+rank) contributions summed across the FULL-joined lists
    "q_rrf_fusion" ->
      (wordCteWith() +
        ", dl AS (SELECT doc_id, count(*) AS dl FROM w GROUP BY 1), " +
        "stats AS (SELECT avg(CAST(dl AS DOUBLE)) AS avgdl, " +
        "CAST(count(*) AS DOUBLE) AS n_docs FROM dl), " +
        "qtf AS (SELECT doc_id, word, count(*) AS tf FROM w " +
        "WHERE word IN ('join', 'scan', 'filter') GROUP BY 1, 2), " +
        "qdf AS (SELECT word, CAST(count(*) AS DOUBLE) AS df FROM qtf " +
        "GROUP BY 1), " +
        "b25 AS (SELECT qtf.doc_id, round(sum(" +
        "ln((n_docs - df + 0.5) / (df + 0.5) + 1.0) * " +
        "CAST(tf AS DOUBLE) * (1.2 + 1.0) / (CAST(tf AS DOUBLE) + " +
        "1.2 * (1.0 - 0.75 + 0.75 * CAST(dl AS DOUBLE) / avgdl))), 4) " +
        "AS bm25 FROM qtf JOIN qdf USING (word) JOIN dl USING (doc_id) " +
        "CROSS JOIN stats GROUP BY qtf.doc_id), " +
        "atf AS (SELECT doc_id, word, count(*) AS tf FROM w GROUP BY 1, 2), " +
        "adf AS (SELECT word, count(*) AS df FROM atf GROUP BY 1), " +
        "n AS (SELECT count(*) AS n_docs FROM documents), " +
        "ti AS (SELECT atf.doc_id, round(CAST(atf.tf AS DOUBLE) * " +
        "(ln(CAST(n.n_docs + 1 AS DOUBLE) / CAST(adf.df + 1 AS DOUBLE)) " +
        "+ 1.0), 4) AS tfidf FROM atf JOIN adf ON atf.word = adf.word " +
        "CROSS JOIN n WHERE atf.word IN ('join', 'scan', 'filter')), " +
        "ts AS (SELECT doc_id, round(sum(tfidf), 4) AS s FROM ti " +
        "GROUP BY doc_id), " +
        "ra AS (SELECT * FROM (SELECT doc_id, row_number() OVER " +
        "(ORDER BY bm25 DESC, doc_id) AS rank_bm25 FROM b25) " +
        "WHERE rank_bm25 <= 20), " +
        "rb AS (SELECT * FROM (SELECT doc_id, row_number() OVER " +
        "(ORDER BY s DESC, doc_id) AS rank_tfidf FROM ts) " +
        "WHERE rank_tfidf <= 20) " +
        "SELECT coalesce(ra.doc_id, rb.doc_id) AS doc_id, ra.rank_bm25, " +
        "rb.rank_tfidf, round(coalesce(1.0 / (60 + ra.rank_bm25), 0) + " +
        "coalesce(1.0 / (60 + rb.rank_tfidf), 0), 6) AS rrf_score " +
        "FROM ra FULL JOIN rb ON ra.doc_id = rb.doc_id"),
    "q_top_terms" ->
      (wordCte +
        ", c AS (SELECT lang, word, count(*) AS n FROM w " +
        "GROUP BY lang, word) " +
        "SELECT lang, word, n, rank FROM " +
        "(SELECT lang, word, n, CAST(row_number() OVER (PARTITION BY lang " +
        "ORDER BY n DESC, word ASC) AS INTEGER) AS rank FROM c) t " +
        "WHERE rank <= 10"),
  )
}

package graft.entries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{AsOf, Dedup, Multimodal,
  RangeJoin, Relational, Similarity, TextOps}
import OracleLib._

/** Corpus-pipeline family: cleaning, splits, sampling,
  * mixtures, CDC/SCD2 table maintenance, packing, cards, gates.
  *
  * Split out of the monolithic `graft.SparkEntry` (round 11): one module
  * per operator family, each holding the family's `queries` entries and
  * their DuckDB `oracleSql` twins. `SparkEntry` aggregates the modules;
  * `SparkEntrySpec` still guards queries↔oracle key parity on the
  * aggregate. Shared oracle SQL fragments live in [[OracleLib]].
  */
private[graft] object PipelineEntries {
  /** q_mixture_plan targets: pre-normalized (4×0.15 + 16×0.025 = 1.0) so
    * the oracle's share literals match the Scala map values exactly. */
  private val mixtureTargets: Map[String, Double] =
    (0 to 3).map(i => s"src$i" -> 0.15).toMap ++
      (4 to 19).map(i => s"src$i" -> 0.025).toMap


  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // LLM-pipeline: the flagship end-to-end cleaning composition
    "q_clean_corpus" -> ((s, d) =>
      graft.operators.Pipeline.cleanCorpus(s, d)),
    "q_train_val_split" -> ((s, d) => graft.operators.Pipeline.trainValSplit(s, d)),
    // leakage-free variant: the split hash keys on the near-dup CLUSTER
    // (build-once CC labels), so no val/test doc has a near-dup in train
    "q_leakfree_split" -> ((s, d) =>
      graft.operators.Pipeline.leakFreeSplit(s, d)),
    // DSIR importance weights: target-vs-raw hashed-n-gram LLR, both
    // models 4096 md5-prefix cells (broadcast-sized by construction)
    "q_dsir_weights" -> ((s, d) => graft.operators.Pipeline.dsirWeights(s, d)),
    // temperature-mixing token-budget planner with epoch cap
    "q_token_budget" -> ((s, d) => graft.operators.Pipeline.tokenBudget(s, d)),
    // rebalance the language mix: halve en, quarter de, keep the tail
    "q_stratified_sample" -> ((s, d) => graft.operators.Pipeline
      .stratifiedSample(s, d, Map("en" -> 0.5, "de" -> 0.25))),
    "q_source_cap" -> ((s, d) =>
      graft.operators.Pipeline.sourceCap(s, d, cap = 20)),
    "q_resample_sources" -> ((s, d) => graft.operators.Pipeline
      .resampleSources(s, d, Map("src0" -> 2.5, "src1" -> 0.25))),
    // mixture planner: curated sources (src0-3) target 15% each of a
    // 30k-token budget with a 2-epoch cap (they get capped), bulk
    // sources share the rest (they undershoot one epoch)
    "q_mixture_plan" -> ((s, d) => graft.operators.Pipeline.mixturePlan(
      s, d, mixtureTargets, budgetTokens = 30000L, maxEpochs = 2.0)),
    // the multi-epoch schedule that plan feeds: temperature annealed
    // 2.0 → 1.0 over 3 epochs (flat early, true mix late)
    "q_mixture_schedule" -> ((s, d) =>
      graft.operators.Pipeline.mixtureSchedule(
        s, d, mixtureTargets, budgetPerEpoch = 30000L)),
    "q_dataset_card" -> ((s, d) =>
      graft.operators.Pipeline.datasetCard(s, d)),
    // snapshot diff: the "new" snapshot is a deterministic derivation of
    // the corpus (drop doc_id%7==0, rewrite text for %11==0, add shifted
    // ids), so both engines rebuild the identical pair of snapshots
    // CDC MERGE: apply a deterministic I/U/D change batch to the
    // snapshot in one broadcast anti-join + union (Delta MERGE shape)
    "q_cdc_merge" -> ((s, d) =>
      graft.operators.Pipeline.cdcMergeDemo(s, d)),
    "q_corpus_diff" -> ((s, d) => {
      val docs = graft.operators.Tables.documents(s, d)
        .select("doc_id", "text")
      val newSnap = docs.filter(col("doc_id") % 7 =!= 0)
        .select(col("doc_id"),
          when(col("doc_id") % 11 === 0, concat(col("text"), lit(" v2")))
            .otherwise(col("text")).as("text"))
        .unionByName(
          docs.filter(col("doc_id") % 13 === 0)
            .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
      graft.operators.Pipeline.corpusDiff(docs, newSnap)
    }),
    // SCD2 history of the same two-snapshot evolution: one narrow
    // full-outer join fans into closed/open version-interval rows
    "q_scd2" -> ((s, d) => graft.operators.Pipeline.scd2Demo(s, d)),
    // fixed-size token windows across doc boundaries (the pretraining
    // concat-and-cut manifest; per-shard cumulative sums, no global)
    "q_token_windows" -> ((s, d) =>
      graft.operators.Pipeline.tokenWindows(s, d)),
    // data-quality expectations gate: named checks with observed
    // values and pass/fail, one corpus pass (stack-unpivoted agg)
    "q_expectations" -> ((s, d) =>
      graft.operators.Pipeline.expectations(s, d)),
    "q_length_trim" -> ((s, d) => graft.operators.Pipeline.lengthTrim(s, d)),
    "q_length_trim_lang" -> ((s, d) =>
      graft.operators.Pipeline.lengthTrimByLang(s, d)),
    "q_clean_audit" -> ((s, d) =>
      graft.operators.Pipeline.cleanCorpusAudit(s, d)),
    "q_source_report" -> ((s, d) => graft.operators.Pipeline.sourceReport(s, d)),
    "q_chunk_docs" -> ((s, d) => graft.operators.Pipeline.chunkDocuments(s, d)),
    "q_pack_sequences" -> ((s, d) => graft.operators.Pipeline.packSequences(s, d)),
    // weighted sampling without replacement (A-ES, deterministic draw)
    "q_weighted_sample" -> ((s, d) =>
      graft.operators.Pipeline.weightedSample(s, d)),
    // deterministic training-order shuffle (shard + in-shard position)
    "q_corpus_shuffle" -> ((s, d) =>
      graft.operators.Pipeline.corpusShuffle(s, d)),
    // Morton-curve key for 2-D data skipping (bit-exact oracle)
    "q_zorder" -> ((s, d) => graft.operators.Zorder.docZValues(s, d)),
    // model-based quality filter: Newton-IRLS logistic distillation;
    // the oracle re-scores with the sf0.01-trained weights pinned as
    // literals (exact-decimal sums make training deterministic)
    "q_quality_classifier" -> ((s, d) =>
      graft.operators.QualityModel.qualityClassifier(s, d)),
  )

  val oracleSql: Map[String, String] = Map(
    // deterministic split: md5 hex agrees byte-for-byte across engines
    "q_train_val_split" ->
      ("SELECT doc_id, lang, bucket, CASE WHEN bucket IN ('0', '1') " +
        "THEN 'val' WHEN bucket = '2' THEN 'test' ELSE 'train' END AS split " +
        "FROM (SELECT doc_id, lang, substr(md5(CAST(doc_id AS VARCHAR) " +
        "|| 'graft-v1'), 1, 1) AS bucket FROM documents) t"),
    // leakage-free split: the q_dedup_clusters RECURSIVE closure derives
    // the cluster key, then the SAME md5 bucket rule as q_train_val_split
    // applies to it (singletons key on their own doc_id)
    "q_leakfree_split" ->
      (shingleCte.replaceFirst("WITH ", "WITH RECURSIVE ") +
        jaccardPairsCte + ", " +
        "edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs " +
        "UNION ALL SELECT doc_b, doc_a FROM pairs), " +
        "walk(v, u) AS (SELECT src, dst FROM edges " +
        "UNION SELECT w.v, e.dst FROM walk w JOIN edges e ON e.src = w.u), " +
        "comp AS (SELECT v AS doc_id, least(v, min(u)) AS cluster_id " +
        "FROM walk GROUP BY v), " +
        "lab AS (SELECT d.doc_id, d.lang, " +
        "coalesce(c.cluster_id, d.doc_id) AS cluster_id " +
        "FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id) " +
        "SELECT doc_id, lang, cluster_id, " +
        "substr(md5(CAST(cluster_id AS VARCHAR) || 'graft-v1'), 1, 1) " +
        "AS bucket, CASE WHEN substr(md5(CAST(cluster_id AS VARCHAR) || " +
        "'graft-v1'), 1, 1) IN ('0', '1') THEN 'val' " +
        "WHEN substr(md5(CAST(cluster_id AS VARCHAR) || 'graft-v1'), 1, 1) " +
        "= '2' THEN 'test' ELSE 'train' END AS split FROM lab"),
    // DSIR weights: identical feature stream (unigrams + bigrams), the
    // same md5-prefix bucket, add-one smoothing over 4096 cells
    "q_dsir_weights" ->
      ("WITH w AS (SELECT doc_id, lang, " +
        "list_filter(string_split_regex(text, '\\s+'), " +
        "x -> len(x) > 0) AS ws FROM documents), " +
        "f0 AS (SELECT doc_id, lang, unnest(list_concat(ws, " +
        "CASE WHEN len(ws) >= 2 THEN list_transform(range(1, len(ws)), " +
        "i -> ws[i] || ' ' || ws[i+1]) ELSE []::VARCHAR[] END)) AS feat " +
        "FROM w), " +
        "f AS (SELECT doc_id, lang, substr(md5(feat), 1, 3) AS b FROM f0), " +
        "tc AS (SELECT b, count(*) AS tc FROM f WHERE lang = 'en' " +
        "GROUP BY b), " +
        "rc AS (SELECT b, count(*) AS rc FROM f GROUP BY b), " +
        "tt AS (SELECT CAST(count(*) AS DOUBLE) AS tn FROM f " +
        "WHERE lang = 'en'), " +
        "rt AS (SELECT CAST(count(*) AS DOUBLE) AS rn FROM f), " +
        "sc AS (SELECT f.doc_id, " +
        "ln(((CAST(coalesce(tc.tc, 0) AS DOUBLE) + 1.0) / (tt.tn + 4096.0)) " +
        "/ ((CAST(rc.rc AS DOUBLE) + 1.0) / (rt.rn + 4096.0))) AS llr " +
        "FROM f LEFT JOIN tc ON tc.b = f.b JOIN rc ON rc.b = f.b " +
        "CROSS JOIN tt CROSS JOIN rt), " +
        "agg AS (SELECT doc_id, count(*) AS n_feats, " +
        "round(sum(llr), 4) AS dsir_weight, round(avg(llr), 4) AS avg_llr " +
        "FROM sc GROUP BY doc_id) " +
        "SELECT d.doc_id, d.lang, coalesce(a.n_feats, 0) AS n_feats, " +
        "a.dsir_weight, a.avg_llr " +
        "FROM documents d LEFT JOIN agg a ON a.doc_id = d.doc_id"),
    // token-budget planner: census, temperature weights, cap, and the
    // single redistribution round re-derived with the same arithmetic
    "q_token_budget" ->
      ("WITH per AS (SELECT source, count(*) AS n_docs, " +
        "CAST(sum(CAST(ceil(CAST(length(text) AS DOUBLE) / 4.0) " +
        "AS BIGINT)) AS BIGINT) AS tokens FROM documents GROUP BY source), " +
        "t1 AS (SELECT sum(pow(CAST(tokens AS DOUBLE), 0.5)) AS psum " +
        "FROM per), " +
        "j AS (SELECT per.source, per.n_docs, per.tokens, " +
        "pow(CAST(per.tokens AS DOUBLE), 0.5) / t1.psum AS p, " +
        "110000.0 * pow(CAST(per.tokens AS DOUBLE), 0.5) / t1.psum " +
        "AS alloc0, 3.0 * CAST(per.tokens AS DOUBLE) AS cap FROM per, t1), " +
        "k AS (SELECT j.*, alloc0 > cap AS capped, " +
        "least(alloc0, cap) AS base FROM j), " +
        "t2 AS (SELECT sum(base) AS bsum, " +
        "sum(CASE WHEN capped THEN 0.0 ELSE p END) AS pun FROM k) " +
        "SELECT k.source, k.n_docs, k.tokens, round(k.p, 6) AS mix_weight, " +
        "k.capped, round(k.base + CASE WHEN k.capped THEN 0.0 " +
        "ELSE (110000.0 - t2.bsum) * k.p / t2.pun END, 2) AS alloc_tokens, " +
        "round((k.base + CASE WHEN k.capped THEN 0.0 " +
        "ELSE (110000.0 - t2.bsum) * k.p / t2.pun END) / " +
        "CAST(k.tokens AS DOUBLE), 4) AS epochs FROM k, t2"),
    // stratified hash sampling: the SAME fixed-width-hex string comparison
    // (lexicographic == numeric for lowercase hex; thresholds are shared
    // constants from Pipeline.hexThreshold, 'g' = keep-all sentinel)
    "q_stratified_sample" ->
      ("SELECT doc_id, text, lang, source, n_chars FROM documents " +
        "WHERE substr(md5(CAST(doc_id AS VARCHAR) || 'graft-sample-v1'), " +
        "1, 4) < CASE " +
        s"WHEN lang = 'en' THEN '${graft.operators.Pipeline.hexThreshold(0.5)}' " +
        s"WHEN lang = 'de' THEN '${graft.operators.Pipeline.hexThreshold(0.25)}' " +
        s"ELSE '${graft.operators.Pipeline.hexThreshold(1.0)}' END"),
    // per-source quota cap: deterministic top-`cap` by (n_chars DESC,
    // doc_id) — the total-order tiebreak makes the kept set unique
    "q_source_cap" ->
      ("SELECT doc_id, source, n_chars, rnk FROM (SELECT doc_id, source, " +
        "n_chars, row_number() OVER (PARTITION BY source " +
        "ORDER BY n_chars DESC, doc_id) AS rnk FROM documents) t " +
        "WHERE rnk <= 20"),
    // mixture planner: same share literals as mixtureTargets (already
    // normalized, Σ=1), same ceil(chars/4) token proxy as q_source_report;
    // every emitted double is rounded so Map-order ulp drift can't leak
    "q_mixture_plan" ->
      // outer CAST: DuckDB sum(BIGINT) widens to HUGEINT -> pandas float64,
      // while Spark emits int64 — the driver's dtype-sensitive hash would
      // mismatch on identical values without it (r8's only red row)
      ("WITH avail AS (SELECT source, CAST(sum(CAST(ceil(length(text) / " +
        "4.0) AS BIGINT)) AS BIGINT) AS avail_tokens " +
        "FROM documents GROUP BY source), " +
        "t AS (SELECT source, avail_tokens, CASE WHEN source IN " +
        "('src0','src1','src2','src3') THEN CAST(0.15 AS DOUBLE) " +
        "ELSE CAST(0.025 AS DOUBLE) END AS share FROM avail) " +
        "SELECT source, avail_tokens, round(share, 6) AS target_share, " +
        "round(share * 30000.0, 2) AS desired_tokens, " +
        "round(least(share * 30000.0 / CAST(avail_tokens AS DOUBLE), " +
        "2.0), 4) AS weight, " +
        "round(least(share * 30000.0, 2.0 * CAST(avail_tokens AS DOUBLE))," +
        " 2) AS planned_tokens, " +
        "(round(share * 30000.0, 2) > " +
        "round(2.0 * CAST(avail_tokens AS DOUBLE), 2)) AS capped " +
        "FROM t"),
    // multi-epoch schedule: the (epoch, source, T, share) spine comes
    // from the SAME driver-side annealedShares call the operator uses
    // (shared-constant pattern, like hexThreshold) — Double.toString is
    // the shortest round-trip repr, so DuckDB parses the identical
    // double; all emitted values round at the operator's precision
    "q_mixture_schedule" -> {
      val spine = graft.operators.Pipeline
        .annealedShares(mixtureTargets, 3, 2.0, 1.0)
        .map { case (e, s, t, sh) =>
          s"($e, '$s', CAST($t AS DOUBLE), CAST($sh AS DOUBLE))" }
        .mkString(", ")
      "WITH avail AS (SELECT source, CAST(sum(CAST(ceil(length(text) / " +
        "4.0) AS BIGINT)) AS BIGINT) AS avail_tokens " +
        "FROM documents GROUP BY source), " +
        s"plan(epoch, source, temperature, share) AS (VALUES $spine) " +
        "SELECT p.epoch, p.source, round(p.temperature, 4) AS temperature, " +
        "round(p.share, 6) AS target_share, " +
        "COALESCE(a.avail_tokens, CAST(0 AS BIGINT)) AS avail_tokens, " +
        "round(p.share * 30000.0, 2) AS planned_tokens, " +
        "CASE WHEN COALESCE(a.avail_tokens, 0) = 0 THEN NULL " +
        "ELSE round(p.share * 30000.0 / CAST(a.avail_tokens AS DOUBLE), 4) " +
        "END AS epochs_of_source " +
        "FROM plan p LEFT JOIN avail a ON a.source = p.source"
    },
    // snapshot diff: rebuild the same derived "new" snapshot, hash-join
    // full-outer on doc_id, classify per row
    // expectations: the same seven checks as scalar aggregates fanned
    // into rows (VALUES in place of stack)
    "q_expectations" ->
      ("WITH a AS (SELECT CAST(count(*) AS DOUBLE) AS n_rows, " +
        "CAST(count(*) AS DOUBLE) - " +
        "CAST(count(DISTINCT doc_id) AS DOUBLE) AS dup_ids, " +
        "avg(CASE WHEN text IS NOT NULL THEN 1.0 ELSE 0.0 END) " +
        "AS text_nonnull, " +
        "avg(CASE WHEN n_chars = length(text) THEN 1.0 ELSE 0.0 END) " +
        "AS len_consistent, " +
        "avg(CASE WHEN n_chars BETWEEN 1 AND 100000 THEN 1.0 " +
        "ELSE 0.0 END) AS len_in_range, " +
        "avg(CASE WHEN lang IS NOT NULL AND length(lang) > 0 " +
        "THEN 1.0 ELSE 0.0 END) AS lang_present, " +
        "avg(CASE WHEN source IS NOT NULL AND length(source) > 0 " +
        "THEN 1.0 ELSE 0.0 END) AS source_present FROM documents) " +
        "SELECT t.check, round(t.observed, 4) AS observed, t.passed " +
        "FROM a, LATERAL (VALUES " +
        "('row_count_positive', a.n_rows, a.n_rows > 0), " +
        "('doc_id_unique', a.dup_ids, a.dup_ids = 0.0), " +
        "('text_nonnull', a.text_nonnull, a.text_nonnull >= 0.99), " +
        "('n_chars_consistent', a.len_consistent, " +
        "a.len_consistent = 1.0), " +
        "('n_chars_in_range', a.len_in_range, a.len_in_range >= 0.999), " +
        "('lang_present', a.lang_present, a.lang_present >= 0.99), " +
        "('source_present', a.source_present, a.source_present >= 0.99)" +
        ") AS t(\"check\", observed, passed)"),
    // token windows: the same per-shard cumulative offsets + covered-
    // window expansion, range() in place of sequence()
    "q_token_windows" ->
      ("WITH t AS (SELECT doc_id, " +
        "substr(md5(CAST(doc_id AS VARCHAR) || 'graft-pack-v1'), 1, 1) " +
        "AS shard, CAST(ceil(length(text) / 4.0) AS BIGINT) AS n_tokens " +
        "FROM documents), " +
        "o AS (SELECT doc_id, shard, n_tokens, " +
        "sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id " +
        "ROWS UNBOUNDED PRECEDING) - n_tokens AS off " +
        "FROM t WHERE n_tokens > 0), " +
        "e AS (SELECT doc_id, shard, n_tokens, off, " +
        "unnest(range(CAST(floor(off / 2048.0) AS BIGINT), " +
        "CAST(floor((off + n_tokens - 1) / 2048.0) AS BIGINT) + 1)) " +
        "AS window_id FROM o) " +
        "SELECT shard, window_id, CAST(count(*) AS BIGINT) AS n_docs, " +
        "CAST(sum(least((window_id + 1) * 2048, off + n_tokens) - " +
        "greatest(window_id * 2048, off)) AS BIGINT) AS n_tokens, " +
        "min(doc_id) AS first_doc, max(doc_id) AS last_doc " +
        "FROM e GROUP BY shard, window_id"),
    // SCD2: the corpus-diff classes fanned into version intervals —
    // unchanged = one open v1 row, changed = closed v1 + open v2,
    // removed = closed v1, added = open v2
    "q_scd2" ->
      ("WITH a AS (SELECT doc_id, md5(text) AS h_old FROM documents), " +
        "nb AS (SELECT doc_id, CASE WHEN doc_id % 11 = 0 " +
        "THEN text || ' v2' ELSE text END AS text FROM documents " +
        "WHERE doc_id % 7 <> 0 " +
        "UNION ALL SELECT doc_id + 1000000, text FROM documents " +
        "WHERE doc_id % 13 = 0), " +
        "b AS (SELECT doc_id, md5(text) AS h_new FROM nb), " +
        "j AS (SELECT coalesce(a.doc_id, b.doc_id) AS doc_id, h_old, " +
        "h_new, a.doc_id IS NOT NULL AS in_old, " +
        "b.doc_id IS NOT NULL AS in_new " +
        "FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id) " +
        "SELECT doc_id, h_old AS text_md5, CAST(1 AS BIGINT) AS " +
        "valid_from, CASE WHEN NOT in_new OR h_old IS DISTINCT FROM " +
        "h_new THEN CAST(2 AS BIGINT) ELSE NULL END AS valid_to, " +
        "NOT (NOT in_new OR h_old IS DISTINCT FROM h_new) AS is_current " +
        "FROM j WHERE in_old " +
        "UNION ALL SELECT doc_id, h_new, CAST(2 AS BIGINT), " +
        "CAST(NULL AS BIGINT), true FROM j " +
        "WHERE in_new AND (NOT in_old OR h_old IS DISTINCT FROM h_new)"),
    // CDC merge: kept = NOT (delete ∪ update) keys; updates and inserts
    // union in; md5 pins content without hauling full texts
    "q_cdc_merge" ->
      ("SELECT doc_id, lang, source, n_chars, md5(text) AS text_md5 " +
        "FROM (" +
        "SELECT doc_id, lang, source, n_chars, text FROM documents " +
        "WHERE doc_id % 11 <> 0 AND doc_id % 7 <> 3 " +
        "UNION ALL " +
        "SELECT doc_id, lang, source, n_chars + 7, text || ' [rev2]' " +
        "FROM documents WHERE doc_id % 11 <> 0 AND doc_id % 7 = 3 " +
        "UNION ALL " +
        "SELECT doc_id + 1000000, lang, source, n_chars, 'ins:' || text " +
        "FROM documents WHERE doc_id % 13 = 5)"),
    "q_corpus_diff" ->
      ("WITH a AS (SELECT doc_id, md5(text) AS h_old FROM documents), " +
        "nb AS (SELECT doc_id, CASE WHEN doc_id % 11 = 0 " +
        "THEN text || ' v2' ELSE text END AS text FROM documents " +
        "WHERE doc_id % 7 <> 0 " +
        "UNION ALL SELECT doc_id + 1000000, text FROM documents " +
        "WHERE doc_id % 13 = 0), " +
        "b AS (SELECT doc_id, md5(text) AS h_new FROM nb) " +
        "SELECT COALESCE(a.doc_id, b.doc_id) AS doc_id, " +
        "CASE WHEN a.doc_id IS NULL THEN 'added' " +
        "WHEN b.doc_id IS NULL THEN 'removed' " +
        // IS DISTINCT FROM = Spark's <=> negation: NULL-text sides read
        // "changed", matching the engine's null-safe compare
        "WHEN h_old IS DISTINCT FROM h_new THEN 'changed' " +
        "ELSE 'unchanged' END AS status " +
        "FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id"),
    // dataset card: one-row global aggregate unpivoted to (metric, value);
    // same token proxy / quality / word-count conventions as the per-doc
    // operators, exact interpolated percentiles (quantile_cont twin)
    "q_dataset_card" ->
      ("WITH s AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs, " +
        "CAST(count(DISTINCT source) AS DOUBLE) AS n_sources, " +
        "CAST(count(DISTINCT lang) AS DOUBLE) AS n_langs, " +
        "CAST(count(DISTINCT md5(text)) AS DOUBLE) AS n_distinct_texts, " +
        "round(1.0 - CAST(count(DISTINCT md5(text)) AS DOUBLE) / " +
        "CAST(count(*) AS DOUBLE), 4) AS dup_ratio, " +
        "CAST(sum(CAST(ceil(length(text) / 4.0) AS BIGINT)) AS DOUBLE) " +
        "AS total_tokens, " +
        "round(CAST(sum(CAST(ceil(length(text) / 4.0) AS BIGINT)) " +
        "AS DOUBLE) / CAST(count(*) AS DOUBLE), 2) AS avg_doc_tokens, " +
        "round(quantile_cont(n_chars, 0.5), 2) AS p50_chars, " +
        "round(quantile_cont(n_chars, 0.9), 2) AS p90_chars, " +
        s"round(CAST(sum(CASE WHEN $wordsExpr < 30 THEN 1 ELSE 0 END) " +
        "AS DOUBLE) / CAST(count(*) AS DOUBLE), 4) AS short_doc_ratio, " +
        s"round(CAST(sum(least($wordsExpr, 200)) AS DOUBLE) / " +
        "(200.0 * CAST(count(*) AS DOUBLE)), 4) " +
        "AS mean_quality FROM documents) " +
        "SELECT 'n_docs' AS metric, n_docs AS value FROM s " +
        "UNION ALL SELECT 'n_sources', n_sources FROM s " +
        "UNION ALL SELECT 'n_langs', n_langs FROM s " +
        "UNION ALL SELECT 'n_distinct_texts', n_distinct_texts FROM s " +
        "UNION ALL SELECT 'dup_ratio', dup_ratio FROM s " +
        "UNION ALL SELECT 'total_tokens', total_tokens FROM s " +
        "UNION ALL SELECT 'avg_doc_tokens', avg_doc_tokens FROM s " +
        "UNION ALL SELECT 'p50_chars', p50_chars FROM s " +
        "UNION ALL SELECT 'p90_chars', p90_chars FROM s " +
        "UNION ALL SELECT 'short_doc_ratio', short_doc_ratio FROM s " +
        "UNION ALL SELECT 'mean_quality', mean_quality FROM s"),
    // source-mixture resampling: whole-part copies + md5-gated fractional
    // copy, thresholds are the shared hexThreshold constants (src0 w=2.5
    // -> 2 + gate<'8000'; src1 w=0.25 -> 0 + gate<'4000'; default w=1.0)
    "q_resample_sources" ->
      ("SELECT doc_id, source, unnest(range(1, c + 1)) AS copy_idx FROM (" +
        "SELECT doc_id, source, (CASE WHEN source = 'src0' THEN 2 " +
        "WHEN source = 'src1' THEN 0 ELSE 1 END) + (CASE WHEN " +
        "substr(md5(CAST(doc_id AS VARCHAR) || 'graft-resample-v1'), 1, 4) " +
        s"< CASE WHEN source = 'src0' THEN '${graft.operators.Pipeline.hexThreshold(0.5)}' " +
        s"WHEN source = 'src1' THEN '${graft.operators.Pipeline.hexThreshold(0.25)}' " +
        s"ELSE '${graft.operators.Pipeline.hexThreshold(0.0)}' END " +
        "THEN 1 ELSE 0 END) AS c FROM documents) t"),
    // the full cleaning composition, re-derived: exact-keep semi ∘
    // near-dup anti (exact all-pairs Jaccard stands in for LSH — recall 1
    // on this corpus, see q_minhash_pairs) ∘ min-words filter ∘ token stats
    "q_clean_corpus" ->
      (shingleCte + jaccardPairsCte +
        ", drops AS (SELECT DISTINCT doc_b AS doc_id FROM pairs), " +
        "ek AS (SELECT min(doc_id) AS doc_id FROM documents " +
        "GROUP BY md5(text)) " +
        "SELECT d.doc_id, d.lang, " +
        s"$wordsExpr AS n_words, " +
        "CAST(ceil(CAST(length(text) AS DOUBLE) / 4.0) AS BIGINT) " +
        "AS approx_bpe_tokens FROM documents d " +
        "WHERE d.doc_id IN (SELECT doc_id FROM ek) " +
        "AND d.doc_id NOT IN (SELECT doc_id FROM drops) " +
        s"AND $wordsExpr >= 30"),
    // drop-audit twin of q_clean_corpus: same CTEs, inverted predicate,
    // first-matching reason precedence (exact → near → short)
    "q_clean_audit" ->
      (shingleCte + jaccardPairsCte +
        ", drops AS (SELECT DISTINCT doc_b AS doc_id FROM pairs), " +
        "ek AS (SELECT min(doc_id) AS doc_id FROM documents " +
        "GROUP BY md5(text)) " +
        "SELECT d.doc_id, " +
        "CASE WHEN d.doc_id NOT IN (SELECT doc_id FROM ek) " +
        "THEN 'exact_dup' " +
        "WHEN d.doc_id IN (SELECT doc_id FROM drops) THEN 'near_dup' " +
        "ELSE 'short' END AS reason FROM documents d " +
        "WHERE d.doc_id NOT IN (SELECT doc_id FROM ek) " +
        "OR d.doc_id IN (SELECT doc_id FROM drops) " +
        s"OR $wordsExpr < 30"),
    // percentile-window outlier trim: quantile_cont interpolation matches
    // Spark's exact percentile (equivalence pinned by q_percentiles)
    "q_length_trim" ->
      ("WITH b AS (SELECT quantile_cont(n_chars, 0.05) AS p_lo, " +
        "quantile_cont(n_chars, 0.95) AS p_hi FROM documents) " +
        "SELECT doc_id, lang, source, n_chars FROM documents, b " +
        "WHERE n_chars >= p_lo AND n_chars <= p_hi"),
    // per-language percentile windows (same quantile_cont interpolation,
    // one row of bounds per language joined back)
    "q_length_trim_lang" ->
      ("WITH b AS (SELECT lang, quantile_cont(n_chars, 0.05) AS p_lo, " +
        "quantile_cont(n_chars, 0.95) AS p_hi FROM documents GROUP BY lang) " +
        "SELECT d.doc_id, d.lang, d.source, d.n_chars " +
        "FROM documents d JOIN b ON d.lang = b.lang " +
        "WHERE d.n_chars >= b.p_lo AND d.n_chars <= b.p_hi"),
    // overlapping 200-char chunks, step 150 (Spark sequence is stop-
    // inclusive; DuckDB range is stop-exclusive, hence the +1)
    "q_chunk_docs" ->
      ("SELECT doc_id, CAST((s - 1) / 150 AS BIGINT) AS chunk_id, " +
        "CAST(s AS BIGINT) AS start_pos, " +
        "substr(text, s, 200) AS chunk_text, " +
        "CAST(length(substr(text, s, 200)) AS BIGINT) AS chunk_chars " +
        "FROM (SELECT doc_id, text, " +
        "unnest(range(1, greatest(length(text) - 50, 1) + 1, 150)) AS s " +
        "FROM documents)"),
    // greedy contiguous packing by prefix token count within a
    // (lang, md5-hex shard) window (ROWS frame is explicit; Spark's
    // default RANGE frame is identical because the order key is unique;
    // the shard hex digit agrees byte-for-byte across engines)
    "q_pack_sequences" ->
      ("SELECT doc_id, lang, shard, " +
        "CAST(ceil(length(text) / 4.0) AS BIGINT) AS n_tokens, " +
        "CAST(floor((sum(CAST(ceil(length(text) / 4.0) AS BIGINT)) " +
        "OVER (PARTITION BY lang, shard ORDER BY doc_id " +
        "ROWS UNBOUNDED PRECEDING) - " +
        "CAST(ceil(length(text) / 4.0) AS BIGINT)) / 2048.0) AS BIGINT) " +
        "AS pack_id FROM (SELECT doc_id, lang, text, " +
        "substr(md5(CAST(doc_id AS VARCHAR) || 'graft-pack-v1'), 1, 1) " +
        "AS shard FROM documents) t"),
    // A-ES weighted sample: key = ln(u)/w, u from the two-round
    // multiplicative hash (exact BIGINT arithmetic mod 1e9+7, products
    // < 2^63 — both engines bit-identical), w = n_chars. Top-100 by key.
    "q_weighted_sample" ->
      ("WITH h1 AS (SELECT doc_id, lang, source, n_chars, " +
        "(doc_id % 1000000007) * 2654435761 % 1000000007 + 1013904223 " +
        "AS a FROM documents), " +
        "h2 AS (SELECT doc_id, lang, source, n_chars, " +
        "(a % 1000000007) * 1597334677 % 1000000007 + 362437 AS b FROM h1), " +
        "k AS (SELECT doc_id, lang, source, n_chars, " +
        "ln(CAST(b % 1000000007 + 1 AS DOUBLE) / 1000000008.0) / " +
        "CAST(n_chars AS DOUBLE) AS raw_key FROM h2) " +
        "SELECT doc_id, lang, source, n_chars, round(raw_key, 6) " +
        "AS sample_key FROM k ORDER BY raw_key DESC, doc_id LIMIT 100"),
    // deterministic corpus shuffle: shard = hash mod 64, pos = rank of
    // the second-round hash within the shard (doc_id tiebreak)
    "q_corpus_shuffle" ->
      ("WITH h1 AS (SELECT doc_id, lang, " +
        "(doc_id % 1000000007) * 2246822519 % 1000000007 + 374761393 " +
        "AS a FROM documents), " +
        "h2 AS (SELECT doc_id, lang, " +
        "(a % 1000000007) * 3266489917 % 1000000007 + 668265263 AS b " +
        "FROM h1), " +
        "o AS (SELECT doc_id, lang, b % 1000000007 AS ord FROM h2) " +
        "SELECT doc_id, lang, CAST(ord % 64 AS INT) AS shard, " +
        "row_number() OVER (PARTITION BY ord % 64 ORDER BY ord, doc_id) " +
        "AS pos FROM o"),
    // Morton curve: bit i of xb -> position 2i, of yb -> 2i+1; plain
    // shift/mask arithmetic both engines evaluate identically
    "q_zorder" ->
      ("SELECT doc_id, xb, yb, " +
        (0 until 8).map(i =>
          s"(((xb >> $i) & 1) << ${2 * i}) + (((yb >> $i) & 1) << ${2 * i + 1})")
          .mkString(" + ") +
        " AS zval FROM (SELECT doc_id, (n_chars // 50) % 256 AS xb, " +
        "doc_id % 256 AS yb FROM documents) t"),
    // quality classifier: sigmoid(w·x) with the sf0.01-trained weights
    // as full-precision literals; feature arithmetic and the z-sum are
    // written in the EXACT evaluation order of QualityModel.features
    // (IEEE association matters — (l*l)*w, not w*l*l), so score and
    // decision agree bit-for-bit modulo the engines' exp()
    "q_quality_classifier" ->
      ("WITH f AS (SELECT doc_id, " +
        "CAST(n_chars AS DOUBLE) / 1000.0 - 0.5 AS l, " +
        Seq(" the ", " and ", " of ", " a ").map { w =>
          s"(length(concat(' ', text, ' ')) - " +
            s"length(replace(concat(' ', text, ' '), '$w', ''))) // ${w.length}"
        }.mkString("(", " + ", ")") + " AS sh, " +
        s"$wordsExpr AS nw FROM documents), " +
        "z AS (SELECT doc_id, " +
        "CASE WHEN nw >= 30 AND nw <= 150 THEN 1 ELSE 0 END AS teacher, " +
        "1.0 * 30.22491366441738 + l * (-5.656690363442728) + " +
        "(l * l) * (-289.40126661116653) + " +
        "(CAST(sh AS DOUBLE) / greatest(CAST(nw AS DOUBLE), 1.0)) * " +
        "19.88549518249624 AS zz FROM f) " +
        "SELECT doc_id, CAST(teacher AS BIGINT) AS teacher, " +
        "round(1.0 / (1.0 + exp(-zz)), 4) AS score, " +
        "CAST(CASE WHEN 1.0 / (1.0 + exp(-zz)) >= 0.5 THEN 1 ELSE 0 END " +
        "AS BIGINT) AS pred FROM z"),
    // per-source provenance mix with exact dup ratio
    "q_source_report" ->
      ("SELECT source, count(*) AS n_docs, " +
        "count(DISTINCT lang) AS n_langs, " +
        "count(DISTINCT md5(text)) AS n_distinct_texts, " +
        "round(avg(length(text)), 2) AS avg_chars, " +
        "CAST(sum(CAST(ceil(length(text) / 4.0) AS BIGINT)) AS BIGINT) " +
        "AS approx_bpe_tokens, " +
        "round(1.0 - CAST(count(DISTINCT md5(text)) AS DOUBLE) / " +
        "CAST(count(*) AS DOUBLE), 4) AS dup_ratio FROM documents " +
        "GROUP BY source"),
  )
}

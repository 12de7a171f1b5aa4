package graft.entries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{AsOf, Dedup, Multimodal,
  RangeJoin, Relational, Similarity, TextOps}
import OracleLib._

/** Similarity family: embeddings, ANN (LSH/IVF/PQ),
  * audits and the k-NN graph analytics.
  *
  * Split out of the monolithic `graft.SparkEntry` (round 11): one module
  * per operator family, each holding the family's `queries` entries and
  * their DuckDB `oracleSql` twins. `SparkEntry` aggregates the modules;
  * `SparkEntrySpec` still guards queries↔oracle key parity on the
  * aggregate. Shared oracle SQL fragments live in [[OracleLib]].
  */
private[graft] object SimilarityEntries {
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // LLM-pipeline: similarity family
    "q_embed_norms" -> (Similarity.norms _),
    "q_quantize_embed" -> (Similarity.quantizeEmbeddings _),
    "q_ann_cosine" -> ((s, d) => Similarity.bruteForceTopK(s, d, queryId = 0L)),
    // recall@k vs the brute-force baseline: deterministic constant (fixed
    // hyperplanes/centroids/corpus) → VALUES-oracle hash compare; the
    // LSH/IVF top-k pipelines run in full as subplans
    "q_ann_lsh" -> ((s, d) => Similarity.annRecall(s, d, "lsh")),
    "q_ann_ivf" -> ((s, d) => Similarity.annRecall(s, d, "ivf")),
    "q_ann_pq" -> ((s, d) => graft.operators.Pq.annRecall(s, d)),
    "q_ann_ivfpq" -> ((s, d) =>
      graft.operators.Pq.annRecall(s, d, method = "ivfpq")),
    // incremental serving: index built on the even-id half, odd-id half
    // APPENDED under the frozen model, probed over base+appended
    "q_ann_ivfpq_append" -> ((s, d) =>
      graft.operators.Pq.annRecallAppend(s, d)),
    // rebuild-trigger monitor over the same grown index: cell histogram
    // summary (deterministic build ⇒ pinned-constant oracle)
    "q_ann_index_health" -> ((s, d) =>
      graft.operators.Pq.annIndexHealth(s, d)),
    // the serving loop the monitor exists for, executed end to end:
    // drifted appends trip the imbalance alarm → fresh-path rebuild →
    // alarm clears, drifted-region recall recovers (deterministic ⇒
    // pinned-constant oracle)
    "q_ann_rebuild" -> ((s, d) =>
      graft.operators.Pq.annRebuildRecovery(s, d)),
    // embedding complement of q_decontaminate: paraphrase-level benchmark
    // leakage via cosine vs the literal eval set (no join, narrow map)
    "q_semantic_decontaminate" -> ((s, d) =>
      Similarity.semanticDecontaminate(s, d)),
    // third leakage modality: winnowed containment of each eval doc in
    // corpus docs (partial quotation/trimmed copies; broadcast eval side)
    "q_eval_containment" -> ((s, d) => TextOps.evalContainment(s, d)),
    // Matryoshka two-stage: 16-dim prefix shortlist → full-vector rerank
    "q_ann_matryoshka" -> ((s, d) =>
      Similarity.matryoshkaTopK(s, d, queryId = 0L)),
    // numPlanes pinned to 8 in every LSH entry below: the SQL oracles
    // hardcode bucketSqlExpr(8) and committed bench artifacts compare
    // across rounds — the API itself now defaults to AutoPlanes
    // (planesFor over the corpus count), the production sizing
    "q_knn_join" -> ((s, d) => Similarity.knnJoin(s, d, numPlanes = 8)),
    // threshold tuned to the synthetic data's cosine range (max ~0.37)
    "q_embed_neardup" -> ((s, d) =>
      Similarity.nearDupPairs(s, d, minCosine = 0.3, numPlanes = 8)),
    // SemDeDup-style semantic clustering + keep over the same pair graph
    // (labels scanned from the build-once assignment table)
    "q_embed_clusters" -> ((s, d) =>
      Similarity.embedClusters(s, d, numPlanes = 8)),
    "q_embed_cluster_keep" -> ((s, d) =>
      Similarity.embedClusterKeep(s, d, numPlanes = 8)),
    "q_label_centroids" -> (Similarity.labelCentroidCosine _),
    // per-label centroid-distance outlier audit (mislabel detector)
    "q_embed_outliers" -> ((s, d) => Similarity.embedOutliers(s, d)),
    // neighborhood majority-vote label audit over the LSH-bucketed k-NN
    "q_knn_classify" -> ((s, d) =>
      Similarity.knnClassify(s, d, numPlanes = 8)),
    // per-dimension feature-health stats (dead/dominant dim audit)
    "q_dim_stats" -> (Similarity.dimStats _),
    // z-score standardization vs corpus dim stats, per-vector summaries
    "q_embed_standardize" -> (Similarity.standardizeEmbeddings _),
    // margin-criterion cross-label mining over the LSH candidate stream
    "q_margin_mine" -> ((s, d) => Similarity.marginMine(s, d, numPlanes = 8)),
    // cluster-balanced diversity sampling (dense buckets capped at
    // ~target kept vectors via the deterministic md5 gate)
    "q_diversity_sample" -> ((s, d) =>
      Similarity.diversitySample(s, d, numPlanes = 8)),
    // dedup-graph QA: degree-oriented triangle counts and fixed-iteration
    // PageRank over the undirected k-NN similarity graph
    // all three graph entries scan the build-once k-NN edge table
    // (the pair pipeline runs once per corpus, not once per query)
    "q_graph_triangles" -> ((s, d) =>
      graft.operators.GraphOps.knnTriangles(s, d)),
    // oracle-compare rounding (4 dp) passed HERE, not defaulted in the
    // operator: rank resolution on big graphs is the API's business,
    // engine-boundary stability is the oracle's
    "q_graph_pagerank" -> ((s, d) =>
      graft.operators.GraphOps.knnPageRank(s, d, roundTo = 4)),
    // seeded affinity: personalized PageRank teleporting to label-0
    // vectors — rank-by-connectivity-to-the-trusted-cohort
    "q_graph_ppr" -> ((s, d) =>
      graft.operators.GraphOps.knnSeededRank(s, d, roundTo = 4)),
  )

  val oracleSql: Map[String, String] = Map(
    // per-label centroid cosine: an indexed-lambda unnest re-derives the
    // posexplode/avg pipeline; final round(4) absorbs summation-order noise
    "q_label_centroids" ->
      ("WITH dims AS (SELECT label, u['i'] - 1 AS dim, avg(u['x']) AS m " +
        "FROM (SELECT label, unnest(list_transform(" +
        "CAST(embedding AS DOUBLE[]), (x, i) -> {'x': x, 'i': i})) AS u " +
        "FROM embeddings) t GROUP BY 1, 2) " +
        "SELECT a.label AS label_a, b.label AS label_b, " +
        "round(sum(a.m * b.m) / (sqrt(sum(a.m * a.m)) * " +
        "sqrt(sum(b.m * b.m))), 4) AS centroid_cosine " +
        "FROM dims a JOIN dims b ON a.dim = b.dim AND a.label < b.label " +
        "GROUP BY a.label, b.label"),
    // outlier audit: centroid, per-vector cosine, and the per-label 5%
    // quantile threshold all re-derived (same dim-keyed join shape)
    "q_embed_outliers" ->
      ("WITH dx AS (SELECT vec_id, label, u['i'] - 1 AS dim, " +
        "CAST(u['x'] AS DOUBLE) AS x " +
        "FROM (SELECT vec_id, label, unnest(list_transform(" +
        "CAST(embedding AS DOUBLE[]), (x, i) -> {'x': x, 'i': i})) AS u " +
        "FROM embeddings) t), " +
        "c AS (SELECT label, dim, avg(x) AS m FROM dx GROUP BY 1, 2), " +
        "sc AS (SELECT dx.vec_id, dx.label, " +
        "round(sum(dx.x * c.m) / (sqrt(sum(dx.x * dx.x)) * " +
        "sqrt(sum(c.m * c.m))), 4) AS cosine " +
        "FROM dx JOIN c ON c.label = dx.label AND c.dim = dx.dim " +
        "GROUP BY dx.vec_id, dx.label), " +
        "b AS (SELECT label, quantile_cont(cosine, 0.05) AS p_lo " +
        "FROM sc GROUP BY label) " +
        "SELECT sc.vec_id, sc.label, sc.cosine, " +
        "sc.cosine < b.p_lo AS is_outlier " +
        "FROM sc JOIN b ON b.label = sc.label"),
    // k-NN majority-vote classification, fully re-derived: identical
    // buckets (bucketSqlExpr) -> identical neighbor sets (the q_knn_join
    // window) -> the same (votes DESC, label ASC) deterministic vote
    "q_knn_classify" ->
      ("WITH b AS (SELECT vec_id, e, " + bucketSqlExpr(8) + " AS bucket " +
        "FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e " +
        "FROM embeddings) t0), " +
        cappedBucketCte +
        "p AS (SELECT a.vec_id AS vec_a, c.vec_id AS vec_b, " +
        cosineSql("a.e", "c.e") + " AS cosine " +
        "FROM bc a JOIN bc c ON a.bucket = c.bucket AND a.vec_id <> c.vec_id), " +
        "n AS (SELECT vec_a, vec_b FROM " +
        "(SELECT vec_a, vec_b, row_number() OVER " +
        "(PARTITION BY vec_a ORDER BY cosine DESC, vec_b ASC) AS rank " +
        "FROM p) t WHERE rank <= 5), " +
        "v AS (SELECT n.vec_a, e2.label AS nbr_label, " +
        "count(*) AS n_votes FROM n JOIN embeddings e2 " +
        "ON e2.vec_id = n.vec_b GROUP BY 1, 2), " +
        "tp AS (SELECT vec_a AS vec_id, nbr_label AS predicted_label, " +
        "n_votes FROM (SELECT *, row_number() OVER (PARTITION BY vec_a " +
        "ORDER BY n_votes DESC, nbr_label ASC) AS rk FROM v) t " +
        "WHERE rk = 1) " +
        "SELECT tp.vec_id, e3.label AS true_label, tp.predicted_label, " +
        "tp.n_votes, tp.predicted_label <> e3.label AS mismatch " +
        "FROM tp JOIN embeddings e3 ON e3.vec_id = tp.vec_id"),
    // zipped parallel unnests re-derive the (dim, value) matrix; both
    // engines compute population stddev in double
    "q_dim_stats" ->
      ("SELECT i - 1 AS dim, round(avg(x), 6) AS d_mean, " +
        "round(stddev_pop(x), 6) AS d_std FROM " +
        "(SELECT unnest(CAST(embedding AS DOUBLE[])) AS x, " +
        "unnest(generate_series(1, len(embedding))) AS i FROM embeddings) " +
        "GROUP BY i - 1"),
    // same per-dim stats, pivoted to 1-based lists and applied per vector
    "q_embed_standardize" ->
      ("WITH flat AS (SELECT unnest(CAST(embedding AS DOUBLE[])) AS x, " +
        "unnest(generate_series(1, len(embedding))) AS i FROM embeddings), " +
        "st AS (SELECT i, avg(x) AS m, stddev_pop(x) AS s FROM flat " +
        "GROUP BY i), " +
        "ms AS (SELECT list(m ORDER BY i) AS means, " +
        "list(s ORDER BY i) AS stds FROM st), " +
        "z AS (SELECT e.vec_id, e.label, " +
        "list_transform(generate_series(1, len(e.embedding)), " +
        "j -> (CAST(e.embedding[j] AS DOUBLE) - ms.means[j]) / ms.stds[j]) " +
        "AS zs FROM embeddings e, ms) " +
        "SELECT vec_id, label, " +
        "round(sqrt(list_sum(list_transform(zs, v -> v * v))), 4) " +
        "AS z_norm, round(list_min(zs), 4) AS z_min, " +
        "round(list_max(zs), 4) AS z_max FROM z"),
    // identical buckets (bucketSqlExpr) -> identical candidate stream;
    // ranks order by the ROUNDED cosine, so the margin arithmetic runs
    // on the same 4dp values in both engines
    "q_margin_mine" ->
      ("WITH b AS (SELECT vec_id, label, e, " + bucketSqlExpr(8) +
        " AS bucket FROM (SELECT vec_id, label, " +
        "CAST(embedding AS DOUBLE[]) AS e FROM embeddings) t0), " +
        cappedBucketCte +
        "c AS (SELECT a.vec_id AS vec_a, bb.vec_id AS vec_b, " +
        cosineSql("a.e", "bb.e") + " AS cos FROM bc a JOIN bc bb " +
        "ON a.bucket = bb.bucket WHERE a.label = 0 AND bb.label = 1), " +
        // margin in exact scaled-integer space (see Similarity.marginMine:
        // floats land on 5e-5 boundaries by construction, integers don't)
        "r AS (SELECT *, CAST(round(cos * 10000) AS BIGINT) AS ic, " +
        "row_number() OVER (PARTITION BY vec_a " +
        "ORDER BY cos DESC, vec_b ASC) AS rank_f, " +
        "row_number() OVER (PARTITION BY vec_b " +
        "ORDER BY cos DESC, vec_a ASC) AS rank_b FROM c), " +
        "ka AS (SELECT vec_a, sum(ic) AS sum_a, count(*) AS n_a FROM r " +
        "WHERE rank_f <= 4 GROUP BY vec_a), " +
        "kb AS (SELECT vec_b, sum(ic) AS sum_b, count(*) AS n_b FROM r " +
        "WHERE rank_b <= 4 GROUP BY vec_b), " +
        "m AS (SELECT r.vec_a, r.vec_b, r.cos, " +
        "2 * n_a * n_b * ic - sum_a * n_b - sum_b * n_a AS num, " +
        "2 * n_a * n_b AS den FROM r " +
        "JOIN ka ON r.vec_a = ka.vec_a JOIN kb ON r.vec_b = kb.vec_b " +
        "WHERE rank_f = 1) " +
        // 4-dp rounding via integer half-away-from-zero: N/D ties at .5
        // exactly when counts are even, where double rounding diverges
        "SELECT vec_a, vec_b, cos AS cosine, " +
        "CAST((CASE WHEN num < 0 THEN -1 ELSE 1 END) * " +
        "((2 * abs(num) + den) // (2 * den)) AS DOUBLE) / 10000.0 " +
        "AS margin, num >= 500 * den AS accepted FROM m"),
    "q_embed_norms" ->
      ("SELECT vec_id, round(sqrt(list_dot_product(" +
        "CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))), 4) " +
        "AS norm, label FROM embeddings"),
    // int8 scalar quantization: same double arithmetic, same floor+clamp
    // (DuckDB unnest-with-index is 1-based, hence the -1)
    "q_quantize_embed" ->
      ("WITH f AS (SELECT vec_id, u.i - 1 AS dim, CAST(u.x AS DOUBLE) AS v " +
        "FROM (SELECT vec_id, unnest(list_transform(embedding, " +
        "(x, i) -> {'x': x, 'i': i})) AS u FROM embeddings)), " +
        "s AS (SELECT dim, min(v) AS d_min, max(v) AS d_max " +
        "FROM f GROUP BY dim) " +
        "SELECT f.vec_id, CAST(f.dim AS BIGINT) AS dim, " +
        "CAST(CASE WHEN s.d_max = s.d_min THEN 0 ELSE " +
        "least(255, floor((f.v - s.d_min) * 255.0 / (s.d_max - s.d_min))) " +
        "END AS BIGINT) AS q FROM f JOIN s ON s.dim = f.dim"),
    "q_ann_cosine" ->
      ("WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings " +
        "WHERE vec_id = 0) " +
        "SELECT e.vec_id, e.label, " +
        "round(list_dot_product(CAST(e.embedding AS DOUBLE[]), q.qv) / " +
        "(sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), " +
        "CAST(e.embedding AS DOUBLE[]))) * " +
        "sqrt(list_dot_product(q.qv, q.qv))), 4) AS cosine " +
        "FROM embeddings e, q WHERE e.vec_id <> 0 " +
        "ORDER BY cosine DESC, e.vec_id ASC LIMIT 10"),
    // semantic decontamination: eval side = vectors below id 10 (the
    // benchmark stand-in, same convention as q_decontaminate); both
    // engines fold doubles in index order, so round(...,4) agrees —
    // the >= filter applies to the ROUNDED value in both, keeping
    // boundary hits engine-stable
    "q_semantic_decontaminate" ->
      ("WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v " +
        "FROM embeddings), " +
        "ev AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS n " +
        "FROM e WHERE vec_id < 10), " +
        "c AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS n " +
        "FROM e WHERE vec_id >= 10) " +
        "SELECT c.vec_id, ev.vec_id AS eval_id, " +
        "round(list_dot_product(c.v, ev.v) / (c.n * ev.n), 4) AS cosine " +
        "FROM c CROSS JOIN ev " +
        "WHERE round(list_dot_product(c.v, ev.v) / (c.n * ev.n), 4) " +
        ">= 0.3"),
    // Matryoshka rerank: prefix slice, shortlist, and full rerank all
    // re-derived; slices are 1-based inclusive in BOTH engines
    "q_ann_matryoshka" ->
      ("WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv, " +
        "CAST(embedding[1:16] AS DOUBLE[]) AS qp FROM embeddings " +
        "WHERE vec_id = 0), " +
        "s1 AS (SELECT e.vec_id, e.label, " +
        "CAST(e.embedding AS DOUBLE[]) AS ev, q.qv AS qv, " +
        "round(list_dot_product(CAST(e.embedding[1:16] AS DOUBLE[]), q.qp) " +
        "/ (sqrt(list_dot_product(CAST(e.embedding[1:16] AS DOUBLE[]), " +
        "CAST(e.embedding[1:16] AS DOUBLE[]))) * " +
        "sqrt(list_dot_product(q.qp, q.qp))), 4) AS pre_cosine " +
        "FROM embeddings e, q WHERE e.vec_id <> 0 " +
        "ORDER BY pre_cosine DESC, e.vec_id ASC LIMIT 50) " +
        "SELECT vec_id, label, pre_cosine, " +
        "round(list_dot_product(ev, qv) / (sqrt(list_dot_product(ev, ev)) " +
        "* sqrt(list_dot_product(qv, qv))), 4) AS cosine " +
        "FROM s1 ORDER BY cosine DESC, vec_id ASC LIMIT 10"),
    // ANN recall constants (deterministic: fixed corpus, hyperplanes,
    // centroids). IVF with nprobe=4/nlist=16 recovers the exact top-10;
    // single-table LSH on this isotropic corpus probes ~31% → recall 0.5.
    "q_ann_lsh" ->
      ("SELECT method, k, n_true, n_hit, recall FROM (VALUES " +
        "('lsh', 10, CAST(10 AS BIGINT), CAST(5 AS BIGINT), " +
        "CAST(0.5 AS DOUBLE))) AS t(method, k, n_true, n_hit, recall)"),
    // recall re-pinned r5: the layout-independent hash-ordered training
    // sample reorders k-means init, and on this isotropic corpus (no
    // neighbor structure) probing nprobe/nlist = 4/16 of the cells lands
    // recall ≈ coverage — 0.5, same regime as the LSH entry above
    "q_ann_ivf" ->
      ("SELECT method, k, n_true, n_hit, recall FROM (VALUES " +
        "('ivf', 10, CAST(10 AS BIGINT), CAST(5 AS BIGINT), " +
        "CAST(0.5 AS DOUBLE))) AS t(method, k, n_true, n_hit, recall)"),
    // PQ-ADC recall: 4-byte codes (m=8, k=16) of 256-byte vectors on an
    // isotropic corpus — the pinned constant is re-derived whenever the
    // deterministic codebook inputs change (same contract as lsh/ivf)
    "q_ann_pq" ->
      ("SELECT method, k, n_true, n_hit, recall FROM (VALUES " +
        "('pq', 10, CAST(10 AS BIGINT), CAST(4 AS BIGINT), " +
        "CAST(0.4 AS DOUBLE))) AS t(method, k, n_true, n_hit, recall)"),
    // composed IVF-PQ two-stage (prune → ADC shortlist → exact re-rank):
    // recall equals the plain-IVF entry above — the pruning stage sets
    // the ceiling and the ADC shortlist + exact re-rank loses NOTHING
    // that survived pruning, which is exactly the two-stage contract
    "q_ann_ivfpq" ->
      ("SELECT method, k, n_true, n_hit, recall FROM (VALUES " +
        "('ivfpq', 10, CAST(10 AS BIGINT), CAST(5 AS BIGINT), " +
        "CAST(0.5 AS DOUBLE))) AS t(method, k, n_true, n_hit, recall)"),
    // grown index (built on the even-id half, odd half appended under
    // the frozen model): deterministic end to end — hash-gated sample
    // of the base half, deterministic Lloyd, exact append (same model
    // ⇒ same cells/codes as a rebuild, spec-pinned in PqSpec) — so the
    // recall over base+appended is a pinned constant like the other ANN
    // entries; lower than q_ann_ivfpq's because the model trained on
    // half the corpus prunes with coarser cells
    "q_ann_ivfpq_append" ->
      ("SELECT method, k, n_true, n_hit, recall FROM (VALUES " +
        "('ivfpq_append', 10, CAST(10 AS BIGINT), CAST(3 AS BIGINT), " +
        "CAST(0.3 AS DOUBLE))) AS t(method, k, n_true, n_hit, recall)"),
    // cell-histogram summary of the same deterministic grown index —
    // every value a pinned constant (hash-gated sample, deterministic
    // Lloyd, exact append)
    "q_ann_index_health" ->
      ("SELECT n_cells, n_empty_cells, n_vectors, max_cell, min_cell, " +
        "imbalance FROM (VALUES (CAST(16 AS BIGINT), CAST(0 AS BIGINT), " +
        "CAST(500 AS BIGINT), CAST(46 AS BIGINT), CAST(18 AS BIGINT), " +
        "CAST(1.472 AS DOUBLE))) AS t(n_cells, n_empty_cells, n_vectors, " +
        "max_cell, min_cell, imbalance)"),
    // drift → alarm → rebuild-and-swap lifecycle: deterministic build
    // (hash-gated samples, deterministic Lloyd, vec_id tie-breaks) ⇒
    // every value a pinned constant; booleans derive from the
    // 4-dp-rounded doubles they summarize
    "q_ann_rebuild" ->
      ("SELECT imbalance_drifted, alarm, imbalance_rebuilt, " +
        "alarm_cleared, recall_stale, recall_rebuilt, recovered " +
        "FROM (VALUES (CAST(8.48 AS DOUBLE), true, " +
        "CAST(1.568 AS DOUBLE), true, CAST(0.2 AS DOUBLE), " +
        "CAST(0.5 AS DOUBLE), true)) AS t(imbalance_drifted, alarm, " +
        "imbalance_rebuilt, alarm_cleared, recall_stale, " +
        "recall_rebuilt, recovered)"),
    // eval containment: winnowed fingerprints of eval docs (id < 10) vs
    // the corpus — shared / |fp(eval)| at the 0.2 default cutoff
    "q_eval_containment" ->
      (fpCte +
        ", ev AS (SELECT doc_id AS eval_id, fp_hash FROM fp " +
        "WHERE doc_id < 10), " +
        "evs AS (SELECT eval_id, count(*) AS n_eval FROM ev GROUP BY 1), " +
        "hits AS (SELECT fp.doc_id, ev.eval_id, count(*) AS shared " +
        "FROM fp JOIN ev ON fp.fp_hash = ev.fp_hash " +
        "WHERE fp.doc_id >= 10 GROUP BY 1, 2) " +
        "SELECT doc_id, eval_id, shared, " +
        "round(CAST(shared AS DOUBLE) / CAST(n_eval AS DOUBLE), 4) " +
        "AS containment FROM hits JOIN evs USING (eval_id) " +
        "WHERE round(CAST(shared AS DOUBLE) / CAST(n_eval AS DOUBLE), 4) " +
        ">= 0.2"),
    // LSH-bucketed k-NN join, fully re-derived in DuckDB: identical
    // hyperplane constants → identical buckets (see bucketSqlExpr), then
    // the same per-vector top-5 window over in-bucket cosine
    "q_knn_join" ->
      ("WITH b AS (SELECT vec_id, e, " + bucketSqlExpr(8) + " AS bucket " +
        "FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e " +
        "FROM embeddings) t0), " +
        cappedBucketCte +
        "p AS (SELECT a.vec_id AS vec_a, c.vec_id AS vec_b, " +
        cosineSql("a.e", "c.e") + " AS cosine " +
        "FROM bc a JOIN bc c ON a.bucket = c.bucket AND a.vec_id <> c.vec_id) " +
        "SELECT vec_a, vec_b, cosine, rank FROM " +
        "(SELECT vec_a, vec_b, cosine, CAST(row_number() OVER " +
        "(PARTITION BY vec_a ORDER BY cosine DESC, vec_b ASC) AS INTEGER) " +
        "AS rank FROM p) t WHERE rank <= 5"),
    // diversity sampling: buckets + sizes re-derived, the same numeric
    // md5 gate (first 8 hex chars as a uniform [0, 2^32) draw) under
    // the per-bucket rate — strict-< on identical IEEE doubles
    "q_diversity_sample" ->
      ("WITH b AS (SELECT vec_id, label, e, " + bucketSqlExpr(8) +
        " AS bucket FROM (SELECT vec_id, label, " +
        "CAST(embedding AS DOUBLE[]) AS e FROM embeddings) t0), " +
        "s AS (SELECT bucket, count(*) AS bucket_n FROM b GROUP BY 1) " +
        "SELECT b.vec_id, b.label, b.bucket, s.bucket_n " +
        "FROM b JOIN s ON s.bucket = b.bucket " +
        "WHERE CAST(CAST('0x' || substr(md5(CAST(b.vec_id AS VARCHAR) || " +
        "'graft-diversity-v1'), 1, 8) AS BIGINT) AS DOUBLE) < " +
        "least(CAST(1.0 AS DOUBLE), CAST(8.0 AS DOUBLE) / " +
        "CAST(s.bucket_n AS DOUBLE)) * CAST(4294967296.0 AS DOUBLE)"),
    // dedup-graph QA over the SAME re-derived k-NN graph, undirected:
    // exact triangle closure (edges src<dst; triangle a<b<c counted once
    // as (a,b)+(b,c)+(a,c)) and unrolled fixed-iteration PageRank
    "q_graph_triangles" ->
      (knnEdgeCte +
        ", deg AS (SELECT node, count(*) AS deg FROM " +
        "(SELECT src AS node FROM e UNION ALL SELECT dst FROM e) t " +
        "GROUP BY 1), " +
        "tri AS (SELECT e1.src AS a, e1.dst AS b, e2.dst AS c " +
        "FROM e e1 JOIN e e2 ON e2.src = e1.dst " +
        "JOIN e e3 ON e3.src = e1.src AND e3.dst = e2.dst), " +
        "pn AS (SELECT node, count(*) AS n_tri FROM " +
        "(SELECT a AS node FROM tri UNION ALL SELECT b FROM tri " +
        "UNION ALL SELECT c FROM tri) t GROUP BY 1) " +
        "SELECT d.node, d.deg, CAST(COALESCE(pn.n_tri, 0) AS BIGINT) " +
        "AS n_tri FROM deg d LEFT JOIN pn ON pn.node = d.node"),
    "q_graph_pagerank" -> pageRankOracleSql(10),
    "q_graph_ppr" -> pprOracleSql(10, 0),
    // embedding near-dup pairs: same bucket re-derivation, threshold filter
    "q_embed_neardup" ->
      ("WITH b AS (SELECT vec_id, e, " + bucketSqlExpr(8) + " AS bucket " +
        "FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e " +
        "FROM embeddings) t0), " +
        cappedBucketCte.stripSuffix(", ") + " " +
        "SELECT a.vec_id AS vec_a, c.vec_id AS vec_b, " +
        cosineSql("a.e", "c.e") + " AS cosine " +
        "FROM bc a JOIN bc c ON a.bucket = c.bucket AND a.vec_id < c.vec_id " +
        "WHERE " + cosineSql("a.e", "c.e") + " >= 0.3"),
    // SemDeDup clusters: RECURSIVE transitive closure over the exact same
    // bucketed cosine pair graph (cluster_id = min reachable vec_id),
    // mirroring the q_dedup_clusters oracle pattern
    "q_embed_clusters" ->
      ("WITH RECURSIVE b AS (SELECT vec_id, e, " + bucketSqlExpr(8) +
        " AS bucket FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e " +
        "FROM embeddings) t0), " +
        cappedBucketCte +
        "pairs AS (SELECT a.vec_id AS vec_a, c.vec_id AS vec_b " +
        "FROM bc a JOIN bc c ON a.bucket = c.bucket AND a.vec_id < c.vec_id " +
        "WHERE " + cosineSql("a.e", "c.e") + " >= 0.3), " +
        "edges AS (SELECT vec_a AS src, vec_b AS dst FROM pairs " +
        "UNION ALL SELECT vec_b, vec_a FROM pairs), " +
        "walk(v, u) AS (SELECT src, dst FROM edges " +
        "UNION SELECT w.v, e2.dst FROM walk w JOIN edges e2 " +
        "ON e2.src = w.u), " +
        "comp AS (SELECT v AS vec_id, least(v, min(u)) AS cluster_id " +
        "FROM walk GROUP BY v) " +
        "SELECT vec_id, cluster_id, " +
        "count(*) OVER (PARTITION BY cluster_id) AS cluster_n FROM comp"),
    // keep-filter twin: embeddings minus non-canonical cluster members
    "q_embed_cluster_keep" ->
      ("WITH RECURSIVE b AS (SELECT vec_id, e, " + bucketSqlExpr(8) +
        " AS bucket FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e " +
        "FROM embeddings) t0), " +
        cappedBucketCte +
        "pairs AS (SELECT a.vec_id AS vec_a, c.vec_id AS vec_b " +
        "FROM bc a JOIN bc c ON a.bucket = c.bucket AND a.vec_id < c.vec_id " +
        "WHERE " + cosineSql("a.e", "c.e") + " >= 0.3), " +
        "edges AS (SELECT vec_a AS src, vec_b AS dst FROM pairs " +
        "UNION ALL SELECT vec_b, vec_a FROM pairs), " +
        "walk(v, u) AS (SELECT src, dst FROM edges " +
        "UNION SELECT w.v, e2.dst FROM walk w JOIN edges e2 " +
        "ON e2.src = w.u), " +
        "comp AS (SELECT v AS vec_id, least(v, min(u)) AS cluster_id " +
        "FROM walk GROUP BY v) " +
        "SELECT emb.vec_id, emb.label FROM embeddings emb " +
        "WHERE NOT EXISTS (SELECT 1 FROM comp c " +
        "WHERE c.vec_id = emb.vec_id AND c.cluster_id <> emb.vec_id)"),
  )
}

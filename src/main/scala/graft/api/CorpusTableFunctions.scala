package graft.api

import graft.operators.{AsOf, Dedup, GraphOps, Multimodal, Pipeline, Pq,
  Privacy, QualityModel, Relational, Similarity, SketchOps, TextOps,
  UnigramLm, Zorder}

/** SQL TVFs for the LLM-pipeline surface, parameterized by corpus
  * directory: the SQL user names the corpus at the call site and
  * composes results like any table:
  * {{{
  *   SELECT lang, count(*) FROM corpus_clean('/data/crawl1') GROUP BY lang;
  *   SELECT a.doc_id FROM corpus_neardup_pairs('/data/crawl1', 0.8) a;
  *   SELECT * FROM corpus_ann_probe('/data/crawl1', 42, k => 5);
  * }}}
  *
  * Each function is one [[Binder.Tvf]] row. Arguments bind at analysis
  * time (literals only, like the source TVFs); the returned plan is the
  * operator's own DataFrame plan, so Catalyst sees through the TVF —
  * filters on the outer query push into the underlying parquet scans
  * exactly as with the Scala factories. A TVF over a build-once operator
  * (`corpus_clean`, `corpus_neardup_pairs`, `corpus_dedup_clusters`,
  * `corpus_pagerank`, `corpus_ann_probe`, `corpus_image_neardup`, …)
  * builds its artifact AT analysis — the same [[graft.operators.Artifacts]]
  * entry the Scala API serves, so a repeated call reuses it — and
  * `corpus_quality_model` trains its weights there. */
object CorpusTableFunctions {

  import Binder._

  private val threshold = dbl("threshold", 0.5)
  private val unitThreshold = threshold.above(0).atMost(1)
  /** A k-minimum-values sketch size: its estimate (k-1)/h_k needs k >= 2. */
  private val kmvK = int("k", 65536).atLeast(2)
  private val sketchK = int("k", 65536).atLeast(1)
  private val gramK = int("k", 8).atLeast(2)
  private val minDocs = int("min_docs", 2).atLeast(2)
  private val evalMaxId = int("eval_max_id", 10)
  private val merges = int("n", 20).atLeast(1)
  private val vocabSize = int("vocab_size", 40).atLeast(1)
  private val mixture = Seq(strs("sources"), dbls("shares"), int("budget"))

  /** `sources`/`shares` as one target map: equal length, and no repeated
    * source (`zip(...).toMap` would silently keep its LAST share). */
  private def targets(a: Args): Map[String, Double] = {
    val (sources, shares) = (a.strs("sources"), a.dbls("shares"))
    a.check(sources.length == shares.length, "'sources' and 'shares' " +
      s"must have equal length (got ${sources.length} vs ${shares.length}).")
    a.check(sources.distinct.length == sources.length, "'sources' " +
      s"contains duplicates (${sources.diff(sources.distinct).distinct.mkString(", ")}).")
    sources.zip(shares).toMap
  }

  /** The corpus TVF rows; sessions get them through
    * [[graft.functions.GraftExtensions]]. */
  private[graft] lazy val rows: Seq[Tvf] = Seq(
    Tvf("corpus_clean",
      "corpus_clean(dir[, min_words[, threshold]]) - The cleaned training " +
        "corpus: exact-dedup canonical docs, near-dup cluster " +
        "representatives, language filter and min-length gate applied.",
      "SELECT lang, count(*) FROM corpus_clean('/data/c1') GROUP BY lang;",
      dir, int("min_words", 30), threshold)(a => Pipeline.cleanCorpus(
      a.spark, a.dir, minWords = a.int("min_words"),
      threshold = a.dbl("threshold"))),

    Tvf("corpus_stats",
      "corpus_stats(dir) - Per-document length/token statistics.",
      "SELECT * FROM corpus_stats('/data/c1') WHERE n_words > 100;",
      dir)(a => TextOps.textStats(a.spark, a.dir)),

    Tvf("corpus_quality",
      "corpus_quality(dir) - Per-document heuristic quality scores " +
        "(stopword/punctuation/length components).",
      "SELECT * FROM corpus_quality('/data/c1') WHERE quality < 0.3;",
      dir)(a => TextOps.qualityScore(a.spark, a.dir)),

    Tvf("corpus_lang_id",
      "corpus_lang_id(dir) - N-gram language identification per document.",
      "SELECT predicted_lang, count(*) FROM corpus_lang_id('/data/c1') " +
        "GROUP BY 1;",
      dir)(a => TextOps.langId(a.spark, a.dir)),

    Tvf("corpus_neardup_pairs",
      "corpus_neardup_pairs(dir[, threshold]) - MinHash-LSH near-duplicate " +
        "candidate pairs with exact-Jaccard verification at or above the " +
        "threshold (default 0.5).",
      "SELECT * FROM corpus_neardup_pairs('/data/c1', 0.8);",
      dir, threshold)(a => Dedup.minHashPairs(a.spark, a.dir,
      threshold = a.dbl("threshold"))),

    Tvf("corpus_contrastive_pairs",
      "corpus_contrastive_pairs(dir[, threshold]) - Contrastive " +
        "training pairs: near-dup positives (exact Jaccard >= " +
        "threshold, default 0.5) plus deterministic md5-shard rotation " +
        "negatives disjoint from the pair set.",
      "SELECT * FROM corpus_contrastive_pairs('/data/c1');",
      dir, unitThreshold)(a => Dedup.contrastivePairs(a.spark, a.dir,
      threshold = a.dbl("threshold"))),

    Tvf("corpus_setsim_pairs",
      "corpus_setsim_pairs(dir[, threshold[, hot_df]]) - EXACT set-" +
        "similarity join (PPJoin prefix filtering + hot-token pair " +
        "refinement above hot_df) on the same shingle-Jaccard " +
        "measure as corpus_neardup_pairs, recall 1 (no LSH).",
      "SELECT * FROM corpus_setsim_pairs('/data/c1', 0.7);",
      dir, unitThreshold, int("hot_df", Dedup.DefaultHotDf).above(0))(
      a => Dedup.setSimPairs(a.spark, a.dir, threshold = a.dbl("threshold"),
        hotDf = a.int("hot_df"))),

    Tvf("corpus_dedup_keep",
      "corpus_dedup_keep(dir[, threshold]) - Near-duplicate cluster " +
        "representatives: one kept doc_id per connected near-dup cluster.",
      "SELECT doc_id FROM corpus_dedup_keep('/data/c1');",
      dir, threshold)(a => Dedup.minHashKeep(a.spark, a.dir,
      threshold = a.dbl("threshold"))),

    Tvf("corpus_dedup_clusters",
      "corpus_dedup_clusters(dir) - Connected near-duplicate clusters: " +
        "one (doc_id, cluster label, cluster size) row per document of " +
        "the build-once MinHash cluster table.",
      "SELECT * FROM corpus_dedup_clusters('/data/c1') WHERE cluster_n > 1;",
      dir)(a => Dedup.minHashClusters(a.spark, a.dir)),

    Tvf("corpus_repeated_spans",
      "corpus_repeated_spans(dir[, k[, min_docs]]) - Maximal cross-" +
        "document repeated regions: stride-1 k-word windows shared by " +
        ">= min_docs distinct documents, merged into [start_word, " +
        "end_word) spans (substring dedup, Lee et al. 2021).",
      "SELECT * FROM corpus_repeated_spans('/data/c1', 8);",
      dir, gramK, minDocs)(a => Dedup.repeatedSpans(a.spark, a.dir,
      k = a.int("k"), minDocs = a.int("min_docs"))),

    Tvf("corpus_span_excise",
      "corpus_span_excise(dir[, k[, min_docs]]) - Documents rewritten " +
        "with every cross-document repeated region removed (remove-" +
        "everywhere substring decontamination).",
      "SELECT doc_id, n_dropped_words FROM corpus_span_excise('/data/c1');",
      dir, gramK, minDocs)(a => Dedup.repeatedSpanExcise(a.spark, a.dir,
      k = a.int("k"), minDocs = a.int("min_docs"))),

    Tvf("corpus_span_guard",
      "corpus_span_guard(dir[, k]) - Admission-time substring guard " +
        "demo: regions of held-out documents (doc_id % 5 = 0) whose " +
        "k-gram windows already exist in the rest of the corpus, probed " +
        "against a bucket-partitioned gram index.",
      "SELECT * FROM corpus_span_guard('/data/c1');",
      dir, gramK)(a => Dedup.spanGuard(a.spark, a.dir, k = a.int("k"))),

    Tvf("corpus_keep_best",
      "corpus_keep_best(dir[, threshold]) - Quality-weighted dedup: keep " +
        "the LONGEST member of each near-dup cluster (tie -> min doc_id) " +
        "plus all singletons.",
      "SELECT doc_id FROM corpus_keep_best('/data/c1');",
      dir, threshold)(a => Dedup.clusterKeepBest(a.spark, a.dir,
      threshold = a.dbl("threshold"))),

    Tvf("corpus_soft_dedup",
      "corpus_soft_dedup(dir[, threshold]) - Soft dedup: every document " +
        "with sampling weight 1/cluster_size (singletons weigh 1).",
      "SELECT doc_id, sample_weight FROM corpus_soft_dedup('/data/c1');",
      dir, threshold)(a => Dedup.softDedupWeights(a.spark, a.dir,
      threshold = a.dbl("threshold"))),

    Tvf("corpus_mixture_schedule",
      "corpus_mixture_schedule(dir, sources, shares, budget[, epochs, " +
        "t_start, t_end]) - Temperature-annealed multi-epoch mixture " +
        "schedule (T interpolates t_start -> t_end; share ∝ " +
        "target^(1/T)).",
      "SELECT * FROM corpus_mixture_schedule('/data/c1', " +
        "array('web','code'), array(0.8, 0.2), 1000000, epochs => 3);",
      dir +: mixture :+ int("epochs", 3) :+ dbl("t_start", 2.0) :+
        dbl("t_end", 1.0): _*)(a => Pipeline.mixtureSchedule(a.spark, a.dir,
      targets(a), budgetPerEpoch = a.long("budget"),
      epochs = a.int("epochs"), tStart = a.dbl("t_start"),
      tEnd = a.dbl("t_end"))),

    Tvf("corpus_mixture_plan",
      "corpus_mixture_plan(dir, sources => array(...), shares => " +
        "array(...), budget => N[, max_epochs => E]) - Source-mixture " +
        "plan: per-source sampling weights for the target shares under " +
        "a token budget, epoch-capped with a capped flag.",
      "SELECT * FROM corpus_mixture_plan('/data/c1', sources => " +
        "array('a','b'), shares => array(0.7, 0.3), budget => 1000000);",
      dir +: mixture :+ dbl("max_epochs", 2.0): _*)(
      a => Pipeline.mixturePlan(a.spark, a.dir, targets(a),
        budgetTokens = a.long("budget"), maxEpochs = a.dbl("max_epochs"))),

    Tvf("corpus_pagerank",
      "corpus_pagerank(dir) - PageRank over the embedding k-NN graph " +
        "(build-once edge table; 10 power iterations).",
      "SELECT * FROM corpus_pagerank('/data/c1') ORDER BY pr DESC LIMIT 10;",
      dir)(a => GraphOps.knnPageRank(a.spark, a.dir)),

    Tvf("corpus_decontaminate",
      "corpus_decontaminate(dir[, eval_max_id[, n]]) - Benchmark " +
        "decontamination: corpus docs sharing any word n-gram (default " +
        "8) with the eval set (docs below eval_max_id), with shared-gram " +
        "counts.",
      "SELECT * FROM corpus_decontaminate('/data/c1') ORDER BY " +
        "n_shared_grams DESC;",
      dir, evalMaxId, int("n", 8))(a => TextOps.decontaminate(a.spark,
      a.dir, benchmarkMaxId = a.long("eval_max_id"), n = a.int("n"))),

    Tvf("corpus_eval_containment",
      "corpus_eval_containment(dir[, eval_max_id[, threshold]]) - " +
        "Winnowed-containment decontamination: corpus docs containing a " +
        "fraction >= threshold (default 0.2) of an eval doc's " +
        "fingerprints (partial quotation detector).",
      "SELECT * FROM corpus_eval_containment('/data/c1', 10, 0.5);",
      dir, evalMaxId, dbl("threshold", 0.2))(a => TextOps.evalContainment(
      a.spark, a.dir, evalMaxId = a.long("eval_max_id"),
      minContainment = a.dbl("threshold"))),

    Tvf("corpus_dataset_card",
      "corpus_dataset_card(dir) - The release dataset card: size, " +
        "provenance, duplication, token volume, length percentiles and " +
        "quality mix as (metric, value) rows, from one corpus pass.",
      "SELECT * FROM corpus_dataset_card('/data/c1');",
      dir)(a => Pipeline.datasetCard(a.spark, a.dir)),

    Tvf("corpus_sketch_sources",
      "corpus_sketch_sources(dir[, k]) - Distinct-text estimate per " +
        "document source plus a __ALL__ row merged from the per-source " +
        "KMV sketch states (k-minimum-values, default k = 65536; exact " +
        "below k).",
      "SELECT * FROM corpus_sketch_sources('/data/c1');",
      dir, kmvK)(a => SketchOps.sourceDistinctTexts(a.spark, a.dir,
      a.int("k"))),

    Tvf("corpus_heavy_hitters",
      "corpus_heavy_hitters(dir[, k[, top]]) - Top sources across the " +
        "corpus from per-lang Misra-Gries heavy-hitter states, merged " +
        "row-level (default k = 64, top = 10; counts exact while " +
        "distinct sources < k, else MG N/(k+1) under-count bound).",
      "SELECT * FROM corpus_heavy_hitters('/data/c1', top => 5);",
      dir, int("k", 64).atLeast(1), int("top", 10).atLeast(1))(
      a => SketchOps.heavyHitterSources(a.spark, a.dir, a.int("k"),
        a.int("top"))),

    Tvf("corpus_sketch_snapshot_merge",
      "corpus_sketch_snapshot_merge(dir[, k]) - Combined-corpus distinct " +
        "estimates derived by merging two STORED snapshot sketch tables " +
        "(parquet) — the incremental-maintenance path: snapshot 1's raw " +
        "data is never rescanned.",
      "SELECT * FROM corpus_sketch_snapshot_merge('/data/c1');",
      dir, kmvK)(a => SketchOps.snapshotSketchMerge(a.spark, a.dir,
      a.int("k"))),

    Tvf("corpus_sketch_delta",
      "corpus_sketch_delta(dir[, k]) - Snapshot delta report from two " +
        "STORED sketch tables: per-source (and __ALL__) distinct texts " +
        "in the previous snapshot, in the new shard, first seen in the " +
        "new shard (added), gone from it (removed), and present in " +
        "both (overlap) - no raw rescans; exact below k (default " +
        "k = 65536).",
      "SELECT * FROM corpus_sketch_delta('/data/c1');",
      dir, kmvK)(a => SketchOps.snapshotDelta(a.spark, a.dir, a.int("k"))),

    Tvf("corpus_quantile_drift",
      "corpus_quantile_drift(dir[, k[, threshold]]) - Distribution " +
        "drift between two STORED quantile sketch snapshots: per-source " +
        "(and __ALL__) previous/new median document length plus the " +
        "two-sample Kolmogorov-Smirnov statistic, zero raw rescans " +
        "(exact below k, default k = 65536, threshold = 0.5).",
      "SELECT * FROM corpus_quantile_drift('/data/c1') WHERE drifted;",
      dir, sketchK, unitThreshold)(a => SketchOps.quantileDrift(a.spark,
      a.dir, a.int("k"), a.dbl("threshold"))),

    Tvf("corpus_quantile_sources",
      "corpus_quantile_sources(dir[, k]) - Per-source document-length " +
        "quantiles (p25/p50/p75) plus a __ALL__ row merged from stored-" +
        "shape bottom-k quantile sketch states (exact below k, discrete-" +
        "quantile rule).",
      "SELECT * FROM corpus_quantile_sources('/data/c1');",
      dir, sketchK)(a => SketchOps.sourceLengthQuantiles(a.spark, a.dir,
      a.int("k"))),

    Tvf("corpus_sketch_rollup",
      "corpus_sketch_rollup(dir[, k]) - Distinct-text counts at every " +
        "level of the (source, lang) hierarchy, all derived from one " +
        "pass of leaf KMV sketch states (__ALL__ marks the rolled-up " +
        "position; exact below k).",
      "SELECT * FROM corpus_sketch_rollup('/data/c1');",
      dir, kmvK)(a => SketchOps.sourceLangDistinctRollup(a.spark, a.dir,
      a.int("k"))),

    Tvf("corpus_range_estimate",
      "corpus_range_estimate(dir[, lo, hi, k]) - Fraction of documents " +
        "per source (plus __ALL__) with n_chars in [lo, hi] (defaults " +
        "200..400), read off stored quantile-sketch states (exact " +
        "below k).",
      "SELECT * FROM corpus_range_estimate('/data/c1', 100, 500);",
      dir, dbl("lo", 200.0), dbl("hi", 400.0), sketchK) { a =>
      val (lo, hi) = (a.dbl("lo"), a.dbl("hi"))
      a.check(lo <= hi, s"requires lo <= hi, got [$lo, $hi].")
      SketchOps.sourceLengthSelectivity(a.spark, a.dir, lo, hi, a.int("k"))
    },

    Tvf("corpus_join_estimate",
      "corpus_join_estimate(dir[, k]) - Pre-flight size estimate of the " +
        "orders JOIN customer equi-join from two per-side KMV key " +
        "sketches: row counts, distinct-key estimates, key overlap and " +
        "the estimated join cardinality (exact below k).",
      "SELECT * FROM corpus_join_estimate('/data/c1');",
      dir, kmvK)(a => SketchOps.ordersCustomerJoinEstimate(a.spark, a.dir,
      a.int("k"))),

    Tvf("corpus_scd2",
      "corpus_scd2(dir) - SCD2 validity-interval history of the " +
        "deterministic v1 -> v2 corpus evolution (doc_id, text_md5, " +
        "valid_from, valid_to, is_current); the as-of-v slice " +
        "reproduces snapshot v exactly.",
      "SELECT * FROM corpus_scd2('/data/c1') WHERE is_current;",
      dir)(a => Pipeline.scd2Demo(a.spark, a.dir)),

    Tvf("corpus_apply_changes",
      "corpus_apply_changes(dir) - MERGE-INTO semantics without a table " +
        "format: the next corpus snapshot after applying the " +
        "deterministic CDC change batch (I/U/D) — map-side anti-join " +
        "plus union, the snapshot is never shuffled.",
      "SELECT count(*) FROM corpus_apply_changes('/data/c1');",
      dir)(a => Pipeline.cdcMergeDemo(a.spark, a.dir)),

    Tvf("corpus_token_windows",
      "corpus_token_windows(dir[, window_tokens]) - Cross-document " +
        "fixed-width token-window manifest (concat-and-cut packing): " +
        "per md5-shard window ids with doc span and token counts, " +
        "default window 2048 tokens.",
      "SELECT * FROM corpus_token_windows('/data/c1', 4096);",
      dir, int("window_tokens", 2048).atLeast(1))(a => Pipeline.tokenWindows(
      a.spark, a.dir, windowTokens = a.long("window_tokens"))),

    Tvf("corpus_expectations",
      "corpus_expectations(dir) - The data-quality expectations gate: " +
        "named checks (key uniqueness, null fractions, length " +
        "consistency and bounds) with observed values and pass/fail, " +
        "from one corpus pass.",
      "SELECT * FROM corpus_expectations('/data/c1') WHERE NOT passed;",
      dir)(a => Pipeline.expectations(a.spark, a.dir)),

    Tvf("corpus_priority_totals",
      "corpus_priority_totals(dir[, n]) - Per-source total characters " +
        "plus a __ALL__ row merged from stored-shape priority-sample " +
        "states (Duffield-Lund-Thorup subset-sum sketch, default " +
        "n = 65536; exact below n).",
      "SELECT * FROM corpus_priority_totals('/data/c1');",
      dir, int("n", 65536).atLeast(1))(a => SketchOps.sourceCharTotals(
      a.spark, a.dir, a.int("n"))),

    Tvf("corpus_bloom_guard",
      "corpus_bloom_guard(dir[, nbits, nhashes]) - Admit documents " +
        "against the bloom'd blocklist (doc_id % 7 = 0 holdout): " +
        "map-side codegen'd bloom probe, exact confirm join on the " +
        "flagged sliver only — exact output, no false negatives.",
      "SELECT * FROM corpus_bloom_guard('/data/c1');",
      dir, int("nbits", 65536), int("nhashes", 4).atLeast(1).atMost(16)
    ) { a =>
      val nBits = a.int("nbits")
      a.check(nBits >= 64 && (nBits & (nBits - 1)) == 0,
        s"parameter 'nbits' must be a power of two >= 64, got $nBits.")
      SketchOps.bloomBlocklistAdmit(a.spark, a.dir, nBits, a.int("nhashes"))
    },

    Tvf("corpus_ann_probe",
      "corpus_ann_probe(dir, query_id[, k]) - Top-k approximate nearest " +
        "neighbours of embedding `query_id` via the build-once IVF-PQ " +
        "index (pruned probe, ADC shortlist, exact re-rank).",
      "SELECT * FROM corpus_ann_probe('/data/c1', 42, k => 5);",
      dir, int("query_id"), int("k", 10))(a => Pq.topKIvfPq(a.spark, a.dir,
      a.long("query_id"), kNn = a.int("k"))),

    Tvf("corpus_kanon",
      "corpus_kanon(dir[, k[, l]]) - k-anonymous release of the events " +
        "table: hour -> day -> suppress generalization ladder (every " +
        "released cell covers >= k distinct users, default 5) with an " +
        "l-diversity audit column (default l = 3).",
      "SELECT * FROM corpus_kanon('/data/c1', 10) WHERE l_ok;",
      dir, int("k", 5).atLeast(1), int("l", 3).atLeast(1))(
      a => Privacy.kAnonymize(a.spark, a.dir, k = a.int("k"), l = a.int("l"))),

    Tvf("corpus_asof_purchase",
      "corpus_asof_purchase(dir) - Each event enriched with the user's " +
        "most recent purchase (value + time) as of the event's " +
        "timestamp, executed by the physical sort-merge as-of join " +
        "(AsOfJoinExec).",
      "SELECT * FROM corpus_asof_purchase('/data/c1') " +
        "WHERE purchase_value > 100;",
      dir)(a => AsOf.eventsAsOfLastPurchaseExec(a.spark, a.dir)),

    Tvf("corpus_asof_rates",
      "corpus_asof_rates(dir) - Each event enriched with the day-grain " +
        "max purchase rate as of its timestamp (keyless global-timeline " +
        "as-of through the broadcast operator; the batch twin of the " +
        "stream-static enrichment).",
      "SELECT * FROM corpus_asof_rates('/data/c1') WHERE day_rate > 50;",
      dir)(a => graft.streaming.EventStream.asOfDailyRateBatch(
      Relational.events(a.spark, a.dir))),

    Tvf("corpus_asof_bucketed",
      "corpus_asof_bucketed(dir) - The corpus_asof_purchase workload " +
        "through the ts-range-split as-of join (asOfJoinBucketed, " +
        "one-hour buckets): hot keys parallelize across their time " +
        "span instead of one straggler task - same rows, skew-safe " +
        "plan for huge right sides.",
      "SELECT * FROM corpus_asof_bucketed('/data/c1') " +
        "WHERE purchase_value > 100;",
      dir)(a => AsOf.eventsAsOfLastPurchaseBucketed(a.spark, a.dir)),

    Tvf("corpus_asof_salted",
      "corpus_asof_salted(dir) - The corpus_asof_purchase workload " +
        "through the salted as-of join (asOfJoinSalted, 8 salts keyed " +
        "by event_id): a hot user's events spread over the salt " +
        "buckets while the right side replicates - same rows, the " +
        "skew path for a right side too large to broadcast but far " +
        "smaller than the left.",
      "SELECT * FROM corpus_asof_salted('/data/c1') " +
        "WHERE purchase_value > 100;",
      dir)(a => AsOf.eventsAsOfLastPurchaseSalted(a.spark, a.dir)),

    Tvf("corpus_asof_auto",
      "corpus_asof_auto(dir) - The corpus_asof_purchase workload " +
        "through the measured as-of router (asOfJoinAuto): a sampled " +
        "pre-flight probe of the key histogram picks broadcast / " +
        "sort-merge / salted / ts-range-split and sizes " +
        "salts/bucketWidth - same rows on every path.",
      "SELECT * FROM corpus_asof_auto('/data/c1') " +
        "WHERE purchase_value > 100;",
      dir)(a => AsOf.eventsAsOfLastPurchaseAuto(a.spark, a.dir)),

    Tvf("corpus_bpe_merges",
      "corpus_bpe_merges(dir[, n]) - Learned BPE merge table (rank, " +
        "left, right, pair_freq) over the corpus word dictionary " +
        "(default 20 merges).",
      "SELECT * FROM corpus_bpe_merges('/data/c1', 30);",
      dir, merges)(a => TextOps.learnBpeMerges(a.spark, a.dir,
      numMerges = a.int("n"))),

    Tvf("corpus_bpe_tokens",
      "corpus_bpe_tokens(dir[, n]) - Corpus token-frequency table " +
        "under the learned BPE tokenizer (default 20 merges).",
      "SELECT * FROM corpus_bpe_tokens('/data/c1');",
      dir, merges)(a => TextOps.bpeTokenize(a.spark, a.dir,
      numMerges = a.int("n"))),

    Tvf("corpus_unigram_vocab",
      "corpus_unigram_vocab(dir[, vocab_size]) - Unigram-LM " +
        "(SentencePiece-style) subword vocabulary: final-EM piece use " +
        "counts (default vocab 40, top 20 rows).",
      "SELECT * FROM corpus_unigram_vocab('/data/c1');",
      dir, vocabSize)(a => UnigramLm.learnVocab(a.spark, a.dir,
      vocabSize = a.int("vocab_size"))),

    Tvf("corpus_unigram_tokens",
      "corpus_unigram_tokens(dir[, vocab_size]) - Corpus piece-" +
        "frequency table under the learned unigram-LM vocabulary.",
      "SELECT * FROM corpus_unigram_tokens('/data/c1');",
      dir, vocabSize)(a => UnigramLm.tokenize(a.spark, a.dir,
      vocabSize = a.int("vocab_size"))),

    Tvf("corpus_noisy_hist",
      "corpus_noisy_hist(dir) - Noisy per-(event_type, day) histogram " +
        "release: counts perturbed by keyed integer noise in [-10, 10] " +
        "and clamped at zero (reproducible stand-in for Laplace; see " +
        "Privacy.noisyHistogram).",
      "SELECT * FROM corpus_noisy_hist('/data/c1');",
      dir)(a => Privacy.noisyHistogram(a.spark, a.dir)),

    Tvf("corpus_split",
      "corpus_split(dir) - Deterministic train/val/test split: each " +
        "document's split from the first hex digit of md5(doc_id ++ " +
        "salt), 13/2/1 of 16 buckets.",
      "SELECT split, count(*) FROM corpus_split('/data/c1') GROUP BY split;",
      dir)(a => Pipeline.trainValSplit(a.spark, a.dir)),

    Tvf("corpus_sources",
      "corpus_sources(dir) - Per-source provenance report: document " +
        "counts, language spread, size and token totals, and the " +
        "exact-duplicate rate.",
      "SELECT * FROM corpus_sources('/data/c1');",
      dir)(a => Pipeline.sourceReport(a.spark, a.dir)),

    Tvf("corpus_entropy",
      "corpus_entropy(dir) - Per-document character entropy (bits per " +
        "character).",
      "SELECT * FROM corpus_entropy('/data/c1') ORDER BY char_entropy LIMIT 10;",
      dir)(a => TextOps.charEntropy(a.spark, a.dir)),

    Tvf("corpus_bm25",
      "corpus_bm25(dir) - Okapi BM25 score of every document for the " +
        "demo query ('join', 'scan', 'filter'; k1 = 1.2, b = 0.75).",
      "SELECT * FROM corpus_bm25('/data/c1') ORDER BY 2 DESC LIMIT 10;",
      dir)(a => TextOps.bm25(a.spark, a.dir)),

    Tvf("corpus_length_trim",
      "corpus_length_trim(dir) - Documents whose length lies inside the " +
        "corpus-wide 5th..95th percentile window.",
      "SELECT count(*) FROM corpus_length_trim('/data/c1');",
      dir)(a => Pipeline.lengthTrim(a.spark, a.dir)),

    Tvf("corpus_length_trim_lang",
      "corpus_length_trim_lang(dir) - Documents whose length lies inside " +
        "their language's 5th..95th percentile window.",
      "SELECT count(*) FROM corpus_length_trim_lang('/data/c1');",
      dir)(a => Pipeline.lengthTrimByLang(a.spark, a.dir)),

    Tvf("corpus_packing",
      "corpus_packing(dir) - Greedy sequence packing into 2048-token " +
        "packs per md5 shard (packs never cross shards).",
      "SELECT count(DISTINCT shard) FROM corpus_packing('/data/c1');",
      dir)(a => Pipeline.packSequences(a.spark, a.dir)),

    Tvf("corpus_image_meta",
      "corpus_image_meta(dir) - Decoded image metadata: dimensions and " +
        "mean luminance per image asset.",
      "SELECT * FROM corpus_image_meta('/data/c1');",
      dir)(a => Multimodal.imageMeta(a.spark, a.dir)),

    Tvf("corpus_image_dhash",
      "corpus_image_dhash(dir) - dHash perceptual fingerprint per image " +
        "asset, as two 32-bit halves.",
      "SELECT * FROM corpus_image_dhash('/data/c1');",
      dir)(a => Multimodal.imageDHash(a.spark, a.dir)),

    Tvf("corpus_image_neardup",
      "corpus_image_neardup(dir) - Near-duplicate image pairs within " +
        "dHash Hamming distance 2, from the build-once dHash index.",
      "SELECT * FROM corpus_image_neardup('/data/c1') WHERE hamming = 0;",
      dir)(a => Multimodal.imageNearDupPairs(a.spark, a.dir)),

    Tvf("corpus_audio_meta",
      "corpus_audio_meta(dir) - Decoded audio features per asset: sample " +
        "count, peak amplitude, RMS energy and zero crossings.",
      "SELECT * FROM corpus_audio_meta('/data/c1') WHERE zero_crossings > 0;",
      dir)(a => Multimodal.audioMeta(a.spark, a.dir)),

    Tvf("corpus_video_frames",
      "corpus_video_frames(dir) - Per-frame decode stats of every video " +
        "asset (frame_no, width, height, mean_luma).",
      "SELECT * FROM corpus_video_frames('/data/c1');",
      dir)(a => Multimodal.videoFrameStats(a.spark, a.dir)),

    Tvf("corpus_weighted_sample",
      "corpus_weighted_sample(dir) - Deterministic weighted sample of 100 " +
        "documents (hash-uniform draws, no RNG).",
      "SELECT * FROM corpus_weighted_sample('/data/c1');",
      dir)(a => Pipeline.weightedSample(a.spark, a.dir)),

    Tvf("corpus_shuffle",
      "corpus_shuffle(dir) - Deterministic training shuffle: documents " +
        "hashed into 64 shards, ordered within each shard.",
      "SELECT * FROM corpus_shuffle('/data/c1') WHERE shard = 0;",
      dir)(a => Pipeline.corpusShuffle(a.spark, a.dir)),

    Tvf("corpus_inverted_index",
      "corpus_inverted_index(dir) - Word -> postings inverted index " +
        "(words in at most 5000 documents, top 10 postings each).",
      "SELECT * FROM corpus_inverted_index('/data/c1') WHERE word = 'scan';",
      dir)(a => TextOps.invertedIndex(a.spark, a.dir, maxDf = 5000)),

    Tvf("corpus_zorder",
      "corpus_zorder(dir) - Per-document Morton (z-order) curve value " +
        "over a length bucket and an id bucket (8 bits each).",
      "SELECT * FROM corpus_zorder('/data/c1') ORDER BY 2;",
      dir)(a => Zorder.docZValues(a.spark, a.dir)),

    Tvf("corpus_quality_model",
      "corpus_quality_model(dir) - Every document scored by the trained " +
        "quality classifier: sigmoid(w·x), the teacher label and the " +
        "0.5-threshold decision (weights trained at analysis).",
      "SELECT * FROM corpus_quality_model('/data/c1');",
      dir)(a => QualityModel.qualityClassifier(a.spark, a.dir)),

    Tvf("corpus_knn_graph",
      "corpus_knn_graph(dir) - Top-5 nearest neighbours of every " +
        "embedding via the bucketed hyperplane-LSH self-join.",
      "SELECT * FROM corpus_knn_graph('/data/c1');",
      dir)(a => Similarity.knnJoin(a.spark, a.dir)),

    Tvf("corpus_graph_triangles",
      "corpus_graph_triangles(dir) - Per-node triangle counts over the " +
        "embedding k-NN graph (build-once edge table).",
      "SELECT * FROM corpus_graph_triangles('/data/c1') WHERE n_tri > 0;",
      dir)(a => GraphOps.knnTriangles(a.spark, a.dir)),

    Tvf("corpus_graph_ppr",
      "corpus_graph_ppr(dir) - Personalized PageRank over the embedding " +
        "k-NN graph, seeded on the vectors of label 0.",
      "SELECT * FROM corpus_graph_ppr('/data/c1') WHERE is_seed;",
      dir)(a => GraphOps.knnSeededRank(a.spark, a.dir)),

    Tvf("corpus_embed_clusters",
      "corpus_embed_clusters(dir) - Semantic clusters: connected " +
        "components of embedding pairs with cosine >= 0.3 (build-once " +
        "label table).",
      "SELECT count(DISTINCT cluster_id) FROM corpus_embed_clusters('/data/c1');",
      dir)(a => Similarity.embedClusters(a.spark, a.dir)))
}

package graft.api

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

import graft.operators.{Dedup, GraphOps, Pipeline, Pq, TextOps}

/** SQL TVFs for the LLM-pipeline surface, parameterized by corpus
  * directory — the SQL-native upgrade of
  * [[SudanExtension.registerPipeline]]'s pre-bound temp views: instead of
  * registering views against ONE directory up front, the SQL user names
  * the corpus at the call site and composes results like any table:
  * {{{
  *   SELECT lang, count(*) FROM corpus_clean('/data/crawl1') GROUP BY lang;
  *   SELECT a.doc_id FROM corpus_neardup_pairs('/data/crawl1', 0.8) a;
  *   SELECT * FROM corpus_ann_probe('/data/crawl1', 42, k => 5);
  * }}}
  *
  * Arguments bind at analysis time (literals only, like the source TVFs);
  * the returned plan is the operator's own DataFrame plan, so Catalyst
  * sees through the TVF — filters on the outer query push into the
  * underlying parquet scans exactly as with the Scala factories. A TVF
  * over a build-once operator (`corpus_clean`, `corpus_neardup_pairs`,
  * `corpus_dedup_keep`, `corpus_pagerank`, `corpus_ann_probe`, …) builds
  * its artifact AT analysis — the same [[graft.operators.Artifacts]]
  * entry the Scala API serves — mirroring
  * [[SudanExtension.registerAnalytics]]'s documented trade. */
object CorpusTableFunctions {

  import SudanTableFunctions.{bind, info, plan, str}

  private type Builder = Seq[Expression] => LogicalPlan

  /** Literal numeric argument (INT/BIGINT/DOUBLE literals fold). */
  private def num(fn: String, what: String, e: Expression): Double = e match {
    case f if f.foldable => f.eval(null) match {
      case n: Number => n.doubleValue()
      // SQL `0.8` parses as DECIMAL(1,1) → Spark Decimal, not j.l.Number
      case d: org.apache.spark.sql.types.Decimal => d.toDouble
      case other => throw new IllegalArgumentException(
        s"SUDAN: $fn() parameter '$what' must be a numeric literal, " +
          s"got $other.")
    }
    case other => throw new IllegalArgumentException(
      s"SUDAN: $fn() parameter '$what' must be a numeric literal, " +
        s"got ${other.sql}.")
  }

  /** Literal numeric-list argument: `array(0.7, 0.3)`. */
  private def numSeq(fn: String, what: String,
      e: Expression): Seq[Double] = e match {
    case org.apache.spark.sql.catalyst.expressions.CreateArray(items, _) =>
      items.map(num(fn, what, _))
    case other => throw new IllegalArgumentException(
      s"SUDAN: $fn() parameter '$what' must be an array of numeric " +
        s"literals, got ${other.sql}.")
  }

  private def reqDir(fn: String, bound: Map[String, Expression]): String =
    bound.get("dir").map(str(fn, "dir", _)).getOrElse(
      throw new IllegalArgumentException(
        s"SUDAN: $fn() requires the corpus 'dir' parameter."))

  /** Optional numeric argument with a default (the repeated
    * `bound.get(k).map(num).getOrElse(d)` shape of every builder). */
  private def optNum(fn: String, bound: Map[String, Expression],
      key: String, default: Double): Double =
    bound.get(key).map(num(fn, key, _)).getOrElse(default)

  private def reqArg[T](fn: String, bound: Map[String, Expression],
      key: String)(f: Expression => T): T = bound.get(key).map(f)
    .getOrElse(throw new IllegalArgumentException(
      s"SUDAN: $fn() requires the '$key' parameter."))

  /** Validated k / min_docs for the repeated-span TVF pair: the binder
    * names the function in the error instead of surfacing the operator's
    * bare require(). */
  private def spanK(fn: String, bound: Map[String, Expression]): Int = {
    val k = optNum(fn, bound, "k", 8).toInt
    if (k < 2) throw new IllegalArgumentException(
      s"SUDAN: $fn() parameter 'k' must be >= 2, got $k.")
    k
  }

  private def spanMinDocs(fn: String, bound: Map[String, Expression]): Int = {
    val m = optNum(fn, bound, "min_docs", 2).toInt
    if (m < 2) throw new IllegalArgumentException(
      s"SUDAN: $fn() parameter 'min_docs' must be >= 2, got $m.")
    m
  }

  /** (dir) single-argument corpus shape. */
  private def dirOnly(fn: String)(
      build: (SparkSession, String) => org.apache.spark.sql.DataFrame)
      : Builder = { args =>
    val bound = bind(fn, args, Seq("dir"), Set.empty)
    plan(build(SparkSession.active, reqDir(fn, bound)))
  }

  /** The corpus TVF definitions; sessions get them through
    * [[graft.functions.GraftExtensions]]. */
  private[graft] lazy val defs: Seq[graft.functions.GraftExtensions.TableFunctionDef] = {
    val out = Seq.newBuilder[(FunctionIdentifier, ExpressionInfo, Builder)]
    def tvf(name: String, usage: String, example: String)(b: Builder): Unit =
      out += ((FunctionIdentifier(name), info(name, usage,
        s"      > $example"), b))

    tvf("corpus_clean",
      "corpus_clean(dir[, min_words[, threshold]]) - The cleaned training " +
        "corpus: exact-dedup canonical docs, near-dup cluster " +
        "representatives, language filter and min-length gate applied.",
      "SELECT lang, count(*) FROM corpus_clean('/data/c1') GROUP BY lang;"
    ) { args =>
      val fn = "corpus_clean"
      val bound = bind(fn, args, Seq("dir", "min_words", "threshold"),
        Set.empty)
      plan(Pipeline.cleanCorpus(SparkSession.active, reqDir(fn, bound),
        minWords = optNum(fn, bound, "min_words", 30).toInt,
        threshold = optNum(fn, bound, "threshold", 0.5)))
    }

    tvf("corpus_stats",
      "corpus_stats(dir) - Per-document length/token statistics.",
      "SELECT * FROM corpus_stats('/data/c1') WHERE n_words > 100;")(
      dirOnly("corpus_stats")(TextOps.textStats))

    tvf("corpus_quality",
      "corpus_quality(dir) - Per-document heuristic quality scores " +
        "(stopword/punctuation/length components).",
      "SELECT * FROM corpus_quality('/data/c1') WHERE quality < 0.3;")(
      dirOnly("corpus_quality")(TextOps.qualityScore))

    tvf("corpus_lang_id",
      "corpus_lang_id(dir) - N-gram language identification per document.",
      "SELECT predicted_lang, count(*) FROM corpus_lang_id('/data/c1') " +
        "GROUP BY 1;")(dirOnly("corpus_lang_id")(TextOps.langId))

    tvf("corpus_neardup_pairs",
      "corpus_neardup_pairs(dir[, threshold]) - MinHash-LSH near-duplicate " +
        "candidate pairs with exact-Jaccard verification at or above the " +
        "threshold (default 0.5).",
      "SELECT * FROM corpus_neardup_pairs('/data/c1', 0.8);") { args =>
      val fn = "corpus_neardup_pairs"
      val bound = bind(fn, args, Seq("dir", "threshold"), Set.empty)
      plan(Dedup.minHashPairs(SparkSession.active, reqDir(fn, bound),
        threshold = optNum(fn, bound, "threshold", 0.5)))
    }

    tvf("corpus_contrastive_pairs",
      "corpus_contrastive_pairs(dir[, threshold]) - Contrastive " +
        "training pairs: near-dup positives (exact Jaccard >= " +
        "threshold, default 0.5) plus deterministic md5-shard rotation " +
        "negatives disjoint from the pair set.",
      "SELECT * FROM corpus_contrastive_pairs('/data/c1');") { args =>
      val fn = "corpus_contrastive_pairs"
      val bound = bind(fn, args, Seq("dir", "threshold"), Set.empty)
      val t = optNum(fn, bound, "threshold", 0.5)
      if (t <= 0.0 || t > 1.0) throw new IllegalArgumentException(
        s"SUDAN: $fn() parameter 'threshold' must be in (0, 1], got $t.")
      plan(Dedup.contrastivePairs(SparkSession.active, reqDir(fn, bound),
        threshold = t))
    }

    tvf("corpus_setsim_pairs",
      "corpus_setsim_pairs(dir[, threshold[, hot_df]]) - EXACT set-" +
        "similarity join (PPJoin prefix filtering + hot-token pair " +
        "refinement above hot_df) on the same shingle-Jaccard " +
        "measure as corpus_neardup_pairs, recall 1 (no LSH).",
      "SELECT * FROM corpus_setsim_pairs('/data/c1', 0.7);") { args =>
      val fn = "corpus_setsim_pairs"
      val bound = bind(fn, args, Seq("dir", "threshold", "hot_df"),
        Set.empty)
      val t = optNum(fn, bound, "threshold", 0.5)
      if (t <= 0.0 || t > 1.0) throw new IllegalArgumentException(
        s"SUDAN: $fn() parameter 'threshold' must be in (0, 1], got $t.")
      val hd = optNum(fn, bound, "hot_df",
        Dedup.DefaultHotDf.toDouble).toInt
      if (hd <= 0) throw new IllegalArgumentException(
        s"SUDAN: $fn() parameter 'hot_df' must be positive, got $hd.")
      plan(Dedup.setSimPairs(SparkSession.active, reqDir(fn, bound),
        threshold = t, hotDf = hd))
    }

    tvf("corpus_dedup_keep",
      "corpus_dedup_keep(dir[, threshold]) - Near-duplicate cluster " +
        "representatives: one kept doc_id per connected near-dup cluster.",
      "SELECT doc_id FROM corpus_dedup_keep('/data/c1');") { args =>
      val fn = "corpus_dedup_keep"
      val bound = bind(fn, args, Seq("dir", "threshold"), Set.empty)
      plan(Dedup.minHashKeep(SparkSession.active, reqDir(fn, bound),
        threshold = optNum(fn, bound, "threshold", 0.5)))
    }

    tvf("corpus_repeated_spans",
      "corpus_repeated_spans(dir[, k[, min_docs]]) - Maximal cross-" +
        "document repeated regions: stride-1 k-word windows shared by " +
        ">= min_docs distinct documents, merged into [start_word, " +
        "end_word) spans (substring dedup, Lee et al. 2021).",
      "SELECT * FROM corpus_repeated_spans('/data/c1', 8);") { args =>
      val fn = "corpus_repeated_spans"
      val bound = bind(fn, args, Seq("dir", "k", "min_docs"), Set.empty)
      plan(Dedup.repeatedSpans(SparkSession.active, reqDir(fn, bound),
        k = spanK(fn, bound), minDocs = spanMinDocs(fn, bound)))
    }

    tvf("corpus_span_excise",
      "corpus_span_excise(dir[, k[, min_docs]]) - Documents rewritten " +
        "with every cross-document repeated region removed (remove-" +
        "everywhere substring decontamination).",
      "SELECT doc_id, n_dropped_words FROM " +
        "corpus_span_excise('/data/c1');") { args =>
      val fn = "corpus_span_excise"
      val bound = bind(fn, args, Seq("dir", "k", "min_docs"), Set.empty)
      plan(Dedup.repeatedSpanExcise(SparkSession.active, reqDir(fn, bound),
        k = spanK(fn, bound), minDocs = spanMinDocs(fn, bound)))
    }

    tvf("corpus_span_guard",
      "corpus_span_guard(dir[, k]) - Admission-time substring guard " +
        "demo: regions of held-out documents (doc_id % 5 = 0) whose " +
        "k-gram windows already exist in the rest of the corpus, probed " +
        "against a bucket-partitioned gram index.",
      "SELECT * FROM corpus_span_guard('/data/c1');") { args =>
      val fn = "corpus_span_guard"
      val bound = bind(fn, args, Seq("dir", "k"), Set.empty)
      plan(Dedup.spanGuard(SparkSession.active, reqDir(fn, bound),
        k = spanK(fn, bound)))
    }

    tvf("corpus_keep_best",
      "corpus_keep_best(dir[, threshold]) - Quality-weighted dedup: keep " +
        "the LONGEST member of each near-dup cluster (tie -> min doc_id) " +
        "plus all singletons.",
      "SELECT doc_id FROM corpus_keep_best('/data/c1');") { args =>
      val fn = "corpus_keep_best"
      val bound = bind(fn, args, Seq("dir", "threshold"), Set.empty)
      plan(Dedup.clusterKeepBest(SparkSession.active, reqDir(fn, bound),
        threshold = optNum(fn, bound, "threshold", 0.5)))
    }

    tvf("corpus_soft_dedup",
      "corpus_soft_dedup(dir[, threshold]) - Soft dedup: every document " +
        "with sampling weight 1/cluster_size (singletons weigh 1).",
      "SELECT doc_id, sample_weight FROM corpus_soft_dedup('/data/c1');"
    ) { args =>
      val fn = "corpus_soft_dedup"
      val bound = bind(fn, args, Seq("dir", "threshold"), Set.empty)
      plan(Dedup.softDedupWeights(SparkSession.active, reqDir(fn, bound),
        threshold = optNum(fn, bound, "threshold", 0.5)))
    }

    tvf("corpus_mixture_schedule",
      "corpus_mixture_schedule(dir, sources, shares, budget[, epochs, " +
        "t_start, t_end]) - Temperature-annealed multi-epoch mixture " +
        "schedule (T interpolates t_start -> t_end; share ∝ " +
        "target^(1/T)).",
      "SELECT * FROM corpus_mixture_schedule('/data/c1', " +
        "array('web','code'), array(0.8, 0.2), 1000000, epochs => 3);"
    ) { args =>
      val fn = "corpus_mixture_schedule"
      val bound = bind(fn, args,
        Seq("dir", "sources", "shares", "budget", "epochs", "t_start",
          "t_end"), Set.empty)
      val sources = reqArg(fn, bound, "sources")(
        SudanTableFunctions.strSeq(fn, "sources", _))
      val shares = reqArg(fn, bound, "shares")(numSeq(fn, "shares", _))
      if (sources.length != shares.length)
        throw new IllegalArgumentException(
          s"SUDAN: $fn() 'sources' and 'shares' must have equal length " +
            s"(got ${sources.length} vs ${shares.length}).")
      if (sources.distinct.length != sources.length)
        throw new IllegalArgumentException(
          s"SUDAN: $fn() 'sources' contains duplicates (" +
            sources.diff(sources.distinct).distinct.mkString(", ") + ").")
      plan(Pipeline.mixtureSchedule(SparkSession.active, reqDir(fn, bound),
        sources.zip(shares).toMap,
        budgetPerEpoch = reqArg(fn, bound, "budget")(num(fn, "budget", _)
          .toLong),
        epochs = optNum(fn, bound, "epochs", 3).toInt,
        tStart = optNum(fn, bound, "t_start", 2.0),
        tEnd = optNum(fn, bound, "t_end", 1.0)))
    }

    tvf("corpus_pagerank",
      "corpus_pagerank(dir) - PageRank over the embedding k-NN graph " +
        "(build-once edge table; 10 power iterations).",
      "SELECT * FROM corpus_pagerank('/data/c1') ORDER BY pr DESC LIMIT 10;"
    )(dirOnly("corpus_pagerank")(
      (s, d) => GraphOps.knnPageRank(s, d)))

    tvf("corpus_decontaminate",
      "corpus_decontaminate(dir[, eval_max_id[, n]]) - Benchmark " +
        "decontamination: corpus docs sharing any word n-gram (default " +
        "8) with the eval set (docs below eval_max_id), with shared-gram " +
        "counts.",
      "SELECT * FROM corpus_decontaminate('/data/c1') ORDER BY " +
        "n_shared_grams DESC;") { args =>
      val fn = "corpus_decontaminate"
      val bound = bind(fn, args, Seq("dir", "eval_max_id", "n"), Set.empty)
      plan(TextOps.decontaminate(SparkSession.active, reqDir(fn, bound),
        benchmarkMaxId = optNum(fn, bound, "eval_max_id", 10).toLong,
        n = optNum(fn, bound, "n", 8).toInt))
    }

    tvf("corpus_eval_containment",
      "corpus_eval_containment(dir[, eval_max_id[, threshold]]) - " +
        "Winnowed-containment decontamination: corpus docs containing a " +
        "fraction >= threshold (default 0.2) of an eval doc's " +
        "fingerprints (partial quotation detector).",
      "SELECT * FROM corpus_eval_containment('/data/c1', 10, 0.5);"
    ) { args =>
      val fn = "corpus_eval_containment"
      val bound = bind(fn, args, Seq("dir", "eval_max_id", "threshold"),
        Set.empty)
      plan(TextOps.evalContainment(SparkSession.active, reqDir(fn, bound),
        evalMaxId = optNum(fn, bound, "eval_max_id", 10).toLong,
        minContainment = optNum(fn, bound, "threshold", 0.2)))
    }

    tvf("corpus_dataset_card",
      "corpus_dataset_card(dir) - The release dataset card: size, " +
        "provenance, duplication, token volume, length percentiles and " +
        "quality mix as (metric, value) rows, from one corpus pass.",
      "SELECT * FROM corpus_dataset_card('/data/c1');")(
      dirOnly("corpus_dataset_card")(Pipeline.datasetCard(_, _)))

    tvf("corpus_mixture_plan",
      "corpus_mixture_plan(dir, sources => array(...), shares => " +
        "array(...), budget => N[, max_epochs => E]) - Source-mixture " +
        "plan: per-source sampling weights for the target shares under " +
        "a token budget, epoch-capped with a capped flag.",
      "SELECT * FROM corpus_mixture_plan('/data/c1', sources => " +
        "array('a','b'), shares => array(0.7, 0.3), budget => 1000000);"
    ) { args =>
      val fn = "corpus_mixture_plan"
      val bound = bind(fn, args,
        Seq("dir", "sources", "shares", "budget", "max_epochs"), Set.empty)
      val sources = reqArg(fn, bound, "sources")(
        SudanTableFunctions.strSeq(fn, "sources", _))
      val shares = reqArg(fn, bound, "shares")(numSeq(fn, "shares", _))
      if (sources.length != shares.length)
        throw new IllegalArgumentException(
          s"SUDAN: $fn() 'sources' and 'shares' must have equal length " +
            s"(got ${sources.length} vs ${shares.length}).")
      // zip(...).toMap would silently keep the LAST share of a repeated
      // source — reject loudly like the binder's duplicate-arg rule
      if (sources.distinct.length != sources.length)
        throw new IllegalArgumentException(
          s"SUDAN: $fn() 'sources' contains duplicates (" +
            sources.diff(sources.distinct).distinct.mkString(", ") + ").")
      plan(Pipeline.mixturePlan(SparkSession.active, reqDir(fn, bound),
        sources.zip(shares).toMap,
        budgetTokens = reqArg(fn, bound, "budget")(num(fn, "budget", _)
          .toLong),
        maxEpochs = optNum(fn, bound, "max_epochs", 2.0)))
    }

    tvf("corpus_sketch_sources",
      "corpus_sketch_sources(dir[, k]) - Distinct-text estimate per " +
        "document source plus a __ALL__ row merged from the per-source " +
        "KMV sketch states (k-minimum-values, default k = 65536; exact " +
        "below k).",
      "SELECT * FROM corpus_sketch_sources('/data/c1');") { args =>
      val fn = "corpus_sketch_sources"
      val bound = bind(fn, args, Seq("dir", "k"), Set.empty)
      val k = optNum(fn, bound, "k", 65536).toInt
      if (k < 1) throw new IllegalArgumentException(
        s"SUDAN: $fn() parameter 'k' must be >= 1, got $k.")
      plan(graft.operators.SketchOps.sourceDistinctTexts(
        SparkSession.active, reqDir(fn, bound), k))
    }

    tvf("corpus_heavy_hitters",
      "corpus_heavy_hitters(dir[, k[, top]]) - Top sources across the " +
        "corpus from per-lang Misra-Gries heavy-hitter states, merged " +
        "row-level (default k = 64, top = 10; counts exact while " +
        "distinct sources < k, else MG N/(k+1) under-count bound).",
      "SELECT * FROM corpus_heavy_hitters('/data/c1', top => 5);") { args =>
      val fn = "corpus_heavy_hitters"
      val bound = bind(fn, args, Seq("dir", "k", "top"), Set.empty)
      val k = optNum(fn, bound, "k", 64).toInt
      if (k < 1) throw new IllegalArgumentException(
        s"SUDAN: $fn() parameter 'k' must be >= 1, got $k.")
      val top = optNum(fn, bound, "top", 10).toInt
      if (top < 1) throw new IllegalArgumentException(
        s"SUDAN: $fn() parameter 'top' must be >= 1, got $top.")
      plan(graft.operators.SketchOps.heavyHitterSources(
        SparkSession.active, reqDir(fn, bound), k, top))
    }

    tvf("corpus_sketch_snapshot_merge",
      "corpus_sketch_snapshot_merge(dir[, k]) - Combined-corpus distinct " +
        "estimates derived by merging two STORED snapshot sketch tables " +
        "(parquet) — the incremental-maintenance path: snapshot 1's raw " +
        "data is never rescanned.",
      "SELECT * FROM corpus_sketch_snapshot_merge('/data/c1');") { args =>
      val fn = "corpus_sketch_snapshot_merge"
      val bound = bind(fn, args, Seq("dir", "k"), Set.empty)
      val k = optNum(fn, bound, "k", 65536).toInt
      if (k < 1) throw new IllegalArgumentException(
        s"SUDAN: $fn() parameter 'k' must be >= 1, got $k.")
      plan(graft.operators.SketchOps.snapshotSketchMerge(
        SparkSession.active, reqDir(fn, bound), k))
    }

    tvf("corpus_sketch_delta",
      "corpus_sketch_delta(dir[, k]) - Snapshot delta report from two " +
        "STORED sketch tables: per-source (and __ALL__) distinct texts " +
        "in the previous snapshot, in the new shard, first seen in the " +
        "new shard (added), gone from it (removed), and present in " +
        "both (overlap) - no raw rescans; exact below k (default " +
        "k = 65536).",
      "SELECT * FROM corpus_sketch_delta('/data/c1');") { args =>
      val fn = "corpus_sketch_delta"
      val bound = bind(fn, args, Seq("dir", "k"), Set.empty)
      val k = optNum(fn, bound, "k", 65536).toInt
      if (k < 1) throw new IllegalArgumentException(
        s"SUDAN: $fn() parameter 'k' must be >= 1, got $k.")
      plan(graft.operators.SketchOps.snapshotDelta(
        SparkSession.active, reqDir(fn, bound), k))
    }

    tvf("corpus_quantile_drift",
      "corpus_quantile_drift(dir[, k[, threshold]]) - Distribution " +
        "drift between two STORED quantile sketch snapshots: per-source " +
        "(and __ALL__) previous/new median document length plus the " +
        "two-sample Kolmogorov-Smirnov statistic, zero raw rescans " +
        "(exact below k, default k = 65536, threshold = 0.5).",
      "SELECT * FROM corpus_quantile_drift('/data/c1') WHERE drifted;"
    ) { args =>
      val fn = "corpus_quantile_drift"
      val bound = bind(fn, args, Seq("dir", "k", "threshold"), Set.empty)
      val k = optNum(fn, bound, "k", 65536).toInt
      if (k < 1) throw new IllegalArgumentException(
        s"SUDAN: $fn() parameter 'k' must be >= 1, got $k.")
      val threshold = optNum(fn, bound, "threshold", 0.5)
      if (threshold <= 0.0 || threshold > 1.0)
        throw new IllegalArgumentException(
          s"SUDAN: $fn() parameter 'threshold' must be in (0, 1], " +
            s"got $threshold.")
      plan(graft.operators.SketchOps.quantileDrift(
        SparkSession.active, reqDir(fn, bound), k, threshold))
    }

    tvf("corpus_quantile_sources",
      "corpus_quantile_sources(dir[, k]) - Per-source document-length " +
        "quantiles (p25/p50/p75) plus a __ALL__ row merged from stored-" +
        "shape bottom-k quantile sketch states (exact below k, discrete-" +
        "quantile rule).",
      "SELECT * FROM corpus_quantile_sources('/data/c1');") { args =>
      val fn = "corpus_quantile_sources"
      val bound = bind(fn, args, Seq("dir", "k"), Set.empty)
      val k = optNum(fn, bound, "k", 65536).toInt
      if (k < 1) throw new IllegalArgumentException(
        s"SUDAN: $fn() parameter 'k' must be >= 1, got $k.")
      plan(graft.operators.SketchOps.sourceLengthQuantiles(
        SparkSession.active, reqDir(fn, bound), k))
    }

    tvf("corpus_sketch_rollup",
      "corpus_sketch_rollup(dir[, k]) - Distinct-text counts at every " +
        "level of the (source, lang) hierarchy, all derived from one " +
        "pass of leaf KMV sketch states (__ALL__ marks the rolled-up " +
        "position; exact below k).",
      "SELECT * FROM corpus_sketch_rollup('/data/c1');") { args =>
      val fn = "corpus_sketch_rollup"
      val bound = bind(fn, args, Seq("dir", "k"), Set.empty)
      val k = optNum(fn, bound, "k", 65536).toInt
      if (k < 1) throw new IllegalArgumentException(
        s"SUDAN: $fn() parameter 'k' must be >= 1, got $k.")
      plan(graft.operators.SketchOps.sourceLangDistinctRollup(
        SparkSession.active, reqDir(fn, bound), k))
    }

    tvf("corpus_range_estimate",
      "corpus_range_estimate(dir[, lo, hi, k]) - Fraction of documents " +
        "per source (plus __ALL__) with n_chars in [lo, hi] (defaults " +
        "200..400), read off stored quantile-sketch states (exact " +
        "below k).",
      "SELECT * FROM corpus_range_estimate('/data/c1', 100, 500);") { args =>
      val fn = "corpus_range_estimate"
      val bound = bind(fn, args, Seq("dir", "lo", "hi", "k"), Set.empty)
      val lo = optNum(fn, bound, "lo", 200.0)
      val hi = optNum(fn, bound, "hi", 400.0)
      val k = optNum(fn, bound, "k", 65536).toInt
      if (lo > hi) throw new IllegalArgumentException(
        s"SUDAN: $fn() requires lo <= hi, got [$lo, $hi].")
      if (k < 1) throw new IllegalArgumentException(
        s"SUDAN: $fn() parameter 'k' must be >= 1, got $k.")
      plan(graft.operators.SketchOps.sourceLengthSelectivity(
        SparkSession.active, reqDir(fn, bound), lo, hi, k))
    }

    tvf("corpus_join_estimate",
      "corpus_join_estimate(dir[, k]) - Pre-flight size estimate of the " +
        "orders JOIN customer equi-join from two per-side KMV key " +
        "sketches: row counts, distinct-key estimates, key overlap and " +
        "the estimated join cardinality (exact below k).",
      "SELECT * FROM corpus_join_estimate('/data/c1');") { args =>
      val fn = "corpus_join_estimate"
      val bound = bind(fn, args, Seq("dir", "k"), Set.empty)
      val k = optNum(fn, bound, "k", 65536).toInt
      if (k < 1) throw new IllegalArgumentException(
        s"SUDAN: $fn() parameter 'k' must be >= 1, got $k.")
      plan(graft.operators.SketchOps.ordersCustomerJoinEstimate(
        SparkSession.active, reqDir(fn, bound), k))
    }

    tvf("corpus_scd2",
      "corpus_scd2(dir) - SCD2 validity-interval history of the " +
        "deterministic v1 -> v2 corpus evolution (doc_id, text_md5, " +
        "valid_from, valid_to, is_current); the as-of-v slice " +
        "reproduces snapshot v exactly.",
      "SELECT * FROM corpus_scd2('/data/c1') WHERE is_current;")(
      dirOnly("corpus_scd2")(Pipeline.scd2Demo))

    tvf("corpus_apply_changes",
      "corpus_apply_changes(dir) - MERGE-INTO semantics without a table " +
        "format: the next corpus snapshot after applying the " +
        "deterministic CDC change batch (I/U/D) — map-side anti-join " +
        "plus union, the snapshot is never shuffled.",
      "SELECT count(*) FROM corpus_apply_changes('/data/c1');")(
      dirOnly("corpus_apply_changes")(Pipeline.cdcMergeDemo))

    tvf("corpus_token_windows",
      "corpus_token_windows(dir[, window_tokens]) - Cross-document " +
        "fixed-width token-window manifest (concat-and-cut packing): " +
        "per md5-shard window ids with doc span and token counts, " +
        "default window 2048 tokens.",
      "SELECT * FROM corpus_token_windows('/data/c1', 4096);") { args =>
      val fn = "corpus_token_windows"
      val bound = bind(fn, args, Seq("dir", "window_tokens"), Set.empty)
      val w = optNum(fn, bound, "window_tokens", 2048).toLong
      if (w < 1) throw new IllegalArgumentException(
        s"SUDAN: $fn() parameter 'window_tokens' must be >= 1, got $w.")
      plan(Pipeline.tokenWindows(SparkSession.active, reqDir(fn, bound),
        windowTokens = w))
    }

    tvf("corpus_expectations",
      "corpus_expectations(dir) - The data-quality expectations gate: " +
        "named checks (key uniqueness, null fractions, length " +
        "consistency and bounds) with observed values and pass/fail, " +
        "from one corpus pass.",
      "SELECT * FROM corpus_expectations('/data/c1') WHERE NOT passed;")(
      dirOnly("corpus_expectations")(Pipeline.expectations))

    tvf("corpus_priority_totals",
      "corpus_priority_totals(dir[, n]) - Per-source total characters " +
        "plus a __ALL__ row merged from stored-shape priority-sample " +
        "states (Duffield-Lund-Thorup subset-sum sketch, default " +
        "n = 65536; exact below n).",
      "SELECT * FROM corpus_priority_totals('/data/c1');") { args =>
      val fn = "corpus_priority_totals"
      val bound = bind(fn, args, Seq("dir", "n"), Set.empty)
      val n = optNum(fn, bound, "n", 65536).toInt
      if (n < 1) throw new IllegalArgumentException(
        s"SUDAN: $fn() parameter 'n' must be >= 1, got $n.")
      plan(graft.operators.SketchOps.sourceCharTotals(
        SparkSession.active, reqDir(fn, bound), n))
    }

    tvf("corpus_bloom_guard",
      "corpus_bloom_guard(dir[, nbits, nhashes]) - Admit documents " +
        "against the bloom'd blocklist (doc_id % 7 = 0 holdout): " +
        "map-side codegen'd bloom probe, exact confirm join on the " +
        "flagged sliver only — exact output, no false negatives.",
      "SELECT * FROM corpus_bloom_guard('/data/c1');") { args =>
      val fn = "corpus_bloom_guard"
      val bound = bind(fn, args, Seq("dir", "nbits", "nhashes"), Set.empty)
      val nBits = optNum(fn, bound, "nbits", 65536).toInt
      val nh = optNum(fn, bound, "nhashes", 4).toInt
      if (nBits < 64 || (nBits & (nBits - 1)) != 0)
        throw new IllegalArgumentException(
          s"SUDAN: $fn() parameter 'nbits' must be a power of two " +
            s">= 64, got $nBits.")
      if (nh < 1 || nh > 16) throw new IllegalArgumentException(
        s"SUDAN: $fn() parameter 'nhashes' must be in [1, 16], got $nh.")
      plan(graft.operators.SketchOps.bloomBlocklistAdmit(
        SparkSession.active, reqDir(fn, bound), nBits, nh))
    }

    tvf("corpus_ann_probe",
      "corpus_ann_probe(dir, query_id[, k]) - Top-k approximate nearest " +
        "neighbours of embedding `query_id` via the build-once IVF-PQ " +
        "index (pruned probe, ADC shortlist, exact re-rank).",
      "SELECT * FROM corpus_ann_probe('/data/c1', 42, k => 5);") { args =>
      val fn = "corpus_ann_probe"
      val bound = bind(fn, args, Seq("dir", "query_id", "k"), Set.empty)
      val qid = reqArg(fn, bound, "query_id")(num(fn, "query_id", _).toLong)
      plan(Pq.topKIvfPq(SparkSession.active, reqDir(fn, bound), qid,
        kNn = optNum(fn, bound, "k", 10).toInt))
    }

    tvf("corpus_kanon",
      "corpus_kanon(dir[, k[, l]]) - k-anonymous release of the events " +
        "table: hour -> day -> suppress generalization ladder (every " +
        "released cell covers >= k distinct users, default 5) with an " +
        "l-diversity audit column (default l = 3).",
      "SELECT * FROM corpus_kanon('/data/c1', 10) WHERE l_ok;") { args =>
      val fn = "corpus_kanon"
      val bound = bind(fn, args, Seq("dir", "k", "l"), Set.empty)
      val k = optNum(fn, bound, "k", 5).toInt
      val l = optNum(fn, bound, "l", 3).toInt
      if (k < 1) throw new IllegalArgumentException(
        s"SUDAN: $fn() parameter 'k' must be >= 1, got $k.")
      if (l < 1) throw new IllegalArgumentException(
        s"SUDAN: $fn() parameter 'l' must be >= 1, got $l.")
      plan(graft.operators.Privacy.kAnonymize(
        SparkSession.active, reqDir(fn, bound), k = k, l = l))
    }

    tvf("corpus_asof_purchase",
      "corpus_asof_purchase(dir) - Each event enriched with the user's " +
        "most recent purchase (value + time) as of the event's " +
        "timestamp, executed by the physical sort-merge as-of join " +
        "(AsOfJoinExec).",
      "SELECT * FROM corpus_asof_purchase('/data/c1') " +
        "WHERE purchase_value > 100;")(
      dirOnly("corpus_asof_purchase")(
        graft.operators.AsOf.eventsAsOfLastPurchaseExec))

    tvf("corpus_asof_rates",
      "corpus_asof_rates(dir) - Each event enriched with the day-grain " +
        "max purchase rate as of its timestamp (keyless global-timeline " +
        "as-of through the broadcast operator; the batch twin of the " +
        "stream-static enrichment).",
      "SELECT * FROM corpus_asof_rates('/data/c1') WHERE day_rate > 50;")(
      dirOnly("corpus_asof_rates")((s, d) =>
        graft.streaming.EventStream.asOfDailyRateBatch(
          graft.operators.Relational.events(s, d))))

    tvf("corpus_asof_bucketed",
      "corpus_asof_bucketed(dir) - The corpus_asof_purchase workload " +
        "through the ts-range-split as-of join (asOfJoinBucketed, " +
        "one-hour buckets): hot keys parallelize across their time " +
        "span instead of one straggler task - same rows, skew-safe " +
        "plan for huge right sides.",
      "SELECT * FROM corpus_asof_bucketed('/data/c1') " +
        "WHERE purchase_value > 100;")(
      dirOnly("corpus_asof_bucketed")(
        graft.operators.AsOf.eventsAsOfLastPurchaseBucketed))

    tvf("corpus_asof_salted",
      "corpus_asof_salted(dir) - The corpus_asof_purchase workload " +
        "through the salted as-of join (asOfJoinSalted, 8 salts keyed " +
        "by event_id): a hot user's events spread over the salt " +
        "buckets while the right side replicates - same rows, the " +
        "skew path for a right side too large to broadcast but far " +
        "smaller than the left.",
      "SELECT * FROM corpus_asof_salted('/data/c1') " +
        "WHERE purchase_value > 100;")(
      dirOnly("corpus_asof_salted")(
        graft.operators.AsOf.eventsAsOfLastPurchaseSalted))

    tvf("corpus_asof_auto",
      "corpus_asof_auto(dir) - The corpus_asof_purchase workload " +
        "through the measured as-of router (asOfJoinAuto): a sampled " +
        "pre-flight probe of the key histogram picks broadcast / " +
        "sort-merge / salted / ts-range-split and sizes " +
        "salts/bucketWidth - same rows on every path.",
      "SELECT * FROM corpus_asof_auto('/data/c1') " +
        "WHERE purchase_value > 100;")(
      dirOnly("corpus_asof_auto")(
        graft.operators.AsOf.eventsAsOfLastPurchaseAuto))

    tvf("corpus_bpe_merges",
      "corpus_bpe_merges(dir[, n]) - Learned BPE merge table (rank, " +
        "left, right, pair_freq) over the corpus word dictionary " +
        "(default 20 merges).",
      "SELECT * FROM corpus_bpe_merges('/data/c1', 30);") { args =>
      val fn = "corpus_bpe_merges"
      val bound = bind(fn, args, Seq("dir", "n"), Set.empty)
      val n = optNum(fn, bound, "n", 20).toInt
      if (n < 1) throw new IllegalArgumentException(
        s"SUDAN: $fn() parameter 'n' must be >= 1, got $n.")
      plan(TextOps.learnBpeMerges(SparkSession.active,
        reqDir(fn, bound), numMerges = n))
    }

    tvf("corpus_bpe_tokens",
      "corpus_bpe_tokens(dir[, n]) - Corpus token-frequency table " +
        "under the learned BPE tokenizer (default 20 merges).",
      "SELECT * FROM corpus_bpe_tokens('/data/c1');") { args =>
      val fn = "corpus_bpe_tokens"
      val bound = bind(fn, args, Seq("dir", "n"), Set.empty)
      val n = optNum(fn, bound, "n", 20).toInt
      if (n < 1) throw new IllegalArgumentException(
        s"SUDAN: $fn() parameter 'n' must be >= 1, got $n.")
      plan(TextOps.bpeTokenize(SparkSession.active,
        reqDir(fn, bound), numMerges = n))
    }

    tvf("corpus_unigram_vocab",
      "corpus_unigram_vocab(dir[, vocab_size]) - Unigram-LM " +
        "(SentencePiece-style) subword vocabulary: final-EM piece use " +
        "counts (default vocab 40, top 20 rows).",
      "SELECT * FROM corpus_unigram_vocab('/data/c1');") { args =>
      val fn = "corpus_unigram_vocab"
      val bound = bind(fn, args, Seq("dir", "vocab_size"), Set.empty)
      val v = optNum(fn, bound, "vocab_size", 40).toInt
      if (v < 1) throw new IllegalArgumentException(
        s"SUDAN: $fn() parameter 'vocab_size' must be >= 1, got $v.")
      plan(graft.operators.UnigramLm.learnVocab(SparkSession.active,
        reqDir(fn, bound), vocabSize = v))
    }

    tvf("corpus_unigram_tokens",
      "corpus_unigram_tokens(dir[, vocab_size]) - Corpus piece-" +
        "frequency table under the learned unigram-LM vocabulary.",
      "SELECT * FROM corpus_unigram_tokens('/data/c1');") { args =>
      val fn = "corpus_unigram_tokens"
      val bound = bind(fn, args, Seq("dir", "vocab_size"), Set.empty)
      val v = optNum(fn, bound, "vocab_size", 40).toInt
      if (v < 1) throw new IllegalArgumentException(
        s"SUDAN: $fn() parameter 'vocab_size' must be >= 1, got $v.")
      plan(graft.operators.UnigramLm.tokenize(SparkSession.active,
        reqDir(fn, bound), vocabSize = v))
    }

    tvf("corpus_noisy_hist",
      "corpus_noisy_hist(dir) - Noisy per-(event_type, day) histogram " +
        "release: counts perturbed by keyed integer noise in [-10, 10] " +
        "and clamped at zero (reproducible stand-in for Laplace; see " +
        "Privacy.noisyHistogram).",
      "SELECT * FROM corpus_noisy_hist('/data/c1');")(
      dirOnly("corpus_noisy_hist")(
        graft.operators.Privacy.noisyHistogram))

    out.result()
  }
}

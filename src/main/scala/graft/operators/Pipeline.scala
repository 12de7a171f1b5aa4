package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** End-to-end corpus cleaning — the composite a pretraining pipeline
  * actually runs, as ONE declarative plan (each stage is its own operator
  * elsewhere in this package; this is their composition):
  *
  *   1. exact dedup     keep the min-doc_id copy of byte-identical texts
  *                      ([[Dedup.exactKeep]] semantics, semi-join)
  *   2. near dedup      drop the higher-id side of every MinHash-LSH
  *                      near-dup pair ([[Dedup.minHashPairs]], anti-join)
  *   3. quality filter  drop documents under `minWords` whitespace words
  *   4. accounting      emit per-doc word + approximate BPE token counts
  *
  * Scale: stages 1-2 are the bucketed-join dedups (never all-pairs, hot
  * buckets capped); 3-4 are narrow column arithmetic fused into the scans.
  * Catalyst plans the whole chain together, so column pruning reaches
  * every branch. Stage 2 scans the build-once MinHash pair table
  * ([[Dedup.materializePairs]]), which is built when the operator is
  * called; the other stages stay lazy.
  */
object Pipeline {

  /** Deterministic train/val/test assignment by content-free hash: split
    * on the first hex digit of md5(doc_id ++ salt) — 16 equiprobable
    * buckets, mapped 13/2/1 to train/val/test. Reproducible across runs,
    * engines, and cluster layouts (no RNG, no partition dependence — the
    * properties `sample()` does NOT give you), stable under corpus
    * append, and a narrow codegen'd map: the split of a 100 TB corpus is
    * a free column, not a job. */
  def trainValSplit(spark: SparkSession, dir: String,
      salt: String = "graft-v1"): DataFrame = {
    val bucket = substring(
      md5(concat(col("doc_id").cast("string"), lit(salt))), 1, 1)
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), bucket.as("bucket"),
        when(bucket.isin("0", "1"), "val")
          .when(bucket === "2", "test")
          .otherwise("train").as("split"))
  }

  /** Leakage-free train/val/test split: assign the hash bucket to the
    * near-dup CLUSTER, not the document — every member of a transitive
    * near-dup component lands in the same split, so a val/test document
    * can never have a near-duplicate in train. Per-doc splitting (the
    * plain [[trainValSplit]]) leaks: with ~3/16 of docs in val+test, a
    * near-dup pair split across train and eval is ~expected for EVERY
    * cluster — the classic silent eval-inflation bug in pretraining
    * pipelines. Composition: cluster labels come from the build-once
    * assignment table ([[Dedup.materializeClusters]] — CC runs once per
    * corpus, not per consumer); singletons (docs with no near-dup) keep
    * their own id as the cluster key, so their assignment is IDENTICAL
    * to [[trainValSplit]]'s and the whole operator reduces to it on a
    * dedup-free corpus. One left join against the (small) label table +
    * the same narrow md5 gate — split of a 100 TB corpus stays a column,
    * not a job. */
  def leakFreeSplit(spark: SparkSession, dir: String,
      salt: String = "graft-v1"): DataFrame = {
    val labels =
      ParquetInput.read(spark, Dedup.materializeClusters(spark, dir))
        .select(col("doc_id"), col("cluster_id"))
    val bucket = substring(
      md5(concat(col("cluster_id").cast("string"), lit(salt))), 1, 1)
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"))
      .join(labels, Seq("doc_id"), "left")
      .withColumn("cluster_id", coalesce(col("cluster_id"), col("doc_id")))
      .select(col("doc_id"), col("lang"), col("cluster_id"),
        bucket.as("bucket"),
        when(bucket.isin("0", "1"), "val")
          .when(bucket === "2", "test")
          .otherwise("train").as("split"))
  }

  /** DSIR-style importance weights for data selection (Xie et al. 2023,
    * "Data Selection for Language Models via Importance Resampling"):
    * score every document by the log-likelihood ratio of a TARGET-domain
    * bag-of-hashed-n-grams model vs the RAW-corpus model,
    *
    *   weight(doc) = Σ_feat ln( p̂_target(bucket(feat)) / p̂_raw(bucket(feat)) )
    *
    * over the doc's unigram + bigram features. Feature hashing is the
    * scale trick that makes the two models FIXED-SIZE regardless of
    * vocabulary: here bucket(feat) = the first 3 hex chars of md5(feat)
    * — 4096 string-keyed cells both engines derive byte-identically (the
    * same engine-portable-hash idiom as [[stratifiedSample]]; a string
    * bucket key needs no hex→int conversion for DuckDB to disagree on).
    * Both models are add-one smoothed over the 4096 cells, so unseen
    * buckets score finite.
    *
    * Scale shape: the feature stream is a narrow array transform +
    * explode; BOTH count tables are ≤4096 rows by construction — they
    * BROADCAST, so the 100 TB feature stream never shuffles on the
    * feature key; the only wide exchange is the per-doc aggregation on
    * doc_id. The target sample would in practice be a separate small
    * corpus; the `targetLang` stratum stands in for it here (same plan
    * shape: the target side is small by nature, like decontaminate's
    * benchmark side). */
  def dsirWeights(spark: SparkSession, dir: String,
      targetLang: String = "en"): DataFrame = {
    val B = 4096.0
    val w = filter(split(col("text"), "\\s+"), x => length(x) > 0)
    val feats = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), w.as("ws"))
      .select(col("doc_id"), col("lang"),
        explode(concat(col("ws"),
          when(size(col("ws")) >= 2,
            transform(sequence(lit(1), size(col("ws")) - 1), i =>
              concat_ws(" ", slice(col("ws"), i, lit(2)))))
            .otherwise(array().cast("array<string>")))).as("feat"))
      .select(col("doc_id"), col("lang"),
        substring(md5(col("feat")), 1, 3).as("b"))
    val tc = feats.filter(col("lang") === targetLang)
      .groupBy("b").agg(count(lit(1)).as("tc"))
    val rc = feats.groupBy("b").agg(count(lit(1)).as("rc"))
    val tt = feats.filter(col("lang") === targetLang)
      .agg(count(lit(1)).cast("double").as("tn"))
    val rt = feats.agg(count(lit(1)).cast("double").as("rn"))
    val scored = feats
      .join(broadcast(tc), Seq("b"), "left")
      .join(broadcast(rc), Seq("b"))
      .crossJoin(broadcast(tt)).crossJoin(broadcast(rt))
      .select(col("doc_id"),
        log(((coalesce(col("tc"), lit(0L)).cast("double") + 1.0) /
          (col("tn") + B)) /
          ((col("rc").cast("double") + 1.0) / (col("rn") + B))).as("llr"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_feats"),
        round(sum("llr"), 4).as("dsir_weight"),
        round(avg("llr"), 4).as("avg_llr"))
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"))
      .join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"), col("lang"),
        coalesce(col("n_feats"), lit(0L)).as("n_feats"),
        col("dsir_weight"), col("avg_llr"))
  }

  /** Token-budget mixture planner — temperature sampling with an epoch
    * cap, the pretraining data-mixing arithmetic: given a total token
    * budget, assign each source a mixing weight p_s ∝ tokens_s^alpha
    * (alpha < 1 upweights small sources — the multilingual temperature
    * rule), allocate budget·p_s tokens, cap any source at `maxEpochs`
    * passes over its data (over-repeating a small source memorizes it),
    * and redistribute the capped surplus over the uncapped sources in
    * ONE proportional round (documented fixpoint-free simplification:
    * a re-capped redistribution would iterate; production planners run
    * the handful of rounds on the driver — the per-source table is
    * mixture-sized, never corpus-sized).
    *
    * Scale shape: ONE partial-agg shuffle on `source` builds the token
    * census; everything after is arithmetic on a mixture-cardinality
    * frame with two broadcast 1-row totals. Planning a 100 TB mix costs
    * one scan. */
  def tokenBudget(spark: SparkSession, dir: String,
      budget: Long = 110000L, alpha: Double = 0.5,
      maxEpochs: Double = 3.0): DataFrame = {
    val per = Tables.documents(spark, dir)
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(ceil(length(col("text")).cast("double") / lit(4.0))
          .cast("long")).as("tokens"))
    val t1 = per.agg(
      sum(pow(col("tokens").cast("double"), alpha)).as("psum"))
    val j = per.crossJoin(broadcast(t1))
      .withColumn("p", pow(col("tokens").cast("double"), alpha) / col("psum"))
      .withColumn("alloc0", lit(budget.toDouble) * col("p"))
      .withColumn("cap", lit(maxEpochs) * col("tokens").cast("double"))
      .withColumn("capped", col("alloc0") > col("cap"))
      .withColumn("base", least(col("alloc0"), col("cap")))
    val t2 = j.agg(sum("base").as("bsum"),
      sum(when(col("capped"), lit(0.0)).otherwise(col("p"))).as("pun"))
    j.crossJoin(broadcast(t2))
      .withColumn("alloc", col("base") +
        when(col("capped"), lit(0.0))
          .otherwise((lit(budget.toDouble) - col("bsum")) *
            col("p") / col("pun")))
      .select(col("source"), col("n_docs"), col("tokens"),
        round(col("p"), 6).as("mix_weight"), col("capped"),
        round(col("alloc"), 2).as("alloc_tokens"),
        round(col("alloc") / col("tokens").cast("double"), 4).as("epochs"))
  }

  /** Per-epoch temperature-annealed shares — the exact driver-side math
    * [[mixtureSchedule]] emits and its oracle re-derives from the SAME
    * call (the [[hexThreshold]] shared-constant pattern): epoch e of E
    * interpolates T linearly from `tStart` to `tEnd`, and share_e(s) ∝
    * target(s)^(1/T_e), normalized in sorted-key order (deterministic
    * summation, same discipline as [[mixturePlan]]). T > 1 flattens the
    * mix toward uniform (the multilingual temperature-sampling trick);
    * T = 1 is the targets themselves — so the default 2.0 → 1.0 anneal
    * starts diverse and finishes on the true mix, the standard
    * curriculum for a data schedule. */
  private[graft] def annealedShares(targets: Map[String, Double],
      epochs: Int, tStart: Double, tEnd: Double)
      : Seq[(Int, String, Double, Double)] = {
    require(targets.nonEmpty && targets.values.forall(_ > 0.0),
      "targets must be non-empty and positive (pow(0, 1/T) degenerates)")
    require(epochs > 0, "epochs must be > 0")
    require(tStart > 0.0 && tEnd > 0.0, "temperatures must be > 0")
    val sorted = targets.toSeq.sortBy(_._1)
    (0 until epochs).flatMap { e =>
      val t = if (epochs == 1) tStart
        else tStart + (tEnd - tStart) * e / (epochs - 1).toDouble
      val powed = sorted.map { case (s, w) => (s, math.pow(w, 1.0 / t)) }
      val z = powed.map(_._2).sum
      powed.map { case (s, p) => (e, s, t, p / z) }
    }
  }

  /** Multi-epoch training-data schedule: one row per (epoch, source)
    * with the temperature-annealed share, the token plan against a
    * per-epoch budget, and how many passes over the source that plan
    * implies. Extends [[mixturePlan]] (one static mix) to the schedule
    * an actual run consumes — early epochs sample flat (high T, small
    * sources upweighted), late epochs converge on the target mix.
    *
    * Scale shape: the ONLY corpus-sized work is the same one map-side-
    * combined `avail` aggregation mixturePlan runs (output = #sources
    * rows); the epochs × sources spine is a driver-built literal frame
    * joined onto it — at 100 TB the join is two tiny sides regardless
    * of corpus size. `epochs_of_source` > 1 is the oversampling alarm
    * (the epoch plan wants more tokens than the source has). */
  def mixtureSchedule(spark: SparkSession, dir: String,
      targets: Map[String, Double], budgetPerEpoch: Long,
      epochs: Int = 3, tStart: Double = 2.0, tEnd: Double = 1.0)
      : DataFrame = {
    require(budgetPerEpoch > 0, "budget must be > 0")
    import spark.implicits._
    val spine = annealedShares(targets, epochs, tStart, tEnd)
      .toDF("epoch", "source", "temperature", "share")
    val tokens = ceil(length(col("text")).cast("double") / lit(4.0))
      .cast("long")
    val avail = Tables.documents(spark, dir)
      .groupBy("source").agg(sum(tokens).as("avail_tokens"))
    spine.join(avail, Seq("source"), "left")
      .na.fill(0L, Seq("avail_tokens"))
      .select(col("epoch"), col("source"),
        round(col("temperature"), 4).as("temperature"),
        round(col("share"), 6).as("target_share"),
        col("avail_tokens"),
        round(col("share") * lit(budgetPerEpoch.toDouble), 2)
          .as("planned_tokens"),
        when(col("avail_tokens") === 0, lit(null))
          .otherwise(round(col("share") * lit(budgetPerEpoch.toDouble) /
            col("avail_tokens").cast("double"), 4))
          .as("epochs_of_source"))
  }

  /** Floor(rate * 16^width) rendered as a zero-padded lowercase hex
    * literal: fixed-width lowercase hex compares lexicographically in
    * numeric order ('0'<'9'<'a'<'f' in ASCII), so `hex_prefix < threshold`
    * is a pure STRING comparison any engine evaluates identically — no
    * hex-to-int conversion to disagree on. */
  private[graft] def hexThreshold(rate: Double, width: Int = 4): String = {
    val cells = 1L << (4 * width)
    val t = math.min(cells, math.max(0L, math.floor(rate * cells).toLong))
    // rate 1.0 → "g": lexicographically above every hex digit, keeps all
    if (t == cells) "g" else s"%0${width}x".format(t)
  }

  /** Deterministic stratified downsampling: keep a document iff the first
    * 4 hex digits of md5(doc_id ++ salt) fall under its stratum's rate
    * threshold (≈rate of 65536 equiprobable cells). The per-language rate
    * map is how a pretraining mix is rebalanced (downsample the dominant
    * language, keep the tail); hash gating makes the sample reproducible
    * across runs/engines/partitionings and stable under corpus append —
    * none of which `DataFrame.sample` guarantees. Narrow codegen'd
    * filter: sampling 100 TB is a scan predicate, not a job. */
  def stratifiedSample(spark: SparkSession, dir: String,
      rates: Map[String, Double], defaultRate: Double = 1.0,
      salt: String = "graft-sample-v1"): DataFrame = {
    val cell = substring(
      md5(concat(col("doc_id").cast("string"), lit(salt))), 1, 4)
    val threshold = rates.foldLeft(lit(hexThreshold(defaultRate))) {
      case (acc, (lang, r)) =>
        when(col("lang") === lang, lit(hexThreshold(r))).otherwise(acc)
    }
    Tables.documents(spark, dir)
      .filter(cell < threshold)
  }

  /** Per-source corpus report: the provenance-mix dashboard of a corpus
    * build — document counts, language spread, size and token totals, and
    * the exact-duplicate rate, per `source`. One partial-agg shuffle on a
    * low-cardinality key; the distinct-text count rides the same shuffle
    * as a count-distinct over md5 (exact — at 100 TB swap for the KMV
    * sketch in `graft.functions.KmvSketch` if sources are many and texts
    * long). */
  def sourceReport(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct(col("lang")).as("n_langs"),
        countDistinct(md5(col("text"))).as("n_distinct_texts"),
        round(avg(length(col("text"))), 2).as("avg_chars"),
        sum(ceil(length(col("text")).cast("double") / lit(4.0)).cast("long"))
          .as("approx_bpe_tokens"),
        round(lit(1.0) - countDistinct(md5(col("text"))).cast("double") /
          count(lit(1)).cast("double"), 4).as("dup_ratio"))

  /** Split documents into overlapping fixed-size character chunks — the
    * context-window preparation step of a training pipeline. Start
    * offsets are an arithmetic sequence (step = chunk − overlap), so
    * chunk_id is derivable from the offset — no ordinality needed, and
    * the whole operator is one `explode` of a generated sequence +
    * `substring`: a narrow codegen map whose output size is
    * Σ ceil(len/step), no shuffle at all. */
  def chunkDocuments(spark: SparkSession, dir: String,
      chunkChars: Int = 200, overlap: Int = 50): DataFrame = {
    require(overlap >= 0 && overlap < chunkChars, "0 <= overlap < chunkChars")
    val step = chunkChars - overlap
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"),
        explode(sequence(lit(1),
          greatest(length(col("text")) - overlap, lit(1)), lit(step)))
          .as("start_pos"))
      .select(col("doc_id"),
        // offsets are exact multiples of step, so the double division is
        // integral and the cast is lossless
        ((col("start_pos") - 1) / step).cast("long").as("chunk_id"),
        col("start_pos").cast("long").as("start_pos"),
        col("text").substr(col("start_pos"), lit(chunkChars))
          .as("chunk_text"))
      .withColumn("chunk_chars", length(col("chunk_text")).cast("long"))
  }

  /** Greedy contiguous sequence packing: assign documents (in doc_id
    * order, per (lang, shard)) to fixed-capacity training packs by
    * prefix token count — pack_id = floor(tokens-before-this-doc /
    * capacity), the standard "fill until the boundary, overflow starts
    * the next pack" approximation (a straddling document belongs to the
    * pack it STARTS in, so packs can exceed capacity by at most one
    * document). Deterministic: the order key (doc_id) is unique and the
    * shard is a content-free md5 hex prefix of doc_id (same hash-gate
    * idiom as [[trainValSplit]] — reproducible across runs, engines,
    * and cluster layouts). A pack is identified by (lang, shard,
    * pack_id); each shard fills its packs independently.
    *
    * Scale: the running-sum window is keyed (lang, shard), so a
    * dominant language fans out over 16^`shardHexDigits` parallel
    * window partitions instead of serializing through one task. At
    * 100 TB raise `shardHexDigits` to 3-4 (4096-65536 shards); per-pack
    * capacity semantics are unchanged because packs never cross shards.
    * `shardHexDigits = 0` degenerates to one shard per language (the
    * strict global-prefix rule) for corpora small enough to serialize. */
  def packSequences(spark: SparkSession, dir: String,
      capacityTokens: Long = 2048L, shardHexDigits: Int = 1,
      salt: String = "graft-pack-v1"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(shardHexDigits >= 0 && shardHexDigits <= 8,
      "0 <= shardHexDigits <= 8")
    val tokens = ceil(length(col("text")).cast("double") / lit(4.0))
      .cast("long")
    val shard = substring(
      md5(concat(col("doc_id").cast("string"), lit(salt))),
      1, shardHexDigits)
    val w = Window.partitionBy("lang", "shard").orderBy("doc_id")
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), shard.as("shard"),
        tokens.as("n_tokens"))
      .withColumn("pack_id",
        floor(((sum(col("n_tokens")).over(w) - col("n_tokens")) /
          lit(capacityTokens.toDouble))).cast("long"))
  }

  /** Fixed-size token WINDOWS across document boundaries — the actual
    * pretraining batch-prep shape ([[packSequences]] bins whole docs
    * into capacity packs; trainers consume CONCATENATED token streams
    * cut into exact `windowTokens` windows, docs spanning cuts): per
    * md5-prefix shard, documents concatenate in deterministic doc_id
    * order and the stream splits at every `windowTokens` boundary. One
    * row per (shard, window): how many docs touch it, the tokens it
    * holds (= windowTokens except each shard's tail), and its
    * first/last doc — the manifest a loader uses to seek.
    *
    * Plan shape: one per-shard cumulative-sum window (the pack shuffle)
    * → each doc explodes into its ⌈tokens/W⌉+1 covered windows (narrow,
    * bounded) → one keyed agg on (shard, window). Nothing global; a
    * shard's stream order is its doc_id order, so the manifest is
    * reproducible across runs, engines, and partitionings. Tokens =
    * ceil(chars/4), the corpus-wide estimate convention. */
  def tokenWindows(spark: SparkSession, dir: String,
      windowTokens: Long = 2048L, shardHexDigits: Int = 1,
      salt: String = "graft-pack-v1"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(windowTokens > 0, "windowTokens must be positive")
    require(shardHexDigits >= 0 && shardHexDigits <= 8,
      "0 <= shardHexDigits <= 8")
    val tokens = ceil(length(col("text")).cast("double") / lit(4.0))
      .cast("long")
    val shard = substring(
      md5(concat(col("doc_id").cast("string"), lit(salt))),
      1, shardHexDigits)
    val w = Window.partitionBy("shard").orderBy("doc_id")
    val withOff = Tables.documents(spark, dir)
      .select(col("doc_id"), shard.as("shard"), tokens.as("n_tokens"))
      // zero-token docs occupy no window (and would otherwise turn the
      // covered-window sequence() descending — engine-divergent)
      .filter(col("n_tokens") > 0)
      .withColumn("off", sum(col("n_tokens")).over(w) - col("n_tokens"))
    val W = lit(windowTokens)
    withOff
      .withColumn("window_id", explode(sequence(
        floor(col("off") / W).cast("long"),
        floor((col("off") + col("n_tokens") - 1) / W).cast("long"))))
      .withColumn("win_tokens",
        least((col("window_id") + 1) * W, col("off") + col("n_tokens")) -
          greatest(col("window_id") * W, col("off")))
      .groupBy(col("shard"), col("window_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("win_tokens")).as("n_tokens"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"))
  }

  /** Data-quality EXPECTATIONS report — the contract gate a corpus
    * drop runs before anything downstream trusts it (the
    * Great-Expectations pattern as one Spark aggregate): each row is a
    * named check with its observed value and pass/fail against a fixed
    * threshold. Checks cover key integrity (doc_id uniqueness),
    * completeness (null fractions), consistency (n_chars ≡
    * length(text)), and domain sanity (length bounds, nonempty
    * lang/source). ONE corpus pass: every observation folds into a
    * single map-side-combined aggregate row, then `stack` unpivots —
    * the dataset-card economics applied to validation. A failed row is
    * the signal to quarantine the drop, not a crash: the report always
    * materializes (monitoring reads it), callers decide policy. */
  def expectations(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    val n = count(lit(1)).cast("double")
    val agg = d.agg(
      n.as("n_rows"),
      (n - countDistinct(col("doc_id")).cast("double")).as("dup_ids"),
      avg(col("text").isNotNull.cast("double")).as("text_nonnull"),
      // NULL text/n_chars makes the comparison NULL and avg would SKIP
      // the row — reading 1.0 on exactly the data the gate exists to
      // catch. coalesce(.., 0.0) counts a NULL comparison as a check
      // failure (the oracle's CASE WHEN .. ELSE 0.0 semantics).
      avg(coalesce((col("n_chars") === length(col("text")))
        .cast("double"), lit(0.0))).as("len_consistent"),
      avg(coalesce((col("n_chars") >= 1 && col("n_chars") <= 100000)
        .cast("double"), lit(0.0))).as("len_in_range"),
      avg((col("lang").isNotNull && length(col("lang")) > 0)
        .cast("double")).as("lang_present"),
      avg((col("source").isNotNull && length(col("source")) > 0)
        .cast("double")).as("source_present"))
    agg.select(expr(
      """stack(7,
        'row_count_positive', n_rows, CAST(n_rows > 0 AS BOOLEAN),
        'doc_id_unique', dup_ids, CAST(dup_ids = 0.0 AS BOOLEAN),
        'text_nonnull', text_nonnull, CAST(text_nonnull >= 0.99 AS BOOLEAN),
        'n_chars_consistent', len_consistent, CAST(len_consistent = 1.0 AS BOOLEAN),
        'n_chars_in_range', len_in_range, CAST(len_in_range >= 0.999 AS BOOLEAN),
        'lang_present', lang_present, CAST(lang_present >= 0.99 AS BOOLEAN),
        'source_present', source_present, CAST(source_present >= 0.99 AS BOOLEAN)
      ) AS (check, observed, passed)"""))
      .select(col("check"), round(col("observed"), 4).as("observed"),
        col("passed"))
  }

  /** Per-source quota cap — the curation rule that stops any single
    * domain/source from dominating the mix: keep at most `cap` documents
    * per source, preferring a deterministic quality proxy (longest first,
    * doc_id as the total-order tiebreak, so the kept set is unique).
    *
    * Scale: one row_number window keyed by source. A mega-source
    * serializes through one task here; at 100 TB pre-aggregate with a
    * per-partition top-`cap` (the [[Similarity]] WindowGroupLimit push-
    * down does this automatically for rank filters) so each source ships
    * at most `cap` rows per map partition into the final window. */
  def sourceCap(spark: SparkSession, dir: String, cap: Int = 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("source")
      .orderBy(col("n_chars").desc, col("doc_id"))
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), col("n_chars"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= cap)
  }

  /** Source-mixture resampling — the "epoch weighting" step of a
    * pretraining mix (upsample curated sources, downsample bulk crawl):
    * each document appears `floor(weight)` times plus one more iff its
    * content-free hash gate falls under the weight's fractional part, so
    * the expected multiplicity IS the weight, exactly reproducible across
    * runs/engines/partitionings (same md5 gate as [[stratifiedSample]]).
    * Output carries `copy_idx` so downstream shuffles can mix copies.
    *
    * Scale: narrow map + explode — no shuffle at all; data volume scales
    * by the mean weight, which is the point. */
  def resampleSources(spark: SparkSession, dir: String,
      weights: Map[String, Double], defaultWeight: Double = 1.0,
      salt: String = "graft-resample-v1"): DataFrame = {
    def whole(w: Double): Int = math.floor(w).toInt
    def fracThr(w: Double): String = hexThreshold(w - math.floor(w))
    val base = weights.foldLeft(lit(whole(defaultWeight))) {
      case (acc, (s, w)) => when(col("source") === s, lit(whole(w))).otherwise(acc)
    }
    val thr = weights.foldLeft(lit(fracThr(defaultWeight))) {
      case (acc, (s, w)) => when(col("source") === s, lit(fracThr(w))).otherwise(acc)
    }
    val gate = substring(md5(concat(col("doc_id").cast("string"), lit(salt))), 1, 4)
    val copies = (base + when(gate < thr, 1).otherwise(0)).as("n_copies")
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), copies)
      .select(col("doc_id"), col("source"),
        explode(when(col("n_copies") > 0,
          sequence(lit(1), col("n_copies")))
          .otherwise(array().cast("array<int>"))).as("copy_idx"))
  }

  /** Corpus snapshot diff — what changed between two pipeline runs
    * (yesterday's crawl vs today's): per doc_id, `added` (only in the
    * new snapshot), `removed` (only in the old), `changed` (content
    * hash differs), `unchanged`. The release-gating companion of
    * [[datasetCard]] — an unexpectedly large `removed`/`changed` count
    * is the canonical "a filter upstream broke" alarm.
    *
    * Scale shape: ONE hash-partitioned full-outer join on doc_id, with
    * each side reduced to (doc_id, md5) at the scan — the join carries
    * 48 bytes/row, not documents; at 100 TB this is the narrow-join
    * floor for an exact diff. Content equality via md5 keeps the
    * comparison engine-portable (same convention as the dedup family). */
  def corpusDiff(oldSnap: DataFrame, newSnap: DataFrame): DataFrame = {
    // explicit presence flags, NOT hash nullness: md5(NULL text) is NULL,
    // so a null-text doc would otherwise read as "absent" and
    // misclassify (the oracle classifies by joined-side id nullness)
    val a = oldSnap.select(col("doc_id"), md5(col("text")).as("h_old"),
      lit(true).as("in_old"))
    val b = newSnap.select(col("doc_id"), md5(col("text")).as("h_new"),
      lit(true).as("in_new"))
    a.join(b, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        when(col("in_old").isNull, "added")
          .when(col("in_new").isNull, "removed")
          // null-safe: a NULL-text side compares as a distinct state,
          // so NULL→value and value→NULL both read "changed"
          .when(!(col("h_old") <=> col("h_new")), "changed")
          .otherwise("unchanged").as("status"))
  }

  /** MERGE INTO semantics without a table format — the snapshot
    * maintenance twin of [[corpusDiff]]: apply a CDC change batch
    * (op ∈ I/U/D, one op per key — upstream CDC compaction's contract)
    * to an immutable snapshot. Deletes and updates anti-join their keys
    * out; updates and inserts union in. AQE picks the anti-join once
    * the touched-key set's shuffle stage has run: a delta-sized batch
    * (under `spark.sql.adaptive.autoBroadcastJoinThreshold`) becomes a
    * broadcast, so the 100 TB snapshot is ONE map-side anti-join plus a
    * union: never shuffled, never rewritten in place — the output is
    * the next snapshot, written alongside (the Delta/Iceberg MERGE
    * plan shape, minus the format). A backfill-sized batch above the
    * threshold stays a shuffle join instead of OOMing the driver. */
  def applyChanges(snapshot: DataFrame, changes: DataFrame,
      keyCol: String = "doc_id"): DataFrame = {
    val touched = changes.filter(col("op").isin("U", "D"))
      .select(col(keyCol)).distinct()
    snapshot.join(touched, Seq(keyCol), "left_anti")
      .unionByName(changes.filter(col("op").isin("U", "I")).drop("op"))
  }

  /** [[applyChanges]] demo over the corpus (the oracle-able entry): a
    * deterministic change batch derived from the snapshot itself —
    * deletes (doc_id ≡ 0 mod 11), revisions (≡ 3 mod 7, text + ' [rev2]',
    * n_chars + 7), inserts (new ids at +1,000,000 for ≡ 5 mod 13) —
    * applied in one pass; rows report md5(text) so the merged content
    * is pinned without hauling full texts through the compare. */
  def cdcMergeDemo(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
        col("text"))
    val dels = d.filter(col("doc_id") % 11 === 0)
      .select(lit("D").as("op"), col("doc_id"), col("lang"),
        col("source"), col("n_chars"), col("text"))
    val upds = d.filter(col("doc_id") % 11 =!= 0 &&
        col("doc_id") % 7 === 3)
      .select(lit("U").as("op"), col("doc_id"), col("lang"),
        col("source"), (col("n_chars") + 7).as("n_chars"),
        concat(col("text"), lit(" [rev2]")).as("text"))
    val ins = d.filter(col("doc_id") % 13 === 5)
      .select(lit("I").as("op"),
        (col("doc_id") + 1000000L).as("doc_id"), col("lang"),
        col("source"), col("n_chars"),
        concat(lit("ins:"), col("text")).as("text"))
    applyChanges(d, dels.unionByName(upds).unionByName(ins))
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
        md5(col("text")).as("text_md5"))
  }

  /** SCD2 history construction — the versioned-corpus complement of
    * [[corpusDiff]] (what changed) and [[applyChanges]] (apply the
    * change): collapse two snapshots into one type-2 slowly-changing
    * history table, one row per (doc_id, version-interval):
    * `valid_from`/`valid_to` version stamps (`valid_to` NULL = open) and
    * an `is_current` flag. Unchanged docs carry ONE open row from v1;
    * changed docs carry a CLOSED v1 row plus an open v2 row; removed
    * docs a closed v1 row; added docs an open v2 row. Content is pinned
    * by md5 (the corpusDiff convention) so the history table stays
    * narrow.
    *
    * Scale shape: exactly [[corpusDiff]]'s narrow full-outer join on
    * doc_id (48 bytes/row), then a pure projection fans each class into
    * its 1-2 interval rows — no extra shuffle, no window. Longer
    * histories accrete per transition via [[scd2Accrete]] (close the
    * touched docs' open rows IN PLACE — their original valid_from must
    * survive — and append the new open rows). */
  def scd2(oldSnap: DataFrame, newSnap: DataFrame,
      vOld: Long = 1L, vNew: Long = 2L): DataFrame = {
    require(vNew > vOld, s"vNew must exceed vOld, got $vOld -> $vNew")
    val a = oldSnap.select(col("doc_id"), md5(col("text")).as("h_old"),
      lit(true).as("in_old"))
    val b = newSnap.select(col("doc_id"), md5(col("text")).as("h_new"),
      lit(true).as("in_new"))
    val j = a.join(b, Seq("doc_id"), "full_outer")
    val lit0 = lit(vOld); val lit1 = lit(vNew)
    val nullV = lit(null).cast("long")
    // one interval row per (class, side); unchanged emits the v1 row
    // open-ended, every other class closes/openes per SCD2
    val oldRow = j.filter(col("in_old").isNotNull)
      .select(col("doc_id"), col("h_old").as("text_md5"),
        lit0.as("valid_from"),
        when(col("in_new").isNull || !(col("h_old") <=> col("h_new")),
          lit1).otherwise(nullV).as("valid_to"))
    val newRow = j.filter(col("in_new").isNotNull &&
        (col("in_old").isNull || !(col("h_old") <=> col("h_new"))))
      .select(col("doc_id"), col("h_new").as("text_md5"),
        lit1.as("valid_from"), nullV.as("valid_to"))
    oldRow.unionByName(newRow)
      .withColumn("is_current", col("valid_to").isNull)
  }

  /** Fold the NEXT snapshot transition into an existing SCD2 history.
    * Subtlety the naive "re-run scd2 and union" approach gets wrong: a
    * doc untouched for ten versions then changed must keep its ORIGINAL
    * `valid_from` on the closing row — so touched docs' open rows close
    * IN PLACE (valid_to stamped `vNew`) and only the new open rows
    * append; untouched docs' rows pass through bit-identical.
    *
    * Scale shape: the touched-key set is transition-sized (a diff, not
    * a corpus), so AQE turns the close into a broadcast join against
    * the history once the diff's size is known (a pathological full-
    * churn transition, above the adaptive broadcast threshold, stays a
    * shuffle join instead of OOMing) and the appended rows are
    * change-batch-sized — accretion costs the diff of the new
    * transition, never a history rewrite. Chain law
    * (spec-pinned): accreting v1→v2→…→vN transition by transition
    * yields a history whose "as of v" slice reproduces snapshot v
    * exactly, for every v. */
  def scd2Accrete(history: DataFrame, oldSnap: DataFrame,
      newSnap: DataFrame, vNew: Long): DataFrame = {
    val touched = corpusDiff(oldSnap, newSnap)
      .filter(col("status") =!= "unchanged").select(col("doc_id"))
    val closed = history
      .join(touched.withColumn("touched", lit(true)),
        Seq("doc_id"), "left")
      .select(col("doc_id"), col("text_md5"), col("valid_from"),
        when(col("touched").isNotNull && col("is_current"), lit(vNew))
          .otherwise(col("valid_to")).as("valid_to"))
      .withColumn("is_current", col("valid_to").isNull)
    val opened = newSnap
      .join(touched, Seq("doc_id"), "left_semi")
      .select(col("doc_id"), md5(col("text")).as("text_md5"),
        lit(vNew).as("valid_from"),
        lit(null).cast("long").as("valid_to"),
        lit(true).as("is_current"))
    closed.unionByName(opened)
  }

  /** [[scd2]] demo over the corpus (oracle-able entry): v2 = the same
    * deterministic evolution `q_corpus_diff` uses (doc_id ≡ 0 mod 7
    * removed, ≡ 0 mod 11 revised with ' v2', ≡ 0 mod 13 re-inserted at
    * +1,000,000). */
  def scd2Demo(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    val v2 = d.filter(col("doc_id") % 7 =!= 0)
      .select(col("doc_id"),
        when(col("doc_id") % 11 === 0, concat(col("text"), lit(" v2")))
          .otherwise(col("text")).as("text"))
      .unionByName(d.filter(col("doc_id") % 13 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
    scd2(d, v2)
  }

  /** Dataset card — the release-note summary every corpus drop ships:
    * size, provenance spread, duplication, token volume, length
    * percentiles and quality mix, as (metric, value) rows. ONE pass:
    * every statistic folds into a single global aggregate (map-side
    * combined, 1-row result), then a `stack` unpivots the row. No
    * joins, no second scan; the cost of reading the corpus once. The
    * one non-constant aggregation state is the EXACT percentile buffer
    * (O(n) values on the final reducer) — fine to the low billions of
    * docs; every other metric is constant-state.
    * Quality/short-doc definitions reuse the corpus-wide conventions
    * ([[graft.operators.TextOps.qualityScore]], ceil(chars/4) tokens),
    * so the card agrees with the per-doc operators it summarizes. */
  def datasetCard(spark: SparkSession, dir: String): DataFrame = {
    val nWords = TextOps.nWords
    val tokens = ceil(length(col("text")).cast("double") / lit(4.0))
      .cast("long")
    def pct(q: Double): Column = expr(s"percentile(n_chars, $q)")
    val one = Tables.documents(spark, dir).agg(
      count(lit(1)).cast("double").as("n_docs"),
      countDistinct(col("source")).cast("double").as("n_sources"),
      countDistinct(col("lang")).cast("double").as("n_langs"),
      countDistinct(md5(col("text"))).cast("double").as("n_distinct_texts"),
      round(lit(1.0) - countDistinct(md5(col("text"))).cast("double") /
        count(lit(1)).cast("double"), 4).as("dup_ratio"),
      sum(tokens).cast("double").as("total_tokens"),
      // means as exact integer sums + ONE division — engine/order
      // independent, unlike avg-of-doubles accumulation
      round(sum(tokens).cast("double") / count(lit(1)).cast("double"), 2)
        .as("avg_doc_tokens"),
      round(pct(0.5), 2).as("p50_chars"),
      round(pct(0.9), 2).as("p90_chars"),
      round(sum(when(nWords < 30, 1L).otherwise(0L)).cast("double") /
        count(lit(1)).cast("double"), 4).as("short_doc_ratio"),
      round(sum(least(nWords, lit(200L))).cast("double") /
        (lit(200.0) * count(lit(1)).cast("double")), 4).as("mean_quality"))
    one.select(expr(
      "stack(11, " +
        "'n_docs', n_docs, 'n_sources', n_sources, 'n_langs', n_langs, " +
        "'n_distinct_texts', n_distinct_texts, 'dup_ratio', dup_ratio, " +
        "'total_tokens', total_tokens, 'avg_doc_tokens', avg_doc_tokens, " +
        "'p50_chars', p50_chars, 'p90_chars', p90_chars, " +
        "'short_doc_ratio', short_doc_ratio, 'mean_quality', mean_quality" +
        ") AS (metric, value)"))
  }

  /** Source-mixture planner — the step BEFORE [[resampleSources]]: given
    * target mixture shares per source and a total token budget, derive
    * each source's sampling weight (epochs over its available tokens),
    * capped at `maxEpochs` (repeating a small curated source beyond a
    * few epochs hurts more than missing the share — the SlimPajama/
    * DoReMi-style mixing rule), and report the planned token volume and
    * whether the cap bit (`capped` = the source cannot meet its share
    * within the epoch cap, so the run under-delivers its target unless
    * the budget shifts to other sources).
    *
    * Scale shape: ONE map-side-combined aggregation on source (output =
    * #sources rows, inherently tiny); the share/weight arithmetic is
    * per-row column math on that aggregate. Token proxy = the corpus-wide
    * ceil(chars/4) convention shared with [[sourceReport]]/
    * [[packSequences]]. Targets need not be normalized — shares are
    * target/Σtargets, computed HERE (driver-side, exact) so the column
    * math matches the oracle literal-for-literal. */
  def mixturePlan(spark: SparkSession, dir: String,
      targets: Map[String, Double], budgetTokens: Long,
      maxEpochs: Double = 2.0): DataFrame = {
    require(targets.nonEmpty && targets.values.forall(_ >= 0.0),
      "targets must be non-empty and non-negative")
    require(targets.values.sum > 0.0, "targets must not all be zero")
    require(budgetTokens > 0 && maxEpochs > 0, "budget and cap must be > 0")
    // sum in sorted-key order: Map iteration order is unspecified, and a
    // different addition order can shift tSum by an ulp, leaking into the
    // normalized shares right at a rounding boundary
    val sortedTargets = targets.toSeq.sortBy(_._1)
    val tSum = sortedTargets.map(_._2).sum
    val share = sortedTargets.foldLeft(lit(0.0)) { case (acc, (s, w)) =>
      when(col("source") === s, lit(w / tSum)).otherwise(acc)
    }
    val tokens = ceil(length(col("text")).cast("double") / lit(4.0))
      .cast("long")
    val desired = col("target_share") * lit(budgetTokens.toDouble)
    // full-outer with the target list: a targeted source ABSENT from the
    // corpus (typo, bad drop) must surface as a loud zero-avail capped
    // row — NOT silently vanish (groupBy only emits present sources, so
    // a plain aggregate would drop its share of the budget on the floor)
    import spark.implicits._
    val targetsDf = targets.keys.toSeq.sorted.toDF("source")
    val avail = Tables.documents(spark, dir)
      .groupBy("source").agg(sum(tokens).as("avail_tokens"))
      .join(targetsDf, Seq("source"), "full_outer")
      .na.fill(0L, Seq("avail_tokens"))
    avail
      .withColumn("target_share", share)
      .select(col("source"), col("avail_tokens"),
        // 6-dp round: Σtargets accumulates in unspecified Map order, so
        // the normalized share can differ from the oracle's literal in
        // the last ulp; every emitted double is rounded for this reason
        round(col("target_share"), 6).as("target_share"),
        round(desired, 2).as("desired_tokens"),
        // avail = 0 → desired/0.0 = +Inf → least picks the cap: an
        // absent source plans weight = cap over nothing, planned 0
        round(least(desired / col("avail_tokens").cast("double"),
          lit(maxEpochs)), 4).as("weight"),
        round(least(desired,
          lit(maxEpochs) * col("avail_tokens").cast("double")), 2)
          .as("planned_tokens"),
        // compare at emitted (2-dp) precision: the raw > on unrounded
        // doubles is the one place ulp drift vs the oracle could flip a
        // boundary-sitting source's flag
        (round(desired, 2) >
          round(lit(maxEpochs) * col("avail_tokens").cast("double"), 2))
          .as("capped"))
  }

  /** [[mixturePlan]] → [[resampleSources]] in one step: plan the weights
    * and emit the resampled corpus. The plan collect is #sources rows —
    * bounded like the quantizer training samples, not a data collect. */
  def planAndResample(spark: SparkSession, dir: String,
      targets: Map[String, Double], budgetTokens: Long,
      maxEpochs: Double = 2.0): DataFrame = {
    val weights = mixturePlan(spark, dir, targets, budgetTokens, maxEpochs)
      .select("source", "weight").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    resampleSources(spark, dir, weights, defaultWeight = 0.0)
  }

  def cleanCorpus(spark: SparkSession, dir: String, minWords: Int = 30,
      threshold: Double = 0.5): DataFrame = {
    // stage 1: canonical representative per distinct text — THE
    // Dedup.exactKeep operator, not a re-derivation (one keep rule)
    val kept = Dedup.exactKeep(spark, dir)
    // stage 2: near-dup drop set (greedy keep-lowest-id) from the
    // build-once pair table
    val nearDrops = Dedup.minHashPairs(spark, dir, threshold = threshold)
      .select(col("doc_b").as("doc_id")).distinct()
    // the corpus-wide word-count definition (one semantics everywhere)
    val nWords = TextOps.nWords
    kept
      .join(nearDrops, Seq("doc_id"), "left_anti")
      .withColumn("n_words", nWords)
      .filter(col("n_words") >= minWords)
      .select(col("doc_id"), col("lang"), col("n_words"),
        ceil(length(col("text")).cast("double") / lit(4.0)).cast("long")
          .as("approx_bpe_tokens"))
  }

  /** Length-outlier trim: keep documents whose size sits inside the
    * corpus's [lo, hi] percentile window — the standard "drop truncated
    * fragments and concatenation blobs" curation pass. The exact
    * percentile bounds are ONE tiny aggregate (two doubles) broadcast
    * back over the scan; the filter itself is a narrow codegen'd
    * comparison, so at 100 TB this is two linear passes and no
    * data-sized shuffle. (Exact `percentile` matches the oracle's
    * `quantile_cont` interpolation — the equivalence `q_percentiles`
    * already pins; for sketched bounds at extreme scale swap in
    * `approxQuantileContract`'s tolerance pattern.) */
  def lengthTrim(spark: SparkSession, dir: String,
      lo: Double = 0.05, hi: Double = 0.95): DataFrame = {
    val d = Tables.documents(spark, dir)
    val bounds = d.agg(
      percentile(col("n_chars"), lit(lo)).as("p_lo"),
      percentile(col("n_chars"), lit(hi)).as("p_hi"))
    d.crossJoin(broadcast(bounds))
      .filter(col("n_chars") >= col("p_lo") &&
        col("n_chars") <= col("p_hi"))
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
  }

  /** Per-language length trim — the adaptive form of [[lengthTrim]]:
    * each language gets its OWN [lo, hi] percentile window. A single
    * global window over a multilingual corpus trims by the DOMINANT
    * language's length distribution, so languages whose scripts run
    * naturally longer or shorter lose their tails wholesale; per-stratum
    * bounds are the curation rule a real pretraining mix uses. Bounds
    * are one tiny per-language aggregate (|langs| rows — broadcast), the
    * filter a narrow codegen'd comparison: still two linear passes and
    * no data-sized shuffle at 100 TB. */
  def lengthTrimByLang(spark: SparkSession, dir: String,
      lo: Double = 0.05, hi: Double = 0.95): DataFrame = {
    val d = Tables.documents(spark, dir)
    val bounds = d.groupBy("lang").agg(
      percentile(col("n_chars"), lit(lo)).as("p_lo"),
      percentile(col("n_chars"), lit(hi)).as("p_hi"))
    d.join(broadcast(bounds), Seq("lang"))
      .filter(col("n_chars") >= col("p_lo") &&
        col("n_chars") <= col("p_hi"))
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
  }

  /** Drop-audit of [[cleanCorpus]]: one row per REMOVED document with
    * the (first-matching) removal reason — `exact_dup` (not the
    * canonical copy of its byte-identical group), `near_dup` (higher-id
    * side of a MinHash pair), or `short` (under `minWords`). The
    * observability half of a cleaning pipeline: at 100 TB you never ship
    * a filter without the report of what it deleted. Same stage
    * operators and precedence as cleanCorpus, so
    * audit ∪ cleanCorpus ≡ documents (spec-pinned). */
  def cleanCorpusAudit(spark: SparkSession, dir: String, minWords: Int = 30,
      threshold: Double = 0.5): DataFrame = {
    val nWords = TextOps.nWords
    val exactKept = Dedup.exactKeep(spark, dir).select("doc_id")
      .withColumn("_ek", lit(1))
    val nearDrops = Dedup.minHashPairs(spark, dir, threshold = threshold)
      .select(col("doc_b").as("doc_id")).distinct()
      .withColumn("_nd", lit(1))
    Tables.documents(spark, dir)
      .select(col("doc_id"), nWords.as("n_words"))
      .join(exactKept, Seq("doc_id"), "left")
      .join(nearDrops, Seq("doc_id"), "left")
      .withColumn("reason",
        when(col("_ek").isNull, "exact_dup")
          .when(col("_nd").isNotNull, "near_dup")
          .when(col("n_words") < minWords, "short")
          .otherwise("kept"))
      .filter(col("reason") =!= "kept")
      .select(col("doc_id"), col("reason"))
  }

  /** Target output-file count for [[compact]]: optimizer-visible bytes
    * over the target file size. Exposed for specs/ops tooling.
    * The ceiling division stays in BigInt: `sizeInBytes` can be the
    * no-stats sentinel (Long.MaxValue) or a join-stat product beyond
    * Long range, where a narrowing `.toLong` wraps negative and the
    * old `max(1)` would silently repartition(1) an arbitrarily large
    * DataFrame. Clamped to Int.MaxValue (the repartition limit). */
  def compactionPartitions(df: DataFrame,
      targetBytes: Long = 128L * 1024 * 1024): Int = {
    require(targetBytes > 0, "targetBytes must be positive")
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    ((bytes + targetBytes - 1) / targetBytes)
      .min(BigInt(Int.MaxValue)).toInt.max(1)
  }

  /** Small-file compaction — the standing maintenance job of any
    * long-running ingest: a streaming sink or over-parallel write leaves
    * thousands of KB-sized files, and at 100 TB scan cost is dominated
    * by per-file open/footer overhead long before row count matters.
    * Round-robin `repartition` to ceil(bytes / targetBytes) partitions
    * rewrites the data into uniformly-sized ~targetBytes files (one
    * shuffle, linear; no skew because round-robin ignores keys). Pair
    * with `sortWithinPartitions` upstream if a clustering key should
    * survive compaction. */
  def compact(df: DataFrame,
      targetBytes: Long = 128L * 1024 * 1024): DataFrame =
    df.repartition(compactionPartitions(df, targetBytes))

  /** Two-round multiplicative hash → uniform in (0,1), exact BIGINT
    * arithmetic mod 1e9+7 both engines reproduce bit-identically (the
    * [[graft.SparkEntry]] fpCte precedent: products stay < 2^63, so no
    * overflow under ANSI). Content-free and partition-independent, like
    * the md5 gates — but NUMERIC, which the weighted draw needs. */
  private def hashUniform(id: Column, a1: Long, b1: Long, a2: Long,
      b2: Long): Column = {
    val M = 1000000007L
    val h1 = (id % lit(M)) * lit(a1) % lit(M) + lit(b1)
    val h2 = (h1 % lit(M)) * lit(a2) % lit(M) + lit(b2)
    ((h2 % lit(M)) + lit(1L)).cast("double") / lit(1000000008.0)
  }

  /** Weighted sampling WITHOUT replacement, probability ∝ weight —
    * Efraimidis–Spirakis A-ES (IPL 2006): draw u_i uniform, keep the
    * top-k by key_i = ln(u_i)/w_i (the log form of u_i^(1/w_i)).
    * Weight here is `n_chars`: longer documents proportionally more
    * likely, the importance-sampling knob a mixture pipeline turns.
    *
    * u_i is the deterministic [[hashUniform]] draw, so the sample is
    * reproducible across runs, engines, and cluster layouts — the same
    * reason the split/sample family uses md5 gates instead of `rand()`.
    * Scale: a narrow codegen'd map feeding `TakeOrderedAndProject(k)` —
    * per-partition top-k then a k-row driver merge; no global sort, no
    * shuffle of the corpus. */
  def weightedSample(spark: SparkSession, dir: String,
      k: Int = 100): DataFrame = {
    val u = hashUniform(col("doc_id"),
      2654435761L, 1013904223L, 1597334677L, 362437L)
    val key = log(u) / col("n_chars").cast("double")
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
        key.as("raw_key"))
      .orderBy(col("raw_key").desc, col("doc_id").asc)
      .limit(k)
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
        round(col("raw_key"), 6).as("sample_key"))
  }

  /** Deterministic global corpus shuffle — the training-order pass: every
    * epoch reads documents in a pseudo-random order that is REPRODUCIBLE
    * (hash-derived, not `rand()`) and partition-independent. Each doc
    * gets a shard (hash mod `nShards`) and a position within its shard
    * (rank by a second-round hash), so a trainer streams shard files in
    * order and gets a well-mixed sequence.
    *
    * Physical shape: one hash shuffle on `shard` + an in-partition sort —
    * exactly the write pattern of a training-data shuffle job. At 100 TB
    * the knob is `nShards`: size it so a shard fits one task
    * (corpus/nShards ≈ 256 MB ⇒ nShards ≈ 400k), the same argument as
    * [[packSequences]]' shard key — no per-key serialization because
    * every shard is the same bounded size by the hash's uniformity. */
  def corpusShuffle(spark: SparkSession, dir: String,
      nShards: Int = 64): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val M = 1000000007L
    val h1 = (col("doc_id") % lit(M)) * lit(2246822519L) % lit(M) +
      lit(374761393L)
    val h2 = (h1 % lit(M)) * lit(3266489917L) % lit(M) + lit(668265263L)
    val order = h2 % lit(M)
    val shard = (order % lit(nShards.toLong)).cast("int")
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), shard.as("shard"),
        order.as("ord"))
      .withColumn("pos", row_number().over(
        Window.partitionBy("shard").orderBy(col("ord"), col("doc_id"))))
      .select(col("doc_id"), col("lang"), col("shard"), col("pos"))
  }
}

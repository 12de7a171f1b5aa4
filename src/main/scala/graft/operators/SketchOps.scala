package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.KmvSketch

/** Sketch-TABLE operators: per-group KMV distinct sketches stored as
  * rows, with union / overlap estimates derived ONLY from the stored
  * states — never by rescanning the raw data.
  *
  * The 100 TB pattern this demonstrates (the reference has no sketch
  * surface; this extends the engine's own [[graft.functions.KmvSketch]]
  * aggregate): one pass builds a sketch row per source/shard — a few KB
  * each, map-side-combined, constant state per group — and every later
  * question ("how many distinct texts across ALL shards?", "how many
  * users do event types A and B share?") is array arithmetic over those
  * rows. Adding a new snapshot means sketching ONLY the new data and
  * re-running the row-level merge; nothing historical is ever re-read.
  *
  * Exactness regime (the oracle contract, same as `q_kmv_distinct`):
  * below k the state holds EVERY distinct hash, so estimates are exact
  * distinct counts and inclusion-exclusion overlaps are exact too. The
  * estimator regime (merge law, error bounds) is pinned in
  * KmvSketchSpec.
  */
object SketchOps {

  private def docs(spark: SparkSession, dir: String): DataFrame =
    ParquetInput.read(spark, s"$dir/documents.parquet")

  /** One KMV sketch row per `groupCol` value over `value`. */
  def sketchTable(df: DataFrame, groupCol: String, value: Column,
      k: Int): DataFrame =
    df.groupBy(col(groupCol))
      .agg(KmvSketch.sketchState(value, k).as("sketch"))

  /** Pairwise group overlap from sketch STATES only, via
    * inclusion-exclusion: |A∩B| ≈ est(A) + est(B) − est(A∪B), where the
    * union state is the row-level merge of the two stored sketches. The
    * pairwise inequality join runs over the SKETCH TABLE (#groups rows,
    * never the raw data), so the quadratic term is bounded by the group
    * count — the standard sketch-algebra trade. That bound is ENFORCED:
    * a high-cardinality `groupCol` (user ids, urls) would quietly turn
    * the matrix into #groups² rows, so above `maxGroups` the operator
    * fails loudly at build time with the fix in the message; raising
    * the bound is a deliberate caller decision.
    *
    * The guard probe REUSES its work (round-12 fix): the sketch table
    * is persisted BEFORE the guard count, so the raw-data scan +
    * shuffle agg that builds it runs exactly once per call — the
    * guard reads the cached table and the matrix join reads it again
    * (r11 measured the unpersisted probe doubling the corpus pass,
    * 1.59× on q_sketch_overlap). On the guard-pass path the cached
    * table is ≤ maxGroups rows of few-KB states — trivially
    * cacheable.
    *
    * Round-13 guard refinement: the guard itself is a LIMIT probe
    * (`limit(maxGroups+1).count()`), not a full count. On the PASS
    * path the two are identical work — a limit that cannot find
    * maxGroups+1 rows must exhaust (and therefore cache) every
    * partition of the persisted table, and the matrix join then reads
    * pure cache. On the FAIL path — the high-cardinality input the
    * guard exists FOR — the limit short-circuits the reduce side at
    * maxGroups+1 states instead of materializing and caching the full
    * unbounded sketch table (GBs of few-KB states on a user-id-like
    * key) just to learn the number is too big. The map-side pass over
    * the raw data still runs (any aggregation pays it) but the
    * failure stays early-terminating, as the r12-pre-fix probe was.
    * Spark's CacheManager owns the persisted table: a repeated call on
    * the same plan reuses its one cache entry, and
    * `spark.catalog.clearCache()` releases it. Pairs with no estimated
    * overlap are dropped. */
  def overlapMatrix(df: DataFrame, groupCol: String, value: Column,
      k: Int, outA: String = "group_a", outB: String = "group_b",
      maxGroups: Int = 10000): DataFrame = {
    val sk = sketchTable(df, groupCol, value, k)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    if (sk.limit(maxGroups + 1).count() > maxGroups) {
      sk.unpersist(false)
      throw new IllegalArgumentException(
        s"overlapMatrix: groupCol '$groupCol' has more than $maxGroups " +
          s"groups - the pairwise matrix would exceed ${maxGroups.toLong *
            maxGroups / 2} rows. Pre-bucket the groups or raise " +
          "maxGroups deliberately.")
    }
    val a = sk.select(col(groupCol).as(outA), col("sketch").as("sk_a"))
    val b = sk.select(col(groupCol).as(outB), col("sketch").as("sk_b"))
    a.join(b, col(outA) < col(outB))
      .select(col(outA), col(outB),
        KmvSketch.estimateExpr(col("sk_a"), k).as("est_a"),
        KmvSketch.estimateExpr(col("sk_b"), k).as("est_b"),
        KmvSketch.estimateExpr(
          KmvSketch.mergeStatesExpr(array(col("sk_a"), col("sk_b")), k), k)
          .as("est_union"))
      .select(col(outA), col(outB), col("est_a"), col("est_b"),
        (col("est_a") + col("est_b") - col("est_union")).as("est_overlap"))
      .filter(col("est_overlap") > 0)
  }

  /** Distinct-text estimate per document source PLUS a `__ALL__` row
    * whose estimate comes from merging the per-source states — the raw
    * corpus is scanned exactly once (to build the sketch rows); the
    * global number is derived from ~#sources tiny arrays. */
  def sourceDistinctTexts(spark: SparkSession, dir: String,
      k: Int = 65536): DataFrame = {
    val sk = sketchTable(docs(spark, dir), "source", col("text"), k)
    val per = sk.select(col("source").as("scope"),
      KmvSketch.estimateExpr(col("sketch"), k).as("est_distinct"))
    val all = sk.agg(collect_list(col("sketch")).as("states"))
      .select(lit("__ALL__").as("scope"),
        KmvSketch.estimateExpr(
          KmvSketch.mergeStatesExpr(col("states"), k), k)
          .as("est_distinct"))
    per.union(all)
  }

  /** Top-`top` sources across the whole corpus read off per-lang
    * Misra–Gries states: one bounded MG state per lang (map-side
    * combined), row-level expression merge, slice — the frequent-items
    * twin of [[sourceDistinctTexts]]'s distinct-count shape. At 100 TB
    * this replaces a full `GROUP BY item` shuffle of every distinct key
    * with k-entry states per shard; the merged counters are exact while
    * distinct items stay below k (the oracle regime) and carry the MG
    * N/(k+1) under-count theorem above it (pinned in
    * HeavyHittersSpec and `q_hh_error_bound`). */
  def heavyHitterSources(spark: SparkSession, dir: String,
      k: Int = 64, top: Int = 10): DataFrame = {
    import graft.functions.HeavyHitters
    docs(spark, dir).groupBy("lang")
      .agg(HeavyHitters.sketchState(col("source"), k).as("st"))
      .agg(collect_list("st").as("sts"))
      .select(explode(HeavyHitters.topKExpr(
        HeavyHitters.mergeStatesExpr(col("sts"), k), top)).as("e"))
      .select(col("e.item").as("source"), col("e.n").as("n_docs"))
  }

  /** Audience overlap between event types — shared distinct users per
    * (unordered) event-type pair, straight from the per-type sketch
    * rows. The cross-shard/cross-snapshot version of "do these two
    * funnels reach the same people", answered without a user-level
    * self-join of the event log. */
  def eventTypeUserOverlap(spark: SparkSession, dir: String,
      k: Int = 65536): DataFrame =
    overlapMatrix(Relational.events(spark, dir), "event_type",
      col("user_id").cast("string"), k, outA = "type_a", outB = "type_b")

  // --------------------------------------------- quantile sketch table

  /** Per-source document-length quantiles PLUS an `__ALL__` row, all
    * derived from stored-shape [[graft.functions.QuantileSketch]]
    * states — the quantile twin of [[sourceDistinctTexts]]: one
    * map-side-combined pass builds a bounded (k-pair) state per source,
    * and the global row is a row-level state merge, never a rescan. At
    * 100 TB this is how per-shard length/quality distributions roll up
    * into corpus-wide percentile reports: nightly sketch rows, array
    * arithmetic after. Exact below k (discrete-quantile rule matches
    * DuckDB `quantile_disc`), so the driver's oracle pins every value. */
  def sourceLengthQuantiles(spark: SparkSession, dir: String,
      k: Int = 65536, qs: Seq[Double] = Seq(0.25, 0.5, 0.75)): DataFrame = {
    import graft.functions.QuantileSketch
    require(qs.nonEmpty && qs.forall(q => q > 0.0 && q <= 1.0),
      "quantiles must be in (0, 1]")
    def qCols(state: Column): Seq[Column] =
      qs.map(q => QuantileSketch.quantileExpr(state,
        q).as(s"p${math.round(q * 100)}"))
    val sk = docs(spark, dir).groupBy(col("source"))
      .agg(QuantileSketch.sketchState(col("doc_id"),
        col("n_chars").cast("double"), k).as("qsk"))
    val per = sk.select(col("source").as("scope") +: qCols(col("qsk")): _*)
    val all = sk.agg(collect_list(col("qsk")).as("states"))
      .select(lit("__ALL__").as("scope") +:
        qCols(QuantileSketch.mergeStatesExpr(col("states"), k)): _*)
    per.union(all)
  }

  // ------------------------------------ persisted cross-snapshot merge

  /** Write the two demo snapshot sketch tables (doc_id parity split of
    * the corpus — a deterministic stand-in for "last night's shard" and
    * "tonight's shard") and return their root. Each table is one
    * (source, sketch) row per source, a few KB — the artifact a nightly
    * job would land next to its shard. Written once per (corpus, k). */
  private[operators] def snapshotTables(spark: SparkSession, dir: String,
      k: Int): String = {
    val d = docs(spark, dir)
    Artifacts.dir("sketch_snapshots", k, d) { root =>
      sketchTable(d.filter(col("doc_id") % 2 === 0), "source",
        col("text"), k).write.mode("overwrite").parquet(s"$root/snap1")
      sketchTable(d.filter(col("doc_id") % 2 =!= 0), "source",
        col("text"), k).write.mode("overwrite").parquet(s"$root/snap2")
      // hash-version stamp: stored states embed the hash generation
      // (see graft.functions.SketchMeta) and readers check it
      graft.functions.SketchMeta.write(spark, s"$root/snap1")
      graft.functions.SketchMeta.write(spark, s"$root/snap2")
    }
  }

  /** The incremental-maintenance proof, executed: per-source (and
    * `__ALL__`) distinct-text estimates for the COMBINED corpus, derived
    * by merging the two STORED snapshot sketch tables — the raw corpus
    * of snapshot 1 is never rescanned (the plan reads only the two
    * sketch parquet files; spec-asserted). This is how the nightly
    * pipeline answers "how many distinct docs do we have now" after
    * every incremental shard: sketch ONLY the new shard, then row-merge
    * the stored states. Estimates are exact below k (both snapshot
    * states and their union hold every distinct hash), which is what
    * lets the driver's SQL oracle pin them as exact distinct counts. */
  def snapshotSketchMerge(spark: SparkSession, dir: String,
      k: Int = 65536): DataFrame = {
    val root = snapshotTables(spark, dir, k)
    graft.functions.SketchMeta.check(spark, s"$root/snap1")
    graft.functions.SketchMeta.check(spark, s"$root/snap2")
    val stored = ParquetInput.read(spark, s"$root/snap1")
      .unionByName(ParquetInput.read(spark, s"$root/snap2"))
    val merged = stored.groupBy("source")
      .agg(KmvSketch.mergeStatesExpr(collect_list(col("sketch")), k)
        .as("sketch"))
    val per = merged.select(col("source").as("scope"),
      KmvSketch.estimateExpr(col("sketch"), k).as("est_distinct"))
    val all = merged.agg(collect_list(col("sketch")).as("states"))
      .select(lit("__ALL__").as("scope"),
        KmvSketch.estimateExpr(
          KmvSketch.mergeStatesExpr(col("states"), k), k)
          .as("est_distinct"))
    per.union(all)
  }

  /** Snapshot DELTA report — what did tonight's shard add, drop, and
    * repeat? Per source (and `__ALL__`): distinct texts in the
    * previous snapshot (`est_prev`), in the new shard (`est_new`),
    * first seen in the new shard (`est_added` = union − prev, the KMV
    * set-DIFFERENCE read), gone from it (`est_removed` = union − new,
    * the symmetric difference read), and present in both
    * (`est_overlap`, inclusion-exclusion) — the full Venn readout,
    * all derived from the two STORED sketch tables alone, the same
    * no-rescan contract as [[snapshotSketchMerge]]. This is the
    * incremental-ingest observability primitive: a crawl whose
    * `est_added` collapses is re-fetching old pages; an `est_removed`
    * spike is source rot; an `est_overlap` spike means the dedup
    * upstream is leaking.
    *
    * Scale shape: a #sources-row full-outer join of two few-KB sketch
    * tables plus row-level state merges — no raw-data access at any
    * size. Estimates are exact below k (both states and their union
    * hold every distinct hash), so the driver's oracle pins every
    * column as exact distinct counts; above k each term carries KMV's
    * ~1/sqrt(k−2) rsd and the difference the sum of both (the
    * `q_kmv_error_bound` regime) — and the derived reads are CLAMPED
    * to the feasible region (0 ≤ added ≤ new, 0 ≤ overlap ≤
    * min(prev, new)), because raw inclusion-exclusion noise can
    * otherwise report a negative overlap; the clamp is a no-op in the
    * exact regime (spec-pinned), so the oracle compare is untouched.
    * Sources absent from one snapshot merge against an empty state, so
    * first-appearance and disappearance both report honestly. */
  def snapshotDelta(spark: SparkSession, dir: String,
      k: Int = 65536): DataFrame = {
    import graft.functions.ExprLet.bindOnce
    val root = snapshotTables(spark, dir, k)
    graft.functions.SketchMeta.check(spark, s"$root/snap1")
    graft.functions.SketchMeta.check(spark, s"$root/snap2")
    val empty = array().cast("array<bigint>")
    val s1 = ParquetInput.read(spark, s"$root/snap1")
      .select(col("source"), col("sketch").as("sk1"))
    val s2 = ParquetInput.read(spark, s"$root/snap2")
      .select(col("source"), col("sketch").as("sk2"))
    def report(scope: Column, a: Column, b: Column): Column =
      bindOnce(KmvSketch.estimateExpr(
          KmvSketch.mergeStatesExpr(array(a, b), k), k)) { u =>
        bindOnce(KmvSketch.estimateExpr(a, k)) { prev =>
          bindOnce(KmvSketch.estimateExpr(b, k)) { nw =>
            struct(scope.as("scope"),
              prev.as("est_prev"), nw.as("est_new"),
              greatest(lit(0L), least(nw, u - prev)).as("est_added"),
              greatest(lit(0L), least(prev, u - nw)).as("est_removed"),
              greatest(lit(0L), least(least(prev, nw), prev + nw - u))
                .as("est_overlap"))
          }
        }
      }
    val joined = s1.join(s2, Seq("source"), "full")
      .select(col("source"),
        coalesce(col("sk1"), empty).as("sk1"),
        coalesce(col("sk2"), empty).as("sk2"))
    val per = joined.select(
      report(col("source"), col("sk1"), col("sk2")).as("r"))
    val all = joined
      .agg(collect_list(col("sk1")).as("a1"),
        collect_list(col("sk2")).as("a2"))
      .select(report(lit("__ALL__"),
        KmvSketch.mergeStatesExpr(col("a1"), k),
        KmvSketch.mergeStatesExpr(col("a2"), k)).as("r"))
    per.union(all).select(col("r.scope").as("scope"),
      col("r.est_prev").as("est_prev"), col("r.est_new").as("est_new"),
      col("r.est_added").as("est_added"),
      col("r.est_removed").as("est_removed"),
      col("r.est_overlap").as("est_overlap"))
  }

  /** Write the two demo QUANTILE snapshot sketch tables (md5 half-split
    * of the corpus — engine-independent and decorrelated from `source`,
    * unlike doc_id parity, which the fixture's source assignment makes
    * degenerate) and return their root. One (source, qsk) state row per
    * source per half, over n_chars. Written once per (corpus, k). */
  private[operators] def quantileSnapshotTables(spark: SparkSession,
      dir: String, k: Int): String = {
    val d = docs(spark, dir)
    Artifacts.dir("quantile_snapshots", k, d) { root =>
      val firstHalf = conv(substring(
        md5(col("doc_id").cast("string")), 1, 1), 16, 10).cast("int") < 8
      def states(half: DataFrame) = half.groupBy(col("source"))
        .agg(graft.functions.QuantileSketch.sketchState(
          col("doc_id"), col("n_chars").cast("double"), k).as("qsk"))
      states(d.filter(firstHalf))
        .write.mode("overwrite").parquet(s"$root/qsnap1")
      states(d.filter(!firstHalf))
        .write.mode("overwrite").parquet(s"$root/qsnap2")
      graft.functions.SketchMeta.write(spark, s"$root/qsnap1")
      graft.functions.SketchMeta.write(spark, s"$root/qsnap2")
    }
  }

  /** Distribution-DRIFT detector from stored quantile sketch states —
    * the continuous twin of [[graft.streaming.EventStream.typeDriftBatch]]
    * (which watches a categorical mix): per source (and `__ALL__`),
    * the previous snapshot's and the new shard's median document
    * length plus the two-sample Kolmogorov–Smirnov statistic between
    * the two distributions, derived ENTIRELY from the two stored
    * sketch tables — the "did tonight's shard change what documents
    * look like" ingest monitor, answered with zero raw-data rescans.
    * A drifted source means its crawler/extractor changed (truncation
    * bug, boilerplate regression, new template) even when the row
    * counts look normal.
    *
    * Scale shape: a #sources-row full-outer join of two few-KB sketch
    * tables + O(k²) array arithmetic per row ([[ExprLet]]-bound).
    * Exact below k (each state holds its half's every row ⇒ the KS is
    * the true population statistic, which is what lets the driver's
    * oracle pin it); above k both sides are uniform samples and the
    * statistic carries the standard ~sqrt((na+nb)/(na·nb)) band.
    * Sources missing a side report NULL ks / drifted (no evidence). */
  def quantileDrift(spark: SparkSession, dir: String,
      k: Int = 65536, threshold: Double = 0.5): DataFrame = {
    import graft.functions.QuantileSketch
    val root = quantileSnapshotTables(spark, dir, k)
    graft.functions.SketchMeta.check(spark, s"$root/qsnap1")
    graft.functions.SketchMeta.check(spark, s"$root/qsnap2")
    val empty = array().cast("array<struct<_1:bigint,_2:double>>")
    val s1 = ParquetInput.read(spark, s"$root/qsnap1")
      .select(col("source"), col("qsk").as("sk1"))
    val s2 = ParquetInput.read(spark, s"$root/qsnap2")
      .select(col("source"), col("qsk").as("sk2"))
    val joined = s1.join(s2, Seq("source"), "full")
      .select(col("source"),
        coalesce(col("sk1"), empty).as("sk1"),
        coalesce(col("sk2"), empty).as("sk2"))
    def report(scope: Column, a: Column, b: Column): Column =
      struct(scope.as("scope"),
        QuantileSketch.quantileExpr(a, 0.5).as("med_prev"),
        QuantileSketch.quantileExpr(b, 0.5).as("med_new"),
        QuantileSketch.ksExpr(a, b).as("ks"))
    val per = joined.select(
      report(col("source"), col("sk1"), col("sk2")).as("r"))
    val all = joined
      .agg(collect_list(col("sk1")).as("a1"),
        collect_list(col("sk2")).as("a2"))
      .select(report(lit("__ALL__"),
        QuantileSketch.mergeStatesExpr(col("a1"), k),
        QuantileSketch.mergeStatesExpr(col("a2"), k)).as("r"))
    per.union(all).select(col("r.scope").as("scope"),
      col("r.med_prev").as("med_prev"), col("r.med_new").as("med_new"),
      col("r.ks").as("ks"),
      (col("r.ks") > threshold).as("drifted"))
  }

  // ----------------------------------------- join pre-flight estimate

  /** Pre-flight equi-join cardinality estimate from key sketches — the
    * planner-style "how big is this join going to be" answered WITHOUT
    * running it: one sketch row per side (KMV over the key column) plus
    * the row counts give distinct-key counts, the key-domain overlap
    * (inclusion-exclusion over the merged states), and the
    * uniform-multiplicity output estimate
    * `n_a·n_b·overlap/(keys_a·keys_b)`. At 100 TB this is two map-side
    * passes (each side once, combinable aggregates) versus actually
    * shuffling the join — the sanity check a pipeline runs before
    * committing a cluster to a fat join, and the stats feed
    * broadcast-vs-shuffle and salting decisions. Exact below k (the
    * states hold every distinct key hash), so the driver's oracle pins
    * every column; the multiplicity model's accuracy against the TRUE
    * join size is spec-pinned on the FK fixture. */
  def joinCardinalityEstimate(a: DataFrame, aKey: String,
      b: DataFrame, bKey: String, k: Int = 65536): DataFrame = {
    val sa = a.agg(count(lit(1)).as("n_a"),
      KmvSketch.sketchState(col(aKey).cast("string"), k).as("sk_a"))
    val sb = b.agg(count(lit(1)).as("n_b"),
      KmvSketch.sketchState(col(bKey).cast("string"), k).as("sk_b"))
    sa.crossJoin(sb)
      .select(col("n_a"), col("n_b"),
        KmvSketch.estimateExpr(col("sk_a"), k).as("est_keys_a"),
        KmvSketch.estimateExpr(col("sk_b"), k).as("est_keys_b"),
        (KmvSketch.estimateExpr(col("sk_a"), k) +
          KmvSketch.estimateExpr(col("sk_b"), k) -
          KmvSketch.estimateExpr(KmvSketch.mergeStatesExpr(
            array(col("sk_a"), col("sk_b")), k), k))
          .as("est_key_overlap"))
      .withColumn("est_rows",
        round(col("n_a").cast("double") * col("n_b").cast("double") *
          col("est_key_overlap").cast("double") /
          (col("est_keys_a").cast("double") *
            col("est_keys_b").cast("double")), 4))
  }

  /** Demo entry: pre-flight the orders ⋈ customer join on custkey. */
  def ordersCustomerJoinEstimate(spark: SparkSession, dir: String,
      k: Int = 65536): DataFrame =
    joinCardinalityEstimate(
      ParquetInput.read(spark, s"$dir/orders.parquet"), "o_custkey",
      ParquetInput.read(spark, s"$dir/customer.parquet"), "c_custkey", k)

  // ---------------------------------------------- sketch cube rollup

  /** Distinct-text counts at EVERY level of the (source, lang)
    * hierarchy — leaf cells, per-source, per-lang, grand total — all
    * derived from ONE pass of leaf sketch states: the upper levels are
    * row-level merges of the leaf rows, never rescans. This is the
    * OLAP-cube form of the sketch algebra: at 100 TB a nightly job
    * lands one sketch row per (shard, dimension-cell), and every
    * rollup/slice in the cube is a `collect_list` + merge over a
    * #cells-row table. (Spark's own ROLLUP/CUBE can't do this over
    * count-distinct without rescanning the corpus per grouping set —
    * mergeable states are what collapse the cube to one scan.)
    * `__ALL__` marks the rolled-up position; exact below k, so the
    * driver's oracle pins every cell of every level. */
  def sourceLangDistinctRollup(spark: SparkSession, dir: String,
      k: Int = 65536): DataFrame = {
    // one raw scan builds the leaf states; localCheckpoint so the four
    // level branches share the materialized #cells-row table instead of
    // each re-running the corpus aggregation
    val leaf = docs(spark, dir).groupBy(col("source"), col("lang"))
      .agg(KmvSketch.sketchState(col("text"), k).as("sk"))
      .localCheckpoint()
    def est(states: Column) =
      KmvSketch.estimateExpr(KmvSketch.mergeStatesExpr(states, k), k)
        .as("est_distinct")
    val cells = leaf.select(col("source").as("scope_source"),
      col("lang").as("scope_lang"),
      KmvSketch.estimateExpr(col("sk"), k).as("est_distinct"))
    val bySource = leaf.groupBy(col("source"))
      .agg(collect_list(col("sk")).as("states"))
      .select(col("source").as("scope_source"),
        lit("__ALL__").as("scope_lang"), est(col("states")))
    val byLang = leaf.groupBy(col("lang"))
      .agg(collect_list(col("sk")).as("states"))
      .select(lit("__ALL__").as("scope_source"),
        col("lang").as("scope_lang"), est(col("states")))
    val total = leaf.agg(collect_list(col("sk")).as("states"))
      .select(lit("__ALL__").as("scope_source"),
        lit("__ALL__").as("scope_lang"), est(col("states")))
    cells.unionByName(bySource).unionByName(byLang).unionByName(total)
  }

  // ------------------------------------- range selectivity estimate

  /** Range-predicate selectivity per source PLUS the merged `__ALL__`
    * row, from stored quantile-sketch states — the second planner stat
    * next to [[joinCardinalityEstimate]]: "what fraction of docs has
    * n_chars in [lo, hi]" answered from the same nightly sketch rows
    * that serve percentiles, no rescan. Exact below k (the state holds
    * every row), so the driver's oracle pins each fraction; above k the
    * uniform-sample estimator's error is the standard binomial bound
    * (spec-pinned on a synthetic overflow case). */
  def sourceLengthSelectivity(spark: SparkSession, dir: String,
      lo: Double = 200.0, hi: Double = 400.0,
      k: Int = 65536): DataFrame = {
    import graft.functions.QuantileSketch
    require(lo <= hi, s"lo must be <= hi, got [$lo, $hi]")
    val sk = docs(spark, dir).groupBy(col("source"))
      .agg(QuantileSketch.sketchState(col("doc_id"),
        col("n_chars").cast("double"), k).as("qsk"))
    val per = sk.select(col("source").as("scope"),
      QuantileSketch.rangeSelectivityExpr(col("qsk"), lo, hi)
        .as("selectivity"))
    val all = sk.agg(collect_list(col("qsk")).as("states"))
      .select(lit("__ALL__").as("scope"),
        QuantileSketch.rangeSelectivityExpr(
          QuantileSketch.mergeStatesExpr(col("states"), k), lo, hi)
          .as("selectivity"))
    per.union(all)
  }

  // ------------------------------------------ priority sample table

  /** Per-source TOTAL characters PLUS an `__ALL__` row, all derived
    * from stored-shape [[graft.functions.PrioritySample]] states — the
    * subset-SUM member of the sketch-table family (KMV = distinct,
    * quantile = percentiles, priority = weighted totals): one
    * map-side-combined pass keeps the n+1 highest-priority (q = w/u,
    * deterministic u) docs per source, the global row is a row-level
    * state merge, and the DLT estimator Σ max(w, τ) reads totals off
    * the samples. At 100 TB this is the "how many tokens does slice X
    * hold" primitive: nightly per-shard sample rows a few hundred KB
    * each, any later slice's size estimated without a rescan. Exact
    * below n (τ = 0 ⇒ the estimate is the true BIGINT sum), which is
    * what lets the driver's SQL oracle pin every value. */
  def sourceCharTotals(spark: SparkSession, dir: String,
      n: Int = 65536): DataFrame = {
    import graft.functions.PrioritySample
    val sk = docs(spark, dir).groupBy(col("source"))
      .agg(PrioritySample.sketchState(col("doc_id"),
        col("n_chars").cast("long"), n).as("psk"))
    val per = sk.select(col("source").as("scope"),
      PrioritySample.totalExpr(col("psk"), n).as("est_total_chars"))
    val all = sk.agg(collect_list(col("psk")).as("states"))
      .select(lit("__ALL__").as("scope"),
        PrioritySample.totalExpr(
          PrioritySample.mergeStatesExpr(col("states"), n), n)
          .as("est_total_chars"))
    per.union(all)
  }

  // --------------------------------------------- bloom blocklist guard

  /** Admission against a bloom'd blocklist, end to end — the map-side
    * membership twin of the span guard: documents whose doc_id ≡ 0
    * (mod `holdoutMod`) form the BLOCKLIST (the stand-in for a
    * billion-entry ban list); the rest are the incoming corpus. The
    * blocklist is bloomed PER SOURCE (the stored sketch-table shape),
    * the per-source states OR-merge into one global filter (row-level
    * merge, spec-pinned ≡ one-shot), and the merged words — nBits/8
    * bytes regardless of blocklist cardinality — ride inside a
    * codegen'd [[graft.functions.BloomMightContainExpression]] probe.
    *
    * Plan shape at 100 TB: the corpus scan filters MAP-SIDE (no
    * shuffle, no join) into a clean stream (bloom-negative: definitely
    * not blocked, admitted untouched) and a flagged sliver
    * (bloom-positive: true hits + the ~(1−e^(−kn/m))^k false-positive
    * rate), and only the sliver pays the exact confirm anti-join
    * against the blocklist texts. No false negatives ⇒ the composition
    * is EXACT — the driver's oracle pins it as a plain NOT EXISTS.
    * Catalyst additionally propagates the bloom predicate through the
    * join constraint onto the blocklist scan, so the confirm join's
    * build side never exceeds the blocklist itself; if that side
    * outgrows the broadcast budget at production scale, AQE falls back
    * to a shuffle join whose probe side is still only the sliver. */
  def bloomBlocklistAdmit(spark: SparkSession, dir: String,
      nBits: Int = 1 << 16, numHashes: Int = 4,
      holdoutMod: Int = 7): DataFrame = {
    import graft.functions.BloomSketch
    require(holdoutMod >= 2, s"holdoutMod must be >= 2, got $holdoutMod")
    val d = docs(spark, dir)
    val block = d.filter(col("doc_id") % holdoutMod === 0)
    val incoming = d.filter(col("doc_id") % holdoutMod =!= 0)
      .select(col("doc_id"), col("source"), col("text"))
    // stored-table shape: one bloom row per source, then the row-level
    // OR-merge; the driver collect is the merged words only — bounded
    // at nBits/64 longs by construction, never data-sized, so building
    // it once per (blocklist, nBits, numHashes) is the build-once
    // convention at its cheapest
    val merged = Artifacts("blocklist_bloom", (nBits, numHashes), block) {
      val states = block.groupBy(col("source"))
        .agg(BloomSketch.sketchState(col("text"), nBits, numHashes)
          .as("bloom"))
      states.agg(collect_list(col("bloom")).as("states"))
        .select(BloomSketch.mergeStatesExpr(col("states"), nBits))
        .collect()(0).getSeq[Long](0).toArray
    }
    val flaggedCol = BloomSketch.mightContain(col("text"), merged,
      numHashes)
    val clean = incoming.filter(!flaggedCol)
    val rescued = incoming.filter(flaggedCol)
      .join(block.select(col("text")).distinct(), Seq("text"),
        "left_anti")
    clean.select(col("doc_id"), col("source"))
      .unionByName(rescued.select(col("doc_id"), col("source")))
  }

  /** Per-document rare-token audit via the NATIVE Count-Min probe
    * ([[graft.functions.CmEstimateExpression]]): one corpus pass builds
    * a single global CM state (depth×width longs — a few KB, collected
    * once), and the scoring pass estimates every token's corpus
    * frequency MAP-SIDE inside whole-stage codegen — no UDF, no join,
    * no frequency-table shuffle on the hot path. That is the 100 TB
    * shape: the exact unigram table over a web corpus is billions of
    * rows and joins against every token; the CM state is 8 KB and rides
    * inside the generated code.
    *
    * Contract (the oracle-able half): CM never undercounts, so a token
    * the probe calls rare (estimate < threshold) is TRULY rare — the
    * CM-rare set is a SUBSET of the true rare set, per document
    * (`subset_ok`). The exact `true_rare_n` here is computed with a
    * broadcast frequency join for the contract only; production uses
    * just the map-side probe column. Spark's CacheManager owns the
    * persisted frequency table: a repeated call on the same plan reuses
    * its one cache entry, and `spark.catalog.clearCache()` releases it. */
  def cmRareRatio(spark: SparkSession, dir: String,
      threshold: Long = 2000L, depth: Int = 4,
      width: Int = 256): DataFrame = {
    import graft.functions.CountMinSketch
    val w = TextOps.words(spark, dir).select("doc_id", "word")
    // the exact frequency table is needed anyway (true_rare_n) and CM
    // updates are additive, so build the sketch FROM the persisted
    // frequency table instead of a second full-stream UDAF pass: two
    // corpus scans instead of three, the dropped one being the typed
    // per-row aggregator (r16; weighted state bit-identical by the
    // additivity law, spec-pinned)
    val freq = w.groupBy("word").agg(count(lit(1)).as("f")).persist()
    val state: Array[Long] = freq
      .agg(CountMinSketch.sketchStateWeighted(col("word"), col("f"),
        depth, width).as("st"))
      .collect()(0).getSeq[Long](0).toArray
    val est = CountMinSketch.estimate(col("word"), state, depth, width)
    w.withColumn("cm_rare", est < threshold)
      .join(broadcast(freq), Seq("word"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("f") < threshold, 1L).otherwise(0L))
          .cast("long").as("true_rare_n"),
        (sum(when(col("cm_rare"), 1L).otherwise(0L)) <=
          sum(when(col("f") < threshold, 1L).otherwise(0L)))
          .as("subset_ok"))
  }
}

package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** EXACT set-similarity self-join via prefix filtering (PPJoin /
  * All-Pairs family): build-once set + prefix tables, candidate join,
  * verify, hot-token audit. See [[Dedup]]. */
private[operators] trait DedupSetSim { self: DedupCore =>
  // ------------------------------------------- exact set-similarity join

  /** Build-once tables for [[setSimPairs]]:
    * `<path>/sets` = the full shingle arrays (doc_id, ws, wh),
    * `<path>/prefix` = the rarity-ordered single-token prefix rows
    * (doc_id, n, pos, tok) and `<path>/prefix2` = the hot-token pair
    * rows (doc_id, n, pos, key). The shingle explode + df group-by +
    * per-doc rarity sort — the dominant cost, and one the join would
    * otherwise recompute on every plan branch — runs once per
    * (corpus, threshold, k, hotDf). */
  def materializeSetSimTables(spark: SparkSession, dir: String,
      threshold: Double = 0.5, shingleK: Int = 3,
      hotDf: Int = DefaultHotDf): String = {
    val d = docs(spark, dir)
    Artifacts.dir("setsim", (threshold, shingleK, hotDf), d) { path =>
      // `wh` = per-element xxhash64 of the shingle set, SORTED at build
      // time (r16): the bulk verify intersects the LONG arrays
      // (8 B/element, no string equality) and only survivors touch the
      // string arrays — same hash-prune/string-confirm split as
      // repeatedPositions. Sorting once here lets the verify run an
      // allocation-free merge scan ([[graft.functions
      // .SortedIntersectExpression]]) instead of array_intersect's
      // per-pair hash set — the probe-measured dominant term of the
      // warm query.
      val sets = d
        .select(col("doc_id"),
          shingleArray(col("text"), shingleK).as("ws"))
        .withColumn("wh", sort_array(transform(col("ws"), x => xxhash64(x))))
      sets.write.mode("overwrite").parquet(s"$path/sets")
      // computed once for the two writes below: the second would
      // otherwise recompute the explode, df group-by, join and per-doc
      // sort. A local checkpoint, not persist(): a cached plan keeps its
      // final shuffle's spark.sql.shuffle.partitions partitions, so each
      // write would emit that many files where AQE coalesces to a few.
      val sorted = raritySorted(ParquetInput.read(spark, s"$path/sets"),
        threshold - 0.001).localCheckpoint()
      try {
        setSimPrefixes(sorted, hotDf)
          .write.mode("overwrite").parquet(s"$path/prefix")
        setSimPrefixPairs(sorted, hotDf)
          .write.mode("overwrite").parquet(s"$path/prefix2")
      } finally sorted.queryExecution.logical.foreach {
        case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.unpersist()
        case _ => ()
      }
    }
  }

  /** Hot-token demotion threshold: a prefix token shared by more than
    * this many documents joins through the Δ=2 pair path instead of
    * the single-token path — the PPJoin twin of `planesFor`'s
    * targetBucket. A FIXED cap is the right shape (not one grown with
    * n): it bounds the singles stream at hotDf/2 · prefixRows = O(n)
    * at every corpus size, while the gate fixtures (max prefix df 11)
    * never trip it. 64 keeps the worst undemoted bucket at ~2k
    * candidate rows and measured ×33 fewer sf1-twin candidates. */
  val DefaultHotDf = 64

  /** Enumerated-candidate-row count of [[setSimPairs]]'s two prefix
    * equi-joins, priced from the key document frequencies BEFORE the
    * join runs: a self-join on key enumerates exactly Σ_key df(key)²
    * ordered rows (~2× the `doc_a < doc_b` survivors) — summed over
    * the single-token stream (`tok`) and the hot-pair stream (`key`).
    * One group-by + sum over the union of both streams, each key tagged
    * with its stream so a `tok` and a `key` that print alike stay two
    * buckets; doubles because a saturated corpus's Σ df² is
    * precisely the number too big for the join (the estimate needs
    * magnitude, not exactness). */
  def setSimCandidateEstimate(prefixed: DataFrame,
      prefixPairs: DataFrame): Double =
    Artifacts("setsim_estimate", (), prefixed, prefixPairs) {
      val keys = prefixed.select(lit(0).as("side"), col("tok").as("k"))
        .unionByName(prefixPairs.select(lit(1).as("side"),
          col("key").cast("string").as("k")))
      val r = keys.groupBy(col("side"), col("k")).count()
        .agg(sum(col("count").cast("double") * col("count")
          .cast("double")))
        .collect()(0)
      if (r.isNullAt(0)) 0.0 else r.getDouble(0)
    }

  /** EXACT set-similarity self-join via prefix filtering (the
    * PPJoin/All-Pairs family — Xiao et al. WWW'08, Bayardo et al.
    * WWW'07): all document pairs whose word-`shingleK`-gram SHINGLE-set
    * Jaccard (4-dp rounded, the repo-wide compare grid) is >=
    * `threshold`, with recall exactly 1 — the deterministic counterpart
    * of [[minHashPairs]] on the SAME similarity measure (on a corpus
    * where LSH recall happens to be 1, the two outputs coincide; this
    * one needs no recall argument).
    *
    * Shingle sets, not word sets, deliberately: set-similarity joins
    * need a token universe where rarity EXISTS. This corpus has 31
    * distinct words each in ~75% of documents (word sets are
    * degenerate — measured ~7M qualifying pairs at sf0.1 even at 0.9),
    * but 27k distinct 3-word shingles with max df 25 — which is also
    * why the MinHash path shingles first. Natural corpora are zipfian
    * in both, but the shingle tail is always the fatter one.
    *
    * Why candidates stay bounded without hashing: order every
    * document's shingles by GLOBAL rarity (document frequency asc,
    * shingle asc — any consistent total order works), and keep only
    * each document's first `n − ceil(t'·n) + 1` as its PREFIX. Two sets
    * with Jaccard >= t MUST share a prefix token (pigeonhole on the
    * overlap bound), so an equi-join on prefix tokens finds every
    * qualifying pair — and because prefixes are the RAREST shingles,
    * join buckets are small by construction. `t' = threshold − 0.001`
    * slack keeps generation a superset under the 4-dp rounding
    * contract (verification is exact, so slack only costs candidates,
    * never correctness).
    *
    * HOT-TOKEN PAIR REFINEMENT (round 12 — the measured quadratic
    * killer): prefix rarity dies when the shingle DOMAIN saturates —
    * on the sf1 generator twin the distinct-shingle count is flat
    * (27.3k → 27.9k at 10× docs), so every token's df grows ∝ n and
    * single-token candidates grew ×126 (444k → 56M) against a TRUE
    * output that grew ×10 (256 → 2,560 pairs) — pure false positives.
    * The fix keeps recall exactly 1 via the multi-prefix pigeonhole
    * (Δ = 2): a qualifying pair's two globally-smallest shared tokens
    * s1 < s2 BOTH sit inside each side's (plen+1)-token EXTENDED
    * prefix P2 (s2 has at most n − O unshared + s1 before it). So
    * tokens with df > `hotDf` stop emitting single-token candidate
    * rows; instead each doc emits its hot×hot TOKEN PAIRS within P2,
    * and a pair whose s1 is hot is found either through a cold s2
    * single (s2 ∈ P2 of both) or through the hot pair {s1, s2}. The
    * demoted singles stream is PROVABLY linear (Σ d²/2 over d <= hotDf
    * buckets <= hotDf/2 · prefix rows = O(n·hotDf)); the pair path's
    * required second shared token multiplies each hot bucket's
    * false-positive rate by the per-token collision probability.
    * Measured on the sf1 twin at hotDf=64: distinct candidates
    * 20.4M → 615k (×33), warm wall 30.5 → 9.8 s (identical 2,560-pair
    * output), and the warm cross-scale ratio falls to ×4.3 at ×10
    * data. The pair-row table is linear in n (~470 narrow rows/doc on
    * the twin) and zero on any corpus whose prefixes stay rare — the
    * gate fixtures' max prefix df is 11, so their plans carry no pair
    * rows at all and their candidates are byte-identical. Docs too
    * small for the Δ=2 bound (n·t' < 2, where
    * a qualifying overlap of 1 is possible) emit ALL their P2 tokens
    * as singles, hot or not — the degenerate-tiny-doc escape hatch
    * that keeps the theorem total. The singles' positional filter is
    * relaxed by one position: a rescue single may be s2 with one
    * shared token (the hot s1) before it.
    *
    * SECOND-DECADE HONESTY (round 13, measured; committed artifact
    * BENCH_sf10_r14.json + bench_sfx*_medians.json): the Δ=2 pair
    * path is collision-scaled, and under full DOMAIN SATURATION
    * the collisions themselves grow with n — the generator twin's
    * shingle domain is capped at ~28k by its 30-word vocab, so at 500k
    * docs (100× the gate twin) every pair key's df also grows ∝ n and
    * the pair-path candidate term Σ C(df_pair, 2) turns quadratic:
    * measured warm ×2.4 at the first 10× step but ×28 at the second
    * (8.5 → 238 s), build ×2.8 then ×20. Since round 14 the inline
    * [[PairGuard]] pre-flight prices this term (Σ_key df²) before the
    * join and refuses the saturated regime at the default budget.
    * Escalating the pigeonhole to Δ=3 triples
    * multiplies per-doc key rows by the P3 prefix choose-3 (~14× —
    * worse than the candidates it saves on anything but the most
    * extreme saturation), and an exact subquadratic set-similarity
    * join over a saturated fixed domain is not believed to exist (the
    * all-pairs term is inherent to exactness once every signature
    * collides). The production guidance is therefore REGIME-BASED:
    * this operator is the exact-recall path while prefixes stay
    * discriminative — [[setSimHotTokens]] is the audit that DETECTS
    * saturation (hot buckets above `maxBucket`) — and under saturation
    * the scalable near-dup path is MinHash-LSH ([[minHashPairs]]),
    * whose band keys hash the whole SET (a combinatorial domain that
    * never saturates): measured near-flat through both decades on the
    * same twins (committed medians: warm 0.18 → 0.15 → 0.31 s — ×2.1
    * at the second decade but sub-second absolute, i.e. fixed-cost
    * noise territory; build ×1.5/decade) with its recall quantified
    * against this operator's exact output at the
    * gate. Real 100 TB text corpora sit between the regimes (shingle
    * domains grow with the crawl, but head tokens do saturate) — the
    * hotDf demotion handles the head exactly, and the audit tells an
    * operator when the corpus has left the exact join's envelope.
    *
    * Shuffle ledger: (1) shingle → document-frequency group-by;
    * (2) rarity join + per-doc sort group-by (doc_id); (3) prefix
    * equi-join on shingle (cold singles) ∪ equi-join on hot token
    * pairs, both with the two-sided size filter
    * (t'·max(na,nb) <= min(na,nb) — necessary for J >= t); (4) exact
    * `array_intersect` verify on the candidate pairs only. Nothing is
    * all-pairs; [[setSimHotTokens]] is the observability twin listing
    * any prefix shingle whose bucket exceeds `maxBucket` (informational
    * now — tokens above `hotDf` are already demoted to the pair path,
    * which bounds their buckets without breaking exactness).
    *
    * Stages (1)–(2) run ONCE per corpus via the build-once tables
    * ([[materializeSetSimTables]]) — without them, the self-join +
    * verify recompute the shingle explode on four plan branches
    * (measured 17 s → ~1 s warm at sf0.1, the same trade every
    * build-once table here makes). */
  def setSimPairs(spark: SparkSession, dir: String,
      threshold: Double = 0.5, shingleK: Int = 3,
      hotDf: Int = DefaultHotDf): DataFrame = {
    requireSetSimParams(threshold, hotDf)
    val p = materializeSetSimTables(spark, dir, threshold, shingleK, hotDf)
    setSimJoin(spark, ParquetInput.read(spark, s"$p/sets"),
      ParquetInput.read(spark, s"$p/prefix"),
      ParquetInput.read(spark, s"$p/prefix2"), threshold)
  }

  /** Test reference for [[setSimPairs]]: the sets, prefix and prefix2
    * frames computed inline from the corpus, no artifact. */
  private[operators] def setSimPairsRecompute(spark: SparkSession,
      dir: String, threshold: Double = 0.5, shingleK: Int = 3,
      hotDf: Int = DefaultHotDf): DataFrame = {
    requireSetSimParams(threshold, hotDf)
    val s = docs(spark, dir).select(col("doc_id"),
      shingleArray(col("text"), shingleK).as("ws"))
      .withColumn("wh", sort_array(transform(col("ws"), x => xxhash64(x))))
    val sorted = raritySorted(s, threshold - 0.001)
    setSimJoin(spark, s, setSimPrefixes(sorted, hotDf),
      setSimPrefixPairs(sorted, hotDf), threshold)
  }

  private def requireSetSimParams(threshold: Double, hotDf: Int): Unit = {
    require(threshold > 0.0 && threshold <= 1.0,
      "threshold must be in (0, 1]")
    require(hotDf > 0, "hotDf must be positive")
  }

  /** Candidate generation + verify of [[setSimPairs]] over the sets,
    * prefix and prefix2 frames. */
  private def setSimJoin(spark: SparkSession, sets: DataFrame,
      prefixed: DataFrame, prefixPairs: DataFrame,
      threshold: Double): DataFrame = {
    val tSlack = threshold - 0.001
    // PRE-FLIGHT CANDIDATE GUARD (round-14, verdict task #2): the
    // candidate term Σ_key C(df,2) was MEASURED turning quadratic
    // under full domain saturation (warm ×28 at the second decade,
    // BENCH_sf10_r14.json) — price both key streams from their
    // document frequencies (one map-side agg each, built once per
    // prefix-table input in Artifacts) and refuse the saturated
    // regime before the join runs. setSimHotTokens remains the
    // detection AUDIT; this is the inline enforcement.
    PairGuard.check(spark, "setSimPairs",
      setSimCandidateEstimate(prefixed, prefixPairs),
      "minHashPairs (LSH band keys hash whole SETS - a combinatorial " +
        "domain that never saturates; measured flat across both " +
        "decades) with recall quantified against this operator at " +
        "gate scale")
    // positional filter (PPJoin proper), relaxed by ONE position: every
    // shared element of two sets sorted in the SAME global order sits
    // at sorted-position >= the first shared token's position in BOTH,
    // so the overlap is bounded by min(remaining) — a pair survives
    // iff SOME emitted shared token passes, and under the hot-token
    // refinement the guaranteed emitted token is s1 (first shared,
    // when cold) or s2 (second shared, the cold-rescue or hot-pair
    // case) — s2 has exactly one shared token before it, hence the −1.
    // The un-ceiled alpha keeps the bound a superset under fp rounding.
    val alpha = tSlack / (1.0 + tSlack)
    def joinCands(rows: DataFrame, key: String): DataFrame =
      rows.select(col(key), col("doc_id").as("doc_a"), col("n").as("na"),
          col("pos").as("pa"))
        .join(rows.select(col(key), col("doc_id").as("doc_b"),
          col("n").as("nb"), col("pos").as("pb")), Seq(key))
        .filter(col("doc_a") < col("doc_b"))
        .filter(col("na") * tSlack <= col("nb") &&
          col("nb") * tSlack <= col("na"))
        .filter(least(col("na") - col("pa"), col("nb") - col("pb")) >=
          lit(alpha) * (col("na") + col("nb")) - lit(1.0) - lit(1e-9))
        .select("doc_a", "doc_b")
    val cand = joinCands(prefixed, "tok")
      .unionByName(joinCands(prefixPairs, "key"))
      .distinct()
    // bulk verify on the SORTED LONG hash arrays with a slack prune,
    // exact string confirm on the survivors only (a 64-bit collision
    // would shift the hash-Jaccard by ~2/n — the 0.05 slack absorbs
    // orders of magnitude more than that; the final filter is
    // string-exact). The intersect is the native merge scan over the
    // build-sorted arrays — array_intersect built a per-candidate hash
    // set, the probe-measured dominant warm term (r16).
    val bulk = cand
      .join(sets.select(col("doc_id").as("doc_a"), col("wh").as("wh_a")),
        Seq("doc_a"))
      .join(sets.select(col("doc_id").as("doc_b"), col("wh").as("wh_b")),
        Seq("doc_b"))
      .withColumn("ih", graft.functions.SortedIntersectExpression
        .countCol(col("wh_a"), col("wh_b")).cast("int"))
      .filter(col("ih").cast("double") /
        (size(col("wh_a")) + size(col("wh_b")) - col("ih"))
          .cast("double") >= threshold - 0.05)
      .select("doc_a", "doc_b")
    bulk
      .join(sets.select(col("doc_id").as("doc_a"), col("ws").as("ws_a")),
        Seq("doc_a"))
      .join(sets.select(col("doc_id").as("doc_b"), col("ws").as("ws_b")),
        Seq("doc_b"))
      .withColumn("inter",
        size(array_intersect(col("ws_a"), col("ws_b"))))
      .withColumn("jaccard",
        round(col("inter").cast("double") /
          (size(col("ws_a")) + size(col("ws_b")) - col("inter"))
            .cast("double"), 4))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  /** Per-doc rarity-sorted shingle structs: (doc_id, sw = array of
    * struct(df, tok) in (global df asc, shingle asc) order, n = set
    * size, plen2 = the Δ=2 EXTENDED prefix length
    * `n − ceil(t'·n) + 2`, small = the n·t' < 2 degenerate flag under
    * which a qualifying overlap of 1 is possible and every P2 token
    * must emit a single). */
  private def raritySorted(sets: DataFrame, tSlack: Double): DataFrame = {
    val toks = sets.select(col("doc_id"), explode(col("ws")).as("tok"))
    val dfreq = toks.groupBy("tok").agg(count(lit(1)).as("df"))
    toks.join(dfreq, Seq("tok"))
      .groupBy("doc_id")
      .agg(array_sort(collect_list(struct(col("df"), col("tok"))))
        .as("sw"))
      .select(col("doc_id"), col("sw"), size(col("sw")).as("n"))
      .withColumn("plen2",
        (col("n") - ceil(col("n") * tSlack) + 2).cast("int"))
      .withColumn("small", col("n") * tSlack < 2.0)
  }

  /** Single-token prefix rows over the EXTENDED (Δ=2) prefix:
    * (doc_id, n, pos = 0-based global-rarity position, tok) for every
    * P2 token with df <= hotDf — plus ALL P2 tokens of `small` docs
    * (their qualifying overlap may be a single token, so the pair path
    * cannot be relied on). */
  private def setSimPrefixes(sorted: DataFrame, hotDf: Int): DataFrame =
    sorted
      .select(col("doc_id"), col("n"), col("small"),
        posexplode(slice(col("sw"), lit(1), col("plen2")))
          .as(Seq("pos", "x")))
      .filter(col("small") || col("x.df") <= hotDf)
      .select(col("doc_id"), col("n"), col("pos"), col("x.tok").as("tok"))

  /** Hot-token PAIR rows over the extended prefix: one row per
    * unordered pair of df > hotDf tokens within a doc's P2, keyed by
    * xxhash64(tok1, tok2) (a hash collision only merges buckets —
    * extra candidates, never lost ones). `pos` is the SECOND token's
    * global-rarity position: the pair's positional bound is the s2
    * bound, one shared token (s1) before it. Per-doc row count is
    * quadratic only in the doc's HOT prefix-token count — zero on
    * corpora whose prefixes stay rare. */
  private def setSimPrefixPairs(sorted: DataFrame, hotDf: Int): DataFrame = {
    val hots = filter(
      transform(slice(col("sw"), lit(1), col("plen2")),
        (x, i) => struct(x.getField("df").as("df"),
          x.getField("tok").as("tok"), i.as("pos"))),
      e => e.getField("df") > hotDf)
    sorted
      .select(col("doc_id"), col("n"), hots.as("h"))
      .filter(size(col("h")) >= 2)
      .select(col("doc_id"), col("n"),
        explode(flatten(transform(col("h"), (a, i) =>
          transform(slice(col("h"), i + lit(2), size(col("h"))), b =>
            struct(xxhash64(a.getField("tok"), b.getField("tok"))
              .as("key"), b.getField("pos").as("pos")))))).as("pr"))
      .select(col("doc_id"), col("n"), col("pr.pos").as("pos"),
        col("pr.key").as("key"))
  }

  /** Prefix shingles whose candidate bucket exceeds `maxBucket` — what
    * a skewed corpus would pay in single-token candidate volume.
    * Informational since the hot-token refinement: tokens above
    * [[DefaultHotDf]] are demoted to the Δ=2 pair path automatically,
    * so a non-empty result here no longer means quadratic buckets —
    * it maps which tokens took that path. */
  def setSimHotTokens(spark: SparkSession, dir: String,
      threshold: Double = 0.5, shingleK: Int = 3,
      maxBucket: Int = 1000): DataFrame = {
    val sets = docs(spark, dir)
      .select(col("doc_id"), shingleArray(col("text"), shingleK).as("ws"))
    setSimPrefixes(raritySorted(sets, threshold - 0.001), Int.MaxValue)
      .groupBy("tok").agg(count(lit(1)).as("bucket_size"))
      .filter(col("bucket_size") > maxBucket)
  }
}

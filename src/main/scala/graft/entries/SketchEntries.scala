package graft.entries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{AsOf, Dedup, Multimodal,
  ParquetInput, RangeJoin, Relational, Similarity, TextOps}
import OracleLib._

/** Sketch-table algebra: KMV/quantile/priority/bloom
  * states and the estimates derived from stored rows.
  *
  * Split out of the monolithic `graft.SparkEntry` (round 11): one module
  * per operator family, each holding the family's `queries` entries and
  * their DuckDB `oracleSql` twins. `SparkEntry` aggregates the modules;
  * `SparkEntrySpec` still guards queries↔oracle key parity on the
  * aggregate. Shared oracle SQL fragments live in [[OracleLib]].
  */
private[graft] object SketchEntries {
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_kmv_distinct" -> ((s, d) => Relational.events(s, d)
      .groupBy("event_type")
      .agg(graft.functions.KmvSketch.approxDistinct(
        col("user_id").cast("string")).as("approx_users"))),
    // ESTIMATOR-regime contract (round 11): q_kmv_distinct's oracle only
    // ever exercises the exact-below-k regime at the gate SF — which is
    // how a -24% estimator bias (raw FNV-1a, no avalanche; fixed by
    // fmix64) stayed invisible until the sf1 off-gate check. k=64 <
    // the gate's 150 distinct users forces the estimator AT the gate,
    // and the compared value is the within-50% boolean (~4 sigma of
    // KMV's 1/sqrt(k-2) ≈ 12.7% rsd) — each engine runs its OWN
    // estimator, the q_approx_distinct contract pattern.
    "q_kmv_error_bound" -> ((s, d) => Relational.events(s, d)
      .groupBy("event_type")
      .agg(countDistinct("user_id").as("exact_users"),
        (abs(graft.functions.KmvSketch.approxDistinct(
          col("user_id").cast("string"), 64).cast("double") -
          countDistinct("user_id").cast("double")) /
          countDistinct("user_id").cast("double") <= 0.5)
          .as("within_tol"))),
    // quantile-sketch ESTIMATOR-regime contract (same round-11 closure):
    // k=256 < the gate's 2000 events per type forces the bottom-k
    // SAMPLING regime at the gate (every gate quantile oracle else sits
    // below k where the sample IS the population). Each engine checks
    // its own approximate median against its own exact median within a
    // fixed value tolerance (value ~ uniform[0,100]: 10.0 ≈ 3.2 sigma
    // of a 256-row sample median).
    "q_quantile_error_bound" -> ((s, d) => {
      val k = 256
      Relational.events(s, d).groupBy("event_type")
        .agg(count(lit(1)).as("n_rows"),
          expr("percentile(value, 0.5)").as("exact_med"),
          graft.functions.QuantileSketch.sketchState(
            col("event_id"), col("value"), k).as("sk"))
        .select(col("event_type"), col("n_rows"),
          (abs(graft.functions.QuantileSketch.quantileExpr(col("sk"), 0.5) -
            col("exact_med")) <= 10.0).as("within_tol"))
    }),
    // priority-sample ESTIMATOR-regime contract: n=64 < 2000 events per
    // type forces the tau-censored regime at the gate (the gate total
    // oracle sits below n where tau=0 makes the sum exact). exact_cents
    // is integer-exact cross-engine (decimal-cents money convention);
    // within_tol is the 4-sigma DLT bound (rsd <= 1/sqrt(n-1) ~ 12.6%)
    // checked against the same-query exact sum — DuckDB has no priority
    // sampler, so its boolean is the literal contract value.
    "q_priority_error_bound" -> ((s, d) => {
      val n = 64
      Relational.events(s, d)
        .withColumn("cents",
          (col("value").cast("decimal(18,2)") * 100).cast("long"))
        .groupBy("event_type")
        .agg(sum("cents").as("exact_cents"),
          graft.functions.PrioritySample.sketchState(
            col("event_id"), col("cents"), n).as("st"))
        .select(col("event_type"), col("exact_cents"),
          (abs(graft.functions.PrioritySample.totalExpr(col("st"), n) -
            col("exact_cents").cast("double")) /
            col("exact_cents").cast("double") <= 0.5).as("within_tol"))
    }),
    // sketch-TABLE algebra: per-source stored KMV states, global and
    // pairwise-overlap estimates derived from the states alone
    "q_sketch_sources" -> ((s, d) =>
      graft.operators.SketchOps.sourceDistinctTexts(s, d)),
    // cross-snapshot sketch persistence: two STORED snapshot sketch
    // tables merge into combined-corpus estimates without rescanning
    // snapshot 1 (incremental maintenance, exact below k)
    "q_sketch_snapshot_merge" -> ((s, d) =>
      graft.operators.SketchOps.snapshotSketchMerge(s, d)),
    // snapshot DELTA from the same two stored sketch tables: per-source
    // distinct texts added by / overlapping with the new shard — the
    // KMV set-difference and inclusion-exclusion reads (exact below k)
    "q_sketch_delta" -> ((s, d) =>
      graft.operators.SketchOps.snapshotDelta(s, d)),
    // distribution drift between two STORED quantile sketch snapshots:
    // per-source median shift + two-sample KS statistic, zero rescans
    // (exact below k: each state holds its half's every row)
    "q_quantile_drift" -> ((s, d) =>
      graft.operators.SketchOps.quantileDrift(s, d)),
    // snapshot-delta ESTIMATOR-regime contract (round-12 closure of the
    // same gate hole the *_error_bound entries closed for the base
    // sketches): k=64 < the gate's per-source distinct texts forces the
    // KMV estimator AND snapshotDelta's feasible-region clamps to fire
    // AT the gate. `feasible` pins the clamps (deterministically true
    // by construction: 0 <= added <= new, 0 <= removed <= prev,
    // 0 <= overlap <= min(prev,new)); `within_tol` checks the engine's
    // own est_prev/est_new against its own exact distincts within 50%
    // (~4 sigma of KMV's 1/sqrt(k-2) ≈ 12.7% rsd at k=64) — the
    // q_kmv_error_bound contract pattern; DuckDB's booleans are the
    // literal contract values and the exact counts are cross-engine.
    "q_sketch_delta_bound" -> ((s, d) => {
      val delta = graft.operators.SketchOps.snapshotDelta(s, d, k = 64)
      val base = ParquetInput.read(s, s"$d/documents.parquet")
        .select(col("source"), col("text"),
          (col("doc_id") % 2 === 0).as("prev"))
      val scoped = base.select(col("source").as("scope"), col("text"),
          col("prev"))
        .unionByName(base.select(lit("__ALL__").as("scope"), col("text"),
          col("prev")))
      val exact = scoped.groupBy("scope")
        .agg(countDistinct(when(col("prev"), col("text"))).as("exact_prev"),
          countDistinct(when(!col("prev"), col("text"))).as("exact_new"))
      delta.join(exact, Seq("scope"))
        .select(col("scope"), col("exact_prev"), col("exact_new"),
          (col("est_added").between(lit(0), col("est_new")) &&
            col("est_removed").between(lit(0), col("est_prev")) &&
            col("est_overlap").between(lit(0),
              least(col("est_prev"), col("est_new")))).as("feasible"),
          // multiplicative form (|est-exact| <= 0.5*exact), not a
          // division: a scope whose prev half is EMPTY (exact=0, a
          // one-sided source) must demand est=0 rather than divide by
          // zero (ANSI mode throws; the sf0.01 fixture has one such)
          (abs(col("est_prev").cast("double") -
              col("exact_prev").cast("double")) <=
            lit(0.5) * col("exact_prev").cast("double") &&
            abs(col("est_new").cast("double") -
              col("exact_new").cast("double")) <=
              lit(0.5) * col("exact_new").cast("double")).as("within_tol"))
    }),
    // KS-sampling-band ESTIMATOR-regime contract: k=64 < the gate's
    // per-source half sizes forces ksExpr's bottom-k SAMPLING regime at
    // the gate (the q_quantile_drift oracle sits exact-below-k). The
    // engine computes the EXACT two-sample KS per scope from the raw
    // halves (the same inclusive-CDF-with-ties evaluation the drift
    // oracle uses) and asserts its own sketch KS within 0.35 of it —
    // ~2x the two-sided DKW 95% band for 64-per-side samples
    // (2*sqrt(ln(2/.05)/(2*64)) ≈ 0.34), measured well clear on every
    // fixture SF. n_prev/n_new are the exact cross-engine values;
    // DuckDB's boolean is the literal contract value.
    "q_ks_bound" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val drift = graft.operators.SketchOps.quantileDrift(s, d, k = 64)
      val base = ParquetInput.read(s, s"$d/documents.parquet")
        .select(col("source"), col("n_chars").cast("double").as("v"),
          (conv(substring(md5(col("doc_id").cast("string")), 1, 1), 16, 10)
            .cast("int") < 8).as("a"))
      val scoped = base.select(col("source").as("scope"), col("v"), col("a"))
        .unionByName(base.select(lit("__ALL__").as("scope"), col("v"),
          col("a")))
      val w = Window.partitionBy("scope").orderBy("v")
        .rangeBetween(Window.unboundedPreceding, Window.currentRow)
      val wAll = Window.partitionBy("scope")
      val cdf = scoped
        .withColumn("ca", sum(when(col("a"), 1L).otherwise(0L)).over(w))
        .withColumn("cb", sum(when(col("a"), 0L).otherwise(1L)).over(w))
        .withColumn("na", sum(when(col("a"), 1L).otherwise(0L)).over(wAll))
        .withColumn("nb", sum(when(col("a"), 0L).otherwise(1L)).over(wAll))
      // nullif-guarded divisors (round-13, mirrors the q_quantile_drift
      // oracle): a scope whose docs all land in one md5 half has na=0
      // or nb=0 — an unguarded divide throws under ANSI; with the
      // guard ks_exact is NULL, within_band null-propagates to NULL,
      // and the oracle pins the same no-evidence NULL semantics
      // quantileDrift uses for one-sided scopes.
      val exact = cdf.groupBy("scope")
        .agg(max("na").as("n_prev"), max("nb").as("n_new"),
          max(abs(col("ca").cast("double") /
              nullif(col("na").cast("double"), lit(0.0)) -
            col("cb").cast("double") /
              nullif(col("nb").cast("double"), lit(0.0))))
            .as("ks_exact"))
      drift.join(exact, Seq("scope"))
        .select(col("scope"), col("n_prev"), col("n_new"),
          (abs(col("ks") - col("ks_exact")) <= 0.35).as("within_band"))
    }),
    // mergeable bottom-k quantile sketch table: per-source length
    // percentiles + a row-level-merged __ALL__ row (exact below k,
    // discrete-quantile rule shared with the oracle)
    "q_quantile_sources" -> ((s, d) =>
      graft.operators.SketchOps.sourceLengthQuantiles(s, d)),
    // sketch CUBE: every (source, lang) rollup level from ONE pass of
    // leaf states — upper levels are row-level merges, never rescans
    "q_sketch_rollup" -> ((s, d) =>
      graft.operators.SketchOps.sourceLangDistinctRollup(s, d)),
    // pre-flight join sizing from key sketches: two map-side passes
    // instead of running the join (exact below k)
    "q_join_estimate" -> ((s, d) =>
      graft.operators.SketchOps.ordersCustomerJoinEstimate(s, d)),
    // range-predicate selectivity from the same stored quantile states
    // that serve percentiles (exact below k)
    "q_range_estimate" -> ((s, d) =>
      graft.operators.SketchOps.sourceLengthSelectivity(s, d)),
    // mergeable priority-sample table (DLT subset-sum states):
    // per-source total chars + a row-level-merged __ALL__ row
    // (exact below n — τ = 0 ⇒ the estimate is the true sum)
    "q_priority_totals" -> ((s, d) =>
      graft.operators.SketchOps.sourceCharTotals(s, d)),
    // admission against a bloom'd blocklist: per-source bloom states
    // OR-merged into one codegen'd map-side probe; bloom-positives
    // alone pay the exact confirm join, so the output is EXACT
    "q_bloom_guard" -> ((s, d) =>
      graft.operators.SketchOps.bloomBlocklistAdmit(s, d)),
    "q_sketch_overlap" -> ((s, d) =>
      graft.operators.SketchOps.eventTypeUserOverlap(s, d)),
    "q_heavy_hitters" -> ((s, d) =>
      ParquetInput.read(s, s"$d/documents.parquet")
        .agg(graft.functions.HeavyHitters.topItems(col("source"), 64).as("hh"))
        .select(explode(arrays_zip(col("hh.items"), col("hh.counts"))).as("x"))
        .select(col("x.items").as("source"), col("x.counts").as("n_docs"))),
    // mergeable heavy-hitters TABLE (the corpus_heavy_hitters TVF's
    // operator): per-lang MG states over source, row-level-merged (pure
    // expressions, no raw rescan) into the global top-10 sources.
    // Exact-below-k regime at EVERY scale factor: the source vocabulary
    // is 20 at sf0.001 and sf1 alike (item domains that grow with the
    // data, like user ids, belong to the error-bound contract below);
    // ties at the top-10 cut break (n desc, item asc) in both engines.
    "q_hh_snapshot_merge" -> ((s, d) =>
      graft.operators.SketchOps.heavyHitterSources(s, d)),
    // heavy-hitters ESTIMATOR-regime contract at the gate (the same
    // round-11 closure as q_kmv/quantile/priority_error_bound): k=16 <
    // the gate's 150 distinct users per type forces decrements AT the
    // gate. Unlike the probabilistic sketches this bound is a THEOREM,
    // not a tail bound: every MG counter underestimates its true count
    // by at most N/(k+1), and every item with true count > N/(k+1) is
    // tracked — so within_bound is deterministically true at every SF.
    // DuckDB has no MG sketch; its boolean is the literal contract value.
    "q_hh_error_bound" -> ((s, d) => {
      import graft.functions.HeavyHitters
      val k = 16
      val ev = Relational.events(s, d)
        .withColumn("uid", col("user_id").cast("string"))
      val exact = ev.groupBy("event_type", "uid")
        .agg(count(lit(1)).as("true_n"))
      val est = ev.groupBy("event_type")
        .agg(HeavyHitters.sketchState(col("uid"), k).as("st"))
        .select(col("event_type"), explode(col("st")).as("e"))
        .select(col("event_type"),
          col("e.item").as("uid"), col("e.n").as("est_n"))
      val eps = (col("n_rows").cast("double") / (k + 1))
      exact.join(est, Seq("event_type", "uid"), "left")
        // 5-row per-type totals: always broadcast-safe
        .join(broadcast(ev.groupBy("event_type")
          .agg(count(lit(1)).as("n_rows"))), Seq("event_type"))
        // tracked: 0 <= true - est <= N/(k+1); untracked: true <= N/(k+1)
        .withColumn("ok", when(col("est_n").isNotNull,
          col("est_n") <= col("true_n") &&
            (col("true_n") - col("est_n")).cast("double") <= eps)
          .otherwise(col("true_n").cast("double") <= eps))
        .groupBy("event_type")
        .agg(max("n_rows").as("n_rows"),
          (min(when(col("ok"), 1).otherwise(0)) === 1).as("within_bound"))
    }),
    // Count-Min estimator-regime contract — the OVERCOUNT dual of
    // q_hh_error_bound's Misra-Gries theorem: width=64 < the gate's
    // 150 distinct users per type forces counter collisions AT the
    // gate, and the CM theorem (estimate >= true count, always — every
    // occurrence lands in every probed counter, collisions only ADD)
    // plus row conservation (any counter row sums to N) are DETERMINISTIC,
    // so over_only/conserved are the literal contract values in DuckDB
    // (which has no CM sketch); n_true is the exact cross-engine value.
    "q_cm_error_bound" -> ((s, d) => {
      import graft.functions.CountMinSketch
      val depth = 4; val width = 64
      val probes = (0 until 10).map(_.toString)
      val ev = Relational.events(s, d)
        .select(col("event_type"), col("user_id").cast("string").as("uid"))
      val st = ev.groupBy("event_type")
        .agg(CountMinSketch.sketchState(col("uid"), depth, width)
          .as("state"),
          count(lit(1)).as("n_rows"))
      val probed = st.select(col("event_type"), col("n_rows"),
        CountMinSketch.totalExpr(col("state"), width).as("n_state"),
        explode(array(probes.map(p => struct(lit(p).as("probe_user"),
          CountMinSketch.estimateItem(col("state"), p, depth, width)
            .as("est"))): _*)).as("pr"))
        .select(col("event_type"), col("pr.probe_user").as("probe_user"),
          col("pr.est").as("est"), col("n_rows"), col("n_state"))
      val exact = ev.filter(col("uid").isin(probes: _*))
        .groupBy(col("event_type"), col("uid").as("probe_user"))
        .agg(count(lit(1)).as("n_true"))
      probed.join(broadcast(exact), Seq("event_type", "probe_user"), "left")
        .na.fill(0L, Seq("n_true"))
        .select(col("event_type"), col("probe_user"),
          col("n_true").cast("long").as("n_true"),
          (col("est") >= col("n_true")).as("over_only"),
          (col("n_state") === col("n_rows")).as("conserved"))
    }),
    // native-probe rare-token audit: CM never undercounts, so the
    // probe's rare set is a SUBSET of the true rare set per document
    // (subset_ok — a theorem, the literal DuckDB boolean); n_tokens and
    // the exact true_rare_n are cross-engine values
    "q_cm_rare_ratio" -> ((s, d) =>
      graft.operators.SketchOps.cmRareRatio(s, d)),
  )

  val oracleSql: Map[String, String] = Map(
    // KMV sketch: EXACT below k by construction (it keeps all hashes until
    // k distinct are seen — the contract KmvSketchSpec pins). The oracle SF
    // has 150 distinct users per event_type < k=256, so count(DISTINCT) is
    // a true oracle of the sketch here; the estimator regime (1500 > k at
    // the bench SF) is covered by the spec's error-bound test.
    "q_kmv_distinct" ->
      ("SELECT event_type, count(DISTINCT user_id) AS approx_users " +
        "FROM events GROUP BY event_type"),
    // estimator-regime contract: DuckDB runs ITS approx estimator (HLL)
    // against the same 50% bound — the boolean, not the estimate, is
    // the cross-engine value (see the Spark entry's comment)
    "q_kmv_error_bound" ->
      ("SELECT event_type, count(DISTINCT user_id) AS exact_users, " +
        "(abs(CAST(approx_count_distinct(user_id) AS DOUBLE) - " +
        "CAST(count(DISTINCT user_id) AS DOUBLE)) / " +
        "CAST(count(DISTINCT user_id) AS DOUBLE)) <= 0.5 AS within_tol " +
        "FROM events GROUP BY event_type"),
    // quantile estimator-regime contract: DuckDB checks ITS t-digest
    // median against its exact median under the same value tolerance
    "q_quantile_error_bound" ->
      ("SELECT event_type, count(*) AS n_rows, " +
        "abs(approx_quantile(value, 0.5) - median(value)) <= 10.0 " +
        "AS within_tol FROM events GROUP BY event_type"),
    // priority-sample estimator-regime contract: exact_cents is the
    // integer-exact cross-engine value; DuckDB has no priority sampler,
    // so within_tol is the literal the Spark side must meet (the
    // Spark boolean compares its estimator to its OWN exact sum)
    "q_priority_error_bound" ->
      ("SELECT event_type, CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) " +
        "* 100 AS BIGINT)) AS BIGINT) AS exact_cents, " +
        "true AS within_tol FROM events GROUP BY event_type"),
    // sketch-table estimates, exact-below-k regime (distinct texts per
    // scope << k=65536, so the stored states hold every distinct hash and
    // estimates/inclusion-exclusion overlaps are exact counts — same
    // oracle pattern as q_kmv_distinct; estimator-regime error bounds and
    // the state merge law are pinned in KmvSketchSpec)
    "q_sketch_sources" ->
      ("SELECT source AS scope, CAST(count(DISTINCT text) AS BIGINT) " +
        "AS est_distinct FROM documents GROUP BY source " +
        "UNION ALL SELECT '__ALL__' AS scope, " +
        "CAST(count(DISTINCT text) AS BIGINT) AS est_distinct " +
        "FROM documents"),
    // merging the two persisted snapshot sketch tables must equal the
    // whole-corpus distinct counts (the snapshots partition the corpus
    // by doc_id parity; states stay exact below k)
    "q_sketch_snapshot_merge" ->
      ("SELECT source AS scope, CAST(count(DISTINCT text) AS BIGINT) " +
        "AS est_distinct FROM documents GROUP BY source " +
        "UNION ALL SELECT '__ALL__' AS scope, " +
        "CAST(count(DISTINCT text) AS BIGINT) AS est_distinct " +
        "FROM documents"),
    // snapshot delta, exact-below-k regime: prev = even doc_ids, new =
    // odd doc_ids (the demo's parity split); added = distinct texts of
    // the new shard not in prev, overlap = in both — per source + __ALL__
    "q_sketch_delta" ->
      ("WITH d AS (SELECT source, text, doc_id % 2 = 0 AS prev " +
        "FROM documents), " +
        "g AS (SELECT source AS scope, " +
        "count(DISTINCT CASE WHEN prev THEN text END) AS p, " +
        "count(DISTINCT CASE WHEN NOT prev THEN text END) AS n, " +
        "count(DISTINCT text) AS u FROM d GROUP BY source " +
        "UNION ALL SELECT '__ALL__' AS scope, " +
        "count(DISTINCT CASE WHEN prev THEN text END) AS p, " +
        "count(DISTINCT CASE WHEN NOT prev THEN text END) AS n, " +
        "count(DISTINCT text) AS u FROM d) " +
        "SELECT scope, CAST(p AS BIGINT) AS est_prev, " +
        "CAST(n AS BIGINT) AS est_new, " +
        "CAST(u - p AS BIGINT) AS est_added, " +
        "CAST(u - n AS BIGINT) AS est_removed, " +
        "CAST(p + n - u AS BIGINT) AS est_overlap FROM g"),
    // quantile drift, exact-below-k regime: both halves' states hold
    // every row, so the sketch KS is the true population statistic;
    // the md5 half-split and the inclusive-CDF-with-ties evaluation
    // (RANGE window) are engine-identical. NULLIF guards the na/nb
    // divisions so a source whose docs all land in one md5 half yields
    // NULL ks / NULL drifted — pinning the engine's no-evidence NULL
    // semantics (quantileDrift/ksExpr report NULL for a missing side)
    // instead of DuckDB's IEEE inf → drifted=true
    "q_quantile_drift" ->
      ("WITH d AS (SELECT source, CAST(n_chars AS DOUBLE) AS v, " +
        "substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN " +
        "('0','1','2','3','4','5','6','7') AS a FROM documents), " +
        "dd AS (SELECT source AS scope, v, a FROM d " +
        "UNION ALL SELECT '__ALL__' AS scope, v, a FROM d), " +
        "c AS (SELECT scope, v, " +
        "sum(CASE WHEN a THEN 1 ELSE 0 END) OVER w AS ca, " +
        "sum(CASE WHEN a THEN 0 ELSE 1 END) OVER w AS cb FROM dd " +
        "WINDOW w AS (PARTITION BY scope ORDER BY v " +
        "RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)), " +
        "t AS (SELECT scope, " +
        "sum(CASE WHEN a THEN 1 ELSE 0 END) AS na, " +
        "sum(CASE WHEN a THEN 0 ELSE 1 END) AS nb, " +
        "CAST(quantile_disc(v, 0.5) FILTER (WHERE a) AS DOUBLE) " +
        "AS med_prev, " +
        "CAST(quantile_disc(v, 0.5) FILTER (WHERE NOT a) AS DOUBLE) " +
        "AS med_new FROM dd GROUP BY scope), " +
        "ks AS (SELECT c.scope, round(max(abs(" +
        "CAST(c.ca AS DOUBLE) / NULLIF(CAST(t.na AS DOUBLE), 0) - " +
        "CAST(c.cb AS DOUBLE) / NULLIF(CAST(t.nb AS DOUBLE), 0))), 4) AS ks " +
        "FROM c JOIN t USING (scope) GROUP BY c.scope) " +
        "SELECT t.scope, t.med_prev, t.med_new, ks.ks, " +
        "ks.ks > 0.5 AS drifted FROM t JOIN ks USING (scope)"),
    // snapshot-delta estimator contract: exact distinct counts are the
    // cross-engine values; the clamp/tolerance booleans are literal
    // contract values (the Spark side checks its OWN estimator — see
    // the entry's comment)
    "q_sketch_delta_bound" ->
      ("WITH d AS (SELECT source, text, doc_id % 2 = 0 AS prev " +
        "FROM documents), " +
        "dd AS (SELECT source AS scope, text, prev FROM d " +
        "UNION ALL SELECT '__ALL__' AS scope, text, prev FROM d) " +
        "SELECT scope, " +
        "CAST(count(DISTINCT CASE WHEN prev THEN text END) AS BIGINT) " +
        "AS exact_prev, " +
        "CAST(count(DISTINCT CASE WHEN NOT prev THEN text END) AS BIGINT) " +
        "AS exact_new, true AS feasible, true AS within_tol " +
        "FROM dd GROUP BY scope"),
    // KS sampling-band contract: exact half sizes are the cross-engine
    // values; within_band is the literal contract value (the Spark
    // side checks its OWN sketch KS against its own exact KS)
    "q_ks_bound" ->
      ("WITH d AS (SELECT source, " +
        "substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN " +
        "('0','1','2','3','4','5','6','7') AS a FROM documents), " +
        "dd AS (SELECT source AS scope, a FROM d " +
        "UNION ALL SELECT '__ALL__' AS scope, a FROM d) " +
        "SELECT scope, " +
        "CAST(sum(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT) AS n_prev, " +
        "CAST(sum(CASE WHEN a THEN 0 ELSE 1 END) AS BIGINT) AS n_new, " +
        // one-sided scope (na=0 or nb=0): no exact KS evidence -> NULL,
        // matching the engine's nullif-guarded ks_exact propagation
        "CASE WHEN sum(CASE WHEN a THEN 1 ELSE 0 END) = 0 " +
        "OR sum(CASE WHEN a THEN 0 ELSE 1 END) = 0 " +
        "THEN CAST(NULL AS BOOLEAN) ELSE true END AS within_band " +
        "FROM dd GROUP BY scope"),
    // bottom-k quantile sketch, exact-below-k regime: the state holds
    // every (hash, n_chars) row, and quantileExpr's ceil(q*n) discrete
    // rule is quantile_disc's — so sketch quantiles ARE the exact ones
    "q_quantile_sources" ->
      ("SELECT source AS scope, " +
        "CAST(quantile_disc(n_chars, 0.25) AS DOUBLE) AS p25, " +
        "CAST(quantile_disc(n_chars, 0.5) AS DOUBLE) AS p50, " +
        "CAST(quantile_disc(n_chars, 0.75) AS DOUBLE) AS p75 " +
        "FROM documents GROUP BY source " +
        "UNION ALL SELECT '__ALL__' AS scope, " +
        "CAST(quantile_disc(n_chars, 0.25) AS DOUBLE) AS p25, " +
        "CAST(quantile_disc(n_chars, 0.5) AS DOUBLE) AS p50, " +
        "CAST(quantile_disc(n_chars, 0.75) AS DOUBLE) AS p75 " +
        "FROM documents"),
    // sketch cube rollup, exact-below-k regime: every level's merged
    // state still holds every distinct hash, so each cell is the exact
    // distinct count the corresponding GROUP BY would produce
    "q_sketch_rollup" ->
      ("SELECT source AS scope_source, lang AS scope_lang, " +
        "CAST(count(DISTINCT text) AS BIGINT) AS est_distinct " +
        "FROM documents GROUP BY source, lang " +
        "UNION ALL SELECT source, '__ALL__', " +
        "CAST(count(DISTINCT text) AS BIGINT) FROM documents " +
        "GROUP BY source " +
        "UNION ALL SELECT '__ALL__', lang, " +
        "CAST(count(DISTINCT text) AS BIGINT) FROM documents " +
        "GROUP BY lang " +
        "UNION ALL SELECT '__ALL__', '__ALL__', " +
        "CAST(count(DISTINCT text) AS BIGINT) FROM documents"),
    // join pre-flight, exact-below-k regime: distincts and overlap are
    // exact, est_rows is the same arithmetic over the exact inputs
    "q_join_estimate" ->
      ("WITH ka AS (SELECT CAST(count(*) AS BIGINT) AS n_a, " +
        "CAST(count(DISTINCT o_custkey) AS BIGINT) AS est_keys_a " +
        "FROM orders), " +
        "kb AS (SELECT CAST(count(*) AS BIGINT) AS n_b, " +
        "CAST(count(DISTINCT c_custkey) AS BIGINT) AS est_keys_b " +
        "FROM customer), " +
        "ov AS (SELECT CAST(count(*) AS BIGINT) AS est_key_overlap " +
        "FROM (SELECT DISTINCT o_custkey FROM orders " +
        "INTERSECT SELECT DISTINCT c_custkey FROM customer)) " +
        "SELECT n_a, n_b, est_keys_a, est_keys_b, est_key_overlap, " +
        "round(CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) * " +
        "CAST(est_key_overlap AS DOUBLE) / " +
        "(CAST(est_keys_a AS DOUBLE) * CAST(est_keys_b AS DOUBLE)), 4) " +
        "AS est_rows FROM ka, kb, ov"),
    // range selectivity, exact-below-k regime: the sample IS the
    // population, so the fraction is the exact row fraction
    "q_range_estimate" ->
      ("SELECT source AS scope, " +
        "round(CAST(sum(CASE WHEN n_chars BETWEEN 200 AND 400 " +
        "THEN 1 ELSE 0 END) AS DOUBLE) / CAST(count(*) AS DOUBLE), 4) " +
        "AS selectivity FROM documents GROUP BY source " +
        "UNION ALL SELECT '__ALL__' AS scope, " +
        "round(CAST(sum(CASE WHEN n_chars BETWEEN 200 AND 400 " +
        "THEN 1 ELSE 0 END) AS DOUBLE) / CAST(count(*) AS DOUBLE), 4) " +
        "AS selectivity FROM documents"),
    // priority sampling, exact-below-n regime: the state holds every
    // (priority, id, weight) row, τ = 0, and the DLT estimator
    // Σ max(w, τ) collapses to the exact BIGINT sum
    "q_priority_totals" ->
      ("SELECT source AS scope, " +
        "CAST(sum(n_chars) AS DOUBLE) AS est_total_chars " +
        "FROM documents GROUP BY source " +
        "UNION ALL SELECT '__ALL__' AS scope, " +
        "CAST(sum(n_chars) AS DOUBLE) AS est_total_chars " +
        "FROM documents"),
    // bloom guard is EXACT by composition (no false negatives; false
    // positives die in the confirm join) — the oracle is the plain
    // blocklist anti-semantics the bloom accelerates
    "q_bloom_guard" ->
      ("SELECT d.doc_id, d.source FROM documents d " +
        "WHERE d.doc_id % 7 <> 0 AND NOT EXISTS (" +
        "SELECT 1 FROM documents b " +
        "WHERE b.doc_id % 7 = 0 AND b.text = d.text)"),
    "q_sketch_overlap" ->
      ("WITH s AS (SELECT DISTINCT event_type, user_id FROM events), " +
        "c AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n FROM s " +
        "GROUP BY event_type), " +
        "ov AS (SELECT a.event_type AS type_a, b.event_type AS type_b, " +
        "CAST(count(*) AS BIGINT) AS est_overlap FROM s a JOIN s b " +
        "ON a.user_id = b.user_id AND a.event_type < b.event_type " +
        "GROUP BY a.event_type, b.event_type) " +
        "SELECT ov.type_a, ov.type_b, ca.n AS est_a, cb.n AS est_b, " +
        "ov.est_overlap FROM ov " +
        "JOIN c ca ON ca.event_type = ov.type_a " +
        "JOIN c cb ON cb.event_type = ov.type_b"),
    // Misra-Gries heavy hitters, exact-below-k regime (distinct sources
    // <= k=64, so no decrement/truncation ever fires and the sketch IS
    // the histogram — same oracle pattern as q_kmv_distinct; the
    // estimate-regime N/(k+1) bounds are pinned in HeavyHittersSpec)
    "q_heavy_hitters" ->
      "SELECT source, count(*) AS n_docs FROM documents GROUP BY source",
    // merged per-lang MG states, exact-below-k regime (20 sources <
    // k=64 at every SF): the expression-merged state holds exact totals
    // and the top-10 slice is the exact top-10 (tie-break n desc, then
    // source asc — the state's item ordering)
    "q_hh_snapshot_merge" ->
      ("SELECT source, CAST(count(*) AS BIGINT) AS n_docs " +
        "FROM documents GROUP BY 1 " +
        "ORDER BY n_docs DESC, source LIMIT 10"),
    // MG estimator-regime contract: the N/(k+1) under-count/coverage
    // bound is a theorem, so within_bound is the literal contract value
    // (DuckDB has no MG sketch); n_rows is the exact cross-engine value
    "q_hh_error_bound" ->
      ("SELECT event_type, count(*) AS n_rows, true AS within_bound " +
        "FROM events GROUP BY event_type"),
    // CM contract: over_only (est >= true) and row conservation are
    // theorems of the sketch, so their booleans are the literal
    // contract values; the exact per-probe n_true is cross-engine
    "q_cm_error_bound" ->
      ("WITH p AS (SELECT unnest(['0','1','2','3','4','5','6','7','8'," +
        "'9']) AS probe_user), " +
        "t AS (SELECT event_type FROM events GROUP BY 1), " +
        "ex AS (SELECT event_type, CAST(user_id AS VARCHAR) AS pu, " +
        "count(*) AS c FROM events GROUP BY 1, 2) " +
        "SELECT t.event_type, p.probe_user, " +
        "CAST(coalesce(ex.c, 0) AS BIGINT) AS n_true, " +
        "true AS over_only, true AS conserved " +
        "FROM t CROSS JOIN p LEFT JOIN ex " +
        "ON ex.event_type = t.event_type AND ex.pu = p.probe_user"),
    // per-doc token counts + exact rare counts; subset_ok is the CM
    // no-undercount theorem's literal value
    "q_cm_rare_ratio" ->
      (OracleLib.wordCteWith() +
        ", f AS (SELECT word, count(*) AS c FROM w GROUP BY 1) " +
        "SELECT doc_id, count(*) AS n_tokens, " +
        "CAST(sum(CASE WHEN f.c < 2000 THEN 1 ELSE 0 END) AS BIGINT) " +
        "AS true_rare_n, true AS subset_ok " +
        "FROM w JOIN f USING (word) GROUP BY doc_id"),
  )
}

package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Graph analytics over the near-duplicate graph — the QA layer a dedup
  * pipeline runs AFTER pair generation: triangle counts separate tight
  * clique-like duplicate clusters (template farms, mirror sites) from
  * incidental chains, and PageRank ranks the most "central" documents of
  * a duplication neighborhood (the canonical-representative heuristic
  * when min-id is too arbitrary). Both are classic iterative/keyed-join
  * algorithms expressed as DataFrame ops — no GraphX, no RDDs, so AQE
  * and whole-stage codegen apply throughout.
  *
  * Edge inputs come from the existing pair generators (knnJoin,
  * nearDupPairs, minHashPairs, containmentPairs) — all LSH/band-bucketed,
  * so the edge list is near-linear in corpus size, never all-pairs.
  */
object GraphOps {

  /** Lazy lineage cut shared by every iterative/multi-branch consumer:
    * reliable checkpoint when the session has a dir (executor loss
    * recovers from storage), executor-local blocks otherwise; lazy so
    * the logical plan truncates immediately while materialization
    * piggybacks on the final action (eager = one blocking driver job
    * per call — measured 5.2 s → 3.0 s on the PageRank loop). */
  private def lineageCut(df: DataFrame): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined)
      df.checkpoint(eager = false)
    else df.localCheckpoint(eager = false)

  /** Normalize any (a, b) pair frame to an undirected simple edge list:
    * (src < dst), self-loops dropped, duplicates collapsed. One
    * distinct shuffle, keyed on the pair. */
  def undirect(pairs: DataFrame, a: String, b: String): DataFrame =
    pairs.select(least(col(a), col(b)).as("src"),
        greatest(col(a), col(b)).as("dst"))
      .filter(col("src") =!= col("dst"))
      .distinct()

  /** Per-node triangle participation over an undirected simple edge list
    * (`src < dst` — [[undirect]]'s output). Output: (node, deg, n_tri)
    * for every node in the edge set, n_tri = 0 when the node closes no
    * triangle.
    *
    * Scale shape — the degree-ordered orientation (Cohen 2009 /
    * Suri-Vassilvitskii 2011): every edge is directed from its
    * (deg, id)-smaller endpoint to the larger, which bounds out-degree
    * by O(√m) on ANY graph, so the wedge join (the quadratic step) is
    * Σ outdeg² ≤ O(m^1.5) instead of Σ deg² — the difference between a
    * web-scale hub exploding one task and a bounded skew. Three keyed
    * equi-joins total (orient ×2, wedge close ×1), all
    * AQE-skew-handled; each triangle is found exactly once (its
    * ≺-smallest vertex emits the wedge). */
  def triangles(edges: DataFrame): DataFrame = {
    // the edge list feeds degree counting AND both orientation joins, and
    // the oriented list feeds both wedge spokes AND the closing join —
    // cut lineage once so the upstream pair pipeline (LSH-bucketed
    // knnJoin) computes exactly once, not once per plan branch
    val e = lineageCut(edges)
    val deg = e.select(explode(array(col("src"), col("dst"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    // orient by the total order ≺ = (deg, id); keep each endpoint's key
    // so the wedge can order its two spokes without re-joining degrees
    val keyed = e
      .join(deg.select(col("node").as("src"), col("deg").as("d_src")), "src")
      .join(deg.select(col("node").as("dst"), col("deg").as("d_dst")), "dst")
    val oriented = keyed.select(
      when(struct(col("d_src"), col("src")) < struct(col("d_dst"), col("dst")),
        struct(col("src").as("u"), col("dst").as("v"),
          struct(col("d_dst").as("kd"), col("dst").as("kid")).as("kv")))
        .otherwise(struct(col("dst").as("u"), col("src").as("v"),
          struct(col("d_src").as("kd"), col("src").as("kid")).as("kv")))
        .as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v"), col("e.kv").as("kv"))
    val orientedCut = lineageCut(oriented)
    // wedges at u: ordered out-neighbor pairs (v ≺ w); closing edge, if
    // present, is stored oriented v → w by construction
    val w1 = orientedCut.select(col("u"), col("v"), col("kv"))
    val w2 = orientedCut.select(col("u"), col("v").as("w"), col("kv").as("kw"))
    val wedges = w1.join(w2, Seq("u")).filter(col("kv") < col("kw"))
      .select(col("u"), col("v"), col("w"))
    val tri = wedges.join(
      orientedCut.select(col("u").as("v"), col("v").as("w")), Seq("v", "w"))
    // each closed triangle counts for all three corners
    val perNode = tri
      .select(explode(array(col("u"), col("v"), col("w"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("n_tri"))
    deg.join(perNode, Seq("node"), "left")
      .select(col("node"), col("deg"),
        coalesce(col("n_tri"), lit(0L)).as("n_tri"))
  }

  /** Fixed-iteration PageRank (power method, damping `d`) over an
    * undirected simple edge list — each undirected edge contributes in
    * both directions, so the transition matrix is the normalized
    * adjacency. Every node in the edge set has degree ≥ 1, so there are
    * no dangling nodes and the per-iteration mass is exactly
    * (1−d) + d·Σpr. Output: (node, deg, pr) with pr rounded to
    * `roundTo` decimals. The default (9) trims IEEE accumulation noise
    * while keeping rank RESOLUTION on large graphs — pr scales like
    * 1/n, so aggressive rounding would flatten a big corpus's ranking
    * into ties. Oracle-compare call sites pass the coarser rounding
    * they need (SparkEntry uses 4 dp, matching its DuckDB twin, where
    * partition-dependent summation order across 10 chained iterations
    * could flip a 6-dp boundary value between engines).
    *
    * Scale shape: the rank vector is (node, pr) — ONE row per node; an
    * iteration is contribution = pr/deg shipped over the edge list (a
    * keyed equi-join on src/dst) and a partial-agg sum on the receiving
    * node: two shuffles per iteration, both on the node key, identical
    * partitioning every round. `iters` is fixed (default 10), so the
    * lineage is bounded and deterministic — no convergence test, no
    * driver round-trips; for very long chains swap in the same
    * localCheckpoint cadence as [[Dedup.connectedComponents]]. */
  def pageRank(edges: DataFrame, iters: Int = 10, d: Double = 0.85,
      roundTo: Int = 9): DataFrame = {
    require(iters >= 0, "iters must be >= 0")
    // lineage cut before AND inside the loop: without it, iteration i's
    // plan re-derives the whole edge pipeline i times over and Catalyst
    // re-optimizes a growing 2i-join tree. The cut frames are tiny —
    // the edge list once, one (node, pr) row per node per round.
    // undirected → both directions once; deg = out-degree = degree;
    // the contribution join ships (pr/deg) over this co-keyed layout
    // NOTE (r16, measured): pre-partitioning the edge list by src
    // before the cut does NOT help — under AQE the checkpoint's
    // LogicalRDD surfaces as Scan ExistingRDD with UNKNOWN partitioning
    // (verified on both lazy and eager localCheckpoint, Spark 4.1:
    // plans/r16/pagerank_iteration_plans.txt), so every iteration
    // re-exchanges the edge scan regardless and the upfront
    // repartition is a pure extra shuffle. Left unpartitioned.
    val directed = lineageCut(
      edges.select(col("src"), col("dst"))
        .union(edges.select(col("dst").as("src"), col("src").as("dst"))))
    val deg = lineageCut(directed.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("deg")))
    val n = deg.count()
    // the rank STATE carries deg (r17): deg is static across rounds, so
    // joining it back per iteration was one whole SortMergeJoin (plus
    // both exchanges — the checkpointed frames surface with unknown
    // partitioning, see the r16 note above) paid 10×; carrying the
    // 8-byte column through the per-round rebuild join costs n longs of
    // shuffle and removes that join AND the final deg re-join. Same
    // per-group arithmetic (sum(pr/deg) over identical groups).
    var state = deg.select(col("node"), col("deg"), lit(1.0 / n).as("pr"))
    for (_ <- 1 to iters) {
      // mass rows over the edges + one zero-mass ANCHOR row per node
      // (carrying deg) folded into ONE aggregate: the anchor guarantees
      // every node survives the round (the old left-join rebuild) and
      // max(deg) re-derives the static degree (edge rows carry null),
      // so the per-round plan is join + agg — no rebuild join at all.
      val mass = state
        .join(directed.select(col("src").as("node"), col("dst")), Seq("node"))
        .select(col("dst").as("node"), (col("pr") / col("deg")).as("m"),
          lit(null).cast("long").as("deg"))
      state = lineageCut(mass
        .unionByName(state.select(col("node"), lit(0.0).as("m"), col("deg")))
        .groupBy("node")
        .agg(sum(col("m")).as("in_mass"), max(col("deg")).as("deg"))
        .select(col("node"), col("deg"),
          (lit((1.0 - d) / n) +
            lit(d) * col("in_mass")).as("pr")))
    }
    state.select(col("node"), col("deg"), round(col("pr"), roundTo).as("pr"))
  }

  /** Personalized PageRank — seeded quality/affinity propagation: the
    * teleport mass returns to a SEED set instead of the uniform vector,
    * so the stationary rank measures each node's connectivity to the
    * trusted cohort. This is the classic seed-expansion curation pass
    * ("rank the whole corpus by affinity to a vetted subset") and the
    * graph twin of [[graft.operators.TextOps]]'s DSIR-style importance
    * weights. Seeds outside the edge set are ignored (they can neither
    * receive nor forward mass).
    *
    * Same iteration shape and lineage-cut policy as [[pageRank]]; the
    * only structural change is the per-node teleport term, a broadcast
    * of the (tiny, by definition) seed membership onto the rank state.
    * Ranks sum to ≤ 1 (mass conserved; equality when every node
    * reaches a seed). */
  def personalizedPageRank(edges: DataFrame, seeds: DataFrame,
      iters: Int = 10, d: Double = 0.85, roundTo: Int = 9): DataFrame = {
    require(iters >= 0, "iters must be >= 0")
    val directed = lineageCut(
      edges.select(col("src"), col("dst"))
        .union(edges.select(col("dst").as("src"), col("src").as("dst"))))
    val degBase = directed.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("deg"))
    val deg = lineageCut(degBase.join(
        broadcast(seeds.select(col("node")).distinct()
          .withColumn("is_seed", lit(true))),
        Seq("node"), "left")
      .withColumn("is_seed", coalesce(col("is_seed"), lit(false))))
    val nSeeds = deg.filter(col("is_seed")).count()
    require(nSeeds > 0, "no seed appears in the edge set")
    val teleport = when(col("is_seed"), lit((1.0 - d) / nSeeds))
      .otherwise(lit(0.0))
    // deg AND is_seed ride in the rank state (r17, the pageRank trade):
    // both are static per node, so the per-round deg join and the final
    // re-join disappear for 9 bytes/node of extra state shuffle.
    var state = deg.select(col("node"), col("deg"), col("is_seed"),
      when(col("is_seed"), lit(1.0 / nSeeds)).otherwise(lit(0.0)).as("pr"))
    for (_ <- 1 to iters) {
      // state-carry round (r17): the contribution join reads (pr, deg)
      // straight off the state, and the rebuild left-join re-anchors
      // every node. The pageRank anchored-union form was ALSO tried
      // here and measured consistently slower for PPR (n=9 medians
      // 1.77 → 1.98 s at the gate) — the three-aggregate union round
      // loses to the rebuild join once the anchor row widens to
      // (deg, is_seed); kept as the measured trade.
      val contrib = state
        .join(directed.select(col("src").as("node"), col("dst")), Seq("node"))
        .groupBy(col("dst").as("node"))
        .agg(sum(col("pr") / col("deg")).as("in_mass"))
      state = lineageCut(state.select(col("node"), col("deg"), col("is_seed"))
        .join(contrib, Seq("node"), "left")
        .select(col("node"), col("deg"), col("is_seed"),
          (teleport + lit(d) * coalesce(col("in_mass"), lit(0.0)))
            .as("pr")))
    }
    state.select(col("node"), col("deg"), col("is_seed"),
      round(col("pr"), roundTo).as("pr"))
  }

  /** Build-once k-NN edge list — the "materialize the pair graph once"
    * recipe every multi-query graph workload uses: triangles, PageRank,
    * and seeded rank all consume the SAME undirected edge set, so the
    * LSH-bucketed knnJoin + cosine + top-k pipeline should run once per
    * corpus, not once per analytics query. */
  def materializeKnnEdges(spark: SparkSession, dir: String, k: Int = 5,
      numPlanes: Int = 8): String = {
    val e = Tables.embeddings(spark, dir)
    Artifacts.dir("knn_edges", (k, numPlanes), e) { path =>
      knnEdgesRecompute(spark, dir, k, numPlanes)
        .write.mode("overwrite").parquet(path)
    }
  }

  private def knnEdges(spark: SparkSession, dir: String, k: Int,
      numPlanes: Int): DataFrame =
    ParquetInput.read(spark, materializeKnnEdges(spark, dir, k, numPlanes))

  /** The undirected k-NN edge list derived from the LSH pair pipeline,
    * no artifact — the build body of [[materializeKnnEdges]] and the
    * specs' reference for the graph queries below. */
  private[operators] def knnEdgesRecompute(spark: SparkSession, dir: String,
      k: Int = 5, numPlanes: Int = 8): DataFrame =
    undirect(Similarity.knnJoin(spark, dir, k, numPlanes), "vec_a", "vec_b")

  /** Demo entries over the k-NN similarity graph ([[Similarity.knnJoin]]
    * undirected) — the duplication-neighborhood QA report. Each scans
    * the build-once edge table ([[materializeKnnEdges]]), so the LSH
    * pair pipeline runs once per corpus, not once per graph query. */
  def knnTriangles(spark: SparkSession, dir: String, k: Int = 5,
      numPlanes: Int = 8): DataFrame =
    triangles(knnEdges(spark, dir, k, numPlanes))

  def knnPageRank(spark: SparkSession, dir: String, k: Int = 5,
      numPlanes: Int = 8, iters: Int = 10, roundTo: Int = 9): DataFrame =
    pageRank(knnEdges(spark, dir, k, numPlanes), iters,
      roundTo = roundTo)

  /** Seeded affinity over the k-NN graph: seeds = the vectors of
    * `seedLabel` — "rank every vector by connectivity to the trusted
    * cohort", the label-propagation curation demo. */
  def knnSeededRank(spark: SparkSession, dir: String, seedLabel: Int = 0,
      k: Int = 5, numPlanes: Int = 8, iters: Int = 10,
      roundTo: Int = 9): DataFrame =
    personalizedPageRank(
      knnEdges(spark, dir, k, numPlanes),
      Tables.embeddings(spark, dir).filter(col("label") === seedLabel)
        .select(col("vec_id").as("node")),
      iters, roundTo = roundTo)
}

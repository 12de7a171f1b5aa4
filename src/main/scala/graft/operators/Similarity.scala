package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Similarity search over the `embeddings` table (64-dim float vectors).
  *
  * Two paths, per the standard ANN playbook:
  *  - brute-force cosine top-k: the exact baseline — a broadcast of the
  *    query vector against a single narrow scan; O(N) with no shuffle,
  *    perfectly parallel. Correct at any scale, used to measure recall.
  *  - LSH-bucketed (random hyperplane) search: the 100 TB path — vectors
  *    are bucketed by sign-pattern against H fixed hyperplanes; search
  *    touches only matching buckets (plus 1-bit multiprobe), so the
  *    candidate set is ~N/2^H per probe instead of N. The all-pairs
  *    near-dup join is a bucketed equi-join — never a cartesian product.
  *
  * Dot products use the native [[graft.functions.DotProductExpression]]
  * (codegen'd), not a UDF and not `zip_with` + `aggregate`, whose
  * lambdas Spark interprets (`CodegenFallback`).
  */
object Similarity {

  private def embeddings(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)

  /** THE dot-product fold: sequential, index-ordered, in double — the
    * single definition every cosine in this file (and its DuckDB
    * `list_dot_product` oracle twin) relies on for 4-dp agreement.
    * r17: the `aggregate(zip_with(…))` higher-order form became the
    * native codegen [[graft.functions.DotProductExpression]] — same
    * left-to-right double fold (spec-pinned bit-equal, nulls included),
    * minus the per-call zipped-array allocation, the array<double> cast
    * copies and the interpreted lambda, which dominated the
    * per-candidate cost of every LSH pair join here. */
  private def dotCols(a: org.apache.spark.sql.Column,
      b: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    graft.functions.DotProductExpression.dotCol(a, b)

  private def dot(a: String, b: String) = dotCols(col(a), col(b))

  /** Per-vector L2 norm (+ label passthrough). */
  def norms(spark: SparkSession, dir: String): DataFrame =
    embeddings(spark, dir).select(
      col("vec_id"),
      round(sqrt(dot("embedding", "embedding")), 4).as("norm"),
      col("label"))

  /** Per-dimension int8 scalar quantization — the storage-compression
    * prep of an ANN index build (a 64-dim float vector becomes 64 bytes;
    * 4× smaller scans before any product quantization). Two passes:
    * (1) per-dimension min/max — posexplode + a 64-group aggregate, tiny
    * result broadcast back; (2) a narrow codegen'd map computing
    * `least(255, floor((v − min) · 255 / (max − min)))` (floor, not
    * round — round's half-way tie-breaking differs between engines;
    * floor is unambiguous, and the max value clamps via `least`).
    * Constant dimensions quantize to 0. Output is exploded to
    * (vec_id, dim, q) scalars: directly oracle-comparable, and the shape
    * a column-oriented index writer consumes. */
  def quantizeEmbeddings(spark: SparkSession, dir: String): DataFrame = {
    val flat = embeddings(spark, dir)
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("dim", "v")))
      .select(col("vec_id"), col("dim").cast("long").as("dim"),
        col("v").cast("double").as("v"))
    val stats = flat.groupBy("dim")
      .agg(min("v").as("d_min"), max("v").as("d_max"))
    flat.join(broadcast(stats), Seq("dim"))
      .select(col("vec_id"), col("dim"),
        when(col("d_max") === col("d_min"), lit(0L)).otherwise(
          least(lit(255L),
            floor((col("v") - col("d_min")) * 255.0 /
              (col("d_max") - col("d_min"))))).cast("long").as("q"))
  }

  /** Exact cosine top-k for one query vector (by vec_id). The 1-row query
    * side is broadcast; the plan is scan → codegen'd map → TakeOrdered. */
  def bruteForceTopK(spark: SparkSession, dir: String, queryId: Long,
      k: Int = 10): DataFrame = {
    val e = embeddings(spark, dir)
    val q = e.filter(col("vec_id") === queryId)
      .select(col("embedding").as("q_emb"))
    e.filter(col("vec_id") =!= queryId)
      .crossJoin(broadcast(q))
      .select(col("vec_id"), col("label"),
        round(dot("embedding", "q_emb") /
          (sqrt(dot("embedding", "embedding")) * sqrt(dot("q_emb", "q_emb"))), 4)
          .as("cosine"))
      .orderBy(col("cosine").desc, col("vec_id").asc)
      .limit(k)
  }

  // ------------------------------------------------- random-hyperplane LSH

  /** Deterministic pseudo-Gaussian hyperplanes: component (i,j) from a
    * SplitMix64 walk (sum of 4 uniforms, CLT-ish) — reproducible across
    * executors with no RNG state. */
  def hyperplanes(numPlanes: Int, dim: Int): Array[Array[Double]] = {
    def splitmix(x0: Long): Long = {
      var x = x0 + 0x9E3779B97F4A7C15L
      x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
      x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
      x ^ (x >>> 31)
    }
    Array.tabulate(numPlanes, dim) { (i, j) =>
      val u = (0 until 4).map { r =>
        splitmix((i.toLong * dim + j) * 4 + r).toDouble / Long.MaxValue.toDouble
      }.sum
      u / 2.0 // ~N(0, 1/3)-ish; only the sign pattern matters
    }
  }

  /** The bucket-count sizing rule as code — the mitigation the sf1
    * scale run measured (PLANS.md "Scale validation"): the LSH
    * self-join generates ~n²/2^numPlanes candidate pairs, so holding
    * per-vector cost flat as n grows means growing the plane count,
    * not the bucket cap. Returns the smallest `numPlanes` whose
    * EXPECTED bucket occupancy n/2^p is at or under `targetBucket`
    * (default 250 — the middle of capBuckets' documented 100–500
    * band), clamped to [1, 30]. Deterministic hyperplanes mean two
    * runs with the same n bucket identically. */
  def planesFor(n: Long, targetBucket: Int = 250): Int = {
    require(n > 0 && targetBucket > 0, "n and targetBucket must be > 0")
    var p = 1
    while (p < 30 && (n.toDouble / (1L << p).toDouble) > targetBucket)
      p += 1
    p
  }

  /** Sentinel plane count meaning "size from the data": the LSH
    * self-join operators default to it, resolving via [[planesFor]]
    * over the corpus row count — so a 100× ingest gets matched bucket
    * occupancy WITHOUT anyone remembering the knob (the r11 sf1 run
    * measured the fixed default's n²/buckets term at ×8.1 wall growth
    * vs ×2.3 at matched occupancy; the committed two-decade probe —
    * `tools/ScaleProbe`, scale_probe rows of BENCH_sf10_r14.json —
    * measures the production path at planes 3 → 7 → 10, warm 8.3 →
    * 15.1 → 63.2 s = ×1.8 then ×4.2 per ×10 data, sublinear through
    * both decades). Pass an explicit positive count to
    * pin the bucketing — the bench/oracle entries pin 8 so committed
    * artifacts stay comparable across rounds and the SQL oracles'
    * hardcoded bucket expressions keep matching. */
  val AutoPlanes = 0

  /** Embedding-corpus row count — the "reported stats" read a
    * build-once index would serve; one metadata-cheap count per corpus
    * snapshot, never per query. */
  def embeddingCount(spark: SparkSession, dir: String): Long = {
    val e = embeddings(spark, dir)
    Artifacts("embedding_count", (), e)(e.count())
  }

  private[graft] def resolvePlanes(spark: SparkSession, dir: String,
      numPlanes: Int, targetBucket: Int = 250): Int =
    if (numPlanes == AutoPlanes)
      planesFor(embeddingCount(spark, dir), targetBucket)
    else numPlanes

  /** Sign-pattern LSH bucket id of each vector against `numPlanes` fixed
    * hyperplanes (bit i = sign of dot with plane i). A native codegen'd
    * expression ([[graft.functions.HyperplaneBucketExpression]]) — the
    * bucket assignment feeds every ANN self-join, so it must not be the
    * one serialization boundary in an otherwise WholeStageCodegen'd
    * scan → bucket → shuffle pipeline. */
  def withBucket(spark: SparkSession, dir: String,
      numPlanes: Int = 12): DataFrame =
    embeddings(spark, dir).withColumn("bucket",
      graft.functions.HyperplaneBucketExpression.native(col("embedding"), numPlanes))

  /** Bucket-size cap for the embedding-LSH SELF-joins — the same
    * boundedness contract as [[Dedup.bucketPairs]]'s `maxBucket`: one
    * pathologically dense bucket (near-constant embeddings, a collapsed
    * encoder batch, an adversarial shard) would otherwise make the
    * bucket equi-join O(H²) inside a single task at 100× scale.
    * Buckets holding more than `maxBucket` vectors are dropped from the
    * candidate stream BEFORE the join; the prune is surfaced inline via
    * the shared `graft_bucket_prune_*` observation + WARN listener
    * ([[Observations]]) and auditable after the fact with
    * [[embedHotBuckets]]. `maxBucket <= 0` disables the cap (and the
    * bound).
    *
    * Plan shape: the size table is one partial-agg shuffle over the
    * narrow bucket column (≤ 2^numPlanes rows — tiny by construction),
    * broadcast back as a semi-join filter; embeddings never re-shuffle
    * for the cap. Scale `numPlanes` with the corpus so the EXPECTED
    * bucket stays well under the cap: target N/2^numPlanes ≈ 100–500
    * (e.g. 20 planes for 10⁹ vectors); the cap is the guard for the
    * skewed tail, not the sizing mechanism. */
  private def capBuckets(bucketed: DataFrame, maxBucket: Int): DataFrame =
    if (maxBucket <= 0) bucketed
    else {
      val sizes = bucketed.groupBy("bucket")
        .agg(count(lit(1)).as("bucket_n"))
      val over = col("bucket_n") > maxBucket
      val keep = Observations.observe(sizes, Observations.BucketPrune,
          coalesce(sum(when(over, 1L).otherwise(0L)), lit(0L)),
          coalesce(sum(when(over, col("bucket_n")).otherwise(0L)),
            lit(0L)))
        .filter(col("bucket_n") <= maxBucket)
      bucketed.join(broadcast(keep.select("bucket")), Seq("bucket"))
    }

  /** Audit of what an embedding-LSH `maxBucket` cap drops: the buckets
    * (with sizes) holding more than `maxBucket` vectors — the embedding
    * twin of [[Dedup.minHashHotBuckets]]. Empty when nothing would be
    * pruned. */
  def embedHotBuckets(spark: SparkSession, dir: String,
      numPlanes: Int = 8, maxBucket: Int = 1000): DataFrame =
    withBucket(spark, dir, numPlanes)
      .groupBy("bucket").agg(count(lit(1)).as("bucket_n"))
      .filter(col("bucket_n") > maxBucket)

  /** ANN top-k via LSH buckets with 1-bit multiprobe: search the query's
    * bucket plus all buckets at Hamming distance 1 (numPlanes+1 probes),
    * brute-force only within those candidates. */
  def lshTopK(spark: SparkSession, dir: String, queryId: Long, k: Int = 10,
      numPlanes: Int = 12): DataFrame = {
    val bucketed = withBucket(spark, dir, numPlanes)
    val q = bucketed.filter(col("vec_id") === queryId)
      .select(col("embedding").as("q_emb"), col("bucket").as("q_bucket"))
    // probe set: q_bucket and q_bucket with each single bit flipped
    val probes = array((0 to numPlanes).map { i =>
      if (i == 0) col("q_bucket")
      else col("q_bucket").bitwiseXOR(lit(1L << (i - 1)))
    }: _*)
    bucketed.filter(col("vec_id") =!= queryId)
      .join(broadcast(q.withColumn("probe_buckets", probes)),
        array_contains(col("probe_buckets"), col("bucket")))
      .select(col("vec_id"), col("label"),
        round(dot("embedding", "q_emb") /
          (sqrt(dot("embedding", "embedding")) * sqrt(dot("q_emb", "q_emb"))), 4)
          .as("cosine"))
      .orderBy(col("cosine").desc, col("vec_id").asc)
      .limit(k)
  }

  /** Recall@k of an ANN method against the brute-force baseline, as a
    * one-row DataFrame. Every input is fixed (deterministic hyperplanes /
    * centroids, fixed corpus), so the recall is a CONSTANT of the engine —
    * pinned by a VALUES oracle in `SparkEntry.oracleSql`, which upgrades
    * the ANN entries from rows-only to hash-compared. The approximate
    * query runs in full as a subplan.
    *
    * `lshPlanes` defaults to 4 here (vs 12 for dedup bucketing): the
    * synthetic embeddings are isotropic (max pairwise cosine ≈ 0.37, no
    * neighbor structure), so single-table hyperplane LSH recall tracks the
    * fraction of corpus probed — 4 planes + 1-bit multiprobe covers ~31%
    * and lands recall 0.5; on clustered corpora (SimilaritySpec's planted
    * neighbors) the same operator reaches recall 1.0. */
  def annRecall(spark: SparkSession, dir: String, method: String,
      queryId: Long = 0L, k: Int = 10, lshPlanes: Int = 4): DataFrame = {
    val truth = bruteForceTopK(spark, dir, queryId, k).select("vec_id")
    val approx = (method match {
      case "lsh" => lshTopK(spark, dir, queryId, k, lshPlanes)
      case "ivf" => Ivf.topK(spark, dir, queryId, k)
      case other => throw new IllegalArgumentException(
        s"unknown ANN method '$other' (expected 'lsh' or 'ivf')")
    }).select("vec_id")
    truth.join(approx.withColumn("hit", lit(1)), Seq("vec_id"), "left")
      .agg(count(lit(1)).as("n_true"),
        sum(coalesce(col("hit"), lit(0))).as("n_hit"))
      .select(lit(method).as("method"), lit(k).as("k"),
        col("n_true"), col("n_hit").cast("long").as("n_hit"),
        round(col("n_hit").cast("double") / col("n_true").cast("double"), 4)
          .as("recall"))
  }

  /** k-NN join: top-k neighbors for EVERY vector (similarity-graph
    * construction) via the bucketed LSH self-join + a per-vector window
    * top-k. The quadratic blowup is bounded by bucket size; ranking is a
    * single shuffle on vec_a. At 100 TB this is the standard
    * dedup-graph/retrieval-index build shape — never an all-pairs product. */
  def knnJoin(spark: SparkSession, dir: String, k: Int = 5,
      numPlanes: Int = AutoPlanes, maxBucket: Int = 1000): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val planes = resolvePlanes(spark, dir, numPlanes)
    val bucketed = capBuckets(withBucket(spark, dir, planes), maxBucket)
    val l = bucketed.select(col("bucket"), col("vec_id").as("vec_a"),
      col("embedding").as("emb_a"))
    val r = bucketed.select(col("bucket"), col("vec_id").as("vec_b"),
      col("embedding").as("emb_b"))
    val w = Window.partitionBy("vec_a")
      .orderBy(col("cosine").desc, col("vec_b").asc)
    l.join(r, Seq("bucket"))
      .filter(col("vec_a") =!= col("vec_b"))
      .select(col("vec_a"), col("vec_b"),
        round(dot("emb_a", "emb_b") /
          (sqrt(dot("emb_a", "emb_a")) * sqrt(dot("emb_b", "emb_b"))), 4)
          .as("cosine"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** Per-label centroid similarity: mean embedding per label (via
    * posexplode → one partial-agg shuffle on (label, dim) — no arrays
    * cross the shuffle), then pairwise centroid cosine across labels via
    * an equi-join on dim. Label count is small by definition, so the
    * pairwise stage is tiny; the heavy stage is the linear scan+agg. The
    * cluster-separation / drift diagnostic of an embedding pipeline. */
  def labelCentroidCosine(spark: SparkSession, dir: String): DataFrame = {
    val dims = embeddings(spark, dir)
      .select(col("label"), posexplode(col("embedding")).as(Seq("dim", "x")))
      .groupBy("label", "dim").agg(avg(col("x").cast("double")).as("m"))
    val a = dims.select(col("label").as("label_a"), col("dim"),
      col("m").as("ma"))
    val b = dims.select(col("label").as("label_b"), col("dim"),
      col("m").as("mb"))
    a.join(b, Seq("dim")).filter(col("label_a") < col("label_b"))
      .groupBy("label_a", "label_b")
      .agg(sum(col("ma") * col("mb")).as("dot"),
        sum(col("ma") * col("ma")).as("na"),
        sum(col("mb") * col("mb")).as("nb"))
      .select(col("label_a"), col("label_b"),
        round(col("dot") / (sqrt(col("na")) * sqrt(col("nb"))), 4)
          .as("centroid_cosine"))
  }

  /** Embedding-cosine near-duplicate pairs: bucketed self-join (same LSH
    * bucket) + cosine threshold — the embedding analogue of MinHash dedup.
    * Never all-pairs: the join key is the bucket id. */
  def nearDupPairs(spark: SparkSession, dir: String, minCosine: Double = 0.95,
      numPlanes: Int = AutoPlanes, maxBucket: Int = 1000): DataFrame = {
    val planes = resolvePlanes(spark, dir, numPlanes)
    val bucketed = capBuckets(withBucket(spark, dir, planes), maxBucket)
    val l = bucketed.select(col("bucket"), col("vec_id").as("vec_a"),
      col("embedding").as("emb_a"))
    val r = bucketed.select(col("bucket"), col("vec_id").as("vec_b"),
      col("embedding").as("emb_b"))
    l.join(r, Seq("bucket"))
      .filter(col("vec_a") < col("vec_b"))
      .select(col("vec_a"), col("vec_b"),
        round(dot("emb_a", "emb_b") /
          (sqrt(dot("emb_a", "emb_a")) * sqrt(dot("emb_b", "emb_b"))), 4)
          .as("cosine"))
      .filter(col("cosine") >= minCosine)
  }

  /** Semantic decontamination — the embedding complement of
    * `TextOps.decontaminate`: flag corpus vectors whose cosine against
    * ANY evaluation-set vector clears `minCosine`, catching paraphrased
    * or reformatted benchmark leakage that shares no n-grams with the
    * eval text. Output: one row per (corpus vec, eval vec) hit —
    * (vec_id, eval_id, cosine).
    *
    * Scale shape mirrors decontaminate's asymmetry: benchmarks are
    * thousands of items, not terabytes, so the eval set (here: vectors
    * below `evalMaxId`, standing in for an external benchmark table)
    * collects to the driver and rides into the plan as a LITERAL array
    * of (id, vector, norm) structs — the scoring pass is a pure codegen
    * fold over the corpus scan: NO join, no shuffle until the emitted
    * hits (a tiny fraction of the stream). Exact by construction
    * (recall 1 — no LSH pruning needed when one side is literal-sized);
    * for eval sets too large to inline, the same semantics fall out of
    * a broadcast crossJoin, and beyond that the LSH-bucketed
    * [[nearDupPairs]] shape applies. */
  def semanticDecontaminate(spark: SparkSession, dir: String,
      evalMaxId: Long = 10L, minCosine: Double = 0.3): DataFrame = {
    val emb = embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
    val evalRows = emb.filter(col("vec_id") < evalMaxId).collect()
      .map { r =>
        val v = r.getSeq[Double](1)
        (r.getLong(0), v, math.sqrt(v.map(x => x * x).sum))
      }.toSeq
    require(evalRows.nonEmpty, s"no eval vectors below id $evalMaxId")
    val evalLit = typedlit(evalRows)
    emb.filter(col("vec_id") >= evalMaxId)
      .withColumn("n", sqrt(dotCols(col("e"), col("e"))))
      .select(col("vec_id"),
        explode(transform(evalLit, ev => struct(
          ev.getField("_1").as("eval_id"),
          round(dotCols(col("e"), ev.getField("_2")) /
            (col("n") * ev.getField("_3")), 4).as("cosine")))).as("h"))
      .filter(col("h.cosine") >= minCosine)
      .select(col("vec_id"), col("h.eval_id").as("eval_id"),
        col("h.cosine").as("cosine"))
  }

  /** SemDeDup-style semantic clusters: transitive components over the
    * embedding near-dup graph ([[nearDupPairs]]), labeled by min vec_id —
    * the embedding analogue of `Dedup.minHashClusters`. Near-duplicate
    * *meaning* (high cosine) is clustered even when the surface text
    * shares no n-grams, which is exactly the regime MinHash misses.
    * Same distributed min-label propagation ([[Dedup.connectedComponents]]);
    * the pair graph is LSH-bucketed, never all-pairs, so the whole
    * pipeline is keyed shuffles at 100 TB. The labels come from the
    * build-once table ([[materializeEmbedClusters]]). */
  def embedClusters(spark: SparkSession, dir: String,
      minCosine: Double = 0.3, numPlanes: Int = AutoPlanes): DataFrame =
    embedLabels(spark, dir, minCosine, numPlanes)
      .withColumn("cluster_n",
        count(lit(1)).over(org.apache.spark.sql.expressions.Window
          .partitionBy("cluster_id")))

  /** Build-once semantic-cluster label table — the embedding analogue
    * of `Dedup.materializeClusters`: (vec_id, cluster_id) persisted once
    * per (corpus, params), scanned by both the cluster report and the
    * keep-filter. */
  def materializeEmbedClusters(spark: SparkSession, dir: String,
      minCosine: Double = 0.3, numPlanes0: Int = AutoPlanes,
      maxBucket: Int = 1000): String = {
    // resolve BEFORE the key so AutoPlanes and an explicit
    // planesFor(count) share one materialized table
    val numPlanes = resolvePlanes(spark, dir, numPlanes0)
    // maxBucket participates in the key: a cap changes the pair graph,
    // so two cap settings must not share one materialized label table
    Artifacts.dir("embed_clusters", (minCosine, numPlanes, maxBucket),
        embeddings(spark, dir)) { path =>
      embedLabelsRecompute(spark, dir, minCosine, numPlanes, maxBucket)
        .write.mode("overwrite").parquet(path)
    }
  }

  private def embedLabels(spark: SparkSession, dir: String,
      minCosine: Double, numPlanes: Int): DataFrame =
    ParquetInput.read(spark,
      materializeEmbedClusters(spark, dir, minCosine, numPlanes))

  /** (vec_id, cluster_id): CC over the embedding near-dup graph, no
    * artifact — the build body of [[materializeEmbedClusters]] and the
    * specs' reference for [[embedClusters]]. */
  private[operators] def embedLabelsRecompute(spark: SparkSession,
      dir: String, minCosine: Double = 0.3, numPlanes: Int = AutoPlanes,
      maxBucket: Int = 1000): DataFrame =
    Dedup.connectedComponents(
        nearDupPairs(spark, dir, minCosine, numPlanes, maxBucket),
        aCol = "vec_a", bCol = "vec_b")
      .select(col("doc_id").as("vec_id"), col("cluster_id"))

  /** Semantic dedup keep-filter: every embedding except non-canonical
    * members of a semantic cluster (the min-id vector represents its
    * cluster; vectors with no near-dup pass through untouched). The
    * SemDeDup (Abbas et al., 2023) pruning step as a left-anti join. */
  def embedClusterKeep(spark: SparkSession, dir: String,
      minCosine: Double = 0.3, numPlanes: Int = AutoPlanes): DataFrame = {
    val drop = embedLabels(spark, dir, minCosine, numPlanes)
      .filter(col("cluster_id") =!= col("vec_id"))
      .select("vec_id")
    embeddings(spark, dir).join(drop, Seq("vec_id"), "left_anti")
      .select(col("vec_id"), col("label"))
  }

  /** Embedding-space diversity sampling — cluster-balanced corpus
    * curation (the SemDeDup/DataComp-style prune): dense regions of
    * embedding space are downsampled toward `target` kept vectors per
    * LSH bucket while sparse regions pass through whole, flattening the
    * semantic density profile without dropping coverage. The keep gate
    * is the same deterministic md5-hash idiom as
    * [[Pipeline.stratifiedSample]] (keep iff hash(vec_id, salt) falls
    * under the bucket's rate = min(1, target/bucket_n)) — reproducible,
    * engine-independent, no RNG state.
    *
    * Scale shape: bucket sizes are one partial-agg shuffle over the
    * narrow bucket column (≤ 2^numPlanes rows), broadcast back; the
    * gate is a narrow codegen'd filter over the scan — the corpus never
    * re-shuffles. Scale `numPlanes` with corpus size exactly as for the
    * ANN self-joins (finer buckets = finer density resolution). */
  def diversitySample(spark: SparkSession, dir: String, target: Int = 8,
      numPlanes: Int = AutoPlanes,
      salt: String = "graft-diversity-v1"): DataFrame = {
    require(target > 0, "target must be positive")
    val bucketed = withBucket(spark, dir, resolvePlanes(spark, dir, numPlanes))
    val sizes = bucketed.groupBy("bucket").agg(count(lit(1)).as("bucket_n"))
    // first 8 md5 hex chars as a uniform draw from [0, 2^32) — exact in
    // a double, so the strict-< compare is bit-identical to the oracle
    val gate = conv(substring(
        md5(concat(col("vec_id").cast("string"), lit(salt))), 1, 8),
      16, 10).cast("long").cast("double")
    bucketed.join(broadcast(sizes), Seq("bucket"))
      .filter(gate <
        least(lit(1.0), lit(target.toDouble) / col("bucket_n").cast("double"))
          * lit(4294967296.0))
      .select(col("vec_id"), col("label"), col("bucket"), col("bucket_n"))
  }

  /** k-NN label classification (label propagation from neighbors): each
    * vector's predicted label is the majority vote of its [[knnJoin]]
    * neighbors, ties broken toward the smallest label — the standard
    * weak-labeling / label-QA pass over an embedded corpus ("does the
    * assigned label agree with the neighborhood?").
    *
    * Scale shape: rides entirely on the LSH-bucketed [[knnJoin]] (never
    * all-pairs); the label join is against the (vec_id, label) projection
    * — at 100 TB that's a column-pruned scan joined on the already-
    * shuffled neighbor key — and the vote is a partial-agg group-by plus
    * a rank window whose partitions are <= k·labels rows by construction.
    * Output marks disagreements (`mismatch`), the rows a label-quality
    * audit actually reads. */
  /** Matryoshka / adaptive retrieval (Kusupati et al. 2022): shortlist
    * candidates by cosine over only the FIRST `prefixDims` dimensions
    * (MRL-trained embeddings front-load information, so a prefix is a
    * cheap coarse scorer), then re-rank the shortlist with the full
    * vector — the two-stage recipe that cuts the scan's FLOPs by
    * dims/prefixDims while keeping exact top-k quality on the shortlist.
    *
    * Scale shape: stage 1 is a narrow scan + `TakeOrderedAndProject`
    * over the prefix cosine (the slice keeps only prefixDims floats in
    * flight — at 100 TB that is the bandwidth win, not just FLOPs);
    * stage 2 re-scores ≤ `shortlist` rows. Same deterministic
    * round-4/vec_id total order as [[bruteForceTopK]] on both stages. */
  def matryoshkaTopK(spark: SparkSession, dir: String, queryId: Long,
      k: Int = 10, prefixDims: Int = 16, shortlist: Int = 50): DataFrame = {
    val e = embeddings(spark, dir)
    val q = e.filter(col("vec_id") === queryId)
      .select(col("embedding").as("q_emb"),
        slice(col("embedding"), 1, prefixDims).as("q_pre"))
    e.filter(col("vec_id") =!= queryId)
      .withColumn("pre", slice(col("embedding"), 1, prefixDims))
      .crossJoin(broadcast(q))
      .select(col("vec_id"), col("label"), col("embedding"), col("q_emb"),
        round(dot("pre", "q_pre") /
          (sqrt(dot("pre", "pre")) * sqrt(dot("q_pre", "q_pre"))), 4)
          .as("pre_cosine"))
      .orderBy(col("pre_cosine").desc, col("vec_id").asc)
      .limit(shortlist)
      .select(col("vec_id"), col("label"), col("pre_cosine"),
        round(dot("embedding", "q_emb") /
          (sqrt(dot("embedding", "embedding")) *
            sqrt(dot("q_emb", "q_emb"))), 4).as("cosine"))
      .orderBy(col("cosine").desc, col("vec_id").asc)
      .limit(k)
  }

  /** Per-label embedding outlier audit: every vector's cosine to its own
    * label centroid, flagged when it falls under the label's `lo`
    * quantile — the mislabeled/contaminated-shard detector a curation
    * pipeline runs over embedded data (an outlier here is a vector that
    * does not belong to its cohort's direction). Per-label thresholds
    * (not global): cohort tightness varies by label, exactly like the
    * per-language length trim ([[graft.operators.Pipeline.lengthTrimByLang]]).
    *
    * Scale shape: centroids are one (label, dim) partial agg — 10×64
    * rows, broadcast back; the per-vector cosine is a (label, dim) keyed
    * join + per-vector agg, never vector-vs-vector; the quantile is one
    * tiny per-label agg over the scored stream, broadcast for the flag.
    * Nothing is quadratic, nothing globally sorts. */
  def embedOutliers(spark: SparkSession, dir: String,
      lo: Double = 0.05): DataFrame = {
    val dx = embeddings(spark, dir)
      .select(col("vec_id"), col("label"),
        posexplode(col("embedding")).as(Seq("dim", "x")))
      .select(col("vec_id"), col("label"), col("dim"),
        col("x").cast("double").as("x"))
    val c = dx.groupBy("label", "dim").agg(avg(col("x")).as("m"))
    val scored = dx.join(broadcast(c), Seq("label", "dim"))
      .groupBy("vec_id", "label")
      .agg(sum(col("x") * col("m")).as("dot"),
        sum(col("x") * col("x")).as("nx"),
        sum(col("m") * col("m")).as("nm"))
      .select(col("vec_id"), col("label"),
        round(col("dot") / (sqrt(col("nx")) * sqrt(col("nm"))), 4)
          .as("cosine"))
    val bounds = scored.groupBy("label")
      .agg(percentile(col("cosine"), lit(lo)).as("p_lo"))
    scored.join(broadcast(bounds), Seq("label"))
      .select(col("vec_id"), col("label"), col("cosine"),
        (col("cosine") < col("p_lo")).as("is_outlier"))
  }

  def knnClassify(spark: SparkSession, dir: String, k: Int = 5,
      numPlanes: Int = AutoPlanes): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val nbrs = knnJoin(spark, dir, k, resolvePlanes(spark, dir, numPlanes))
      .select(col("vec_a"), col("vec_b"))
    val labels = embeddings(spark, dir).select(col("vec_id"), col("label"))
    val votes = nbrs
      .join(labels.select(col("vec_id").as("vec_b"),
        col("label").as("nbr_label")), Seq("vec_b"))
      .groupBy(col("vec_a"), col("nbr_label"))
      .agg(count(lit(1)).as("n_votes"))
    val top = votes
      .withColumn("rk", row_number().over(Window.partitionBy("vec_a")
        .orderBy(col("n_votes").desc, col("nbr_label").asc)))
      .filter(col("rk") === 1)
      .select(col("vec_a").as("vec_id"),
        col("nbr_label").as("predicted_label"), col("n_votes"))
    top.join(labels, Seq("vec_id"))
      .select(col("vec_id"), col("label").as("true_label"),
        col("predicted_label"), col("n_votes"),
        (col("predicted_label") =!= col("label")).as("mismatch"))
  }

  /** Per-dimension corpus statistics of the embedding matrix — the
    * feature-health audit (a dead dimension has std ≈ 0; a dominant one
    * dwarfs the rest and distorts every cosine) and the input to
    * [[standardizeEmbeddings]].
    *
    * Scale shape: posexplode → ONE partial-agg shuffle keyed on `dim` —
    * the combine collapses each map task to 64 rows before anything
    * moves, so the shuffle is (64 × tasks) rows regardless of corpus
    * size. */
  def dimStats(spark: SparkSession, dir: String): DataFrame =
    embeddings(spark, dir)
      .select(posexplode(col("embedding")).as(Seq("dim", "x")))
      .select(col("dim").cast("long").as("dim"),
        col("x").cast("double").as("x"))
      .groupBy("dim")
      .agg(round(avg("x"), 6).as("d_mean"),
        round(stddev_pop(col("x")), 6).as("d_std"))

  /** Z-score standardization of every embedding against the per-dimension
    * corpus stats, reported as per-vector summaries (z-norm, extremes).
    * After standardization each dimension contributes unit variance, so
    * a vector's z-norm measures how far it sits from the corpus mean in
    * "typical spread" units — ‖z‖ far above √dim is the anomalous-vector
    * flag that catches bad encoder batches before they poison an index.
    *
    * Scale shape: the stats aggregate collapses to 64 rows (see
    * [[dimStats]]), is pivoted into two 64-element arrays in a 1-ROW
    * frame, and broadcast — the per-vector z computation is then a
    * NARROW codegen'd `zip_with` fold over the original scan: the corpus
    * never re-shuffles, and no (vec_id, dim)-exploded matrix crosses the
    * wire. */
  def standardizeEmbeddings(spark: SparkSession, dir: String): DataFrame = {
    val stats = embeddings(spark, dir)
      .select(posexplode(col("embedding")).as(Seq("dim", "x")))
      .select(col("dim"), col("x").cast("double").as("x"))
      .groupBy("dim")
      .agg(avg("x").as("m"), stddev_pop(col("x")).as("s"))
      .agg(
        expr("transform(array_sort(collect_list(struct(dim, m))), " +
          "t -> t.m)").as("means"),
        expr("transform(array_sort(collect_list(struct(dim, s))), " +
          "t -> t.s)").as("stds"))
    embeddings(spark, dir).crossJoin(broadcast(stats))
      .withColumn("z", expr(
        "zip_with(zip_with(CAST(embedding AS ARRAY<DOUBLE>), means, " +
          "(x, m) -> x - m), stds, (d, s) -> d / s)"))
      .select(col("vec_id"), col("label"),
        round(sqrt(expr(
          "aggregate(z, 0D, (acc, v) -> acc + v * v)")), 4).as("z_norm"),
        round(array_min(col("z")), 4).as("z_min"),
        round(array_max(col("z")), 4).as("z_max"))
  }

  /** Margin-based cross-cohort mining — the bitext-mining criterion
    * (distance margin over forward/backward neighborhoods) between two
    * label cohorts: a pair (a, b) is accepted when cos(a, b) clearly
    * exceeds what EITHER side scores against its other near neighbors,
    * margin = cos(a,b) − (avgₖ(a) + avgₖ(b)) / 2 ≥ `minMargin`. Plain
    * nearest-neighbor thresholding over-fires inside dense regions;
    * the margin normalizes by local density, which is why the published
    * mining pipelines use it. (The distance form, not the ratio form:
    * a ratio margin degenerates when neighborhood cosines straddle 0,
    * which un-normalized corpora routinely do.)
    *
    * Scale shape: candidates come from the SAME hyperplane-bucket
    * equi-join every ANN operator here uses (never |A|×|B|); ranking
    * and the top-k neighborhood means are two keyed window shuffles on
    * the candidate stream; ranks order by the ROUNDED cosine with id
    * tie-breaks, so results are deterministic and engine-independent.
    * Output: each A-vector's forward-top-1 candidate with its margin and
    * accept flag (unmatched A-vectors have no bucket-mates — at mining
    * scale that's what the multiprobe variant is for). */
  def marginMine(spark: SparkSession, dir: String, labelA: Int = 0,
      labelB: Int = 1, k: Int = 4, minMargin: Double = 0.05,
      numPlanes: Int = AutoPlanes, maxBucket: Int = 1000): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val bucketed = capBuckets(
      withBucket(spark, dir, resolvePlanes(spark, dir, numPlanes)), maxBucket)
    val a = bucketed.filter(col("label") === labelA)
      .select(col("bucket"), col("vec_id").as("vec_a"),
        col("embedding").as("emb_a"))
    val b = bucketed.filter(col("label") === labelB)
      .select(col("bucket"), col("vec_id").as("vec_b"),
        col("embedding").as("emb_b"))
    val cand = a.join(b, Seq("bucket"))
      .select(col("vec_a"), col("vec_b"),
        round(dot("emb_a", "emb_b") /
          (sqrt(dot("emb_a", "emb_a")) * sqrt(dot("emb_b", "emb_b"))), 4)
          .as("cos"))
    val wf = Window.partitionBy("vec_a")
      .orderBy(col("cos").desc, col("vec_b").asc)
    val wb = Window.partitionBy("vec_b")
      .orderBy(col("cos").desc, col("vec_a").asc)
    // margin arithmetic in EXACT scaled-integer space: the 4-dp cosines
    // are exact multiples of 1e-4, so ic = round(cos·1e4) is an exact
    // BIGINT and the margin's true value is the rational N/D below.
    // The float form (cos − (avg+avg)/2) accumulated the k-neighborhood
    // sums in engine-dependent order, and margins land EXACTLY on
    // 5e-5 rounding boundaries by construction (all inputs are 1e-4
    // grid points) — measured: 3 of 114 rows flipped ±1e-4 vs the
    // oracle at sf0.1. Integer N, D are order-independent; the single
    // N/D division and the integer accept compare (N ≥ minMargin·1e4·D)
    // are bit-identical across engines.
    val ranked = cand
      .withColumn("ic", round(col("cos") * 10000).cast("long"))
      .withColumn("rank_f", row_number().over(wf))
      .withColumn("rank_b", row_number().over(wb))
    val ka = ranked.filter(col("rank_f") <= k)
      .groupBy("vec_a").agg(sum("ic").as("sum_a"),
        count(lit(1)).as("n_a"))
    val kb = ranked.filter(col("rank_b") <= k)
      .groupBy("vec_b").agg(sum("ic").as("sum_b"),
        count(lit(1)).as("n_b"))
    val minMarginScaled = math.round(minMargin * 10000)
    // the 4-dp rounding of N/D itself happens in INTEGER arithmetic
    // (half away from zero): N/D lands exactly on .5 whenever the
    // neighborhood counts are even, and engines disagree on double
    // rounding at such ties (Spark rounds the shortest-decimal string,
    // DuckDB the binary value — measured one flipped row at sf0.1).
    // m_int is the same BIGINT in both engines; m_int/1e4 the same double.
    ranked.filter(col("rank_f") === 1)
      .join(ka, Seq("vec_a")).join(kb, Seq("vec_b"))
      .withColumn("num",
        lit(2L) * col("n_a") * col("n_b") * col("ic") -
          col("sum_a") * col("n_b") - col("sum_b") * col("n_a"))
      .withColumn("den", lit(2L) * col("n_a") * col("n_b"))
      .withColumn("m_int",
        when(col("num") < 0, lit(-1L)).otherwise(lit(1L)) *
          expr("(2 * abs(num) + den) DIV (2 * den)"))
      .select(col("vec_a"), col("vec_b"), col("cos").as("cosine"),
        (col("m_int").cast("double") / lit(10000.0)).as("margin"),
        (col("num") >= lit(minMarginScaled) * col("den")).as("accepted"))
  }
}

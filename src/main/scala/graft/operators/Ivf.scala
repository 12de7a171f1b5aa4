package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** IVF (inverted-file) approximate nearest neighbor — the second scale path
  * next to hyperplane LSH (Similarity): a coarse k-means quantizer assigns
  * every vector to one of `nlist` cells; a query probes only the `nprobe`
  * cells whose centroids are nearest, then brute-forces inside them.
  *
  * Build-once / probe-many: [[materializeIndex]] trains the coarse quantizer
  * ONCE (driver-side Lloyd over a bounded ≤`trainSample` sample — the
  * standard IVF recipe; deterministic, no RNG, no MLlib job storm), tags the
  * corpus in one distributed pass, and writes it partitioned by `cluster`.
  * Every [[topK]] call then probes the materialized table, so the
  * `cluster IN (probes)` filter is PARTITION PRUNING at the scan — the query
  * reads only `nprobe` of `nlist` directories (spec-asserted in `IvfSpec`).
  * The only per-query driver round-trip is fetching the query vector itself
  * (one pushed-down point lookup). At 100 TB the materialized index is the
  * persistent artifact; cell stats (`cells`) drive rebalancing decisions.
  */
object Ivf {

  private def embeddings(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)

  /** Train coarse centroids with Lloyd iterations on a bounded sample. */
  def trainCentroids(sample: Array[Array[Float]], nlist: Int,
      iters: Int = 10): Array[Array[Double]] = {
    require(sample.nonEmpty, "empty training sample")
    val dim = sample(0).length
    val k = math.min(nlist, sample.length)
    // deterministic init: evenly-spaced sample rows
    var centroids = Array.tabulate(k)(i => sample(i * sample.length / k).map(_.toDouble))
    for (_ <- 1 to iters) {
      val sums = Array.fill(k, dim)(0.0)
      val counts = new Array[Long](k)
      sample.foreach { v =>
        val c = nearest(centroids, v)
        counts(c) += 1
        var j = 0
        while (j < dim) { sums(c)(j) += v(j); j += 1 }
      }
      centroids = Array.tabulate(k) { c =>
        if (counts(c) == 0) centroids(c)
        else sums(c).map(_ / counts(c))
      }
    }
    centroids
  }

  /** Index of the nearest centroid by L2 distance (ties → lowest index). */
  def nearest(centroids: Array[Array[Double]], v: Array[Float]): Int = {
    var best = 0
    var bestD = Double.MaxValue
    var c = 0
    while (c < centroids.length) {
      var d = 0.0
      var j = 0
      val cent = centroids(c)
      while (j < cent.length && j < v.length) {
        val diff = cent(j) - v(j); d += diff * diff; j += 1
      }
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    best
  }

  /** Deterministic uniform training sample: the `n` rows whose
    * md5(vec_id ++ salt) sorts lowest. The hash order is a uniform
    * pseudo-random permutation of the corpus, so the sample is unbiased
    * by file/partition layout — unlike a bare `limit(n)`, which takes
    * the FIRST parquet partitions and, at 100 TB, trains the quantizer
    * on whatever single source/time-slice happens to sort first.
    * Physically a TakeOrderedAndProject: each partition emits its local
    * top-`n` by hash, the driver merges — one pass, no full sort. */
  private[operators] def uniformSample(df: DataFrame, n: Int,
      salt: String = "graft-ivf-train-v1"): DataFrame =
    df.select(col("embedding"), col("vec_id"),
        md5(concat(col("vec_id").cast("string"), lit(salt))).as("_gate"))
      .orderBy("_gate")
      .limit(n)

  /** Index: every vector tagged with its IVF cell + the centroid table.
    * (In-memory form; [[materializeIndex]] is the persistent path.) */
  def buildIndex(spark: SparkSession, dir: String, nlist: Int = 16,
      trainSample: Int = 4096): (DataFrame, Array[Array[Double]]) = {
    val df = embeddings(spark, dir)
    val sample = uniformSample(df, trainSample).select("embedding")
      .collect().map(_.getSeq[Float](0).toArray)
    val centroids = trainCentroids(sample, nlist)
    // native codegen'd assignment (no ScalaUDF in the index-build job);
    // the centroid table is a few KB and rides inside the expression
    (df.withColumn("cluster",
      graft.functions.PqEncodeExpression.assign(col("embedding"), centroids)),
      centroids)
  }

  /** Build-once: tag the corpus and write it PARTITIONED BY cluster, so a
    * probe's `cluster IN (...)` filter prunes whole partitions at the scan.
    * Built once per (corpus, nlist, trainSample), probed many times; at
    * real scale this is a managed table location, not a temp dir. */
  def materializeIndex(spark: SparkSession, dir: String, nlist: Int = 16,
      trainSample: Int = 4096): (String, Array[Array[Double]]) =
    Artifacts("ivf_index", (nlist, trainSample), embeddings(spark, dir)) {
      val (indexed, centroids) = buildIndex(spark, dir, nlist, trainSample)
      val path = Artifacts.newDir("ivf_index")
      indexed.write.mode("overwrite").partitionBy("cluster").parquet(path)
      (path, centroids)
    }

  /** The `nprobe` cells whose centroids are nearest to the query (driver
    * side — nlist is tiny by construction). */
  def nearestCells(centroids: Array[Array[Double]], qVec: Array[Float],
      nprobe: Int): Seq[Int] =
    centroids.zipWithIndex.map { case (cent, i) =>
      var d = 0.0
      var j = 0
      while (j < cent.length && j < qVec.length) {
        val diff = cent(j) - qVec(j); d += diff * diff; j += 1
      }
      (i, d)
    }.sortBy(_._2).take(nprobe).map(_._1).toSeq

  /** Sequential-fold dot product of an ARRAY<FLOAT> column against a
    * literal query vector, in double precision — the native
    * whole-stage-codegen kernel (r17, [[graft.functions.DotProductExpression]];
    * fold order bit-equal to the previous aggregate(zip_with) form). */
  private def dotLit(emb: Column, q: Array[Double]): Column =
    graft.functions.DotProductExpression.dotCol(emb, typedlit(q.toSeq))

  /** Sequential-fold dot product of two ARRAY<FLOAT> columns. */
  private def dotCol(a: Column, b: Column): Column =
    graft.functions.DotProductExpression.dotCol(a, b)

  /** Probe a materialized index: read ONLY the `nprobe` nearest cells
    * (partition pruning at the parquet scan), cosine against the LITERAL
    * query vector (no join, no broadcast — the query side is a constant in
    * the codegen'd projection), top-k. */
  def probe(spark: SparkSession, indexPath: String,
      centroids: Array[Array[Double]], qVec: Array[Float], k: Int = 10,
      nprobe: Int = 4, excludeId: Option[Long] = None): DataFrame = {
    val cells = nearestCells(centroids, qVec, nprobe)
    val q = qVec.map(_.toDouble)
    val qnorm = math.sqrt(q.map(x => x * x).sum)
    val emb = col("embedding")
    val base = ParquetInput.read(spark, indexPath)
      .filter(col("cluster").isin(cells: _*))
    excludeId.fold(base)(id => base.filter(col("vec_id") =!= id))
      .select(col("vec_id"), col("label"), col("cluster"),
        round(dotLit(emb, q) / (sqrt(dotCol(emb, emb)) * lit(qnorm)), 4)
          .as("cosine"))
      .orderBy(col("cosine").desc, col("vec_id").asc)
      .limit(k)
  }

  /** ANN top-k for one query vector, probe-many style: reuses the
    * session's materialized index; per-call work is one pushed-down point
    * lookup for the query vector + a partition-pruned scan of `nprobe`
    * cells. */
  def topK(spark: SparkSession, dir: String, queryId: Long, k: Int = 10,
      nlist: Int = 16, nprobe: Int = 4): DataFrame = {
    val (path, centroids) = materializeIndex(spark, dir, nlist)
    val qVec = embeddings(spark, dir).filter(col("vec_id") === queryId)
      .select("embedding").collect()(0).getSeq[Float](0).toArray
    probe(spark, path, centroids, qVec, k, nprobe, excludeId = Some(queryId))
  }
}

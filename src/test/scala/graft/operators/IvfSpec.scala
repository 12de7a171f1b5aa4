package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class IvfSpec extends SparkSpec {

  test("index assigns every vector to a cell; cells bounded by nlist") {
    val (indexed, centroids) = Ivf.buildIndex(spark, sfDir, nlist = 8)
    assert(centroids.length === 8)
    assert(indexed.filter(col("cluster").isNull).count() === 0)
    val cells = indexed.select("cluster").distinct().count()
    assert(cells > 1 && cells <= 8)
  }

  test("IVF top-k finds planted near-neighbors through the probed cells") {
    import spark.implicits._
    def splitmix(x0: Long): Long = {
      var x = x0 + 0x9E3779B97F4A7C15L
      x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
      x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
      x ^ (x >>> 31)
    }
    def unit(seed: Long): Array[Float] = {
      val v = Array.tabulate(64)(j => splitmix(seed * 64 + j).toDouble / Long.MaxValue)
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(x => (x / n).toFloat)
    }
    val base = unit(1L)
    def perturb(seed: Long): Array[Float] = {
      val noise = unit(seed)
      val v = base.zip(noise).map { case (b, n) => b + (0.05 * n).toFloat }
      val norm = math.sqrt(v.map(x => x.toDouble * x).sum)
      v.map(x => (x / norm).toFloat)
    }
    val rows = Seq((0L, base, 0)) ++ (1L to 3L).map(i => (i, perturb(100 + i), 0)) ++
      (10L to 80L).map(i => (i, unit(1000 + i), 1))
    val tmp = java.nio.file.Files.createTempDirectory("ivf").toString
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")
    val top = Ivf.topK(spark, tmp, queryId = 0L, k = 3, nlist = 6, nprobe = 2)
      .collect().map(_.getLong(0)).toSet
    assert(top === Set(1L, 2L, 3L), s"got $top")
  }

  test("materialized probe prunes partitions: only nprobe cells scanned") {
    Artifacts.clear()
    val (path, centroids) = Ivf.materializeIndex(spark, sfDir, nlist = 16)
    val q = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .filter(col("vec_id") === 0L).select("embedding")
      .collect()(0).getSeq[Float](0).toArray
    val probed = Ivf.probe(spark, path, centroids, q, k = 10, nprobe = 4,
      excludeId = Some(0L))
    val scans = probed.queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scans.nonEmpty, "probe must be a parquet scan")
    val scan = scans.head
    // the cluster IN (...) predicate must be a PARTITION filter (pruned at
    // file listing), not a post-scan data filter
    assert(scan.partitionFilters.exists(_.references.exists(_.name == "cluster")),
      s"cluster filter must prune partitions, got: ${scan.partitionFilters}")
    val selected = scan.relation.location
      .listFiles(scan.partitionFilters, scan.dataFilters).length
    val totalCells = spark.read.parquet(path)
      .select("cluster").distinct().count()
    assert(selected <= 4, s"probe must list ≤ nprobe partitions, got $selected")
    assert(selected < totalCells, "probe must read a strict subset of cells")
    assert(probed.count() === 10)
    // build-once: a second topK over the same (dir, nlist) reuses the index
    val (path2, _) = Ivf.materializeIndex(spark, sfDir, nlist = 16)
    assert(path2 === path)
    // a different trainSample is a DIFFERENT index (cache keys on it)
    val (path3, _) = Ivf.materializeIndex(spark, sfDir, nlist = 16,
      trainSample = 128)
    assert(path3 !== path, "trainSample must be part of the key")
    // the store's clear deletes the materialized temp directories
    Artifacts.clear()
    assert(!new java.io.File(path).exists(), "clear must delete index dirs")
    assert(!new java.io.File(path3).exists(), "clear must delete index dirs")
  }

  test("training sample is layout-independent: covers a sorted-by-label " +
      "corpus uniformly and keeps cells balanced") {
    import spark.implicits._
    // the bias repro: two tight, well-separated blobs written SORTED by
    // label (at 100 TB "the first parquet files are one source"), so a
    // bare limit(n) would train on blob A only and blob B would crowd
    // into whichever A-centroid is nearest — one hot cell with half the
    // corpus. The hash-ordered sample must see both blobs.
    def blob(axis: Int, seed: Long): Array[Float] = {
      val v = new Array[Float](16)
      v(axis) = 1f
      // tiny deterministic jitter so the blob isn't a single point
      (0 until 16).foreach { j =>
        v(j) = v(j) + (((seed * 16 + j) * 2654435761L % 97).toFloat / 9700f)
      }
      val n = math.sqrt(v.map(x => x.toDouble * x).sum)
      v.map(x => (x / n).toFloat)
    }
    val rows = (0L until 256L).map(i => (i, blob(0, i), 0)) ++
      (256L until 512L).map(i => (i, blob(8, i), 1))
    val tmp = java.nio.file.Files.createTempDirectory("ivfbias").toString
    rows.toDF("vec_id", "embedding", "label").repartition(1)
      .sortWithinPartitions("vec_id")
      .write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")
    val emb = spark.read.parquet(s"$tmp/embeddings.parquet")
    // 1) the sample itself spans both halves, roughly proportionally
    val sampleIds = Ivf.uniformSample(emb, 64).select("vec_id")
      .collect().map(_.getLong(0))
    val fromB = sampleIds.count(_ >= 256L)
    assert(fromB >= 16 && fromB <= 48,
      s"sample must cover both halves ~equally, got $fromB/64 from blob B")
    // determinism: same sample every invocation
    assert(Ivf.uniformSample(emb, 64).select("vec_id")
      .collect().map(_.getLong(0)).toSeq === sampleIds.toSeq)
    // 2) downstream effect: trained cells stay balanced — no cell holds
    // an entire blob (the limit(n) failure mode puts ≥50% in one cell)
    val (indexed, _) = Ivf.buildIndex(spark, tmp, nlist = 4,
      trainSample = 64)
    val sizes = indexed.groupBy("cluster").count()
      .collect().map(_.getLong(1))
    assert(sizes.max.toDouble / 512.0 < 0.45,
      s"hot cell holds ${sizes.max}/512 vectors — biased quantizer")
  }

  test("probing is selective: fewer rows scanned than brute force") {
    val all = spark.read.parquet(s"$sfDir/embeddings.parquet").count()
    val (indexed, _) = Ivf.buildIndex(spark, sfDir, nlist = 16)
    val largestProbeSet = indexed.groupBy("cluster").count()
      .orderBy(desc("count")).limit(4).agg(sum("count")).collect()(0).getLong(0)
    assert(largestProbeSet < all, "probing must touch a strict subset")
  }
}

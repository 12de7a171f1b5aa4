package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class SimilaritySpec extends SparkSpec {

  test("norms: synthetic embeddings are unit vectors") {
    val norms = Similarity.norms(spark, sfDir).collect()
    assert(norms.nonEmpty)
    assert(norms.forall(r => math.abs(r.getDouble(1) - 1.0) < 1e-3))
  }

  test("brute-force top-k: k rows, sorted by cosine desc, excludes query") {
    val top = Similarity.bruteForceTopK(spark, sfDir, queryId = 0L, k = 10).collect()
    assert(top.length === 10)
    assert(top.forall(_.getLong(0) != 0L))
    val cosines = top.map(_.getDouble(2)).toSeq
    assert(cosines === cosines.sorted.reverse)
    assert(cosines.forall(c => c >= -1.0001 && c <= 1.0001))
  }

  test("hyperplanes are deterministic") {
    val a = Similarity.hyperplanes(4, 8)
    val b = Similarity.hyperplanes(4, 8)
    assert(a.flatten.toSeq === b.flatten.toSeq)
  }

  test("native bucket expression: bit-identical to the UDF it replaced, " +
      "inside WholeStageCodegen") {
    // reference implementation = the pre-r5 UDF, verbatim: any arithmetic
    // drift (widening, accumulation order, sign convention) fails here
    val planes = Similarity.hyperplanes(12, 64)
    val bucketUdf = udf((v: Seq[Float]) => {
      var bucket = 0L
      var i = 0
      while (i < planes.length) {
        var d = 0.0; var j = 0
        val p = planes(i)
        while (j < p.length && j < v.length) { d += p(j) * v(j); j += 1 }
        if (d >= 0) bucket |= (1L << i)
        i += 1
      }
      bucket
    })
    val df = Similarity.withBucket(spark, sfDir, numPlanes = 12)
      .withColumn("bucket_udf", bucketUdf(col("embedding")))
    assert(df.filter(col("bucket") =!= col("bucket_udf")).count() === 0L)
    // null-safety: NULL embedding → NULL bucket (UDF would have thrown)
    import spark.implicits._
    val nullRow = Seq((1L, Option.empty[Seq[Float]])).toDF("vec_id", "embedding")
      .select(graft.functions.HyperplaneBucketExpression
        .native(col("embedding"), 12).as("bucket"))
      .collect()(0)
    assert(nullRow.isNullAt(0))
    // plan guard: the production path carries no ScalaUDF — the bucket is
    // a codegen'd projection over the scan ("*(n) Project [... hyperplane")
    val prodPlan = Similarity.withBucket(spark, sfDir, numPlanes = 12)
      .queryExecution.executedPlan.toString
    assert(!prodPlan.contains("ScalaUDF"), prodPlan)
    assert(prodPlan.contains("hyperplane_bucket"), prodPlan)
    assert(prodPlan.contains("*(1)"), prodPlan)
  }

  test("extension-registered SQL function hyperplane_bucket(...) matches " +
      "the Column API") {
    spark.read.parquet(s"$sfDir/embeddings.parquet")
      .createOrReplaceTempView("emb")
    val viaSql = spark.sql(
      "SELECT vec_id, hyperplane_bucket(embedding, 8) AS b FROM emb")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaApi = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id"), graft.functions.HyperplaneBucketExpression
        .native(col("embedding"), 8).as("b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaSql === viaApi)
    assert(viaSql.values.forall(b => b >= 0L && b < 256L))
    val desc = spark.sql("DESCRIBE FUNCTION hyperplane_bucket")
      .collect().map(_.getString(0)).mkString("\n")
    assert(desc.contains("hyperplane_bucket"), desc)
  }

  test("LSH finds planted near-neighbors (recall where locality exists)") {
    // Uniform random vectors have no locality (sf0.001 max cosine ≈ 0.37) —
    // LSH legitimately can't beat chance there. Plant true neighbors:
    // query + small perturbations, amid random noise vectors.
    import spark.implicits._
    def splitmix(x0: Long): Long = {
      var x = x0 + 0x9E3779B97F4A7C15L
      x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
      x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
      x ^ (x >>> 31)
    }
    def unit(seed: Long): Array[Float] = {
      val v = Array.tabulate(64)(j =>
        splitmix(seed * 64 + j).toDouble / Long.MaxValue)
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(x => (x / n).toFloat)
    }
    val base = unit(1L)
    def perturb(seed: Long, eps: Double): Array[Float] = {
      val noise = unit(seed)
      val v = base.zip(noise).map { case (b, n) => b + (eps * n).toFloat }
      val norm = math.sqrt(v.map(x => x.toDouble * x).sum)
      v.map(x => (x / norm).toFloat)
    }
    val rows = Seq((0L, base, 0)) ++
      (1L to 3L).map(i => (i, perturb(100 + i, 0.1), 0)) ++
      (10L to 60L).map(i => (i, unit(1000 + i), 1))
    val tmp = java.nio.file.Files.createTempDirectory("lsh").toString
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")
    val approx = Similarity.lshTopK(spark, tmp, queryId = 0L, k = 3,
      numPlanes = 8).collect().map(_.getLong(0)).toSet
    // the three planted near-dups (cosine ≈ 0.99) must be retrieved
    assert(approx === Set(1L, 2L, 3L), s"got $approx")
  }

  test("knn join: ≤k neighbors per vector, ranked, cartesian-free") {
    val knn = Similarity.knnJoin(spark, sfDir, k = 3)
    val plan = knn.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"))
    assert(!plan.contains("BroadcastNestedLoopJoin"))
    val rows = knn.collect()
    assert(rows.nonEmpty)
    val byVec = rows.groupBy(_.getLong(0))
    assert(byVec.values.forall(_.length <= 3))
    byVec.values.foreach { vs =>
      val ranked = vs.sortBy(_.getInt(3))
      val cosines = ranked.map(_.getDouble(2)).toSeq
      assert(cosines === cosines.sorted.reverse)
    }
  }

  test("near-dup pairs plan is a bucketed equi-join, never cartesian (scale guard)") {
    val plan = Similarity.nearDupPairs(spark, sfDir, minCosine = 0.3)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"))
    assert(!plan.contains("BroadcastNestedLoopJoin"))
  }

  test("embedding LSH cap: a planted dense bucket is pruned, audited, " +
      "and bounds the candidate count") {
    import spark.implicits._
    def splitmix(x0: Long): Long = {
      var x = x0 + 0x9E3779B97F4A7C15L
      x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
      x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
      x ^ (x >>> 31)
    }
    def unit(seed: Long): Array[Float] = {
      val v = Array.tabulate(64)(j =>
        splitmix(seed * 64 + j).toDouble / Long.MaxValue)
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(x => (x / n).toFloat)
    }
    // dense bucket: 50 IDENTICAL vectors (one collapsed encoder batch);
    // healthy corner: 2 identical vectors of an unrelated direction
    val dense = unit(7L)
    val small = unit(99L)
    val rows = (1L to 50L).map(i => (i, dense, 0)) ++
      Seq((100L, small, 1), (101L, small, 1))
    val tmp = java.nio.file.Files.createTempDirectory("lshcap").toString
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")
    // uncapped: the dense bucket contributes 50·49/2 pairs
    assert(Similarity.nearDupPairs(spark, tmp, minCosine = 0.99,
      numPlanes = 8, maxBucket = 0).count() === 50L * 49 / 2 + 1)
    // capped: dense bucket pruned entirely, the healthy pair survives
    val capped = Similarity.nearDupPairs(spark, tmp, minCosine = 0.99,
      numPlanes = 8, maxBucket = 10)
    val pairs = capped.collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSeq === Seq((100L, 101L)), pairs.mkString(","))
    // the prune fired INLINE as an observation on the same query...
    val metrics = capped.queryExecution.observedMetrics
      .filter { case (k, _) => k.startsWith("graft_bucket_prune") }
    assert(metrics.size === 1, s"got ${metrics.keys}")
    assert(metrics.values.head.getAs[Long]("pruned_buckets") === 1L)
    assert(metrics.values.head.getAs[Long]("pruned_docs") === 50L)
    // ...reaches the shared async listener (the logged-warning path)...
    val name = metrics.keys.head
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    while (!Observations.last.containsKey(name) &&
        System.nanoTime() < deadline) Thread.sleep(50)
    assert(Observations.last.get(name) === ((1L, 50L)))
    // ...and is auditable after the fact
    val hot = Similarity.embedHotBuckets(spark, tmp, maxBucket = 10).collect()
    assert(hot.length === 1 && hot(0).getLong(1) === 50L)
    assert(Similarity.embedHotBuckets(spark, tmp, maxBucket = 100).count() === 0)
    // knnJoin honors the same cap: no vector from the dense bucket remains
    val knn = Similarity.knnJoin(spark, tmp, k = 3, numPlanes = 8,
      maxBucket = 10)
      .select("vec_a").distinct().collect().map(_.getLong(0)).toSet
    assert(knn === Set(100L, 101L), s"got $knn")
  }

  test("diversity sample: dense buckets thin toward target, sparse pass " +
      "whole, deterministic") {
    import spark.implicits._
    def splitmix(x0: Long): Long = {
      var x = x0 + 0x9E3779B97F4A7C15L
      x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
      x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
      x ^ (x >>> 31)
    }
    def unit(seed: Long): Array[Float] = {
      val v = Array.tabulate(64)(j =>
        splitmix(seed * 64 + j).toDouble / Long.MaxValue)
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(x => (x / n).toFloat)
    }
    val dense = unit(7L)
    val small = unit(99L)
    val rows = (1L to 200L).map(i => (i, dense, 0)) ++
      Seq((500L, small, 1), (501L, small, 1))
    val tmp = java.nio.file.Files.createTempDirectory("divsample").toString
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")
    val kept = Similarity.diversitySample(spark, tmp, target = 8,
      numPlanes = 8)
      .collect().map(_.getLong(0)).toSet
    // sparse bucket (rate 1) passes through whole
    assert(kept.contains(500L) && kept.contains(501L))
    // dense bucket (200 members, rate 8/200) thins to ≈ 8: the md5 gate
    // is Binomial(200, 0.04) — bounds generous but far below 200
    val denseKept = kept.count(_ <= 200L)
    assert(denseKept >= 1 && denseKept <= 30, s"dense kept $denseKept")
    // deterministic: identical set on re-run
    val again = Similarity.diversitySample(spark, tmp, target = 8,
      numPlanes = 8)
      .collect().map(_.getLong(0)).toSet
    assert(again === kept)
    // higher target keeps strictly more (monotone gate)
    val wide = Similarity.diversitySample(spark, tmp, target = 200,
      numPlanes = 8)
      .collect().map(_.getLong(0)).toSet
    assert(kept.subsetOf(wide) && wide.size === 202)
  }

  test("near-dup pairs are symmetric-deduped (a < b) and above threshold") {
    val pairs = Similarity.nearDupPairs(spark, sfDir, minCosine = 0.2).collect()
    assert(pairs.forall(r => r.getLong(0) < r.getLong(1)))
    assert(pairs.forall(_.getDouble(2) >= 0.2))
  }

  test("int8 quantization: range, extremes, reconstruction error bound") {
    val q = Similarity.quantizeEmbeddings(spark, sfDir)
    val rows = q.collect().map(r => (r.getLong(1), r.getLong(2)))
    assert(rows.forall { case (_, v) => v >= 0L && v <= 255L })
    // every dimension must use both ends of the code range (min → 0 and,
    // via the floor+clamp, max → 255)
    val byDim = rows.groupBy(_._1).map { case (d, vs) => d -> vs.map(_._2) }
    byDim.foreach { case (d, vs) =>
      assert(vs.min === 0L, s"dim $d min code")
      assert(vs.max === 255L, s"dim $d max code")
    }
    // reconstruction: |v − dequant(q)| ≤ one quantization step per dim
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("dim", "v")))
      .select(col("vec_id"), col("dim").cast("long").as("dim"),
        col("v").cast("double").as("v"))
    val stats = emb.groupBy("dim")
      .agg(min("v").as("lo"), max("v").as("hi"))
    val err = q.join(emb, Seq("vec_id", "dim")).join(stats, Seq("dim"))
      .select((abs(col("v") - (col("lo") +
        col("q").cast("double") / 255.0 * (col("hi") - col("lo")))) -
        ((col("hi") - col("lo")) / 255.0)).as("excess"))
      .filter(col("excess") > 1e-9).count()
    assert(err === 0L, "all values within one quantization step")
  }

  test("semantic clusters: labels are component minima, consistent with pairs") {
    val pairs = Similarity.nearDupPairs(spark, sfDir, minCosine = 0.2)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assume(pairs.nonEmpty, "corpus has at least one near-dup pair")
    val labels = Similarity.embedClusters(spark, sfDir, minCosine = 0.2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    // each pair's endpoints share one label, and the label is the min
    // vec_id of its component (so it labels itself)
    pairs.foreach { case (a, b) =>
      assert(labels(a) === labels(b), s"pair ($a,$b) split across clusters")
    }
    labels.values.foreach { cid =>
      assert(labels(cid) === cid, s"cluster root $cid not self-labeled")
    }
    assert(labels.forall { case (v, cid) => cid <= v })
  }

  test("semantic keep-filter: drops exactly the non-canonical members") {
    val n = spark.read.parquet(s"$sfDir/embeddings.parquet").count()
    val labels = Similarity.embedClusters(spark, sfDir, minCosine = 0.2)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val dropped = labels.count { case (v, cid) => v != cid }
    val kept = Similarity.embedClusterKeep(spark, sfDir, minCosine = 0.2)
    assert(kept.count() === n - dropped)
    // survivors include every cluster root and no dropped member
    val keptIds = kept.collect().map(_.getLong(0)).toSet
    labels.foreach { case (v, cid) =>
      if (v == cid) assert(keptIds.contains(v)) else assert(!keptIds.contains(v))
    }
  }

  test("materialized embed-cluster labels equal the recomputed CC output") {
    val recomputed = Similarity.embedLabelsRecompute(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val materialized = Similarity.embedClusters(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(materialized.map(t => t._1 -> t._2).toMap === recomputed)
    val sizes = recomputed.values.groupBy(identity).view
      .mapValues(_.size.toLong).toMap
    assert(materialized.forall(t => t._3 === sizes(t._2)))
    val keepRe = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select("vec_id").collect().map(_.getLong(0))
      .filter(v => recomputed.getOrElse(v, v) == v).toSet
    val keepMat = Similarity.embedClusterKeep(spark, sfDir)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(keepMat === keepRe)
  }

  test("knnClassify is the deterministic majority vote over knnJoin") {
    val labels = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val nbrs = Similarity.knnJoin(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val expect = nbrs.groupBy(_._1).map { case (q, rows) =>
      val votes = rows.map(p => labels(p._2))
        .groupBy(identity).view.mapValues(_.size).toMap
      // (votes DESC, label ASC) — the pinned tie-break
      val (lbl, n) = votes.toSeq.sortBy { case (l, c) => (-c, l) }.head
      q -> (lbl, n.toLong)
    }
    val got = Similarity.knnClassify(spark, sfDir).collect()
      .map(r => r.getLong(0) ->
        (r.getInt(2), r.getLong(3), r.getInt(1), r.getBoolean(4))).toMap
    assert(got.keySet === expect.keySet)
    got.foreach { case (id, (pred, votes, trueLbl, mismatch)) =>
      assert((pred, votes) === expect(id), s"vec $id")
      assert(trueLbl === labels(id))
      assert(mismatch === (pred != trueLbl))
    }
  }

  test("matryoshka rerank: full cosine on the shortlist, recall vs brute " +
      "force is high, both stages plan as TakeOrderedAndProject") {
    val full = Similarity.bruteForceTopK(spark, sfDir, queryId = 0L)
      .collect().map(_.getLong(0)).toSet
    val df = Similarity.matryoshkaTopK(spark, sfDir, queryId = 0L)
    val rows = df.collect()
    assert(rows.length === 10)
    // exact full-vector cosine on returned rows (vs bruteForce scores)
    val bf = Similarity.bruteForceTopK(spark, sfDir, queryId = 0L, k = 499)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    rows.foreach(r => assert(r.getDouble(3) === bf(r.getLong(0)),
      s"full cosine mismatch for ${r.getLong(0)}"))
    // recall dial: these embeddings are NOT MRL-trained (random synthetic
    // dims carry equal information), so a 16-dim prefix is a weak scorer
    // — the point pinned here is that the (prefixDims, shortlist) dial
    // buys recall monotonically, and a wider prefix reaches high recall
    def recallOf(pre: Int, sl: Int): Double =
      Similarity.matryoshkaTopK(spark, sfDir, queryId = 0L,
          prefixDims = pre, shortlist = sl)
        .collect().map(_.getLong(0)).count(full.contains) / 10.0
    val narrow = rows.map(_.getLong(0)).count(full.contains) / 10.0
    val wide = recallOf(48, 100)
    assert(wide >= narrow, "widening the prefix must not lose recall")
    assert(wide >= 0.9, s"48-dim prefix recall $wide")
    val plan = df.queryExecution.executedPlan.toString
    assert("TakeOrderedAndProject".r.findAllIn(plan).length >= 2,
      "both stages must be top-k, not global sorts")
  }

  test("embedOutliers: flag matches the per-label 5% interpolated " +
      "quantile, outlier rate is bounded, cosines are valid") {
    val rows = Similarity.embedOutliers(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2), r.getBoolean(3)))
    assert(rows.length === 500)
    rows.foreach { case (_, _, c, _) => assert(c >= -1.0001 && c <= 1.0001) }
    rows.groupBy(_._2).foreach { case (label, members) =>
      val sorted = members.map(_._3).sorted
      val pos = 0.05 * (sorted.length - 1)
      val (i, f) = (pos.toInt, pos - pos.toInt)
      val thr = sorted(i) + f * (sorted(i + 1) - sorted(i))
      members.foreach { case (id, _, c, flag) =>
        // tolerance: engine quantile interpolation may differ in the ulp
        if (math.abs(c - thr) > 1e-9)
          assert(flag === (c < thr), s"vec $id label $label")
      }
      val rate = members.count(_._4).toDouble / members.length
      assert(rate <= 0.10, s"label $label outlier rate $rate")
    }
    assert(rows.exists(_._4), "some outliers must exist at lo=0.05")
  }

  private def embMatrix(): Map[Long, Array[Double]] =
    spark.read.parquet(s"$sfDir/embeddings.parquet").collect()
      .map(r => r.getLong(0) ->
        r.getSeq[Float](1).map(_.toDouble).toArray).toMap

  test("dimStats: 64 dims, population std, values match a manual pass") {
    val emb = embMatrix()
    val rows = Similarity.dimStats(spark, sfDir).collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    assert(rows.size === 64 && rows.keySet === (0L until 64L).toSet)
    val d0 = emb.values.map(_(0)).toArray
    val m = d0.sum / d0.length
    val s = math.sqrt(d0.map(x => (x - m) * (x - m)).sum / d0.length)
    assert(math.abs(rows(0L)._1 - m) < 1e-5, "dim-0 mean")
    assert(math.abs(rows(0L)._2 - s) < 1e-5, "dim-0 population std")
    rows.values.foreach { case (_, std) => assert(std > 0.0, "no dead dims") }
  }

  test("standardizeEmbeddings: z-norms match a manual z-score pass and " +
      "concentrate near sqrt(dim); no corpus shuffle in the plan") {
    val emb = embMatrix()
    val n = emb.size
    val dims = 0 until 64
    val means = dims.map(d => emb.values.map(_(d)).sum / n).toArray
    val stds = dims.map { d =>
      val m = means(d)
      math.sqrt(emb.values.map(x => (x(d) - m) * (x(d) - m)).sum / n)
    }.toArray
    val df = Similarity.standardizeEmbeddings(spark, sfDir)
    val rows = df.collect()
      .map(r => (r.getLong(0), r.getDouble(2), r.getDouble(3), r.getDouble(4)))
    assert(rows.length === n)
    rows.take(20).foreach { case (id, zn, zmin, zmax) =>
      val z = dims.map(d => (emb(id)(d) - means(d)) / stds(d))
      assert(math.abs(zn - math.sqrt(z.map(v => v * v).sum)) < 2e-4,
        s"z_norm vec $id")
      assert(math.abs(zmin - z.min) < 2e-4 && math.abs(zmax - z.max) < 2e-4,
        s"extremes vec $id")
    }
    val meanZn = rows.map(_._2).sum / n
    assert(meanZn > 7.0 && meanZn < 9.0,
      s"z-norms should concentrate near sqrt(64)=8, got $meanZn")
    // the standardization itself must be a narrow map over the scan —
    // the only exchanges belong to the 64-row stats aggregate
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("SortMergeJoin"),
      "stats must broadcast, never shuffle the corpus side")
  }

  test("marginMine: forward top-1 within shared buckets, margin " +
      "normalizes by both neighborhoods, accept flag consistent") {
    val rows = Similarity.marginMine(spark, sfDir, numPlanes = 8).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3),
        r.getBoolean(4)))
    assert(rows.nonEmpty, "some label-0 vecs must share buckets with label-1")
    assert(rows.map(_._1).distinct.length === rows.length,
      "exactly one forward-top-1 row per mined A-vector")
    rows.foreach { case (a, b, cos, margin, acc) =>
      assert(cos >= -1.0001 && cos <= 1.0001, s"cos($a,$b)")
      if (math.abs(margin - 0.05) > 1e-3)
        assert(acc === (margin >= 0.05), s"accept flag ($a,$b)")
    }
    assert(rows.exists(_._5) && rows.exists(!_._5),
      "threshold must split the mined pairs to be a meaningful test")
    // cross-check top-1 choice AND margins against a manual pass over
    // the same bucketed candidate stream
    val bucketed = Similarity.withBucket(spark, sfDir, 8).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray,
        r.getInt(2), r.getLong(3)))
    def cos4(x: Array[Double], y: Array[Double]): Double = {
      val d = x.zip(y).map { case (u, v) => u * v }.sum
      val r = d / (math.sqrt(x.map(v => v * v).sum) *
        math.sqrt(y.map(v => v * v).sum))
      BigDecimal(r).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val byBucket = bucketed.groupBy(_._4)
    val aSide = bucketed.filter(_._3 == 0)
    val cand = aSide.flatMap { case (a, va, _, bk) =>
      byBucket(bk).filter(_._3 == 1)
        .map { case (b, vb, _, _) => (a, b, cos4(va, vb)) }
    }
    val fwd = cand.groupBy(_._1).map { case (a, cs) =>
      a -> cs.sortBy { case (_, b, c) => (-c, b) } }
    val avgkA = fwd.map { case (a, cs) =>
      a -> cs.take(4).map(_._3).sum / math.min(4, cs.length) }
    val avgkB = cand.groupBy(_._2).map { case (b, cs) =>
      b -> cs.sortBy { case (aa, _, c) => (-c, aa) }
        .take(4).map(_._3).sum / math.min(4, cs.length) }
    val expect = fwd.map { case (a, cs) =>
      val (_, b, c) = cs.head
      a -> (b, c - (avgkA(a) + avgkB(b)) / 2.0)
    }
    val got = rows.map(r => r._1 -> (r._2, r._4)).toMap
    assert(got.keySet === expect.keySet, "mined A-vector set")
    expect.foreach { case (a, (b, m)) =>
      assert(got(a)._1 === b, s"forward top-1 for $a")
      assert(math.abs(got(a)._2 - m) < 2e-4, s"margin for $a")
    }
  }

  test("semanticDecontaminate: a planted paraphrase-level copy of an " +
      "eval vector is flagged at cosine 1.0; the plan is join-free") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("semdecon").toString
    val evalVec = Array.tabulate(8)(i => math.sin(i + 1).toFloat)
    val scaled = evalVec.map(x => x * 3.0f) // same direction → cosine 1.0
    val ortho = Array.tabulate(8)(i =>
      (if (i % 2 == 0) math.cos(i + 1) else -math.sin(i)).toFloat)
    Seq((0L, evalVec, 0), (100L, scaled, 1), (101L, ortho, 2))
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")
    val out = Similarity.semanticDecontaminate(spark, tmp,
      evalMaxId = 10L, minCosine = 0.9)
    val rows = out.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(rows.toSeq === Seq((100L, 0L, 1.0)),
      s"only the scaled copy clears 0.9: ${rows.toSeq}")
    // the eval set rides as a literal: no join anywhere in the plan
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.toLowerCase.contains("join"), plan.take(2000))
    // empty eval set is a loud error, not an empty result
    val e = intercept[IllegalArgumentException] {
      Similarity.semanticDecontaminate(spark, tmp, evalMaxId = -1L)
    }
    assert(e.getMessage.contains("eval"))
  }

  test("planesFor: smallest plane count with expected occupancy at or " +
      "under target, clamped, input-validated") {
    // n/2^p <= target at the returned p, and not at p-1
    for ((n, t) <- Seq((20000L, 250), (2000L, 250), (1000000000L, 500),
        (20000L, 10))) {
      val p = Similarity.planesFor(n, t)
      assert(n.toDouble / (1L << p) <= t, s"occupancy bound at p=$p")
      assert(p == 1 || n.toDouble / (1L << (p - 1)) > t,
        s"p=$p not minimal for n=$n t=$t")
    }
    assert(Similarity.planesFor(20000) === 7)
    assert(Similarity.planesFor(1L << 62, 1) === 30, "clamped at 30")
    assert(Similarity.planesFor(1) === 1)
    intercept[IllegalArgumentException](Similarity.planesFor(0))
    intercept[IllegalArgumentException](Similarity.planesFor(10, 0))
  }

  test("AutoPlanes default: the LSH self-joins size from the corpus " +
      "count (identical to an explicit planesFor(n)), and the sizing " +
      "rule holds expected occupancy in-band across scale-ups") {
    val n = Similarity.embeddingCount(spark, sfDir)
    val p = Similarity.planesFor(n)
    // auto (the default) ≡ explicit planesFor(n): same pair set
    val auto = Similarity.knnJoin(spark, sfDir, k = 3)
      .select("vec_a", "vec_b").collect().map(r => (r.getLong(0),
        r.getLong(1))).toSet
    val expl = Similarity.knnJoin(spark, sfDir, k = 3, numPlanes = p)
      .select("vec_a", "vec_b").collect().map(r => (r.getLong(0),
        r.getLong(1))).toSet
    assert(auto === expl, s"auto must resolve planesFor($n) = $p")
    // matched occupancy at two (and three) scales: the expected bucket
    // size n/2^p stays within (target/2, target] as the corpus grows
    // 10x and 100x — the property that killed the ×8.1 growth at sf1
    for (m <- Seq(n, n * 10, n * 100)) {
      val pm = Similarity.planesFor(m)
      val occ = m.toDouble / (1L << pm)
      assert(occ <= 250.0, s"occupancy $occ above target at n=$m")
      assert(pm == 1 || occ > 125.0, s"over-sharded at n=$m (occ $occ)")
    }
  }
}

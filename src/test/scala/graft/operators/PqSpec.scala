package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class PqSpec extends SparkSpec {

  test("codebooks: deterministic, m subspaces of k centroids of dim/m") {
    Artifacts.clear()
    val b1 = Pq.trainCodebooks(spark, sfDir, m = 8, k = 16)
    // cache hit returns the same table; a cold retrain must reproduce it
    assert(Pq.trainCodebooks(spark, sfDir, m = 8, k = 16) eq b1)
    Artifacts.clear()
    val b2 = Pq.trainCodebooks(spark, sfDir, m = 8, k = 16)
    assert(b1.length === 8)
    b1.foreach { book =>
      assert(book.length === 16)
      book.foreach(c => assert(c.length === 8))
    }
    assert(b1.flatten.flatten.toSeq === b2.flatten.flatten.toSeq)
  }

  test("encode: every vector gets m codes in [0, k); 64× compression") {
    val codes = Pq.encode(spark, sfDir, m = 8, k = 16).collect()
    assert(codes.length === 500)
    codes.foreach { r =>
      val cs = r.getSeq[Int](2)
      assert(cs.length === 8)
      assert(cs.forall(c => c >= 0 && c < 16))
    }
    // 8 codes × 4 bits = 4 bytes vs 64 floats × 4 bytes = 256 bytes
  }

  test("reconstruction error is bounded and far below vector norm") {
    val books = Pq.trainCodebooks(spark, sfDir, m = 8, k = 16)
    val rows = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select("embedding").limit(50).collect()
      .map(_.getSeq[Float](0).toArray)
    val sub = 8
    rows.foreach { v =>
      val codes = Array.tabulate(8)(s =>
        Ivf.nearest(books(s), v.slice(s * sub, (s + 1) * sub)))
      val rec = Pq.reconstruct(books, codes)
      val err = math.sqrt(v.zip(rec).map { case (a, b) =>
        (a - b) * (a - b)
      }.sum)
      val norm = math.sqrt(v.map(x => x.toDouble * x).sum)
      // unit vectors; quantization must keep a meaningful fraction of
      // the signal (k-means with 16 cells per 8-dim subspace)
      assert(err < norm, s"reconstruction error $err vs norm $norm")
    }
  }

  test("ADC finds planted near-neighbors (recall where locality exists)") {
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
    def perturb(seed: Long): Array[Float] = {
      val noise = unit(seed)
      val v = base.zip(noise).map { case (b, n) => b + (0.05 * n).toFloat }
      val norm = math.sqrt(v.map(x => x.toDouble * x).sum)
      v.map(x => (x / norm).toFloat)
    }
    val rows = Seq((0L, base, 0)) ++
      (1L to 3L).map(i => (i, perturb(100 + i), 0)) ++
      (10L to 80L).map(i => (i, unit(1000 + i), 1))
    val tmp = java.nio.file.Files.createTempDirectory("pq").toString
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")
    val top = Pq.topK(spark, tmp, queryId = 0L, kNn = 3)
      .collect().map(_.getLong(0)).toSet
    assert(top === Set(1L, 2L, 3L), s"got $top")
  }

  test("ADC plan: codegen'd literal-table scoring, top-k via " +
      "TakeOrderedAndProject, no join") {
    val df = Pq.topK(spark, sfDir, queryId = 0L, kNn = 10)
    val plan = df.queryExecution.sparkPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(!plan.contains("Join"), "ADC scoring must not join")
    assert(df.count() === 10)
  }

  test("IVF-PQ composed index: partition-pruned probe, build-once cache, " +
      "re-rank stage equals exact cosine on the shortlist") {
    Artifacts.clear()
    val (path, _, _) = Pq.materializeIvfPqIndex(spark, sfDir)
    // the composed table carries cell partitions AND 4-byte codes
    val idx = spark.read.parquet(path)
    assert(idx.columns.toSet ===
      Set("vec_id", "label", "embedding", "codes", "cluster"))
    val probe = Pq.topKIvfPq(spark, sfDir, queryId = 0L, kNn = 10)
    val rows = probe.collect()
    assert(rows.length === 10)
    // cosines are sorted desc — the re-rank output, not ADC order
    val cos = rows.map(_.getDouble(2)).toSeq
    assert(cos === cos.sorted.reverse)
    // the scan is partition-pruned to the probed cells
    val scans = probe.queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scans.nonEmpty)
    assert(scans.head.partitionFilters
      .exists(_.references.exists(_.name == "cluster")),
      s"cluster must prune partitions: ${scans.head.partitionFilters}")
    // build-once: second call reuses the same directory
    val (path2, _, _) = Pq.materializeIvfPqIndex(spark, sfDir)
    assert(path2 === path)
    Artifacts.clear()
    assert(!new java.io.File(path).exists(), "clear must delete index dirs")
  }

  test("incremental IVF-PQ: frozen-model append equals a one-shot encode " +
      "of base+delta — identical index rows and search results") {
    val all = Tables.embeddings(spark, sfDir)
    val base = all.filter(col("vec_id") % 2 === 0)
    val delta = all.filter(col("vec_id") % 2 =!= 0)
    val pGrow = java.nio.file.Files.createTempDirectory("ivfpq_grow").toString
    val pOne = java.nio.file.Files.createTempDirectory("ivfpq_one").toString
    try {
      Pq.buildIvfPqIndexAt(spark, pGrow, base)
      Pq.appendToIvfPqIndex(spark, pGrow, delta)
      // one-shot twin: encode the FULL corpus under the SAME frozen model
      val (cents, books) = Pq.readModel(spark, pGrow)
      Pq.encodeInto(spark, pOne, all, cents, books, "overwrite")
      def rows(p: String) = spark.read.parquet(s"$p/index")
        .select("vec_id", "cluster", "codes").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Int](2).toSeq))
        .sortBy(_._1)
      val grown = rows(pGrow)
      assert(grown.length === all.count())
      assert(grown.toSeq === rows(pOne).toSeq,
        "append must place every delta vector in the same cell with the " +
          "same codes as a one-shot encode under the same model")
      // probes over the grown index == probes over the one-shot index
      val qVec = all.filter(col("vec_id") === 0L)
        .select("embedding").collect()(0).getSeq[Float](0).toArray
      Pq.writeModel(spark, pOne, cents, books)
      def hits(p: String) = Pq.searchIvfPqIndexAt(spark, p, qVec,
          excludeVecId = Some(0L)).collect()
        .map(r => (r.getLong(0), r.getDouble(2))).toSeq
      assert(hits(pGrow) === hits(pOne))
      // the probe stays partition-pruned after the append
      val probe = Pq.searchIvfPqIndexAt(spark, pGrow, qVec,
        excludeVecId = Some(0L))
      val scans = probe.queryExecution.sparkPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }
      assert(scans.exists(_.partitionFilters
        .exists(_.references.exists(_.name == "cluster"))))
    } finally {
      Artifacts.deleteRecursively(new java.io.File(pGrow))
      Artifacts.deleteRecursively(new java.io.File(pOne))
    }
  }

  test("encode path is native codegen: no ScalaUDF in the assign/encode " +
      "projection (the index-write job's hot map)") {
    // the session-cache build, the persistent build, and the in-memory
    // index all share the same two expressions; assert on their plans
    val enc = Pq.encode(spark, sfDir)
    val encPlan = enc.queryExecution.executedPlan.toString
    assert(!encPlan.contains("ScalaUDF"), encPlan)
    assert(encPlan.contains("pq_codes"), encPlan)
    val (indexed, cents) = Ivf.buildIndex(spark, sfDir)
    val idxPlan = indexed.queryExecution.executedPlan.toString
    assert(!idxPlan.contains("ScalaUDF"), idxPlan)
    assert(idxPlan.contains("pq_nearest_centroid"), idxPlan)
    // the full encodeInto projection (assign + codes together)
    val books = Pq.trainCodebooks(spark, sfDir)
    val proj = Tables.embeddings(spark, sfDir)
      .withColumn("cluster",
        graft.functions.PqEncodeExpression.assign(col("embedding"), cents))
      .withColumn("codes",
        graft.functions.PqEncodeExpression.codes(col("embedding"), books))
    val projPlan = proj.queryExecution.executedPlan.toString
    assert(!projPlan.contains("ScalaUDF"), projPlan)
    // and it stays inside whole-stage codegen — the "*(n) Project" span
    // marker, not a fallback interpreted projection
    assert(projPlan.contains("*(1) Project"), projPlan)
    // native vs reference semantics: same cells and codes as the direct
    // driver-side model application on a sample of rows
    val sample = Tables.embeddings(spark, sfDir)
      .filter(col("vec_id") < 32).select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val got = proj.filter(col("vec_id") < 32)
      .select("vec_id", "cluster", "codes").collect()
      .map(r => (r.getLong(0),
        (r.getInt(1), r.getSeq[Int](2).toSeq))).toMap
    sample.foreach { case (id, v) =>
      val sub = books(0)(0).length
      val expect = (Ivf.nearest(cents, v),
        (0 until books.length).map(s =>
          Ivf.nearest(books(s), v.slice(s * sub, (s + 1) * sub))))
      assert(got(id) === expect, s"vec $id")
    }
  }

  test("rebuild-and-swap closes the serving loop: drift trips the " +
      "imbalance alarm, the fresh-path rebuild clears it and recovers " +
      "recall in the drifted region") {
    Artifacts.clear()
    val row = Pq.annRebuildRecovery(spark, sfDir).collect()(0)
    val (imbD, alarm, imbR, cleared) = (row.getDouble(0), row.getBoolean(1),
      row.getDouble(2), row.getBoolean(3))
    val (recS, recR, recovered) = (row.getDouble(4), row.getDouble(5),
      row.getBoolean(6))
    info(s"imbalance drifted=$imbD rebuilt=$imbR; " +
      s"recall stale=$recS rebuilt=$recR")
    // the drifted appends pile onto the cells nearest the shifted cloud:
    // the alarm must trip, and the retrained model must clear it
    assert(alarm && imbD > 2.0, s"drift must trip the alarm: $imbD")
    assert(cleared && imbR <= 2.0, s"rebuild must clear the alarm: $imbR")
    // the stale model cannot rank the drifted region (codes degenerate
    // there); the rebuilt one must do strictly better and end up usable
    assert(recovered && recR > recS,
      s"rebuild must recover recall: stale=$recS rebuilt=$recR")
    assert(recR >= 0.5, s"rebuilt recall unusably low: $recR")
    // determinism: a second call (cache-cleared cold rebuild) reproduces
    // every pinned value — the property the golden oracle rests on
    Artifacts.clear()
    val again = Pq.annRebuildRecovery(spark, sfDir).collect()(0)
    assert(again === row, "rebuild demo must be deterministic")
    Artifacts.clear()
    // an even (base-side) query id is a misuse of the demo, named error
    val e = intercept[IllegalArgumentException](
      Pq.annRebuildRecovery(spark, sfDir, queryId = 2L))
    assert(e.getMessage.contains("odd"))
  }

  test("encode derives the subspace dim from the codebooks (dim != 64)") {
    import spark.implicits._
    // 32-dim corpus: m=8 → 4-dim subspaces; a 64-dim assumption would
    // slice past the vector end and mis-assign every code
    val tmp = java.nio.file.Files.createTempDirectory("pqdim").toString
    (0L until 64L).map { i =>
      (i, s"l${i % 4}", Array.tabulate(32)(j =>
        math.sin(i * 0.7 + j * 0.3).toFloat))
    }.toDF("vec_id", "label", "embedding")
      .write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")
    Artifacts.clear()
    val books = Pq.trainCodebooks(spark, tmp, m = 8, k = 4)
    books.foreach(book => book.foreach(c => assert(c.length === 4)))
    val codes = Pq.encode(spark, tmp, m = 8, k = 4).collect()
    assert(codes.length === 64)
    codes.foreach { r =>
      val cs = r.getSeq[Int](2)
      assert(cs.length === 8)
      assert(cs.forall(c => c >= 0 && c < 4))
    }
    // reconstruction round-trips at the corpus dim
    val rec = Pq.reconstruct(books, codes.head.getSeq[Int](2).toArray)
    assert(rec.length === 32)
    Artifacts.clear()
  }
}

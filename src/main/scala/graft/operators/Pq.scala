package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Product quantization (Jégou et al., TPAMI 2011) — the compression half
  * of the standard 100 TB ANN recipe (IVF for pruning + PQ for in-cell
  * distance): the 64-dim float vector (256 bytes) becomes `m` sub-codes
  * of log2(k) bits (m=8, k=16 → 4 bytes, 64× smaller), and query-time
  * distances are table lookups instead of float dot products.
  *
  * Spark shape:
  *  - TRAIN: per-subspace k-means on the SAME layout-independent
  *    hash-gated sample as [[Ivf]] (driver-side Lloyd over ≤4096 rows —
  *    tiny, deterministic, no job storm).
  *  - ENCODE: one narrow map over the corpus (broadcast codebooks).
  *  - SEARCH (ADC — asymmetric distance): the query's per-subspace
  *    distance table (m·k doubles) is folded into a LITERAL array, so
  *    scoring is a codegen'd `aggregate(zip_with(codes, ...))` over the
  *    scan — no join, no shuffle before the final top-k
  *    (`TakeOrderedAndProject`).
  *
  * Correctness treatment mirrors the other ANN operators: every input is
  * fixed (deterministic sample → deterministic codebooks), so recall@k
  * against brute force is a pinned constant in `SparkEntry.oracleSql`,
  * and `PqSpec` pins the reconstruction-error and compression contracts.
  */
object Pq {

  private def embeddings(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)

  /** Per-subspace codebooks: `m` arrays of `k` centroids of dim/m floats.
    * Trains on the hash-ordered uniform sample ([[Ivf.uniformSample]] —
    * layout-independent by the same argument). Trained once per
    * (corpus, m, k, trainSample) — the training sample collect + Lloyd
    * loop must not re-run per query. */
  def trainCodebooks(spark: SparkSession, dir: String, m: Int = 8,
      k: Int = 16, trainSample: Int = 4096): Array[Array[Array[Double]]] = {
    val e = embeddings(spark, dir)
    Artifacts("pq_codebooks", (m, k, trainSample), e) {
      val sample = Ivf.uniformSample(e, trainSample)
        .select("embedding").collect().map(_.getSeq[Float](0).toArray)
      codebooksFromSample(sample, m, k)
    }
  }

  /** Per-subspace codebooks from an in-memory training sample. */
  private def codebooksFromSample(sample: Array[Array[Float]], m: Int,
      k: Int): Array[Array[Array[Double]]] = {
    require(sample.nonEmpty, "empty training sample")
    val dim = sample(0).length
    require(dim % m == 0, s"dim $dim must be divisible by m=$m")
    val sub = dim / m
    Array.tabulate(m) { s =>
      val slice = sample.map(v => v.slice(s * sub, (s + 1) * sub))
      Ivf.trainCentroids(slice, k)
    }
  }

  /** Encode every vector: array of `m` codes, code s = index of the
    * nearest centroid of subspace s (ties → lowest, [[Ivf.nearest]]). */
  def encode(spark: SparkSession, dir: String, m: Int = 8, k: Int = 16,
      trainSample: Int = 4096): DataFrame = {
    val books = trainCodebooks(spark, dir, m, k, trainSample)
    embeddings(spark, dir).select(col("vec_id"), col("label"),
      graft.functions.PqEncodeExpression.codes(col("embedding"), books)
        .as("codes"))
  }

  /** Decode codes back to the reconstructed vector (centroid
    * concatenation) — the quantization-error half of the contract. */
  def reconstruct(books: Array[Array[Array[Double]]],
      codes: Array[Int]): Array[Double] =
    codes.zipWithIndex.flatMap { case (c, s) => books(s)(c) }

  /** ADC top-k for one query vector: distance ≈ Σ_s table(s)(code_s),
    * where table(s)(c) = ‖q_s − centroid_c‖². The table is a literal
    * (m·k doubles), so the scoring expression is pure codegen over the
    * codes column — the plan is scan → project → TakeOrderedAndProject. */
  def topK(spark: SparkSession, dir: String, queryId: Long, kNn: Int = 10,
      m: Int = 8, k: Int = 16): DataFrame = {
    val books = trainCodebooks(spark, dir, m, k)
    val qVec = embeddings(spark, dir).filter(col("vec_id") === queryId)
      .select("embedding").collect()(0).getSeq[Float](0).toArray
    val sub = books(0)(0).length
    // flat lookup table: entry s*k + c = squared L2 of query subvector s
    // to centroid c of subspace s
    val lut: Seq[Double] = (0 until m).flatMap { s =>
      (0 until k).map { c =>
        val cent = books(s)(c)
        var d = 0.0
        var j = 0
        while (j < sub) {
          val diff = cent(j) - qVec(s * sub + j); d += diff * diff; j += 1
        }
        d
      }
    }
    val codes = encode(spark, dir, m, k)
    val adc: Column = aggregate(
      zip_with(col("codes"), typedlit((0 until m).map(_ * k)),
        (c, base) => element_at(typedlit(lut), (base + c + 1).cast("int"))),
      lit(0.0), (acc, v) => acc + v)
    codes.filter(col("vec_id") =!= queryId)
      .select(col("vec_id"), col("label"), round(adc, 6).as("adc_dist"))
      .orderBy(col("adc_dist").asc, col("vec_id").asc)
      .limit(kNn)
  }

  // --------------------------------------------------- IVF+PQ composition

  /** Build the composed index ONCE per (corpus, params): IVF cell tags
    * ([[Ivf.buildIndex]]) + PQ codes in the same table, partitioned by
    * cluster — a probe prunes whole cell directories at the scan AND
    * scores 4-byte codes instead of 256-byte vectors. This is the
    * standard 100 TB ANN layout (IVF-PQ); the raw embedding rides along
    * for the exact re-rank stage. */
  def materializeIvfPqIndex(spark: SparkSession, dir: String,
      nlist: Int = 16, m: Int = 8, k: Int = 16, trainSample: Int = 4096)
      : (String, Array[Array[Double]], Array[Array[Array[Double]]]) =
    Artifacts("ivfpq_index", (nlist, m, k, trainSample),
        embeddings(spark, dir)) {
      val (indexed, centroids) = Ivf.buildIndex(spark, dir, nlist, trainSample)
      val books = trainCodebooks(spark, dir, m, k, trainSample)
      val path = Artifacts.newDir("ivfpq_index")
      indexed.withColumn("codes",
          graft.functions.PqEncodeExpression.codes(col("embedding"), books))
        .write.mode("overwrite").partitionBy("cluster").parquet(path)
      (path, centroids, books)
    }

  /** Two-stage IVF-PQ search — the full production recipe:
    *  1. PRUNE: read only the `nprobe` nearest cells (parquet partition
    *     pruning, like [[Ivf.probe]]).
    *  2. SHORTLIST: ADC over the 4-byte codes (codegen'd literal-table
    *     fold) keeps the cheapest `kNn·rerank` candidates.
    *  3. RE-RANK: exact cosine on the shortlist's raw embeddings →
    *     final top-k. The expensive float math touches `kNn·rerank`
    *     rows, not the corpus.
    * Plan: pruned scan → codegen project → TakeOrdered(kNn·rerank) →
    * exact-cosine project → TakeOrdered(kNn). No joins, no shuffles. */
  /** The query's per-subspace squared-L2 distance table, flat layout:
    * entry s·k + c = ‖q_s − centroid_c of subspace s‖². */
  private def lutFor(books: Array[Array[Array[Double]]],
      qVec: Array[Float]): Seq[Double] = {
    val m = books.length
    val k = books(0).length
    val sub = books(0)(0).length
    (0 until m).flatMap { s =>
      (0 until k).map { c =>
        val cent = books(s)(c)
        var d = 0.0
        var j = 0
        while (j < sub) {
          val diff = cent(j) - qVec(s * sub + j); d += diff * diff; j += 1
        }
        d
      }
    }
  }

  /** ADC distance over the `codes` column: the LUT rides as a literal,
    * so the fold is pure codegen — no join, no broadcast variable. */
  private def adcCol(lut: Seq[Double], m: Int, k: Int): Column =
    aggregate(
      zip_with(col("codes"), typedlit((0 until m).map(_ * k)),
        (c, base) => element_at(typedlit(lut), (base + c + 1).cast("int"))),
      lit(0.0), (acc, v) => acc + v)

  /** Exact query cosine over the `embedding` column (4-dp rounded, the
    * repo-wide convention) — the re-rank stage's scorer. */
  private def cosineCol(qVec: Array[Float]): Column = {
    val q = qVec.map(_.toDouble)
    val qnorm = math.sqrt(q.map(x => x * x).sum)
    // r17: native codegen fold (DotProductExpression), bit-equal to the
    // previous aggregate(zip_with) form — see Similarity.dotCols
    val dotQ: Column =
      graft.functions.DotProductExpression.dotCol(col("embedding"),
        typedlit(q.toSeq))
    val dotSelf: Column =
      graft.functions.DotProductExpression.dotCol(col("embedding"),
        col("embedding"))
    round(dotQ / (sqrt(dotSelf) * lit(qnorm)), 4)
  }

  /** Shared two-stage scorer: pruned scan of an encoded cell-partitioned
    * table → ADC shortlist → exact-cosine re-rank. */
  private def twoStageSearch(indexRows: DataFrame,
      centroids: Array[Array[Double]], books: Array[Array[Array[Double]]],
      qVec: Array[Float], kNn: Int, nprobe: Int, rerank: Int,
      excludeVecId: Option[Long]): DataFrame = {
    val m = books.length
    val k = books(0).length
    val cells = Ivf.nearestCells(centroids, qVec, nprobe)
    val base = indexRows.filter(col("cluster").isin(cells: _*))
    excludeVecId.fold(base)(id => base.filter(col("vec_id") =!= id))
      .select(col("vec_id"), col("label"), col("embedding"),
        adcCol(lutFor(books, qVec), m, k).as("adc_dist"))
      .orderBy(col("adc_dist").asc, col("vec_id").asc)
      .limit(kNn * rerank)
      .select(col("vec_id"), col("label"), cosineCol(qVec).as("cosine"))
      .orderBy(col("cosine").desc, col("vec_id").asc)
      .limit(kNn)
  }

  def topKIvfPq(spark: SparkSession, dir: String, queryId: Long,
      kNn: Int = 10, nlist: Int = 16, nprobe: Int = 4, m: Int = 8,
      k: Int = 16, rerank: Int = 4): DataFrame = {
    // fetch the query vector FIRST: an unknown query_id must fail with a
    // named error before triggering the (expensive) index materialization —
    // the SQL TVF binder contract is that malformed calls never surface raw
    // runtime exceptions like IndexOutOfBoundsException
    val qRows = embeddings(spark, dir).filter(col("vec_id") === queryId)
      .select("embedding").collect()
    if (qRows.isEmpty)
      throw new IllegalArgumentException(
        s"SUDAN: query_id $queryId not found in $dir/embeddings.parquet")
    val qVec = qRows(0).getSeq[Float](0).toArray
    val (path, centroids, books) = materializeIvfPqIndex(spark, dir, nlist, m, k)
    twoStageSearch(ParquetInput.read(spark, path), centroids, books, qVec,
      kNn, nprobe, rerank, excludeVecId = Some(queryId))
  }

  // ------------------------------------------ incremental index (append)

  /** Persist/load the frozen model (IVF centroids + PQ codebooks) next
    * to the index rows — one tiny parquet table of
    * (kind, i, j, vec): kind='centroid' rows are cell centroids (i =
    * cell), kind='book' rows are codebook entries (i = subspace,
    * j = code). What [[appendToIvfPqIndex]] loads so a LATER session
    * (or another writer) encodes appends with the exact model the base
    * index was built with. */
  private[operators] def writeModel(spark: SparkSession, path: String,
      centroids: Array[Array[Double]],
      books: Array[Array[Array[Double]]]): Unit = {
    import spark.implicits._
    val rows =
      centroids.zipWithIndex.map { case (c, i) =>
        ("centroid", i, 0, c.toSeq) } ++
      books.zipWithIndex.flatMap { case (book, s) =>
        book.zipWithIndex.map { case (c, j) => ("book", s, j, c.toSeq) } }
    rows.toSeq.toDF("kind", "i", "j", "vec")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/model")
  }

  private[operators] def readModel(spark: SparkSession, path: String)
      : (Array[Array[Double]], Array[Array[Array[Double]]]) = {
    val rows = ParquetInput.read(spark, s"$path/model").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getInt(2),
        r.getSeq[Double](3).toArray))
    val centroids = rows.filter(_._1 == "centroid").sortBy(_._2).map(_._4)
    val books = rows.filter(_._1 == "book").groupBy(_._2).toArray
      .sortBy(_._1).map(_._2.sortBy(_._3).map(_._4))
    require(centroids.nonEmpty && books.nonEmpty,
      s"no model found under $path/model")
    (centroids, books)
  }

  /** Assign + encode `vectors` with a FROZEN model and write them into
    * `path/index` (cell-partitioned). `SaveMode.Append` is what makes
    * the index incremental: new files land inside existing cluster
    * directories, and every reader (probe, recall, export) sees
    * base + appended rows with no compaction step required. */
  private[operators] def encodeInto(spark: SparkSession, path: String,
      vectors: DataFrame, centroids: Array[Array[Double]],
      books: Array[Array[Array[Double]]], mode: String): Unit =
    // the frozen model rides inside the native expressions (a few KB,
    // task-serialized with the plan) — no broadcast variable to clean up
    // per append, and the whole encode projection is codegen'd
    vectors
      .withColumn("cluster",
        graft.functions.PqEncodeExpression.assign(col("embedding"), centroids))
      .withColumn("codes",
        graft.functions.PqEncodeExpression.codes(col("embedding"), books))
      .write.mode(mode).partitionBy("cluster").parquet(s"$path/index")

  /** Build a PERSISTENT IVF-PQ index at `path`: train the model on
    * `vectors` (hash-gated deterministic sample), write it to
    * `path/model`, and write the encoded cell-partitioned rows to
    * `path/index`. Unlike [[materializeIvfPqIndex]] (session temp-dir
    * cache over a frozen corpus), this is the long-lived layout that
    * [[appendToIvfPqIndex]] can grow later. */
  def buildIvfPqIndexAt(spark: SparkSession, path: String,
      vectors: DataFrame, nlist: Int = 16, m: Int = 8, k: Int = 16,
      trainSample: Int = 4096): Unit = {
    val sample = Ivf.uniformSample(vectors, trainSample)
      .select("embedding").collect().map(_.getSeq[Float](0).toArray)
    val centroids = Ivf.trainCentroids(sample, nlist)
    val books = codebooksFromSample(sample, m, k)
    writeModel(spark, path, centroids, books)
    encodeInto(spark, path, vectors, centroids, books, "overwrite")
  }

  /** Incrementally grow the index: assign + encode `vectors` with the
    * index's FROZEN model and append them to the cell partitions.
    * Append is EXACT, not approximate — same model ⇒ same cells and
    * codes as a one-shot build over base+appended would produce
    * (spec-pinned), so probes over the grown index are
    * indistinguishable from probes over a rebuild with that model.
    *
    * Staleness contract: the model itself never retrains on append, so
    * if the appended distribution drifts from the training sample, cells
    * skew (hot centroids absorb the new mass) and ADC quantization error
    * grows. The standard serving discipline applies: monitor the cell
    * histogram (`ParquetInput.read(spark, s"$path/index")
    * .groupBy("cluster").count()`), and when skew crosses budget,
    * rebuild via [[buildIvfPqIndexAt]] over the full corpus — rebuilds
    * are rare, appends are cheap, and the two never require downtime
    * (build to a fresh path, swap the reader). */
  def appendToIvfPqIndex(spark: SparkSession, path: String,
      vectors: DataFrame): Unit = {
    val (centroids, books) = readModel(spark, path)
    encodeInto(spark, path, vectors, centroids, books, "append")
  }

  /** Two-stage probe of a persistent index at `path` (same plan shape
    * as [[topKIvfPq]]: pruned cell scan → ADC shortlist → exact
    * re-rank). */
  def searchIvfPqIndexAt(spark: SparkSession, path: String,
      qVec: Array[Float], kNn: Int = 10, nprobe: Int = 4,
      rerank: Int = 4, excludeVecId: Option[Long] = None): DataFrame = {
    val (centroids, books) = readModel(spark, path)
    twoStageSearch(ParquetInput.read(spark, s"$path/index"), centroids, books,
      qVec, kNn, nprobe, rerank, excludeVecId)
  }

  /** Recall@k of the GROWN index (built on the even-id half, odd-id
    * half appended with the frozen model) against brute force over the
    * full corpus — the live-ingest twin of `q_ann_ivfpq`. Deterministic
    * end to end (hash-gated sample of the base half, deterministic
    * Lloyd), so the driver's oracle pins the recall constant. */
  def annRecallAppend(spark: SparkSession, dir: String,
      queryId: Long = 0L, k: Int = 10): DataFrame = {
    val path = appendDemoIndex(spark, dir)
    val qVec = embeddings(spark, dir).filter(col("vec_id") === queryId)
      .select("embedding").collect()(0).getSeq[Float](0).toArray
    val truth = Similarity.bruteForceTopK(spark, dir, queryId, k)
      .select("vec_id")
    val approx = searchIvfPqIndexAt(spark, path, qVec, k,
      excludeVecId = Some(queryId)).select("vec_id")
    recallOf(truth, approx, "ivfpq_append", k)
  }

  /** Serving-side rebuild-trigger monitor — the measurable form of the
    * staleness contract in [[appendToIvfPqIndex]]'s scaladoc: the cell
    * histogram summarized to one row. `imbalance` (max cell over mean
    * cell, = max·n_cells/n_vectors as exact ints with ONE division) is
    * THE skew alarm — a drifting append distribution piles new mass
    * onto a few hot centroids; when it crosses the serving budget,
    * rebuild via [[buildIvfPqIndexAt]] to a fresh path and swap the
    * reader. Cost: one map-side-combined pass over the cell-partitioned
    * index — `cluster` is a partition column, so the scan prunes to
    * counting rows per directory. */
  def indexHealthReport(spark: SparkSession, path: String): DataFrame = {
    // cell count comes from the MODEL, not from the occupied partitions:
    // a groupBy over the index only sees non-empty cells, and skew
    // empties cells — the degenerate all-in-one-cell index would read
    // imbalance 1.0 ("balanced") exactly when skew is worst. Empty
    // cells therefore count in the mean (imbalance = max·nlist/n) and
    // surface explicitly (n_empty_cells, min_cell = 0).
    val nlist = readModel(spark, path)._1.length
    ParquetInput.read(spark, s"$path/index")
      .groupBy("cluster").agg(count(lit(1)).as("n"))
      .agg(
        lit(nlist).cast("long").as("n_cells"),
        (lit(nlist) - count(lit(1))).cast("long").as("n_empty_cells"),
        sum("n").cast("long").as("n_vectors"),
        max("n").cast("long").as("max_cell"),
        when(count(lit(1)) < nlist, lit(0L))
          .otherwise(min("n")).cast("long").as("min_cell"),
        round(max("n").cast("double") * lit(nlist.toDouble) /
          sum("n").cast("double"), 4).as("imbalance"))
  }

  /** [[indexHealthReport]] over the deterministic append-demo index
    * (same build [[annRecallAppend]] probes) — every value is a pinned
    * constant for the driver's oracle, like the recall entries. */
  def annIndexHealth(spark: SparkSession, dir: String): DataFrame =
    indexHealthReport(spark, appendDemoIndex(spark, dir))

  /** Build-once append-demo index: base corpus = even vec_ids, appended
    * delta = odd vec_ids. */
  private def appendDemoIndex(spark: SparkSession, dir: String): String = {
    val all = embeddings(spark, dir)
    Artifacts.dir("ivfpq_append", (), all) { p =>
      buildIvfPqIndexAt(spark, p, all.filter(col("vec_id") % 2 === 0))
      appendToIvfPqIndex(spark, p, all.filter(col("vec_id") % 2 =!= 0))
    }
  }

  /** The drifted delta: odd-id embeddings shifted by +2.0 in every
    * dimension — a deterministic stand-in for an append distribution the
    * frozen model never trained on (all of it lands in whichever cells
    * happen to sit nearest the shifted cloud). Narrow codegen'd map. */
  private def driftedDelta(spark: SparkSession, dir: String): DataFrame =
    embeddings(spark, dir).filter(col("vec_id") % 2 =!= 0)
      .withColumn("embedding",
        transform(col("embedding"), x => x + lit(2.0f)))

  /** Build-once pair of demo indexes: `stale` = model trained on the
    * even-id base, drifted delta appended under the frozen model;
    * `rebuilt` = [[buildIvfPqIndexAt]] over base+delta at a FRESH path
    * (the documented rebuild-and-swap, executed). */
  private def rebuildDemoPaths(spark: SparkSession, dir: String)
      : (String, String) =
    Artifacts("ivfpq_rebuild_demo", (), embeddings(spark, dir)) {
      val stale = Artifacts.newDir("ivfpq_drift")
      val rebuilt = Artifacts.newDir("ivfpq_rebuilt")
      val base = embeddings(spark, dir).filter(col("vec_id") % 2 === 0)
      val delta = driftedDelta(spark, dir)
      buildIvfPqIndexAt(spark, stale, base)
      appendToIvfPqIndex(spark, stale, delta)
      buildIvfPqIndexAt(spark, rebuilt, base.unionByName(delta))
      (stale, rebuilt)
    }

  /** The full serving lifecycle the health report's scaladoc promises,
    * executed end to end: drifted appends skew the frozen-model index →
    * the imbalance alarm crosses the serving budget → rebuild to a
    * fresh path ([[buildIvfPqIndexAt]] over the full corpus, the
    * no-downtime swap) → the alarm clears and recall for a query IN the
    * drifted region recovers. One row, every value deterministic
    * (hash-gated samples, deterministic Lloyd, vec_id tie-breaks), so
    * the driver's oracle pins the constants; booleans are computed from
    * the 4-dp-rounded values they summarize (emitted-precision
    * convention).
    *
    * Scale shape: two health aggregations (map-side combined over the
    * cell-partitioned indexes), two pruned probes, one broadcast
    * brute-force pass for ground truth — all over the demo-sized
    * corpus; at 100 TB the same monitor runs on the cell histogram
    * alone (no probes) and the rebuild is the rare maintenance job. */
  def annRebuildRecovery(spark: SparkSession, dir: String,
      queryId: Long = 1L, k: Int = 10, budget: Double = 2.0): DataFrame = {
    require(queryId % 2 != 0,
      s"queryId must be odd (a drifted-delta vector), got $queryId")
    val (stale, rebuilt) = rebuildDemoPaths(spark, dir)
    def imbalanceOf(path: String): Double =
      indexHealthReport(spark, path).select("imbalance")
        .collect()(0).getDouble(0)
    val imbStale = imbalanceOf(stale)
    val imbRebuilt = imbalanceOf(rebuilt)
    // ground truth: brute-force cosine over the SERVED corpus
    // (base + drifted delta) for the drifted query vector
    val base = embeddings(spark, dir).filter(col("vec_id") % 2 === 0)
    val delta = driftedDelta(spark, dir)
    val corpus = base.unionByName(delta)
    val qVec = delta.filter(col("vec_id") === queryId)
      .select("embedding").collect()(0).getSeq[Float](0).toArray
    val truth = corpus.filter(col("vec_id") =!= queryId)
      .select(col("vec_id"), cosineCol(qVec).as("cosine"))
      .orderBy(col("cosine").desc, col("vec_id").asc)
      .limit(k).select("vec_id")
    def recallAt(path: String): Double =
      recallOf(truth,
        searchIvfPqIndexAt(spark, path, qVec, k,
          excludeVecId = Some(queryId)).select("vec_id"),
        "ivfpq", k).select("recall").collect()(0).getDouble(0)
    val recallStale = recallAt(stale)
    val recallRebuilt = recallAt(rebuilt)
    import spark.implicits._
    Seq((imbStale, imbStale > budget, imbRebuilt, imbRebuilt <= budget,
        recallStale, recallRebuilt, recallRebuilt >= recallStale))
      .toDF("imbalance_drifted", "alarm", "imbalance_rebuilt",
        "alarm_cleared", "recall_stale", "recall_rebuilt", "recovered")
  }

  /** Recall@k of PQ-ADC (or the composed IVF-PQ two-stage search when
    * `method = "ivfpq"`) against the exact brute-force neighbors — same
    * pinned-constant oracle treatment as the LSH/IVF recall entries. */
  def annRecall(spark: SparkSession, dir: String, queryId: Long = 0L,
      k: Int = 10, method: String = "pq"): DataFrame = {
    val truth = Similarity.bruteForceTopK(spark, dir, queryId, k)
      .select("vec_id")
    val approx = (method match {
      case "pq" => topK(spark, dir, queryId, k)
      case "ivfpq" => topKIvfPq(spark, dir, queryId, k)
      case other => throw new IllegalArgumentException(
        s"unknown PQ method '$other' (expected 'pq' or 'ivfpq')")
    }).select("vec_id")
    recallOf(truth, approx, method, k)
  }

  /** Shared recall@k aggregation: ONE definition of the
    * truth⟕approx hit-join and the rounded recall select, so every ANN
    * entry's oracle semantics stay in lockstep. */
  private def recallOf(truth: DataFrame, approx: DataFrame,
      method: String, k: Int): DataFrame =
    truth.join(approx.withColumn("hit", lit(1)), Seq("vec_id"), "left")
      .agg(count(lit(1)).as("n_true"),
        sum(coalesce(col("hit"), lit(0))).as("n_hit"))
      .select(lit(method).as("method"), lit(k).as("k"),
        col("n_true"), col("n_hit").cast("long").as("n_hit"),
        round(col("n_hit").cast("double") / col("n_true").cast("double"), 4)
          .as("recall"))
}

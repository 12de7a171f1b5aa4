package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** MinHash-LSH near-dup family: build-once signature and pair tables,
  * banded pairs/keep/hot-bucket audit, and the stream-static ingest
  * index (probe, live ingest, compaction). See [[Dedup]]. */
private[operators] trait DedupMinHash { self: DedupCore with DedupSpanGuard =>
  /** Build-once signature table (the same pattern as
    * `Ivf.materializeIndex`): compute the signatures ONCE, write them to
    * parquet, and let every downstream pass — both sides of the banded
    * self-join, keep-filters, cross-run comparisons — SCAN them instead
    * of recomputing the shingle+minhash pipeline per lineage branch. At
    * 100 TB this is the difference between hashing the corpus once and
    * hashing it once per plan branch. */
  def materializeSignatures(spark: SparkSession, dir: String,
      numHashes: Int = 64): String =
    Artifacts.dir("minhash_sigs", numHashes, docs(spark, dir)) { path =>
      // (doc_id, sig) ONLY — persisting the text column here would
      // rewrite the whole corpus into the signature table; the banded
      // join consumes just ids and signatures, and the verify stage
      // re-reads texts from the corpus itself
      minHashSignatures(spark, dir, numHashes).select("doc_id", "sig")
        .write.mode("overwrite").parquet(path)
    }

  /** Build-once PAIR table — one step further than the signature
    * table: the banded candidate join + exact-Jaccard verify runs once
    * per corpus, and every downstream consumer (keep filter, cluster
    * labeling, clean-corpus pipeline, cross-source matrix, audits) SCANS
    * the (doc_a, doc_b, jaccard) parquet instead of re-deriving the pair
    * pipeline. This is the PLANS-prescribed "materialize the pair graph
    * once, anti-join it into every downstream read" — the steady-state
    * 100 TB shape, where the pair table is corpus-sublinear by
    * construction (bucketed candidates, maxBucket-capped). Keyed on the
    * signature table's read, which is new whenever the corpus is. The
    * build bands the signature TABLE (scanned, not recomputed, on both
    * self-join sides). */
  def materializePairs(spark: SparkSession, dir: String,
      numHashes: Int = 64, bands: Int = 16, threshold: Double = 0.5,
      maxBucket: Int = 1000): String = {
    val sigs = ParquetInput.read(spark,
      materializeSignatures(spark, dir, numHashes))
    Artifacts.dir("minhash_pairs", (bands, threshold, maxBucket), sigs) {
      path =>
        pairsOfSignatures(spark, dir, sigs, numHashes, bands, threshold,
          maxBucket).write.mode("overwrite").parquet(path)
    }
  }

  /** MinHash-LSH near-duplicate pairs (doc_a, doc_b, jaccard), served
    * from the build-once pair table ([[materializePairs]]).
    * signatures → band keys (explode bands×docs) → bucketed self-join on
    * (band, band_hash) → exact Jaccard verify on the shingle sets.
    * bands×rows = numHashes; threshold ≈ (1/bands)^(1/rows). */
  def minHashPairs(spark: SparkSession, dir: String, numHashes: Int = 64,
      bands: Int = 16, threshold: Double = 0.5,
      maxBucket: Int = 1000): DataFrame =
    ParquetInput.read(spark, materializePairs(spark, dir, numHashes, bands,
      threshold, maxBucket))

  /** Test reference for [[minHashPairs]]: the same pipeline with the
    * signatures computed inline from the corpus, no artifact. */
  private[operators] def minHashPairsRecompute(spark: SparkSession,
      dir: String, numHashes: Int = 64, bands: Int = 16,
      threshold: Double = 0.5, maxBucket: Int = 1000): DataFrame =
    pairsOfSignatures(spark, dir, minHashSignatures(spark, dir, numHashes),
      numHashes, bands, threshold, maxBucket)

  /** The pair pipeline over a (doc_id, sig) frame. */
  private[operators] def pairsOfSignatures(spark: SparkSession, dir: String,
      sigs: DataFrame, numHashes: Int, bands: Int, threshold: Double,
      maxBucket: Int): DataFrame =
    verifyPairs(spark, dir,
      bucketPairs(bandKeysOf(sigs, numHashes, bands), maxBucket), threshold)

  /** Audit query: the MinHash band buckets a `maxBucket` cap prunes
    * (band, band_key, bucket_n). Empty → the cap dropped nothing. */
  def minHashHotBuckets(spark: SparkSession, dir: String, numHashes: Int = 64,
      bands: Int = 16, maxBucket: Int = 1000): DataFrame =
    hotBuckets(bandKeysOf(minHashSignatures(spark, dir, numHashes),
      numHashes, bands), maxBucket)

  /** Exact-Jaccard verify of a candidate pair frame: join texts back,
    * compute true n-gram Jaccard with the codegen'd array expressions
    * (no UDF in the verify stage either). */
  private def verifyPairs(spark: SparkSession, dir: String,
      candidates: DataFrame, threshold: Double): DataFrame = {
    val texts = docs(spark, dir).select(col("doc_id"), col("text"))
    candidates
      .join(texts.withColumnRenamed("doc_id", "doc_a")
        .withColumnRenamed("text", "text_a"), Seq("doc_a"))
      .join(texts.withColumnRenamed("doc_id", "doc_b")
        .withColumnRenamed("text", "text_b"), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        round(jaccardExpr(shingleArray(col("text_a")),
          shingleArray(col("text_b"))), 4).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** End-to-end near-dedup filter: drop every document that near-duplicates
    * a lower-id document (greedy keep-lowest-id over the MinHash pairs,
    * read from the build-once pair table).
    * This is the operator a pretraining pipeline actually ends with; the
    * anti-join is the same bucketed shape, no extra shuffle class. */
  def minHashKeep(spark: SparkSession, dir: String, numHashes: Int = 64,
      bands: Int = 16, threshold: Double = 0.5,
      maxBucket: Int = 1000): DataFrame = {
    val drop = minHashPairs(spark, dir, numHashes, bands, threshold,
      maxBucket).select(col("doc_b").as("doc_id")).distinct()
    docs(spark, dir).join(drop, Seq("doc_id"), "left_anti")
  }

  /** Stream-static near-dup detection: match a (possibly streaming) frame
    * of documents against the HISTORICAL corpus's materialized signature
    * table — the shape of continuous ingest dedup ("is this incoming page
    * a near-copy of anything already crawled?"). Incoming docs compute
    * their signature inline (native codegen expression, narrow), explode
    * band keys, equi-join the static band-key table, then estimate
    * similarity as the matching-position fraction of the two FULL
    * signatures (the unbiased MinHash Jaccard estimator) — no text join
    * against history needed, which is what makes this viable at 100 TB:
    * the stream touches only the (doc_id, sig) index, never the corpus.
    *
    * Streaming semantics: a stream-static equi-join is stateless on the
    * stream side (the static side is just scanned/broadcast per batch),
    * so this runs under any output mode with no watermark requirement.
    * In streaming mode a pair surfaces once per colliding band
    * (at-least-once flag semantics — a stateful distinct would hold
    * unbounded state); in batch mode the operator dedups pairs exactly.
    */
  def streamNearDupCandidates(stream: DataFrame, spark: SparkSession,
      dir: String, numHashes: Int = 64, bands: Int = 16,
      minEstimate: Double = 0.5): DataFrame = {
    // fail fast on bad banding BEFORE the corpus-wide signature build
    require(numHashes % bands == 0, "bands must divide numHashes")
    val hist = ParquetInput.read(spark,
      materializeSignatures(spark, dir, numHashes))
    candidatesVsIndex(stream, hist, numHashes, bands, minEstimate)
  }

  /** Shared core of the stream-static near-dup shapes: signature the
    * incoming docs (native codegen expression), band-join against a
    * (doc_id, sig) index frame, estimate Jaccard as the agreeing
    * fraction of the two full signatures, threshold. Batch frames get
    * exact pair dedup; streams keep at-least-once band flags. */
  private def candidatesVsIndex(stream: DataFrame, hist: DataFrame,
      numHashes: Int, bands: Int, minEstimate: Double): DataFrame =
    candidateSigsVsIndex(
      stream.select(col("doc_id").as("new_id"),
        graft.functions.MinHashExpression.native(col("text"), numHashes)
          .as("sig")),
      hist, numHashes, bands, minEstimate)

  /** Same, with the probe side's signatures PRE-computed — lets a
    * caller signature a batch once and reuse the frame across several
    * match passes (see [[liveNearDupIngest]]). */
  private def candidateSigsVsIndex(s: DataFrame, hist: DataFrame,
      numHashes: Int, bands: Int, minEstimate: Double): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rows = numHashes / bands
    val histBands = bandKeysOf(hist, numHashes, bands)
      .select(col("band"), col("band_key"), col("doc_id").as("hist_id"))
    val histSigs = hist.select(col("doc_id").as("hist_id"),
      col("sig").as("hist_sig"))
    val matched = s
      .select(col("new_id"), col("sig"),
        explode(sequence(lit(0), lit(bands - 1))).as("band"))
      .select(col("new_id"), col("sig"), col("band"),
        hash(col("band"), slice(col("sig"), col("band") * rows + 1,
          lit(rows))).as("band_key"))
      .join(histBands, Seq("band", "band_key"))
      .select("new_id", "hist_id", "sig")
    val paired = if (matched.isStreaming) matched
      else matched.dropDuplicates("new_id", "hist_id")
    scoreSimEst(paired.join(histSigs, Seq("hist_id")), numHashes,
      minEstimate)
  }

  /** Shared tail of every signature-vs-index match: the unbiased MinHash
    * Jaccard estimate (agreeing fraction of the two full signatures),
    * thresholded and rounded to the repo-wide 4-dp convention. ONE
    * definition — the live-ingest probe and the batch/stream paths must
    * never drift. */
  private def scoreSimEst(joined: DataFrame, numHashes: Int,
      minEstimate: Double): DataFrame =
    joined
      // r17: native codegen slot-agreement count (the DotProduct trade)
      // instead of the allocating aggregate(zip_with) pair — same count,
      // same null totality, spec-pinned (SlotAgreeSpec)
      .withColumn("sim_est",
        graft.functions.SlotAgreeExpression
          .countCol(col("sig"), col("hist_sig"))
          .cast("double") / numHashes)
      .filter(col("sim_est") >= minEstimate)
      .select(col("new_id"), col("hist_id"),
        round(col("sim_est"), 4).as("sim_est"))

  /** Committed (`_SUCCESS`-gated) `batch=<n>` dirs under `root`,
    * excluding `exclude` — torn dirs from a crash and the CURRENT batch
    * id (present on a crash replay — replaying a batch against its own
    * committed signatures would self-match) never enter a probe. */
  private[operators] def committedBatchDirs(spark: SparkSession, root: String,
      exclude: Option[Long]): Array[String] = {
    val p = new org.apache.hadoop.fs.Path(root)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Array.empty[String]
    else fs.listStatus(p)
      .filter(_.isDirectory)
      .map(_.getPath)
      .filter(d => d.getName.startsWith("batch=") &&
        exclude.forall(id => d.getName != s"batch=$id") &&
        fs.exists(new org.apache.hadoop.fs.Path(d, "_SUCCESS")))
      .map(_.toString)
  }

  /** Band-key table of a signature frame, tagged with the hash bucket
    * the live-ingest index is PARTITIONED by. The partition axis is
    * `pmod(band_key, nBuckets)`, NOT `band`: every probe carries all
    * `bands` band ids (each doc hashes into each band), so band
    * partitions could never be skipped — but a small micro-batch only
    * touches a few band-KEY hash buckets, and those are exactly what a
    * probe can prune on. */
  private[operators] def bucketedBandKeys(sigs: DataFrame, numHashes: Int,
      bands: Int, nBuckets: Int): DataFrame =
    bandKeysOf(sigs, numHashes, bands)
      .withColumn("bucket", pmod(col("band_key"), lit(nBuckets)))

  /** Probe the live-ingest index with a batch of pre-computed
    * signatures `newSigs` (new_id, sig): one output row per
    * (new_id, hist_id) whose band keys collide with ANY indexed
    * signature version, scored against the LATEST colliding version
    * (max committed batch id — a redelivered doc_id's stale versions
    * can band-match too, and emitting one row per version would break
    * the exact-pair contract), thresholded at `minEstimate`. "Latest
    * COLLIDING", not "latest indexed", is deliberate: a stale version
    * that still collides was genuinely in the corpus (the right dedup
    * signal), fetching the absolute-latest version instead would force
    * an unprunable scan of the wide signature table every batch, and
    * compaction retires stale versions so the two notions converge in
    * steady state.
    *
    * Why this probe stays cheap as history grows (the 100 TB story):
    *  - The candidate join consumes the NARROW band-key table
    *    (band, band_key, hist_id — ints), never the 64-element
    *    signature arrays, and never historical text.
    *  - That table is partitioned by band-key hash bucket; the probe
    *    collects its batch's distinct buckets (≤ `nBuckets` ints, a
    *    batch-local job) into a STATIC `bucket IN (...)` filter, so
    *    the scan prunes whole partition directories — for a
    *    small/single-doc micro-batch most of the index is never read
    *    (spec-asserted via `PartitionFilters`).
    *  - Full signatures are fetched ONLY for matched candidates, via
    *    an equi-join keyed on (hist_id, batch): the batch key is the
    *    signature table's partition axis, so dynamic partition
    *    pruning can skip whole batch dirs, and compaction
    *    ([[graft.operators.Pipeline.compact]] over `sigs/`, keeping
    *    the max-batch version per doc_id) bounds the dir count. */
  def probeIngestIndex(spark: SparkSession, indexDir: String,
      newSigs: DataFrame, numHashes: Int = 64, bands: Int = 16,
      minEstimate: Double = 0.5, nBuckets: Int = 64,
      excludeBatchId: Option[Long] = None): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    require(nBuckets > 0, "nBuckets must be positive")
    val priorBands = committedBatchDirs(spark, s"$indexDir/bands",
      excludeBatchId)
    val priorSigs = committedBatchDirs(spark, s"$indexDir/sigs",
      excludeBatchId)
    val empty = newSigs
      .select(col("new_id"), col("new_id").as("hist_id"),
        lit(0.0).as("sim_est"))
      .where(lit(false))
    if (priorBands.isEmpty || priorSigs.isEmpty) return empty
    // probe band keys inline (not via bandKeysOf) so the batch's sig
    // rides along for the sim_est stage
    val rows = numHashes / bands
    val probe = newSigs
      .select(col("new_id"), col("sig"),
        explode(sequence(lit(0), lit(bands - 1))).as("band"))
      .select(col("new_id"), col("sig"), col("band"),
        hash(col("band"), slice(col("sig"), col("band") * rows + 1,
          lit(rows))).as("band_key"))
      .withColumn("bucket", pmod(col("band_key"), lit(nBuckets)))
    // batch-local distinct buckets → static partition prune on the scan
    val buckets = probe.select("bucket").distinct().collect()
      .map(_.getInt(0)).toSeq
    if (buckets.isEmpty) return empty
    val histBands = ParquetInput.read(spark,
      Map("basePath" -> s"$indexDir/bands"), priorBands: _*)
      .filter(col("bucket").isin(buckets: _*))
      .select(col("band"), col("band_key"), col("bucket"),
        col("doc_id").as("hist_id"), col("batch").cast("long").as("batch"))
    val matched = probe.join(histBands, Seq("band", "band_key", "bucket"))
      .groupBy("new_id", "hist_id")
      .agg(max(col("batch")).as("batch"), first(col("sig")).as("sig"))
    val histSigs = ParquetInput.read(spark,
      Map("basePath" -> s"$indexDir/sigs"), priorSigs: _*)
      .select(col("doc_id").as("hist_id"), col("sig").as("hist_sig"),
        col("batch").cast("long").as("batch"))
    scoreSimEst(matched.join(histSigs, Seq("hist_id", "batch")),
      numHashes, minEstimate)
  }

  /** Continuous ingest dedup with a GROWING index — the missing half of
    * [[streamNearDupCandidates]] (whose index is frozen at query start):
    * each micro-batch of new documents is (1) matched against every
    * PREVIOUSLY ingested document's signature AND against the batch's
    * own documents (intra-batch pairs emitted once, `new_id >
    * hist_id`), then (2) its signatures are appended to the index, so
    * batch N+1 dedups against batch N. A redelivered doc_id matching
    * its own prior indexed version (new_id == hist_id, cross-batch) is
    * emitted once — that row IS the update/redelivery signal; stale
    * versions never fan a pair out into duplicates
    * ([[probeIngestIndex]] scores against the latest colliding
    * version only).
    *
    * Index layout (what makes per-batch cost sublinear in history):
    *  - `indexDir/bands/batch=<id>/bucket=<b>/` — the narrow
    *    (band, band_key, doc_id) candidate table, PARTITIONED by
    *    band-key hash bucket so a probe's static `bucket IN` filter
    *    prunes directories (see [[probeIngestIndex]] for why bucket,
    *    not band, is the pruning axis).
    *  - `indexDir/sigs/batch=<id>/` — (doc_id, sig), fetched only for
    *    matched candidates, keyed by (doc_id, batch).
    * Candidates land in `outDir/batch=<id>/`. All three go through the
    * idempotent per-batch-dir recipe
    * ([[graft.streaming.EventStream.idempotentBatchSink]]): on a
    * replay after a crash, committed dirs are skipped and torn dirs
    * rewritten, so reprocessing cannot double-insert signatures or
    * re-emit candidates; the sink order (candidates, then sigs, then
    * bands) keeps every band-indexed version resolvable to its
    * signature mid-crash. The fresh per-batch directory listing (only
    * `_SUCCESS`-committed dirs, never the current batch id) is what a
    * frozen stream-static file scan cannot give. */
  def liveNearDupIngest(stream: DataFrame, spark: SparkSession,
      indexDir: String, outDir: String, checkpointDir: String,
      numHashes: Int = 64, bands: Int = 16, minEstimate: Double = 0.5,
      nBuckets: Int = 64, gramIndexDir: Option[String] = None,
      spanOutDir: Option[String] = None, gramK: Int = 8,
      gramBuckets: Int = 64)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    // fail fast BEFORE the stream starts: a banding/bucketing error (or
    // an index in the pre-split layout) must not surface asynchronously
    // after checkpoint/sink dirs exist
    require(numHashes % bands == 0, "bands must divide numHashes")
    require(nBuckets > 0, "nBuckets must be positive")
    // optional admission-time span guard: a production pipeline runs
    // BOTH signals per batch — near-dup candidates (whole-doc) and
    // already-seen substring regions (gram-level). Both legs grow with
    // the stream through the same idempotent per-batch sinks.
    require(gramIndexDir.isDefined == spanOutDir.isDefined,
      "gramIndexDir and spanOutDir come as a pair: the span guard " +
        "needs both its index and its region sink")
    require(gramK >= 2, "gramK must be >= 2")
    require(gramBuckets > 0, "gramBuckets must be positive")
    gramIndexDir.foreach(ensureLiveGramMeta(spark, _, gramK, gramBuckets))
    require(committedBatchDirs(spark, indexDir, None).isEmpty,
      s"$indexDir holds top-level batch dirs — the flat pre-split index " +
        "layout. Probes read only sigs/ and bands/, so that history " +
        "would be silently ignored; migrate it (signatures → " +
        "sigs/batch=N, rebuild bands/ from them) or point the stream at " +
        "a fresh indexDir.")
    // a committed-but-unswapped compaction side copy means a compaction
    // crashed mid-swap: finish it (rerun compactIngestIndex) before
    // ingesting — probes ignore the side dir, so starting now would
    // dedup against partially-deleted history
    Seq("sigs", "bands").foreach { leg =>
      val pending = new org.apache.hadoop.fs.Path(
        s"$indexDir/$leg/compact_tmp/_SUCCESS")
      require(!pending.getFileSystem(
          spark.sparkContext.hadoopConfiguration).exists(pending),
        s"a crashed compaction is pending under $indexDir/$leg — run " +
          "compactIngestIndex to complete it before restarting ingest")
    }
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        // collapse duplicate doc_ids WITHIN the batch first (at-least-
        // once sources can deliver the same doc twice in one trigger):
        // two signature versions under one (doc_id, batch) key would
        // fan every later probe match out into duplicate rows. The
        // representative is the lexicographic-max text — arbitrary but
        // deterministic across replays; carry a version column upstream
        // if "latest" must be delivery order.
        val uniq = batch.select(col("doc_id"), col("text"))
          .groupBy("doc_id").agg(max(col("text")).as("text"))
        // signature the batch ONCE: both match passes and the index
        // sink reuse the cached frame (the MinHash scan over full text
        // is the dominant per-batch cost)
        val sigs = uniq.select(col("doc_id"),
          graft.functions.MinHashExpression.native(col("text"), numHashes)
            .as("sig")).persist()
        try {
          // intra-batch: near-copies arriving TOGETHER must pair up or
          // they both enter the index as independent canonicals — a
          // self-match emits both directions, keep one (no broadcast,
          // no membership probe: the one-direction filter is enough)
          val intra = candidateSigsVsIndex(
              sigs.select(col("doc_id").as("new_id"), col("sig")),
              sigs, numHashes, bands, minEstimate)
            .filter(col("new_id") > col("hist_id"))
          // cross-batch: vs prior committed batches only. Id order is
          // NOT filtered — a redelivered doc_id legitimately matches
          // other prior docs in either order, and matching its own
          // prior version (new_id == hist_id) is the update/redelivery
          // flag. But a pair whose BOTH sides sit in the current batch
          // is the intra pass's to emit (scored against current
          // signatures): without the anti-join, a redelivered doc
          // co-arriving with a new near-copy would surface twice —
          // once from intra, once against its indexed prior version.
          val cross = probeIngestIndex(spark, indexDir,
            sigs.select(col("doc_id").as("new_id"), col("sig")),
            numHashes, bands, minEstimate, nBuckets,
            excludeBatchId = Some(id))
          // ONE anti-join pass (a two-branch union would execute the
          // whole probe subtree twice — Spark does not share plan
          // fragments across union arms): drop a cross row only when
          // its hist side sits in the current batch AND it is not the
          // new_id == hist_id redelivery flag
          val inBatch = sigs.select(col("doc_id").as("b_hist_id"))
          val cands = cross.join(inBatch,
              cross("hist_id") === inBatch("b_hist_id") &&
                cross("new_id") =!= cross("hist_id"), "left_anti")
            .unionByName(intra)
          graft.streaming.EventStream.idempotentBatchSink(outDir)(cands, id)
          graft.streaming.EventStream.idempotentBatchSink(
            s"$indexDir/sigs")(sigs, id)
          graft.streaming.EventStream.idempotentBatchSink(
            s"$indexDir/bands", partitionBy = Seq("bucket"))(
            bucketedBandKeys(sigs, numHashes, bands, nBuckets), id)
          // span-guard leg: probe THEN append (probe excludes the
          // current batch id anyway, so a crash replay re-probes the
          // exact same committed history — regions are deterministic
          // and the `_SUCCESS`-gated sinks skip already-committed dirs)
          gramIndexDir.foreach { gdir =>
            val regions = spanGuardProbeLive(spark, gdir, uniq, gramK,
              gramBuckets, excludeBatchId = Some(id))
            graft.streaming.EventStream.idempotentBatchSink(
              spanOutDir.get)(regions, id)
            graft.streaming.EventStream.idempotentBatchSink(
              gdir, partitionBy = Seq("bucket"))(
              liveBatchGrams(uniq, gramK, gramBuckets), id)
          }
        } finally sigs.unpersist()
        ()
      }
      .start()
  }

  /** OFFLINE maintenance for the live-ingest index: fold every committed
    * batch into ONE (per leg), keeping only the LATEST signature version
    * per doc_id — the compaction the probe's cost model assumes (its
    * matched-candidate signature fetch prunes on batch dirs, so the dir
    * count must stay bounded; and retiring stale versions here is what
    * keeps redelivered docs from accumulating index garbage forever).
    *
    * Run with the ingest query STOPPED (the standard maintenance-window
    * contract, same as [[graft.operators.Pipeline.compact]]): the
    * compacted data lands in `batch=<maxCommittedId>` so a restarted
    * stream's NEXT batch id (strictly increasing from the checkpoint)
    * never collides.
    *
    * Crash safety is a two-phase swap per leg: (1) the compacted copy
    * is fully written to a side dir (invisible to probes, which only
    * list `batch=*`) together with a `_TARGET` marker naming its final
    * batch dir; (2) old batch dirs are deleted and the side dir renamed
    * into place (rename result CHECKED — a false return aborts loudly
    * instead of dropping the index). A crash anywhere leaves either the
    * old dirs intact (phase 1) or a committed side dir whose `_TARGET`
    * lets the next compaction run FINISH the swap before doing anything
    * else — so "rerun compaction" genuinely completes the job, and the
    * index is never in a state where both the old dirs and the side
    * copy are gone. A crash between the sigs and bands legs fails
    * closed ([[probeIngestIndex]] requires both legs committed; bands
    * are derived data rebuilt from the compacted signatures on rerun).
    * Recovery deletes ONLY the batches the side copy folded (ids ≤ its
    * `_TARGET`), so even if the ingest stream ran between the crash and
    * the rerun, newer batches survive the swap and the rerun folds them
    * in; [[liveNearDupIngest]] additionally refuses to START while a
    * committed side copy is pending, keeping the crash → recover →
    * restart order honest by construction.
    *
    * Returns (docs kept, stale versions dropped). No-op (0 dropped)
    * when every doc has a single version and one batch dir exists. */
  def compactIngestIndex(spark: SparkSession, indexDir: String,
      numHashes: Int = 64, bands: Int = 16, nBuckets: Int = 64)
      : (Long, Long) = {
    import org.apache.spark.sql.expressions.Window
    require(nBuckets > 0, "nBuckets must be positive")
    val fs = new org.apache.hadoop.fs.Path(indexDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def path(s: String) = new org.apache.hadoop.fs.Path(s)
    // phase-2 executor, idempotent: also the crash-recovery entry point
    def finishSwap(leg: String): Unit = {
      val side = path(s"$indexDir/$leg/compact_tmp")
      val marker = path(s"$side/_TARGET")
      if (!fs.exists(path(s"$side/_SUCCESS")) || !fs.exists(marker)) {
        fs.delete(side, true) // torn phase-1 remnant: discard
        return
      }
      val target = {
        val in = fs.open(marker)
        try scala.io.Source.fromInputStream(in).mkString.trim
        finally in.close()
      }
      val targetId = target.split("=").last.toLong
      // delete ONLY the batches this side copy folded (id ≤ target):
      // if the ingest stream ran between a crash and this recovery,
      // NEWER committed batches are disjoint additions the compacted
      // copy never saw — they must survive the swap (the enclosing
      // run re-folds them immediately after)
      committedBatchDirs(spark, s"$indexDir/$leg", None)
        .filter(d => d.split("=").last.toLong <= targetId)
        .foreach(d => fs.delete(path(d), true))
      // a TORN dir can also occupy the target name (crash between the
      // two sink legs of a batch): committedBatchDirs skips it, but a
      // rename onto an existing dir would collide on HDFS and silently
      // NEST on the local fs — clear the name unconditionally
      fs.delete(path(s"$indexDir/$leg/$target"), true)
      // rename AFTER the deletes (the marker rides along inside the
      // dir): deleting the marker before the rename would open a window
      // where a crash makes the committed side look like a torn remnant
      // and the recovery path would discard the only surviving copy
      if (!fs.rename(side, path(s"$indexDir/$leg/$target")))
        throw new java.io.IOException(
          s"compaction rename failed: $side -> $indexDir/$leg/$target " +
            "(compacted data preserved in the side dir; rerun " +
            "compactIngestIndex to retry)")
      // stray-marker cleanup is best-effort: readers ignore _-files
      fs.delete(path(s"$indexDir/$leg/$target/_TARGET"), false)
      ()
    }
    // recover any half-finished swap from a previous crashed run FIRST,
    // so the listings below see a consistent index
    finishSwap("sigs")
    finishSwap("bands")
    val sigDirs = committedBatchDirs(spark, s"$indexDir/sigs", None)
    if (sigDirs.isEmpty) return (0L, 0L)
    val latest = sigDirs.map(d => d.split("=").last.toLong).max
    val all = ParquetInput.read(spark,
      Map("basePath" -> s"$indexDir/sigs"), sigDirs: _*)
      .select(col("doc_id"), col("sig"), col("batch").cast("long").as("batch"))
    val total = all.count()
    // latest version per doc: one keyed shuffle — maintenance-window
    // cost, not per-batch cost
    val kept = all
      .withColumn("_rn", row_number().over(
        Window.partitionBy("doc_id").orderBy(col("batch").desc)))
      .filter(col("_rn") === 1)
      .select("doc_id", "sig")
    def swapIn(leg: String, write: String => Unit): Unit = {
      val side = path(s"$indexDir/$leg/compact_tmp")
      fs.delete(side, true)
      write(side.toString)
      val out = fs.create(path(s"$side/_TARGET"), true)
      try out.write(s"batch=$latest".getBytes("UTF-8")) finally out.close()
      finishSwap(leg)
    }
    swapIn("sigs", side =>
      kept.write.mode("overwrite").parquet(side))
    // bands are derived: rebuild from the COMPACTED signatures so every
    // band row resolves to a live (doc_id, batch=latest) version
    val compacted = ParquetInput.read(spark, s"$indexDir/sigs/batch=$latest")
    swapIn("bands", side =>
      bucketedBandKeys(compacted, numHashes, bands, nBuckets)
        .write.mode("overwrite").partitionBy("bucket").parquet(side))
    val keptN = compacted.count()
    (keptN, total - keptN)
  }
}

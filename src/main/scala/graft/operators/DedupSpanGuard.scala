package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Span-guard gram index: the persisted n-gram admission index, its
  * live (streaming) probes, and compaction.
  * See [[Dedup]]. */
private[operators] trait DedupSpanGuard { self: DedupCore with DedupSpans with DedupMinHash =>
  // --------------------------------------------------- span-guard index

  /** The gram index's layout descriptor, persisted as a one-line
    * `_graft_gram_meta` file inside the index directory (the `_` prefix
    * keeps Spark's parquet listing from treating it as data). `k` and
    * `nBuckets` are part of the LAYOUT — a probe with a mismatched value
    * would prune to the wrong partition directories and silently miss —
    * so [[spanGuardProbe]] reads them back from the index instead of
    * trusting the caller, and rejects explicit mismatches loudly. */
  private[operators] case class GramIndexMeta(k: Int, nBuckets: Int)

  private val GramMetaFile = "_graft_gram_meta"

  private def hadoopFs(spark: SparkSession, dir: String) =
    new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private[operators] def writeGramIndexMeta(spark: SparkSession,
      indexDir: String, meta: GramIndexMeta): Unit = {
    val p = new org.apache.hadoop.fs.Path(indexDir, GramMetaFile)
    val out = hadoopFs(spark, indexDir).create(p, true)
    try out.write(
      s"k=${meta.k}\nnBuckets=${meta.nBuckets}\n".getBytes("UTF-8"))
    finally out.close()
  }

  /** Older meta files carry an `exact=` line. `exact=false` marks a
    * hash-only index (no gram column), which a probe would silently
    * miss against, so it is refused; `exact=true` reads as usual. */
  private[operators] def readGramIndexMeta(spark: SparkSession,
      indexDir: String): Option[GramIndexMeta] = {
    val fs = hadoopFs(spark, indexDir)
    val p = new org.apache.hadoop.fs.Path(indexDir, GramMetaFile)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val body = try {
        val buf = new java.io.ByteArrayOutputStream()
        val tmp = new Array[Byte](4096)
        var n = in.read(tmp)
        while (n > 0) { buf.write(tmp, 0, n); n = in.read(tmp) }
        buf.toString("UTF-8")
      } finally in.close()
      val kv = body.linesIterator.filter(_.contains("="))
        .map { l => val Array(a, b) = l.split("=", 2); (a.trim, b.trim) }
        .toMap
      if (kv.get("exact").exists(!_.toBoolean))
        throw new IllegalArgumentException(
          s"SUDAN: gram index at $indexDir stores hashes only; rebuild " +
            "it with materializeGramIndex, which stores each gram.")
      Some(GramIndexMeta(kv("k").toInt, kv("nBuckets").toInt))
    }
  }

  /** The index scan's explicit schema (partition column included):
    * `spark.read.parquet` on a ZERO-row partitioned index has no part
    * files to infer from and throws — empty history is a legitimate
    * bootstrap state (first admission batch), so probes always read
    * with the declared schema instead. */
  private def gramIndexSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(StructField("gh", LongType),
      StructField("gram", StringType), StructField("bucket", LongType)))
  }

  /** Build the span-guard index at `indexDir`: every DISTINCT k-gram of
    * `history`, stored as (gh = xxhash64(gram)[, gram]) PARTITIONED by
    * `bucket = pmod(gh, nBuckets)`. The serving-side twin of
    * [[repeatedSpans]]: instead of finding repeats WITHIN a corpus, the
    * index answers "does this incoming document contain text the corpus
    * already has" — the gram-level analogue of the live near-dup ingest
    * index, for exact substring decontamination at admission time.
    *
    * Size is bounded by DISTINCT gram content (dedup within the build),
    * and the bucket partitioning is what keeps probes sublinear: a
    * probe's static `bucket IN` filter prunes whole directories, so a
    * small batch touches a handful of buckets regardless of how big
    * history is. The gram string is stored alongside its hash so the
    * probe is EXACT (hash-bucket prune, string confirm).
    *
    * The layout (k, nBuckets) is persisted in a `_graft_gram_meta`
    * file written AFTER the data commit, and probes read it back — the
    * bucket convention is enforced by the index itself, not by caller
    * discipline. */
  def materializeGramIndex(spark: SparkSession, history: DataFrame,
      indexDir: String, k: Int = 8, nBuckets: Int = 64): Unit = {
    anchorGrams(history, k)
      .select(col("gram")).distinct()
      .select(xxhash64(col("gram")).as("gh"), col("gram"))
      .withColumn("bucket", pmod(col("gh"), lit(nBuckets.toLong)))
      .write.partitionBy("bucket").mode("overwrite").parquet(indexDir)
    // meta last: its presence marks a complete build (a crashed build
    // leaves no meta, and the probe's explicit error says to rebuild)
    writeGramIndexMeta(spark, indexDir, GramIndexMeta(k, nBuckets))
  }

  /** Probe the span-guard index with a batch of incoming documents:
    * maximal regions of each incoming doc whose k-gram windows already
    * exist in the indexed history (same region semantics as
    * [[repeatedSpans]]).
    *
    * Layout comes from the index's own `_graft_gram_meta` (k,
    * nBuckets); passing `k`/`nBuckets` explicitly is a cross-check — a
    * mismatch against the stored layout throws instead of silently
    * missing. Pass -1 (the default) to defer entirely to the meta.
    *
    * Probe cost shape: the incoming batch's anchors are computed ONCE
    * (localCheckpoint — the bucket collect and the semi-join share the
    * materialized batch-sized frame instead of re-tokenizing); the
    * distinct bucket set (≤ nBuckets ints, a batch-local job) becomes a
    * STATIC partition filter on the index scan; the join is an equi-join
    * on (gh, gram) — hash first, exact string confirm in the same key —
    * and the island merge touches flagged positions only. History size
    * enters ONLY through the pruned buckets read. */
  def spanGuardProbe(spark: SparkSession, indexDir: String,
      incoming: DataFrame, k: Int = -1, nBuckets: Int = -1): DataFrame = {
    val meta = readGramIndexMeta(spark, indexDir).getOrElse {
      if (k <= 0 || nBuckets <= 0) throw new IllegalArgumentException(
        s"SUDAN: no $GramMetaFile under $indexDir — either the build " +
          "crashed before committing (rebuild via materializeGramIndex) " +
          "or this is a pre-meta index: pass its k and nBuckets " +
          "explicitly to probe it.")
      GramIndexMeta(k, nBuckets)
    }
    if (k > 0 && k != meta.k) throw new IllegalArgumentException(
      s"SUDAN: span-guard index at $indexDir was built with k=${meta.k}; " +
        s"probing with k=$k would miss every window. Use the index's k.")
    if (nBuckets > 0 && nBuckets != meta.nBuckets)
      throw new IllegalArgumentException(
        s"SUDAN: span-guard index at $indexDir is partitioned into " +
          s"${meta.nBuckets} buckets; probing with nBuckets=$nBuckets " +
          "would prune to the wrong directories. Use the index's layout.")
    // one materialization of the batch-sized anchor frame: the bucket
    // collect AND the semi-join read it (ADVICE r9: without this the
    // tokenize/explode/hash pipeline ran twice per probe)
    val probe = anchorGrams(incoming, meta.k)
      .withColumn("gh", xxhash64(col("gram")))
      .withColumn("bucket", pmod(col("gh"), lit(meta.nBuckets.toLong)))
      .localCheckpoint()
    val buckets = probe.select("bucket").distinct().collect()
      .map(_.getLong(0)).toSeq
    val none = islandRegions(
      probe.select(col("doc_id"), col("p")).where(lit(false)), meta.k)
    if (buckets.isEmpty) return none
    val hist = spark.read.schema(gramIndexSchema).parquet(indexDir)
      .filter(col("bucket").isin(buckets: _*))
      .select(col("gh"), col("gram"))
    val flagged = probe.join(hist, Seq("gh", "gram"), "left_semi")
      .select(col("doc_id"), col("p"))
    islandRegions(flagged, meta.k)
  }

  // ------------------------------------------- live span-guard (ingest)

  /** The GROWING form of the gram index, for the admission pipeline:
    * per-batch dirs `gramDir/batch=<id>/bucket=<b>/` of exact
    * (gh, gram) rows, written through the same idempotent
    * `_SUCCESS`-gated sink as the near-dup legs — a replayed batch
    * neither double-inserts grams nor re-probes against its own
    * committed content ([[committedBatchDirs]] excludes the current
    * id). Layout (k, nBuckets) is pinned by a `_graft_gram_meta` at
    * `gramDir` written on first use and validated on every restart.
    *
    * Gram rows are deduped WITHIN a batch only; a gram seen in many
    * batches is stored once per batch — harmless to the left-semi probe
    * and retired the same way the signature legs are: fold the batch
    * dirs offline (read all, distinct, rewrite as one max-id batch),
    * the [[compactIngestIndex]] maintenance pattern. */
  private[operators] def liveBatchGrams(uniq: DataFrame, k: Int,
      nBuckets: Int): DataFrame =
    anchorGrams(uniq, k)
      .select(col("gram")).distinct()
      .select(xxhash64(col("gram")).as("gh"), col("gram"))
      .withColumn("bucket", pmod(col("gh"), lit(nBuckets.toLong)))

  /** [[spanGuardProbe]] against the LIVE batch-dir gram index: same
    * bucket-pruned semi-join and island merge, over only the committed
    * prior batches (never the replaying batch's own dirs). */
  private[operators] def spanGuardProbeLive(spark: SparkSession,
      gramDir: String, incoming: DataFrame, k: Int, nBuckets: Int,
      excludeBatchId: Option[Long]): DataFrame = {
    val probe = anchorGrams(incoming, k)
      .withColumn("gh", xxhash64(col("gram")))
      .withColumn("bucket", pmod(col("gh"), lit(nBuckets.toLong)))
      .localCheckpoint()
    val none = islandRegions(
      probe.select(col("doc_id"), col("p")).where(lit(false)), k)
    val dirs = committedBatchDirs(spark, gramDir, excludeBatchId)
    if (dirs.isEmpty) return none
    val buckets = probe.select("bucket").distinct().collect()
      .map(_.getLong(0)).toSeq
    if (buckets.isEmpty) return none
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("gh", LongType),
      StructField("gram", StringType), StructField("bucket", LongType),
      StructField("batch", LongType)))
    val hist = spark.read.schema(schema)
      .option("basePath", gramDir).parquet(dirs: _*)
      .filter(col("bucket").isin(buckets: _*))
      .select(col("gh"), col("gram"))
    val flagged = probe.join(hist, Seq("gh", "gram"), "left_semi")
      .select(col("doc_id"), col("p"))
    islandRegions(flagged, k)
  }

  /** Validate-or-pin the live gram leg's layout at stream start: first
    * use writes the meta, a restart with different (k, nBuckets) fails
    * fast with the same named error the static probe throws. */
  private[operators] def ensureLiveGramMeta(spark: SparkSession, gramDir: String,
      k: Int, nBuckets: Int): Unit =
    readGramIndexMeta(spark, gramDir) match {
      case None =>
        writeGramIndexMeta(spark, gramDir, GramIndexMeta(k, nBuckets))
      case Some(meta) =>
        if (meta.k != k || meta.nBuckets != nBuckets)
          throw new IllegalArgumentException(
            s"SUDAN: live gram index at $gramDir was built with " +
              s"k=${meta.k}, nBuckets=${meta.nBuckets}; restarting with " +
              s"k=$k, nBuckets=$nBuckets would probe the wrong layout.")
    }

  /** Demo split of the guard over one corpus dir (the oracle-able
    * entry): documents with `doc_id % holdoutMod != 0` are "history"
    * (indexed once per corpus snapshot), the rest are "incoming" and
    * probed — regions reported are incoming text that history already
    * contains. */
  def spanGuard(spark: SparkSession, dir: String, k: Int = 8,
      nBuckets: Int = 64, holdoutMod: Int = 5): DataFrame = {
    val d = docs(spark, dir)
    val idx = Artifacts.dir("gramindex", (k, nBuckets, holdoutMod), d) { p =>
      materializeGramIndex(spark,
        d.filter(col("doc_id") % holdoutMod =!= 0), p, k, nBuckets)
    }
    spanGuardProbe(spark, idx,
      d.filter(col("doc_id") % holdoutMod === 0), k, nBuckets)
  }
}

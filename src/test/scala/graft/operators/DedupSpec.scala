package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSpec {

  test("shingles: word 3-grams, degenerate short text") {
    assert(Dedup.shingles("a b c d") === Set("a b c", "b c d"))
    assert(Dedup.shingles("a b") === Set("a b"))
    assert(Dedup.shingles(null) === Set.empty)
  }

  test("jaccard: identical=1, disjoint=0") {
    val a = Dedup.shingles("x y z w")
    assert(Dedup.jaccard(a, a) === 1.0)
    assert(Dedup.jaccard(a, Dedup.shingles("p q r s")) === 0.0)
  }

  test("minhash signature approximates jaccard") {
    val a = Dedup.shingles(("the quick brown fox " * 20).trim)
    val b = Dedup.shingles(("the quick brown fox " * 19).trim + " jumps high today")
    val sa = Dedup.minHashSignature(a, 128)
    val sb = Dedup.minHashSignature(b, 128)
    val est = sa.zip(sb).count { case (x, y) => x == y }.toDouble / 128
    val truth = Dedup.jaccard(a, b)
    assert(math.abs(est - truth) < 0.2, s"est=$est truth=$truth")
  }

  test("minhash signature is deterministic across calls") {
    val sh = Dedup.shingles("alpha beta gamma delta epsilon zeta")
    assert(Dedup.minHashSignature(sh, 32).toSeq ===
      Dedup.minHashSignature(sh, 32).toSeq)
  }

  test("exact dedup finds planted duplicates") {
    import spark.implicits._
    val df = Seq((1L, "same text here"), (2L, "same text here"),
      (3L, "unique text")).toDF("doc_id", "text")
    val tmp = java.nio.file.Files.createTempDirectory("dedup").toString
    df.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val out = Dedup.exact(spark, tmp).collect()
    assert(out.length === 2)
    val dupGroup = out.find(_.getLong(1) == 2L).get
    assert(dupGroup.getLong(2) === 1L) // keep_id = min doc_id
  }

  test("minhash LSH finds planted near-duplicates and verifies jaccard") {
    import spark.implicits._
    val base = (1 to 60).map(i => s"word$i").mkString(" ")
    val nearDup = (1 to 58).map(i => s"word$i").mkString(" ") + " tail other"
    val unrelated = (100 to 160).map(i => s"tok$i").mkString(" ")
    val df = Seq((1L, base), (2L, nearDup), (3L, unrelated))
      .toDF("doc_id", "text")
    val tmp = java.nio.file.Files.createTempDirectory("minhash").toString
    df.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val pairs = Dedup.minHashPairs(spark, tmp, numHashes = 64, bands = 16,
      threshold = 0.5).collect()
    assert(pairs.length === 1)
    assert(pairs(0).getLong(0) === 1L && pairs(0).getLong(1) === 2L)
    assert(pairs(0).getDouble(2) > 0.8)
  }

  test("exactKeep keeps one row per distinct text") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("ek").toString
    Seq((1L, "dup"), (2L, "dup"), (3L, "solo")).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val kept = Dedup.exactKeep(spark, tmp).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(kept === Set(1L, 3L))
  }

  test("minhash keep drops exactly the higher-id near-duplicates") {
    import spark.implicits._
    val base = (1 to 60).map(i => s"word$i").mkString(" ")
    val nearDup = (1 to 58).map(i => s"word$i").mkString(" ") + " tail other"
    val unrelated = (100 to 160).map(i => s"tok$i").mkString(" ")
    val tmp = java.nio.file.Files.createTempDirectory("keep").toString
    Seq((1L, base), (2L, nearDup), (3L, unrelated)).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val kept = Dedup.minHashKeep(spark, tmp).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(kept === Set(1L, 3L)) // doc 2 near-duplicates doc 1 → dropped
  }

  test("minhash LSH plan contains no cartesian product (scale guard)") {
    val plan = Dedup.minHashPairsRecompute(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"),
      s"candidate generation must be a bucketed equi-join, got:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      "candidate generation must not be a nested-loop join")
  }

  test("simhash: identical texts same hash, near texts close, determinism") {
    val a = Dedup.simHash64("the quick brown fox jumps over the lazy dog")
    assert(a === Dedup.simHash64("the quick brown fox jumps over the lazy dog"))
    val b = Dedup.simHash64("the quick brown fox jumps over the lazy cat")
    val far = Dedup.simHash64("completely different words entirely elsewhere")
    def ham(x: Long, y: Long) = java.lang.Long.bitCount(x ^ y)
    assert(ham(a, b) < ham(a, far))
  }

  test("simhash pairs plan is a bucketed equi-join") {
    val plan = Dedup.simHashPairs(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"))
    assert(!plan.contains("BroadcastNestedLoopJoin"))
  }

  test("shingleArray/jaccardExpr equal the Scala set functions") {
    import spark.implicits._
    val texts = Seq(
      "a b c d e",            // normal
      "a b",                  // shorter than k → single joined shingle
      "x",                    // single word
      " a  b c ",             // messy whitespace
      ("w" + (1 to 40).mkString(" w")))
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "text")
      .select(col("id"), col("text"), Dedup.shingleArray(col("text")).as("sh"))
    df.collect().foreach { r =>
      val expect = Dedup.shingles(r.getString(1))
      assert(r.getSeq[String](2).toSet === expect, s"text='${r.getString(1)}'")
    }
    // pairwise jaccardExpr == jaccard over the cross product
    val a = df.select(col("id").as("ia"), col("sh").as("sa"),
      col("text").as("ta"))
    val b = df.select(col("id").as("ib"), col("sh").as("sb"),
      col("text").as("tb"))
    a.crossJoin(b).select(col("ta"), col("tb"),
      Dedup.jaccardExpr(col("sa"), col("sb")).as("j")).collect().foreach { r =>
        val expect = Dedup.jaccard(Dedup.shingles(r.getString(0)),
          Dedup.shingles(r.getString(1)))
        assert(math.abs(r.getDouble(2) - expect) < 1e-12)
      }
  }

  test("maxBucket caps degenerate hot bands (boilerplate corpus)") {
    import spark.implicits._
    // 100 identical boilerplate docs (every band collides → one 100-doc
    // bucket per band, 4950 pairs uncapped) + one genuine near-dup pair
    // whose buckets are size 2 and must survive the pruning.
    val boiler = (1 to 100).map(i => (i.toLong, "lorem ipsum dolor sit amet " * 8))
    val base = (1 to 60).map(i => s"word$i").mkString(" ")
    val nearDup = (1 to 58).map(i => s"word$i").mkString(" ") + " tail other"
    val tmp = java.nio.file.Files.createTempDirectory("hotband").toString
    (boiler ++ Seq((200L, base), (201L, nearDup))).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")

    val uncapped = Dedup.minHashPairs(spark, tmp, maxBucket = 0).collect()
    assert(uncapped.length === 100 * 99 / 2 + 1) // O(hot²) — the scale killer
    val cappedDf = Dedup.minHashPairsRecompute(spark, tmp, maxBucket = 16)
    val capped = cappedDf.collect()
    assert(capped.length === 1) // boilerplate cluster pruned entirely...
    assert(capped(0).getLong(0) === 200L && capped(0).getLong(1) === 201L)
    assert(Dedup.minHashPairs(spark, tmp, maxBucket = 16).collect().toSeq ===
      capped.toSeq)

    // the prune counter fires INLINE (observe metric on the same query):
    // 16 bands × one 100-doc boilerplate bucket each
    val pruneMetrics = cappedDf.queryExecution.observedMetrics
      .filter { case (k, _) => k.startsWith("graft_bucket_prune") }
    assert(pruneMetrics.size === 1, s"got ${pruneMetrics.keys}")
    val m = pruneMetrics.values.head
    assert(m.getAs[Long]("pruned_buckets") === 16L)
    assert(m.getAs[Long]("pruned_docs") === 1600L)
    // ...and reaches the async listener hook (the logged-warning path)
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    val metricName = pruneMetrics.keys.head
    while (!Observations.last.containsKey(metricName) &&
        System.nanoTime() < deadline) Thread.sleep(50)
    assert(Observations.last.get(metricName) === ((16L, 1600L)))

    // same contract for simhash banding
    val shCapped = Dedup.simHashPairs(spark, tmp, maxBucket = 16)
    assert(shCapped.filter(col("doc_a") <= 100L).count() === 0)

    // keep-filter: with the cap, the boilerplate cluster is NOT collapsed
    // by minhash (that's exact dedup's job); the near-dup still is
    val kept = Dedup.minHashKeep(spark, tmp, maxBucket = 16)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept.contains(200L) && !kept.contains(201L))
    assert((1 to 100).forall(i => kept.contains(i.toLong)))

    // pruning is auditable: the hot-bucket query names exactly what the cap
    // dropped (the boilerplate cluster's 16 band buckets of size 100), and
    // reports empty when nothing is pruned
    val audited = Dedup.minHashHotBuckets(spark, tmp, maxBucket = 16)
      .collect()
    assert(audited.length === 16) // one hot bucket per band
    assert(audited.forall(_.getLong(2) === 100L))
    assert(Dedup.minHashHotBuckets(spark, tmp, maxBucket = 100).count() === 0)
    assert(Dedup.simHashHotBuckets(spark, tmp, maxBucket = 16).count() === 4)
  }

  test("prune-metric registry is bounded: oldest observations evicted " +
      "past 256 entries (long-lived driver guard)") {
    (1 to 300).foreach(i =>
      Observations.last.put(s"graft_bucket_prune_synthetic_$i", (1L, 1L)))
    assert(Observations.last.size() <= 256)
    // insertion-order LRU: the newest survives, the first synthetics
    // (44+ evictions even from an empty registry) are gone
    assert(Observations.last.containsKey("graft_bucket_prune_synthetic_300"))
    assert(!Observations.last.containsKey("graft_bucket_prune_synthetic_1"))
    (1 to 300).foreach(i =>
      Observations.last.remove(s"graft_bucket_prune_synthetic_$i"))
  }

  test("charShingleArray: 5-grams, short-text collapse, jaccard semantics") {
    import spark.implicits._
    val df = Seq(("abcdefg", "abcdefg", "xyz", "abcdefgh"))
      .toDF("a", "b", "c", "d")
      .select(
        Dedup.jaccardExpr(Dedup.charShingleArray(col("a")),
          Dedup.charShingleArray(col("b"))).as("same"),
        Dedup.jaccardExpr(Dedup.charShingleArray(col("a")),
          Dedup.charShingleArray(col("c"))).as("disjoint"),
        size(Dedup.charShingleArray(col("c"))).as("short_n"),
        size(Dedup.charShingleArray(col("d"))).as("long_n"))
      .collect()(0)
    assert(df.getDouble(0) === 1.0)
    assert(df.getDouble(1) === 0.0)
    assert(df.getInt(2) === 1, "text shorter than n = one whole-text shingle")
    assert(df.getInt(3) === 4, "len 8 → 8-5+1 distinct 5-grams")
  }

  test("materialized signatures: identical pairs, no recompute in plan") {
    Artifacts.clear()
    val recomputed = Dedup.minHashPairsRecompute(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val mat = Dedup.pairsOfSignatures(spark, sfDir,
      ParquetInput.read(spark, Dedup.materializeSignatures(spark, sfDir)),
      numHashes = 64, bands = 16, threshold = 0.5, maxBucket = 1000)
    val materialized = mat.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(materialized === recomputed)
    // the signature expression must be GONE from the materialized plan —
    // both self-join sides scan the parquet signature table instead
    val plan = mat.queryExecution.executedPlan.toString
    assert(!plan.contains("minhash_signature"), "plan must not re-hash")
    // build-once: same path on re-request; clear deletes the directory
    val p1 = Dedup.materializeSignatures(spark, sfDir)
    assert(p1 === Dedup.materializeSignatures(spark, sfDir))
    Artifacts.clear()
    assert(!new java.io.File(p1).exists())
  }

  test("materialized pair table: identical pairs, consumers scan it " +
      "(no band pipeline in the plan)") {
    Artifacts.clear()
    try {
      val recompute = Dedup.minHashPairsRecompute(spark, sfDir).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .sortBy(t => (t._1, t._2))
      val cached = Dedup.minHashPairs(spark, sfDir)
      assert(cached.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .sortBy(t => (t._1, t._2)).toSeq === recompute.toSeq)
      // consumers must scan the pair parquet — no band explode, no
      // signature hashing, no Jaccard verify re-derivation
      val plan = cached.queryExecution.executedPlan.toString
      assert(!plan.contains("minhash_signature") &&
        !plan.contains("Generate"), plan.take(2000))
      val keepPlan = Dedup.minHashKeep(spark, sfDir)
        .queryExecution.executedPlan.toString
      assert(!keepPlan.contains("minhash_signature"), keepPlan.take(2000))
    } finally Artifacts.clear()
  }

  test("stream-static near-dup: live docs matched against the sig index") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = (1 to 60).map(i => s"word$i").mkString(" ")
    val other = (100 to 160).map(i => s"tok$i").mkString(" ")
    val tmp = java.nio.file.Files.createTempDirectory("streamdedup").toString
    Seq((1L, base), (2L, other)).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    Artifacts.clear()
    // batch mode: a near-copy matches its source exactly once, estimate
    // close to the true Jaccard; a novel doc matches nothing
    val probe = Seq((100L, base + " extra tail"), (101L, "совсем novel"))
      .toDF("doc_id", "text")
    val batch = Dedup.streamNearDupCandidates(probe, spark, tmp).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(batch.length === 1)
    assert(batch(0)._1 === 100L && batch(0)._2 === 1L && batch(0)._3 > 0.7)
    // streaming mode: same matches through a MemoryStream (at-least-once:
    // collapse per-band repeats with toSet)
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    val query = Dedup.streamNearDupCandidates(
        input.toDF().toDF("doc_id", "text"), spark, tmp)
      .writeStream.format("memory").queryName("neardup_stream").start()
    try {
      input.addData((100L, base + " extra tail"), (101L, "совсем novel"))
      query.processAllAvailable()
      val got = spark.table("neardup_stream").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got === Set((100L, 1L)))
    } finally query.stop()
    Artifacts.clear()
  }

  test("liveNearDupIngest: the index GROWS across micro-batches and " +
      "replays cannot double-insert") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = (1 to 60).map(i => s"word$i").mkString(" ")
    val other = (100 to 160).map(i => s"tok$i").mkString(" ")
    val tmpRoot = java.nio.file.Files.createTempDirectory("livededup")
    val (idx, out, ckpt) = (s"$tmpRoot/index", s"$tmpRoot/out", s"$tmpRoot/ckpt")
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    val query = Dedup.liveNearDupIngest(
      input.toDF().toDF("doc_id", "text"), spark, idx, out, ckpt)
    try {
      // batch 0: two distinct seeds — nothing to match yet
      input.addData((1L, base), (2L, other))
      query.processAllAvailable()
      // batch 1: near-copy of seed 1 + a novel doc
      val novel = (300 to 360).map(i => s"new$i").mkString(" ")
      input.addData((100L, base + " extra tail"), (101L, novel))
      query.processAllAvailable()
      // batch 2: TWO near-copies of batch 1's NOVEL doc arriving
      // together — each must match batch 1's doc (index grew) AND each
      // other (same-batch detection, emitted once as new_id > hist_id)
      input.addData((200L, novel + " indeed"), (201L, novel + " so indeed"))
      query.processAllAvailable()
    } finally query.stop()
    val rows = spark.read.parquet(out).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val got = rows.toSet
    assert(got.contains((100L, 1L)), s"batch-1 vs seed match: $got")
    assert(got.contains((200L, 101L)), s"batch-2 vs batch-1 match: $got")
    assert(got.contains((201L, 101L)), s"batch-2 vs batch-1 match: $got")
    assert(got.contains((201L, 200L)), s"same-batch pair, one direction: $got")
    // exactly-once on ROWS, not just the deduped set — a duplicated
    // emission (double direction, replayed write) must fail here
    assert(rows.length === 4, s"no self/duplicate/spurious rows: ${rows.toSeq}")
    // index holds one committed dir per batch under BOTH legs, each
    // _SUCCESS-gated; the bands leg is partitioned by band-key bucket
    for (leg <- Seq("sigs", "bands")) {
      val dirs = new java.io.File(s"$idx/$leg").listFiles()
        .filter(_.isDirectory).map(_.getName).toSet
      assert(dirs === Set("batch=0", "batch=1", "batch=2"), leg)
    }
    val bucketDirs = new java.io.File(s"$idx/bands/batch=0").listFiles()
      .filter(_.isDirectory).map(_.getName)
    assert(bucketDirs.nonEmpty && bucketDirs.forall(_.startsWith("bucket=")),
      s"bands leg must be bucket-partitioned: ${bucketDirs.toSeq}")
    // replay safety: a committed batch dir is skipped, not rewritten
    val before = new java.io.File(s"$idx/sigs/batch=1").lastModified()
    val replayed = graft.streaming.EventStream.idempotentBatchSink(
      s"$idx/sigs")(Seq((999L, Array(0L))).toDF("doc_id", "sig"), 1L)
    assert(!replayed && spark.read.parquet(s"$idx/sigs/batch=1")
      .filter(col("doc_id") === 999L).count() === 0)
    assert(new java.io.File(s"$idx/sigs/batch=1").lastModified() === before)
    // the cross-batch probe is PRUNED: its band-candidate scan carries a
    // static bucket IN (...) partition filter from the batch's own band
    // keys — for a single-doc probe most of the index is never read
    val oneDoc = Seq((500L, base)).toDF("doc_id", "text")
      .select(col("doc_id").as("new_id"),
        graft.functions.MinHashExpression.native(col("text"), 64).as("sig"))
    val probe = Dedup.probeIngestIndex(spark, idx, oneDoc)
    val scan = probe.queryExecution.executedPlan.toString
      .linesIterator.find(l => l.contains("PartitionFilters") &&
        l.contains("bucket"))
    assert(scan.exists(_.matches(".*PartitionFilters: \\[.*bucket.*IN.*")),
      s"bands scan must prune on bucket, plan:\n" +
        probe.queryExecution.executedPlan.toString.take(3000))
    // and the pruned probe still finds the near-copy of seed 1
    val hits = probe.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(hits.contains((500L, 1L)), s"probe must match seed 1: $hits")
  }

  test("liveNearDupIngest: a redelivered doc's stale versions do not " +
      "fan future matches out into duplicate pairs") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = (1 to 60).map(i => s"word$i").mkString(" ")
    val tmpRoot = java.nio.file.Files.createTempDirectory("livededup2")
    val (idx, out, ckpt) = (s"$tmpRoot/index", s"$tmpRoot/out", s"$tmpRoot/ckpt")
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    val query = Dedup.liveNearDupIngest(
      input.toDF().toDF("doc_id", "text"), spark, idx, out, ckpt)
    try {
      input.addData((1L, base))
      query.processAllAvailable()
      // redelivery: same doc_id, slightly revised text → a SECOND
      // signature version enters the index
      input.addData((1L, base + " revised"))
      query.processAllAvailable()
      // a near-copy arriving after the redelivery: both indexed versions
      // of doc 1 band-collide with it, but exactly ONE pair row may
      // surface (scored against the latest version)
      input.addData((700L, base + " tail"))
      query.processAllAvailable()
    } finally query.stop()
    val rows = spark.read.parquet(out).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    // batch 1 emitted the redelivery signal once
    assert(rows.count(_ == ((1L, 1L))) === 1, s"redelivery flag: ${rows.toSeq}")
    // batch 2's new doc pairs with doc 1 exactly once, not per version
    assert(rows.count(_ == ((700L, 1L))) === 1,
      s"one row per (new,hist) pair regardless of stale versions: ${rows.toSeq}")
    // ---- offline compaction: fold history, retire stale versions ----
    val preProbe = Dedup.probeIngestIndex(spark, idx,
        Seq((800L, base + " probe")).toDF("doc_id", "text")
          .select(col("doc_id").as("new_id"),
            graft.functions.MinHashExpression.native(col("text"), 64)
              .as("sig")))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .sortBy(_._2)
    val (kept, dropped) = Dedup.compactIngestIndex(spark, idx)
    // 3 indexed versions (doc 1 twice, doc 700 once) → 2 live docs
    assert(kept === 2 && dropped === 1, s"kept=$kept dropped=$dropped")
    for (leg <- Seq("sigs", "bands")) {
      val dirs = new java.io.File(s"$idx/$leg").listFiles()
        .filter(_.isDirectory).map(_.getName).toSet
      assert(dirs === Set("batch=2"), s"$leg folded into the max batch id")
    }
    // probes over the compacted index are unchanged (they already scored
    // against latest versions only)
    val postProbe = Dedup.probeIngestIndex(spark, idx,
        Seq((800L, base + " probe")).toDF("doc_id", "text")
          .select(col("doc_id").as("new_id"),
            graft.functions.MinHashExpression.native(col("text"), 64)
              .as("sig")))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .sortBy(_._2)
    assert(postProbe.toSeq === preProbe.toSeq)
    assert(postProbe.exists(_._2 == 1L), "compacted index still matches")
    // rerunning compaction is a no-op
    assert(Dedup.compactIngestIndex(spark, idx) === ((2L, 0L)))
    // the stream RESTARTS over the compacted index from its checkpoint
    // (same source, same checkpoint — the production restart): batch ids
    // keep increasing, so nothing collides with the folded batch=2, and
    // new docs match history through the compacted layout
    val query2 = Dedup.liveNearDupIngest(
      input.toDF().toDF("doc_id", "text"), spark, idx, out, ckpt)
    try {
      input.addData((900L, base + " after restart"))
      query2.processAllAvailable()
    } finally query2.stop()
    val rows2 = spark.read.parquet(out).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(rows2.count(_ == ((900L, 1L))) === 1,
      s"post-restart match against the compacted index: ${rows2.toSeq}")
    val sigDirs2 = new java.io.File(s"$idx/sigs").listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    assert(sigDirs2 === Set("batch=2", "batch=3"),
      s"restart appends AFTER the compacted dir: $sigDirs2")
  }

  test("compaction crash recovery: a committed side copy completes, " +
      "newer batches survive, torn target dirs are cleared, and ingest " +
      "refuses to start mid-recovery") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = (1 to 60).map(i => s"word$i").mkString(" ")
    val tmpRoot = java.nio.file.Files.createTempDirectory("livededup4")
    val (idx, out, ckpt) = (s"$tmpRoot/index", s"$tmpRoot/out", s"$tmpRoot/ckpt")
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    val query = Dedup.liveNearDupIngest(
      input.toDF().toDF("doc_id", "text"), spark, idx, out, ckpt)
    try {
      input.addData((1L, base), (2L, (200 to 260).map(i => s"t$i").mkString(" ")))
      query.processAllAvailable()
      input.addData((1L, base + " v2"))
      query.processAllAvailable()
    } finally query.stop()
    assert(Dedup.compactIngestIndex(spark, idx) === ((2L, 1L)))
    // ---- simulate a crash AFTER phase 1 of the sigs swap: the folded
    // copy sits committed in compact_tmp with its _TARGET marker ----
    val fs = new org.apache.hadoop.fs.Path(idx)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def p(s: String) = new org.apache.hadoop.fs.Path(s)
    assert(fs.rename(p(s"$idx/sigs/batch=1"), p(s"$idx/sigs/compact_tmp")))
    val m = fs.create(p(s"$idx/sigs/compact_tmp/_TARGET"), true)
    m.write("batch=1".getBytes("UTF-8")); m.close()
    // the ingest guard fails fast while the recovery is pending
    val guard = intercept[IllegalArgumentException] {
      Dedup.liveNearDupIngest(
        input.toDF().toDF("doc_id", "text"), spark, idx, out,
        s"$tmpRoot/ckpt2")
    }
    assert(guard.getMessage.contains("compactIngestIndex"))
    // a NEWER batch landed between the crash and the rerun (e.g. via an
    // older binary): recovery must not sweep it
    val newSigs = Seq((42L, base + " forty-two"))
      .toDF("doc_id", "text")
      .select(col("doc_id"),
        graft.functions.MinHashExpression.native(col("text"), 64).as("sig"))
    graft.streaming.EventStream.idempotentBatchSink(s"$idx/sigs")(newSigs, 5L)
    // and a TORN dir occupies the upcoming target name on the bands leg
    fs.mkdirs(p(s"$idx/bands/batch=5"))
    val junk = fs.create(p(s"$idx/bands/batch=5/garbage"), true)
    junk.write("x".getBytes); junk.close()
    // rerun: completes the sigs swap, folds the surviving batch 5 in,
    // clears the torn bands dir, lands everything in batch=5
    val (kept, dropped) = Dedup.compactIngestIndex(spark, idx)
    assert(kept === 3 && dropped === 0, s"kept=$kept dropped=$dropped")
    for (leg <- Seq("sigs", "bands")) {
      val dirs = new java.io.File(s"$idx/$leg").listFiles()
        .filter(_.isDirectory).map(_.getName).toSet
      assert(dirs === Set("batch=5"), s"$leg: $dirs")
      assert(new java.io.File(s"$idx/$leg/batch=5/_SUCCESS").exists(), leg)
    }
    val docs = spark.read.parquet(s"$idx/sigs/batch=5")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(docs === Set(1L, 2L, 42L),
      "pre-crash docs AND the between-crash batch all survive")
    // probes over the recovered index still match both eras
    val probe = Dedup.probeIngestIndex(spark, idx,
        Seq((900L, base + " probe")).toDF("doc_id", "text")
          .select(col("doc_id").as("new_id"),
            graft.functions.MinHashExpression.native(col("text"), 64)
              .as("sig")))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(probe.contains((900L, 1L)) && probe.contains((900L, 42L)),
      s"recovered index matches pre-crash and post-crash docs: $probe")
  }

  test("liveNearDupIngest: co-arriving redelivery emits each pair once, " +
      "and an in-batch duplicate doc_id indexes one signature version") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = (1 to 60).map(i => s"word$i").mkString(" ")
    val tmpRoot = java.nio.file.Files.createTempDirectory("livededup3")
    val (idx, out, ckpt) = (s"$tmpRoot/index", s"$tmpRoot/out", s"$tmpRoot/ckpt")
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    val query = Dedup.liveNearDupIngest(
      input.toDF().toDF("doc_id", "text"), spark, idx, out, ckpt)
    try {
      input.addData((5L, base))
      query.processAllAvailable()
      // one trigger: doc 5 redelivered + a new near-copy (9) that also
      // arrives TWICE with different tails (at-least-once source)
      input.addData((5L, base + " v2"), (9L, base + " nine a"),
        (9L, base + " nine b"))
      query.processAllAvailable()
      input.addData((20L, base + " twenty"))
      query.processAllAvailable()
    } finally query.stop()
    val rows = spark.read.parquet(out).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    // pair {5,9} surfaces exactly once (the intra pass owns it — the
    // cross-batch probe must not emit it again vs 5's indexed version)
    assert(rows.count(p => Set(p._1, p._2) == Set(5L, 9L)) === 1,
      s"co-arrival pair emitted once: ${rows.toSeq}")
    // the redelivery flag for 5 still fires once
    assert(rows.count(_ == ((5L, 5L))) === 1, rows.toSeq.toString)
    // doc 9 entered the index as ONE deterministic version
    assert(spark.read.parquet(s"$idx/sigs/batch=1")
      .filter(col("doc_id") === 9L).count() === 1)
    // so the next batch pairs with 9 exactly once (no version fan-out)
    assert(rows.count(_ == ((20L, 9L))) === 1, rows.toSeq.toString)
    assert(rows.count(_ == ((20L, 5L))) === 1, rows.toSeq.toString)
  }

  test("connectedComponents: transitive chains, min label, diameter > 2") {
    import spark.implicits._
    // components: {1,2,3} (path via 3 — doc 2 is invisible to a greedy
    // pair drop), {10,11}, {20..26} a 7-long chain (diameter 6 exercises
    // multiple propagation rounds + path halving)
    val pairs = (Seq((2L, 3L), (1L, 3L), (10L, 11L)) ++
      (20L to 25L).map(i => (i, i + 1))).toDF("doc_a", "doc_b")
    val got = Dedup.connectedComponents(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got(1L) === 1L && got(2L) === 1L && got(3L) === 1L)
    assert(got(10L) === 10L && got(11L) === 10L)
    (20L to 26L).foreach(v => assert(got(v) === 20L, s"chain member $v"))
    assert(got.size === 12)
  }

  test("connectedComponents honors a session checkpoint dir: reliable " +
      "checkpoints, same labels") {
    import spark.implicits._
    val pairs = (Seq((2L, 3L), (1L, 3L), (10L, 11L)) ++
      (20L to 25L).map(i => (i, i + 1))).toDF("doc_a", "doc_b")
    val expect = Dedup.connectedComponents(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val ckpt = java.nio.file.Files.createTempDirectory("ccckpt").toString
    val sc = spark.sparkContext
    assert(sc.getCheckpointDir.isEmpty, "suite must start without a dir")
    sc.setCheckpointDir(ckpt)
    try {
      val got = Dedup.connectedComponents(pairs).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got === expect, "labels identical under reliable checkpointing")
      // the rounds really wrote reliable checkpoints (the cluster mode:
      // executor loss mid-loop recovers from storage, not from lineage)
      def rddDirs(f: java.io.File): Int =
        if (f.getName.startsWith("rdd-")) 1
        else Option(f.listFiles()).fold(0)(_.map(rddDirs).sum)
      assert(rddDirs(new java.io.File(ckpt)) >= 3,
        "edges + initial labels + ≥1 round must checkpoint to the dir")
    } finally {
      // public-API unset: setCheckpointDir goes through Option(directory),
      // so null restores the no-dir default without touching private state
      sc.setCheckpointDir(null)
    }
    assert(sc.getCheckpointDir.isEmpty,
      "checkpoint dir must be unset for the rest of the suite")
  }

  test("cluster keep is transitively correct where greedy pair-drop isn't") {
    import spark.implicits._
    // three mutually-near texts, but built so the LSH pair (1,2) may be
    // absent from doc_b position for 2 — the cluster form must still keep
    // exactly one representative
    val base = (1 to 60).map(i => s"w$i").mkString(" ")
    val df = Seq((1L, base + " x"), (2L, base + " y"), (3L, base + " z"),
      (9L, (200 to 260).map(i => s"t$i").mkString(" ")))
      .toDF("doc_id", "text")
    val tmp = java.nio.file.Files.createTempDirectory("ccdedup").toString
    df.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    Artifacts.clear()
    val clusters = Dedup.minHashClusters(spark, tmp).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(clusters === Set((1L, 1L, 3L), (2L, 1L, 3L), (3L, 1L, 3L)))
    val kept = Dedup.minHashClusterKeep(spark, tmp).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(kept === Set(1L, 9L))
    Artifacts.clear()
  }

  test("clusterKeepBest keeps the LONGEST cluster member, not the min id; " +
      "softDedupWeights gives 1/n weights that sum to the kept count") {
    import spark.implicits._
    // cluster {1,2,3}: doc 2 is the longest (the full article; 1 and 3
    // are trimmed copies) — min-id keep would pick 1, best-keep must
    // pick 2. doc 9 is a singleton.
    val base = (1 to 60).map(i => s"w$i").mkString(" ")
    val df = Seq(
      (1L, base + " x", "en", "s0", (base + " x").length.toLong),
      (2L, base + " x y z longer tail", "en", "s0",
        (base + " x y z longer tail").length.toLong),
      (3L, base + " z", "en", "s0", (base + " z").length.toLong),
      (9L, (200 to 260).map(i => s"t$i").mkString(" "), "en", "s1", 400L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val tmp = java.nio.file.Files.createTempDirectory("bestkeep").toString
    df.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    Artifacts.clear()
    val kept = Dedup.clusterKeepBest(spark, tmp).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(kept === Set(2L, 9L),
      s"best-keep must keep the longest member + the singleton: $kept")
    // min-id keep on the same corpus keeps 1 — the policies differ
    // exactly on the representative
    val keptMin = Dedup.minHashClusterKeep(spark, tmp)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(keptMin === Set(1L, 9L))
    // soft dedup: members of the 3-cluster weigh 1/3, singleton 1;
    // total mass == number of kept docs under hard dedup
    val w = Dedup.softDedupWeights(spark, tmp).collect()
      .map(r => r.getLong(0) -> (r.getLong(4), r.getDouble(5))).toMap
    assert(w(1L) === ((3L, 0.333333)) && w(2L) === ((3L, 0.333333)) &&
      w(3L) === ((3L, 0.333333)), s"cluster members weigh 1/3: $w")
    assert(w(9L) === ((1L, 1.0)), s"singleton weighs 1: $w")
    assert(math.abs(w.values.map(_._2).sum - keptMin.size) < 1e-3,
      "total soft mass must equal the hard-dedup kept count")
    Artifacts.clear()
  }

  test("spanDedup: repeated span kept once, exact dup collapses to empty") {
    import spark.implicits._
    val boiler = (1 to 10).map(i => s"b$i").mkString(" ") // one full window
    val tail1 = (1 to 10).map(i => s"x$i").mkString(" ")
    val tail2 = (1 to 10).map(i => s"y$i").mkString(" ")
    val df = Seq(
      (1L, s"$boiler $tail1"), // first occurrence: keeps boiler + tail
      (2L, s"$boiler $tail2"), // boiler span dropped, tail kept
      (3L, s"$boiler $tail1"), // exact dup of doc 1 -> everything dropped
      (4L, "short doc"), // partial window, unique -> unchanged
      (5L, "")).toDF("doc_id", "text") // empty -> empty
    val tmp = java.nio.file.Files.createTempDirectory("spandedup").toString
    df.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val out = Dedup.spanDedup(spark, tmp).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    assert(out(1L) === ((s"$boiler $tail1", 2L)))
    assert(out(2L) === ((tail2, 1L)))
    assert(out(3L) === (("", 0L)))
    assert(out(4L) === (("short doc", 1L)))
    assert(out(5L) === (("", 0L)))
    // scale guard: winner selection is a partial-aggregable GROUP BY
    // (map-side combine on hot spans), never a per-span row_number sort
    val plan = Dedup.spanDedup(spark, tmp).queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"))
    assert(!plan.contains("Window"))
  }

  test("edit-distance pairs: banded + bag-pruned candidates equal the " +
      "exact contract") {
    val got = Dedup.editDistancePairs(spark, sfDir, maxLenDiff = 8,
        maxDist = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // brute force over the same contract (no bag prune — its exactness is
    // part of what this equality proves); the length filter runs BEFORE
    // the (thresholded) DP so only banded pairs pay for it
    val d = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text", "n_chars")
    val exact = d.toDF("doc_a", "text_a", "len_a")
      .crossJoin(d.toDF("doc_b", "text_b", "len_b"))
      .filter(col("doc_a") < col("doc_b") &&
        abs(col("len_a") - col("len_b")) <= 8)
      .select(col("doc_a"), col("doc_b"),
        levenshtein(col("text_a"), col("text_b"), 16).cast("long").as("d"))
      .filter(col("d") >= 0 && col("d") <= 16)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got === exact)
    assert(got.nonEmpty, "fixture must contain edit-close pairs")
    got.foreach { case (a, b, dist) =>
      assert(a < b && dist >= 0 && dist <= 16)
    }
  }

  test("edit-distance candidate generation is an equi-join, never all-pairs") {
    val plan = Dedup.editDistancePairs(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), "no cartesian product")
    assert(!plan.contains("BroadcastNestedLoopJoin"), "no BNL join")
  }

  test("materialized cluster labels equal the recomputed CC output") {
    val recomputed = Dedup.minHashClustersRecompute(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val materialized = Dedup.minHashClusters(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(materialized === recomputed)
    val nonCanonical = recomputed.filter(t => t._1 != t._2).map(_._1)
    val keepRe = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id").collect().map(_.getLong(0)).toSet -- nonCanonical
    val keepMat = Dedup.minHashClusterKeep(spark, sfDir)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(keepMat === keepRe)
  }

  test("cross-source dup matrix: pair counts roll up the MinHash pairs") {
    val pairs = Dedup.minHashPairsRecompute(spark, sfDir).collect()
    val src = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "source").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val expect = pairs.groupBy { r =>
      val (a, b) = (src(r.getLong(1)), src(r.getLong(0)))
      (if (a <= b) a else b, if (a <= b) b else a)
    }.view.mapValues(_.length.toLong).toMap
    val got = Dedup.crossSourceDupMatrix(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(got === expect)
    got.keys.foreach { case (a, b) => assert(a <= b, "unordered pair key") }
  }

  /** All file scans of an executed plan, reaching through AQE wrappers
    * (AdaptiveSparkPlanExec / materialized query stages). */
  private def fileScans(plan: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.FileSourceScanExec] = plan match {
    case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
      fileScans(a.executedPlan)
    case s: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
      fileScans(s.plan)
    case f: org.apache.spark.sql.execution.FileSourceScanExec => Seq(f)
    case other => other.children.flatMap(fileScans) ++
      other.subqueries.flatMap(fileScans)
  }

  test("probe cost stays flat as ingest history grows: the bands scan " +
      "reads a bounded bucket fraction at 40 batches, and compaction " +
      "collapses files read after stale-version buildup") {
    import spark.implicits._
    val tmpRoot = java.nio.file.Files.createTempDirectory("flatprobe")
    val idx = s"$tmpRoot/index"
    val nBatches = 40
    val seed = (0 to 59).map(j => s"seed$j").mkString(" ")
    def sigsOf(df: org.apache.spark.sql.DataFrame) =
      df.select(col("doc_id"),
        graft.functions.MinHashExpression.native(col("text"), 64).as("sig"))
    // 40 committed batches, each: ONE novel doc + a redelivery of doc 1
    // (same text) — 39 stale signature versions build up in the index
    for (b <- 0 until nBatches) {
      val novel = (0 to 59).map(j => s"b${b}tok$j").mkString(" ")
      val sigs = sigsOf(Seq((1L, seed), (1000L + b, novel))
        .toDF("doc_id", "text"))
      graft.streaming.EventStream.idempotentBatchSink(
        s"$idx/sigs")(sigs, b)
      graft.streaming.EventStream.idempotentBatchSink(
        s"$idx/bands", partitionBy = Seq("bucket"))(
        Dedup.bucketedBandKeys(sigs, 64, 16, 64), b)
    }
    def bandFilesOnDisk: Long = {
      val s = java.nio.file.Files.walk(java.nio.file.Paths.get(s"$idx/bands"))
      try s.filter(p => p.toString.endsWith(".parquet")).count()
      finally s.close()
    }
    // probe a near-copy of batch 7's novel doc (present in ONE batch):
    // a near-copy of the every-batch seed would legitimately have to
    // read doc 1's buckets in every batch dir, inflating the fraction
    val b7 = (0 to 59).map(j => s"b7tok$j").mkString(" ")
    val oneDoc = Seq((500L, b7 + " extra")).toDF("doc_id", "text")
      .select(col("doc_id").as("new_id"),
        graft.functions.MinHashExpression.native(col("text"), 64).as("sig"))
    // files the probe's bands scan READS (post-pruning metric) + hits
    def probeOnce(): (Set[(Long, Long)], Long) = {
      val probe = Dedup.probeIngestIndex(spark, idx, oneDoc)
      val hits = probe.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val bandScans = fileScans(probe.queryExecution.executedPlan)
        .filter(_.partitionFilters.exists(_.references.exists(
          _.name == "bucket")))
      assert(bandScans.nonEmpty, "no bucket-pruned bands scan in the plan")
      (hits, bandScans.map(_.metrics("numFiles").value).sum)
    }
    val total = bandFilesOnDisk
    val (hits, fBefore) = probeOnce()
    assert(hits.contains((500L, 1007L)), s"probe must match batch 7: $hits")
    // the probe carries ≤16 of 64 buckets (one per band), so the pruned
    // scan must skip most of the index (expected read fraction ≈ 30%:
    // each batch's ~26 bucket dirs × 16/64). 0.5 is a real guard — a
    // pruning regression reads 100%.
    assert(fBefore <= (total * 0.5).toLong,
      s"probe read $fBefore of $total band files — pruning lost")
    // compaction retires the 39 stale doc-1 versions and folds 40 batch
    // dirs into one...
    val (kept, dropped) = Dedup.compactIngestIndex(spark, idx)
    assert(kept === nBatches + 1, s"kept $kept")
    assert(dropped === (nBatches - 1).toLong, s"dropped $dropped")
    // ...after which the probe's file count is a CONSTANT bounded by its
    // own bucket count (≤16 bucket dirs in the single compacted batch
    // dir, ≤2 files each) — independent of how many batches history ever
    // held. THIS is the flat steady-state cost the 100 TB story rests
    // on; before compaction the same probe read one file per
    // (batch, probed-bucket).
    val totalAfter = bandFilesOnDisk
    val (hitsAfter, fAfter) = probeOnce()
    assert(hitsAfter === hits,
      s"compaction changed probe results: $hitsAfter vs $hits")
    assert(totalAfter < total / 4,
      s"compaction left $totalAfter of $total band files")
    assert(fAfter <= 32,
      s"probe reads $fAfter files after compaction — not the ≤16-bucket " +
        s"constant (was $fBefore before compaction)")
    Artifacts.deleteRecursively(tmpRoot.toFile)
  }

  test("repeatedSpans finds arbitrary-offset shared substrings, merges " +
      "overlapping windows into maximal regions, splits on gaps > k") {
    import spark.implicits._
    val common = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val filler = (1 to 9).map(i => s"f$i").mkString(" ")
    val docs = Seq(
      (1L, s"p1 p2 p3 $common s1 s2"),      // block at word offset 3
      (2L, s"q1 $common r1 r2 r3 r4"),      // SAME block at offset 1
      (3L, (100 to 114).map(i => s"u$i").mkString(" ")), // unique
      (4L, s"$common $filler $common"))     // block twice, gap 9 > k=8
    val tmp = java.nio.file.Files.createTempDirectory("repspan").toString
    docs.toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val out = Dedup.repeatedSpans(spark, tmp, k = 8, minDocs = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).sortBy(t => (t._1, t._2))
    // the 10-word block holds stride-1 8-grams at 3 offsets; a block at
    // word b flags positions b..b+2 → one region [b, b+10)
    assert(out === Array(
      (1L, 3L, 13L, 10L, 3L),
      (2L, 1L, 11L, 10L, 3L),
      (4L, 0L, 10L, 10L, 3L),   // two occurrences, 9-word gap > k
      (4L, 19L, 29L, 10L, 3L)), // → two distinct maximal regions
      s"got ${out.mkString(", ")}")
  }

  test("repeatedSpanExcise removes repeated regions everywhere, keeps " +
      "unique docs intact, and its plan stays equi-join-only") {
    import spark.implicits._
    val common = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val docs = Seq(
      (1L, s"p1 p2 p3 $common s1 s2"),
      (2L, s"q1 $common r1 r2 r3 r4"),
      (3L, "short unique doc"))
    val tmp = java.nio.file.Files.createTempDirectory("repexc").toString
    docs.toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val df = Dedup.repeatedSpanExcise(spark, tmp, k = 8, minDocs = 2)
    val out = df.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sortBy(_._1)
    assert(out === Array(
      (1L, "p1 p2 p3 s1 s2", 10L),
      (2L, "q1 r1 r2 r3 r4", 10L),
      (3L, "short unique doc", 0L)), s"got ${out.mkString(", ")}")
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"repeated-span pipeline must stay equi-join-only, got:\n$plan")
  }

  test("span-guard index: probe flags incoming text that history " +
      "contains, reads only its buckets (static partition prune), and " +
      "misses nothing vs a direct gram join") {
    import spark.implicits._
    val boiler = "terms of service apply to all users of this site" // 10 words
    val hist = (0 until 30).map { i =>
      val filler = (0 until 12).map(j => s"h${i}w$j").mkString(" ")
      (100L + i, if (i % 3 == 0) s"$filler $boiler" else filler)
    }
    val tmpRoot = java.nio.file.Files.createTempDirectory("spanguard")
    val idx = s"$tmpRoot/index"
    Dedup.materializeGramIndex(spark,
      hist.toDF("doc_id", "text"), idx, k = 8, nBuckets = 64)
    // incoming: one doc embedding the boilerplate mid-text, one clean
    val incoming = Seq(
      (900L, s"fresh a1 a2 $boiler b1 b2"),
      (901L, (0 until 20).map(j => s"new$j").mkString(" ")))
      .toDF("doc_id", "text")
    val probe = Dedup.spanGuardProbe(spark, idx, incoming,
      k = 8, nBuckets = 64)
    val out = probe.collect().map(r => (r.getLong(0), r.getLong(1),
      r.getLong(2), r.getLong(3))).sortBy(_._1)
    // boiler = 10 words at offset 3 → flagged anchors 3..5, one region
    assert(out === Array((900L, 3L, 13L, 10L)), s"got ${out.mkString(",")}")
    // the scan must carry a bucket partition filter and read fewer
    // files than the index holds (the probe's ≤ a-few-buckets subset)
    val scans = fileScans(probe.queryExecution.executedPlan)
      .filter(_.partitionFilters.exists(_.references.exists(
        _.name == "bucket")))
    assert(scans.nonEmpty, "no bucket-pruned index scan in the plan")
    def idxFiles: Long = {
      val s = java.nio.file.Files.walk(java.nio.file.Paths.get(idx))
      try s.filter(p => p.toString.endsWith(".parquet")).count()
      finally s.close()
    }
    val read = scans.map(_.metrics("numFiles").value).sum
    assert(read < idxFiles,
      s"probe read $read of $idxFiles index files — pruning lost")
    // exactness: the pruned probe equals an unpruned single-bucket
    // index (nBuckets=1 → every gram in one partition, nothing prunable)
    val idx1 = s"$tmpRoot/index1"
    Dedup.materializeGramIndex(spark,
      hist.toDF("doc_id", "text"), idx1, k = 8, nBuckets = 1)
    val direct = Dedup.spanGuardProbe(spark, idx1, incoming,
      k = 8, nBuckets = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getLong(2), r.getLong(3))).sortBy(_._1)
    assert(direct === out,
      s"pruned probe diverged from unpruned: ${direct.mkString(",")}")
    Artifacts.deleteRecursively(tmpRoot.toFile)
  }

  test("setSimPairs: prefix filtering finds EXACTLY the brute-force " +
      "shingle-Jaccard pairs (recall 1) with no cartesian plan") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val randomDocs = (1 to 40).map { i =>
      (i.toLong, (0 until 30).map(_ => s"w${rnd.nextInt(60)}")
        .mkString(" "))
    }
    // planted near-identical pair (shingle Jaccard well above threshold)
    val base = (0 until 20).map(j => s"p$j")
    val planted = Seq(
      (41L, base.mkString(" ")),
      (42L, (base.drop(2) ++ Seq("x1", "x2")).mkString(" ")))
    val tmp = java.nio.file.Files.createTempDirectory("setsim").toString
    (randomDocs ++ planted).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val dfOut = Dedup.setSimPairs(spark, tmp, threshold = 0.5)
    val got = dfOut.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // driver-side brute force over every pair, same shingle helper
    val sets = (randomDocs ++ planted).map { case (id, t) =>
      id -> Dedup.shingles(t, 3)
    }
    val want = (for {
      (ia, sa) <- sets; (ib, sb) <- sets if ia < ib
      j = sa.intersect(sb).size.toDouble / sa.union(sb).size
      jr = BigDecimal(j).setScale(4, BigDecimal.RoundingMode.HALF_UP)
        .toDouble
      if jr >= 0.5
    } yield (ia, ib) -> jr).toMap
    assert(want.contains((41L, 42L)), "fixture must plant a real pair")
    assert(got.keySet === want.keySet,
      s"prefix filter missed/added pairs: got ${got.keySet} want " +
        s"${want.keySet}")
    want.foreach { case (k, j) =>
      assert(math.abs(got(k) - j) < 1e-9, s"$k: ${got(k)} vs $j")
    }
    val plan = dfOut.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"candidate generation must be the prefix equi-join, got:\n$plan")
    // materialized (default) ≡ recomputing form — the standard pin for
    // every build-once table here
    val recomputed = Dedup.setSimPairsRecompute(spark, tmp, threshold = 0.5)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(recomputed === got, "materialized form diverged")
  }

  test("setSimPairs hot-token refinement: exactness holds when hot " +
      "prefix tokens are demoted to the pair path (saturated-domain " +
      "corpus), including degenerate tiny docs") {
    import spark.implicits._
    // saturated domain: every doc shares a fat boilerplate block, so
    // EVERY prefix token is hot at hotDf=3; near-dup pairs are planted
    // on top, and two 1-2-shingle docs exercise the small-doc escape
    val boiler = (0 until 12).map(j => s"b$j").mkString(" ")
    val rnd = new scala.util.Random(11)
    val randomDocs = (1 to 30).map { i =>
      (i.toLong, boiler + " " + (0 until 10)
        .map(_ => s"w${rnd.nextInt(12)}").mkString(" "))
    }
    val base = (0 until 20).map(j => s"p$j")
    val planted = Seq(
      (41L, base.mkString(" ")),
      (42L, (base.drop(2) ++ Seq("x1", "x2")).mkString(" ")),
      // tiny docs: 3 words = 1 shingle each, identical → J = 1.0
      (51L, "t1 t2 t3"), (52L, "t1 t2 t3"))
    val tmp = java.nio.file.Files.createTempDirectory("setsimhot").toString
    (randomDocs ++ planted).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    def run(hotDf: Int) = Dedup.setSimPairsRecompute(spark, tmp,
        threshold = 0.5, hotDf = hotDf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val refined = run(3)            // everything shared is hot
    val classic = run(Int.MaxValue) // pure single-token path
    assert(refined === classic,
      s"hot-pair refinement changed the exact output:\n" +
        s"refined ${refined.keySet}\nclassic ${classic.keySet}")
    assert(refined.contains((41L, 42L)) && refined((51L, 52L)) === 1.0,
      s"planted + tiny pairs must survive: ${refined.keySet}")
    // the refinement actually engaged: the materialized pair table is
    // non-empty at hotDf=3 and empty at hotDf=MaxValue
    val pHot = Dedup.materializeSetSimTables(spark, tmp, 0.5, 3, 3)
    assert(spark.read.parquet(s"$pHot/prefix2").count() > 0,
      "hot corpus must emit pair rows")
    val pCold = Dedup.materializeSetSimTables(spark, tmp, 0.5, 3,
      Int.MaxValue)
    assert(spark.read.parquet(s"$pCold/prefix2").count() === 0,
      "no token is hot at MaxValue - pair table must be empty")
  }

  test("connectedComponents converges in O(log diameter) rounds on " +
      "adversarial chain graphs, not O(diameter)") {
    import spark.implicits._
    def roundsFor(edges: Seq[(Long, Long)], expectLabels: Map[Long, Long],
        diameter: Int, what: String): Unit = {
      val cc = Dedup.connectedComponents(edges.toDF("doc_a", "doc_b"),
        maxIters = 50)
      val got = cc.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got === expectLabels, s"$what labels wrong")
      val rounds = Dedup.lastCcRounds.get()
      val bound = math.ceil(math.log(diameter.toDouble) /
        math.log(2.0)).toInt + 2
      assert(rounds <= bound,
        s"$what: $rounds rounds for diameter $diameter — path-halving " +
          s"degraded (bound log2+2 = $bound)")
    }
    // 1000-node path: every fixture elsewhere is near-clique; this is
    // the worst-case long chain (diameter 999)
    val path = (1L until 1000L).map(i => (i, i + 1))
    roundsFor(path, (1L to 1000L).map(_ -> 1L).toMap, 999, "path-1000")
    // star-of-chains: center 0, eight 50-node chains (diameter 100)
    val star = (0 until 8).flatMap { c =>
      val ids = (1 to 50).map(j => (c * 50 + j).toLong)
      (0L, ids.head) +: ids.zip(ids.tail)
    }
    val starNodes = 0L +: (1 to 400).map(_.toLong)
    roundsFor(star, starNodes.map(_ -> 0L).toMap, 100, "star-of-chains")
  }

  test("span-guard gram index: meta-driven probes and layout checks") {
    import spark.implicits._
    val boiler = "terms of service apply to all users of this site"
    val hist = (0 until 30).map { i =>
      val filler = (0 until 12).map(j => s"h${i}w$j").mkString(" ")
      (100L + i, if (i % 3 == 0) s"$filler $boiler" else filler)
    }.toDF("doc_id", "text")
    val incoming = Seq(
      (900L, s"fresh a1 a2 $boiler b1 b2"),
      (901L, (0 until 20).map(j => s"new$j").mkString(" ")))
      .toDF("doc_id", "text")
    val tmpRoot = java.nio.file.Files.createTempDirectory("spanguardh")
    val exactIdx = s"$tmpRoot/exact"
    Dedup.materializeGramIndex(spark, hist, exactIdx, k = 8, nBuckets = 16)
    // probes take layout from the index meta — no k/nBuckets repeated
    def regions(idx: String) = Dedup.spanGuardProbe(spark, idx, incoming)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).sortBy(_._1)
    val e = regions(exactIdx)
    assert(e === Array((900L, 3L, 13L, 10L)), s"got ${e.mkString(",")}")
    assert(Dedup.readGramIndexMeta(spark, exactIdx)
      === Some(Dedup.GramIndexMeta(8, 16)))
    // a meta file with the older `exact=` line: `true` still probes,
    // a hash-only `false` is refused rather than missing every window
    val metaPath = java.nio.file.Paths.get(exactIdx, "_graft_gram_meta")
    def writeMeta(body: String): Unit = {
      java.nio.file.Files.deleteIfExists(
        java.nio.file.Paths.get(exactIdx, "._graft_gram_meta.crc"))
      java.nio.file.Files.write(metaPath, body.getBytes("UTF-8"))
    }
    writeMeta("k=8\nnBuckets=16\nexact=true\n")
    assert(regions(exactIdx) === e)
    writeMeta("k=8\nnBuckets=16\nexact=false\n")
    val eH = intercept[IllegalArgumentException](regions(exactIdx))
    assert(eH.getMessage.contains("hashes only"), eH.getMessage)
    writeMeta("k=8\nnBuckets=16\n")
    // layout mismatches fail loudly instead of silently missing
    val eK = intercept[IllegalArgumentException] {
      Dedup.spanGuardProbe(spark, exactIdx, incoming, k = 4)
    }
    assert(eK.getMessage.contains("built with k=8"), eK.getMessage)
    val eB = intercept[IllegalArgumentException] {
      Dedup.spanGuardProbe(spark, exactIdx, incoming, nBuckets = 64)
    }
    assert(eB.getMessage.contains("16 buckets"), eB.getMessage)
    // pre-meta index (meta file removed): explicit layout still probes,
    // layoutless probe names the problem
    java.nio.file.Files.delete(
      java.nio.file.Paths.get(exactIdx, "_graft_gram_meta"))
    val legacy = Dedup.spanGuardProbe(spark, exactIdx, incoming,
      k = 8, nBuckets = 16).collect().map(r => (r.getLong(0), r.getLong(1),
        r.getLong(2), r.getLong(3))).sortBy(_._1)
    assert(legacy === e, "explicit-layout fallback must still be exact")
    val eM = intercept[IllegalArgumentException] {
      Dedup.spanGuardProbe(spark, exactIdx, incoming)
    }
    assert(eM.getMessage.contains("_graft_gram_meta"), eM.getMessage)
    Artifacts.deleteRecursively(tmpRoot.toFile)
  }

  test("span-guard empty-history bootstrap: a zero-gram index probes to " +
      "zero regions instead of throwing on schema inference") {
    import spark.implicits._
    val tmpRoot = java.nio.file.Files.createTempDirectory("spanguarde")
    val idx = s"$tmpRoot/index"
    // every history doc is shorter than k words → zero anchor grams →
    // the partitioned write commits no part files
    Dedup.materializeGramIndex(spark,
      Seq((1L, "too short"), (2L, "also tiny")).toDF("doc_id", "text"),
      idx, k = 8, nBuckets = 16)
    val out = Dedup.spanGuardProbe(spark, idx,
      Seq((900L, (0 until 20).map(j => s"w$j").mkString(" ")))
        .toDF("doc_id", "text"))
    assert(out.count() === 0L, "empty history flags nothing")
    Artifacts.deleteRecursively(tmpRoot.toFile)
  }

  test("live span guard rides the ingest loop: regions emitted per " +
      "batch against committed history only, gram legs grow " +
      "idempotently, and layout drift across restarts is rejected") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val boiler = (1 to 12).map(i => s"lic$i").mkString(" ") // 12 words
    val tmpRoot = java.nio.file.Files.createTempDirectory("livespan")
    val (idx, out, ckpt, gidx, gout) = (s"$tmpRoot/index", s"$tmpRoot/out",
      s"$tmpRoot/ckpt", s"$tmpRoot/gram", s"$tmpRoot/spans")
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    // pairing rule is enforced before anything starts
    intercept[IllegalArgumentException] {
      Dedup.liveNearDupIngest(input.toDF().toDF("doc_id", "text"),
        spark, idx, out, ckpt, gramIndexDir = Some(gidx))
    }
    val query = Dedup.liveNearDupIngest(
      input.toDF().toDF("doc_id", "text"), spark, idx, out, ckpt,
      gramIndexDir = Some(gidx), spanOutDir = Some(gout))
    try {
      // batch 0: empty history → no regions, but grams enter the index
      input.addData(
        (1L, s"${(0 until 10).map(j => s"a$j").mkString(" ")} $boiler"),
        (2L, (0 until 15).map(j => s"b$j").mkString(" ")))
      query.processAllAvailable()
      // batch 1: one doc embeds batch 0's boilerplate, one is novel
      input.addData(
        (10L, s"x1 x2 x3 $boiler y1 y2"),
        (11L, (0 until 15).map(j => s"c$j").mkString(" ")))
      query.processAllAvailable()
    } finally query.stop()
    val b0 = spark.read.parquet(s"$gout/batch=0")
    assert(b0.count() === 0L, "no history yet — batch 0 flags nothing")
    val b1 = spark.read.parquet(s"$gout/batch=1").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // 12-word boiler at offset 3 → anchors 3..7 (k=8), one region [3, 15)
    assert(b1.toSeq === Seq((10L, 3L, 15L, 12L)), s"got ${b1.toSeq}")
    // gram leg: one _SUCCESS-gated bucket-partitioned dir per batch
    val gdirs = new java.io.File(gidx).listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    assert(gdirs === Set("batch=0", "batch=1"), gdirs.toString)
    // replay cannot double-insert grams (same idempotent sink contract)
    val replayed = graft.streaming.EventStream.idempotentBatchSink(
      gidx, partitionBy = Seq("bucket"))(
      Seq((0L, "zz", 0L)).toDF("gh", "gram", "bucket"), 0L)
    assert(!replayed, "committed gram batch dirs are skipped on replay")
    // a restart with a different gram layout is rejected before starting
    val drift = intercept[IllegalArgumentException] {
      Dedup.liveNearDupIngest(
        input.toDF().toDF("doc_id", "text"), spark, idx, out, ckpt,
        gramIndexDir = Some(gidx), spanOutDir = Some(gout),
        gramBuckets = 128)
    }
    assert(drift.getMessage.contains("nBuckets=64"), drift.getMessage)
    // restart with the SAME layout continues the guard: a doc quoting
    // batch 1's novel text is flagged against the grown index
    val query2 = Dedup.liveNearDupIngest(
      input.toDF().toDF("doc_id", "text"), spark, idx, out, ckpt,
      gramIndexDir = Some(gidx), spanOutDir = Some(gout))
    try {
      input.addData((20L,
        s"pre1 pre2 ${(0 until 15).map(j => s"c$j").mkString(" ")}"))
      query2.processAllAvailable()
    } finally query2.stop()
    val b2 = spark.read.parquet(s"$gout/batch=2").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(b2.toSeq === Seq((20L, 2L, 17L, 15L)), s"got ${b2.toSeq}")
    Artifacts.clear()
    Artifacts.deleteRecursively(tmpRoot.toFile)
  }

  test("incremental CC: label-seeded fold-in is bit-identical to " +
      "one-shot, converges star-fast, and never bridges unrelated " +
      "components") {
    import spark.implicits._
    // two 12-node chains + an untouched triangle; history = the chains,
    // the new batch = one bridge edge (10, 101)
    val chainA = (1L until 12L).map(i => (i, i + 1))
    val chainB = (101L until 112L).map(i => (i, i + 1))
    val tri = Seq((500L, 501L), (501L, 502L), (500L, 502L))
    val prev = Dedup.connectedComponents(
      (chainA ++ chainB ++ tri).toDF("doc_a", "doc_b"))
    val inc = Dedup.incrementalComponents(prev,
      Seq((10L, 101L)).toDF("doc_a", "doc_b"))
    val got = inc.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val incRounds = Dedup.lastCcRounds.get()
    val oneShot = Dedup.connectedComponents(
      (chainA ++ chainB ++ tri :+ (10L, 101L)).toDF("doc_a", "doc_b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val oneShotRounds = Dedup.lastCcRounds.get()
    assert(got === oneShot, "fold-in diverged from one-shot")
    // merged chains all label 1; the triangle is untouched at 500
    assert((1L to 12L).forall(got(_) == 1L))
    assert((101L to 112L).forall(got(_) == 1L))
    assert(Seq(500L, 501L, 502L).forall(got(_) == 500L))
    // the seeded graph is stars-plus-delta (depth ~2): the fold-in must
    // converge in no more rounds than the chain-shaped one-shot
    assert(incRounds <= 4 && incRounds <= oneShotRounds,
      s"fold-in took $incRounds rounds (one-shot: $oneShotRounds)")
  }

  test("contrastivePairs: positives are the verified pair set, " +
      "negatives are disjoint from it, deterministic, near-full " +
      "coverage") {
    val out = Dedup.contrastivePairs(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getDouble(3)))
    val pos = out.filter(_._3 == "pos")
    val neg = out.filter(_._3 == "neg")
    val truePairs = Dedup.minHashPairs(spark, sfDir)
      .filter(col("jaccard") >= 0.5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pos.map(p => (p._1, p._2)).toSet === truePairs)
    assert(pos.forall(_._4 >= 0.5))
    // negatives never collide with a real pair (either orientation)
    assert(neg.forall { n =>
      !truePairs.contains((n._1, n._2)) && !truePairs.contains((n._2, n._1))
    })
    assert(neg.forall(n => n._1 != n._2 && n._4 == 0.0))
    // every doc in a non-singleton shard emits one negative (minus the
    // anti-joined accidental positives)
    val nDocs = spark.read.parquet(s"$sfDir/documents.parquet").count()
    assert(neg.length > nDocs * 0.9, s"${neg.length} of $nDocs")
    val again = Dedup.contrastivePairs(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getDouble(3)))
    assert(again.toSet === out.toSet, "must be deterministic")
  }

  test("a warm q_contrastive_pairs call runs no job while it builds " +
      "its plan") {
    val entry = graft.SparkEntry.queries("q_contrastive_pairs")
    entry(spark, sfDir).collect() // builds the pair artifact
    val (df, jobs) = jobsDuring(entry(spark, sfDir))
    assert(jobs === 0, "no pre-flight size probe: AQE picks the join")
    assert(df.count() > 0)
  }

  test("contrastivePairs threshold < 0.5 flows into the pair build: " +
      "moderate near-dups are positives, never negatives") {
    import spark.implicits._
    // synthetic corpus with pairs whose word-3gram jaccard lands in
    // [0.3, 0.5): shared 20-word prefix + disjoint suffixes. The
    // regression (pair table built at default 0.5, post-filtered) would
    // drop these from pos and let them re-enter as label='neg'.
    val shared = (1 to 20).map(i => s"alpha$i").mkString(" ")
    val rows = (for {
      sufLen <- 8 to 14; v <- 0 until 6
    } yield Seq(
      shared + " " + (1 to sufLen).map(i => s"beta${v}x$i").mkString(" "),
      shared + " " + (1 to sufLen).map(i => s"gamma${v}x$i").mkString(" ")
    )).flatten.zipWithIndex.map { case (t, i) => (i + 1L, t) }
    val tmp = java.nio.file.Files.createTempDirectory("cpthr").toString
    rows.toDF("doc_id", "text")
      .selectExpr("doc_id", "text", "'en' as lang", "'s1' as source",
        "length(text) as n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val truePairs = Dedup.minHashPairs(spark, tmp, threshold = 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val moderate = truePairs.filter(_._3 < 0.5)
    assert(moderate.nonEmpty, "corpus must yield detected pairs in " +
      "[0.4, 0.5) for this test to bite")
    val out = Dedup.contrastivePairs(spark, tmp, threshold = 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    val pos = out.filter(_._3 == "pos").map(p => (p._1, p._2)).toSet
    val neg = out.filter(_._3 == "neg").map(p => (p._1, p._2)).toSet
    assert(pos === truePairs.map(p => (p._1, p._2)).toSet)
    moderate.foreach { case (a, b, j) =>
      assert(pos.contains((a, b)), s"moderate pair ($a,$b) j=$j missing")
      assert(!neg.contains((a, b)) && !neg.contains((b, a)),
        s"moderate pair ($a,$b) j=$j mislabeled negative")
    }
  }

  test("minHashClustersIncremental equals minHashClusters on the " +
      "real pair graph") {
    val inc = Dedup.minHashClustersIncremental(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSet
    val oneShot = Dedup.minHashClusters(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSet
    assert(inc === oneShot)
  }
}

package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class PipelineSpec extends SparkSpec {

  test("cleanCorpus composes dedup stages and the quality filter") {
    import spark.implicits._
    val good = (1 to 60).map(i => s"word$i").mkString(" ")
    val near = (1 to 58).map(i => s"word$i").mkString(" ") + " tail other"
    val short = "too short to keep"
    val rows = Seq(
      (1L, good, "en"), (2L, good, "en"),  // exact dup pair → keep 1
      (5L, near, "en"),                    // near-dup of 1 → dropped
      (7L, short, "en"),                   // under min words → dropped
      (9L, (100 to 170).map(i => s"tok$i").mkString(" "), "de")) // clean
    val tmp = java.nio.file.Files.createTempDirectory("cleanc").toString
    rows.toDF("doc_id", "text", "lang")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val out = Pipeline.cleanCorpus(spark, tmp).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(out.keySet === Set(1L, 9L), s"got ${out.keySet}")
    assert(out(1L)._2 === 60L, "word accounting on the kept copy")
    assert(out(9L)._1 === "de", "lang passthrough")
  }

  test("flagship entry() returns rows at the smoke SF") {
    assert(graft.SparkEntry.entry(spark).count() > 0)
  }

  test("train/val split: deterministic, exhaustive, salt-sensitive") {
    val s1 = Pipeline.trainValSplit(spark, sfDir)
    val s2 = Pipeline.trainValSplit(spark, sfDir)
    assert(s1.exceptAll(s2).count() === 0, "identical across invocations")
    val bySplit = s1.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bySplit.keySet === Set("train", "val", "test"))
    assert(bySplit("train") > bySplit("val"),
      "13/16 buckets to train must dominate")
    assert(bySplit.values.sum ===
      spark.read.parquet(s"$sfDir/documents.parquet").count())
    // a different salt reshuffles assignments (split is salt-keyed)
    val other = Pipeline.trainValSplit(spark, sfDir, salt = "other")
    assert(s1.join(other, Seq("doc_id"))
      .filter(s1("split") =!= other("split")).count() > 0)
  }

  test("hexThreshold: zero-padded, ordered, keep-all sentinel") {
    assert(Pipeline.hexThreshold(0.0) === "0000")
    assert(Pipeline.hexThreshold(0.25) === "4000")
    assert(Pipeline.hexThreshold(0.5) === "8000")
    assert(Pipeline.hexThreshold(1.0 / 4096) === "0010", "zero padding")
    assert(Pipeline.hexThreshold(1.0) === "g",
      "'g' sorts above every hex digit → keeps all rows")
  }

  test("stratified sample: deterministic, per-stratum rates, append-stable") {
    val rates = Map("en" -> 0.5, "de" -> 0.25)
    val s1 = Pipeline.stratifiedSample(spark, sfDir, rates)
    assert(s1.exceptAll(Pipeline.stratifiedSample(spark, sfDir, rates))
      .count() === 0, "identical across invocations")
    val all = spark.read.parquet(s"$sfDir/documents.parquet")
      .groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val kept = s1.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // untouched strata keep every row; sampled strata land near rate·n
    all.keys.filterNot(rates.contains)
      .foreach(l => assert(kept(l) === all(l), s"lang $l must keep all"))
    rates.foreach { case (l, r) =>
      val frac = kept.getOrElse(l, 0L).toDouble / all(l)
      assert(math.abs(frac - r) < 0.2, s"lang $l kept $frac, want ≈$r")
    }
    // append stability: membership is per-row, so the kept set over a
    // filtered corpus is exactly the filtered kept set
    assert(s1.filter(col("doc_id") < 100).exceptAll(
      Pipeline.stratifiedSample(spark, sfDir, rates)
        .filter(col("doc_id") < 100)).count() === 0)
  }

  test("chunking: overlap arithmetic, short-text single chunk, coverage") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("chunk").toString
    val long = "x" * 297
    Seq((1L, long), (2L, "short")).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val got = Pipeline.chunkDocuments(spark, tmp, chunkChars = 200,
        overlap = 50).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(4)))
      .sortBy(x => (x._1, x._2))
    // doc 1 (297 chars): starts 1 and 151 → chunks of 200 and 147 chars
    assert(got.toSeq === Seq((1L, 0L, 1L, 200L), (1L, 1L, 151L, 147L),
      (2L, 0L, 1L, 5L)))
    // consecutive chunks overlap by exactly `overlap` characters
    val texts = Pipeline.chunkDocuments(spark, tmp, 200, 50)
      .filter(col("doc_id") === 1L).orderBy("chunk_id")
      .collect().map(_.getString(3))
    assert(texts(0).takeRight(50) === texts(1).take(50))
  }

  test("packing: prefix-sum bins, per-lang reset, straddle overflow") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("pack").toString
    // 100-token docs (400 chars): capacity 250 → docs 1,2 start in pack 0
    // (prefix 0, 100), doc 3 starts at prefix 200 < 250 → still pack 0
    // (straddle), doc 4 at prefix 300 → pack 1. shardHexDigits = 0 pins
    // the strict global-prefix rule (one shard per language).
    val docs = (1L to 4L).map(i => (i, "en", "y" * 400)) :+
      ((9L, "de", "z" * 400))
    docs.toDF("doc_id", "lang", "text")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val got = Pipeline.packSequences(spark, tmp, capacityTokens = 250L,
        shardHexDigits = 0)
      .collect().map(r => (r.getLong(0), r.getLong(4))).toMap
    assert(got === Map(1L -> 0L, 2L -> 0L, 3L -> 0L, 4L -> 1L, 9L -> 0L))
  }

  test("packing: sharded window fans a language out and keeps the rule") {
    import org.apache.spark.sql.execution.window.WindowExec
    val out = Pipeline.packSequences(spark, sfDir, capacityTokens = 512L)
    // plan guard: the running-sum window is keyed (lang, shard), never
    // lang alone — a dominant language must not serialize into one task
    val windows = out.queryExecution.sparkPlan.collect {
      case w: WindowExec => w
    }
    assert(windows.nonEmpty, "expected a WindowExec in the plan")
    windows.foreach(w => assert(w.partitionSpec.size === 2,
      s"window keyed by ${w.partitionSpec} — want (lang, shard)"))
    val rows = out.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3),
        r.getLong(4)))
    // exhaustive: every document is packed exactly once
    assert(rows.length ===
      spark.read.parquet(s"$sfDir/documents.parquet").count())
    // shards spread: >1 shard for the corpus (16 hex cells, 500 docs)
    assert(rows.map(_._3).distinct.length > 1)
    // the assignment rule holds within every (lang, shard): pack_id =
    // floor(prefix-tokens-before / capacity) in doc_id order
    rows.groupBy(r => (r._2, r._3)).foreach { case (_, grp) =>
      var prefix = 0L
      grp.sortBy(_._1).foreach { case (_, _, _, nTok, packId) =>
        assert(packId === prefix / 512L)
        prefix += nTok
      }
    }
  }

  test("sourceCap: at most cap docs per source, longest-first, unique set") {
    val out = Pipeline.sourceCap(spark, sfDir, cap = 20)
    val bySource = out.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bySource.values.forall(_ <= 20L))
    // the kept set is exactly the deterministic top-20 per source
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "source", "n_chars").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val expect = docs.groupBy(_._2).toSeq.flatMap { case (_, rows) =>
      rows.sortBy(r => (-r._3, r._1)).take(20).map(_._1).toSeq
    }.toSet
    assert(out.select("doc_id").collect().map(_.getLong(0)).toSet === expect)
  }

  test("corpusDiff: added/removed/changed/unchanged partition the id space") {
    import spark.implicits._
    val a = Seq((1L, "same"), (2L, "old"), (3L, "gone")).toDF("doc_id", "text")
    val b = Seq((1L, "same"), (2L, "new"), (4L, "fresh")).toDF("doc_id", "text")
    val d = Pipeline.corpusDiff(a, b).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(d === Map(1L -> "unchanged", 2L -> "changed", 3L -> "removed",
      4L -> "added"))
    // scale shape: the join carries hashes, not text — assert on the
    // join INPUTS' attribute sets (a string-position check on the plan
    // dump is vacuous: the Join line always prints above its children)
    val joins = Pipeline.corpusDiff(a, b).queryExecution.optimizedPlan
      .collect { case j: org.apache.spark.sql.catalyst.plans.logical.Join =>
        j.children.flatMap(_.output.map(_.name)) }
    assert(joins.nonEmpty)
    joins.foreach(names =>
      assert(!names.contains("text"),
        s"text must be projected away below the join: $names"))
    // null text: md5(NULL) must not read as absence
    val an = Seq((7L, Option.empty[String])).toDF("doc_id", "text")
    val bn = Seq((7L, Option("now set"))).toDF("doc_id", "text")
    assert(Pipeline.corpusDiff(an, bn).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq ===
      Seq((7L, "changed")))
  }

  test("datasetCard: one aggregate, internally consistent metrics") {
    val card = Pipeline.datasetCard(spark, sfDir).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(card.keySet.size === 11)
    val docs = Tables.documents(spark, sfDir)
    assert(card("n_docs") === docs.count().toDouble)
    assert(card("n_sources") ===
      docs.select("source").distinct().count().toDouble)
    // dup_ratio consistent with its own distinct count
    assert(card("dup_ratio") ===
      math.rint((1.0 - card("n_distinct_texts") / card("n_docs")) * 1e4) / 1e4)
    // ratios are ratios
    Seq("dup_ratio", "short_doc_ratio", "mean_quality").foreach(m =>
      assert(card(m) >= 0.0 && card(m) <= 1.0, s"$m=${card(m)}"))
    assert(card("p50_chars") <= card("p90_chars"))
    // ONE scan, no join: single aggregate over the parquet source
    val plan = Pipeline.datasetCard(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), plan)
  }

  test("mixturePlan: shares scale the budget, epoch cap binds and flags") {
    val plan = Pipeline.mixturePlan(spark, sfDir,
      Map("src0" -> 0.3, "src1" -> 0.1, "src2" -> 0.1),
      budgetTokens = 10000L, maxEpochs = 2.0)
      .collect().map(r => r.getString(0) -> r).toMap
    // sf0.001 sources hold ~200 tokens each; src0 wants 6000 → capped
    val s0 = plan("src0")
    assert(s0.getBoolean(6), "src0 must hit the epoch cap")
    assert(s0.getDouble(4) === 2.0) // weight == maxEpochs when capped
    assert(s0.getDouble(5) === 2.0 * s0.getLong(1)) // planned = cap*avail
    // untargeted sources plan zero
    val s5 = plan("src5")
    assert(s5.getDouble(2) === 0.0 && s5.getDouble(4) === 0.0 &&
      !s5.getBoolean(6))
    // normalization: shares sum to 1 over targeted sources
    assert(math.abs(plan("src0").getDouble(2) - 0.6) < 1e-9)
    // conservation: planned never exceeds desired, desired sums to budget
    val totalDesired = plan.values.map(_.getDouble(3)).sum
    assert(math.abs(totalDesired - 10000.0) < 1e-6)
    plan.values.foreach(r =>
      assert(r.getDouble(5) <= r.getDouble(3) + 1e-9))
  }

  test("planAndResample: copies realize the planned weights") {
    val out = Pipeline.planAndResample(spark, sfDir,
      Map("src0" -> 0.5, "src1" -> 0.5), budgetTokens = 500L,
      maxEpochs = 3.0)
    val bySource = out.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // only targeted sources appear (defaultWeight = 0 drops the rest)
    assert(bySource.keySet === Set("src0", "src1"))
    val plan = Pipeline.mixturePlan(spark, sfDir,
      Map("src0" -> 0.5, "src1" -> 0.5), 500L, 3.0)
      .collect().map(r => r.getString(0) -> r.getDouble(4)).toMap
    val nDocs = Tables.documents(spark, sfDir)
      .groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // per-source copies land in [floor(w)*n, ceil(w)*n]
    Seq("src0", "src1").foreach { s =>
      val w = plan(s); val n = nDocs(s)
      assert(bySource(s) >= math.floor(w).toLong * n &&
        bySource(s) <= math.ceil(w).toLong * n,
        s"$s copies=${bySource(s)} weight=$w n=$n")
    }
  }

  test("resampleSources: multiplicity = floor(w) + hash-gated fraction") {
    val out = Pipeline.resampleSources(spark, sfDir,
      Map("src0" -> 2.5, "src1" -> 0.25))
    val copies = out.groupBy("doc_id", "source").count().collect()
      .map(r => (r.getString(1), r.getLong(2)))
    copies.foreach {
      case ("src0", n) => assert(n === 2L || n === 3L)
      case ("src1", n) => assert(n === 1L) // 0-copy docs never appear
      case (_, n) => assert(n === 1L)
    }
    // deterministic: identical output across runs
    val again = Pipeline.resampleSources(spark, sfDir,
      Map("src0" -> 2.5, "src1" -> 0.25))
      .collect().map(r => (r.getLong(0), r.getInt(2))).toSet
    assert(again === out.collect().map(r => (r.getLong(0), r.getInt(2))).toSet)
    // expected multiplicity tracks the weight (md5 gate ~ Uniform)
    val src0Total = out.filter(col("source") === "src0").count().toDouble
    val src0Docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .filter(col("source") === "src0").count().toDouble
    assert(src0Total / src0Docs >= 2.0 && src0Total / src0Docs <= 3.0)
  }

  test("clean audit partitions the corpus: kept ⊎ dropped = documents") {
    val total = spark.read.parquet(s"$sfDir/documents.parquet").count()
    val kept = Pipeline.cleanCorpus(spark, sfDir).select("doc_id")
    val dropped = Pipeline.cleanCorpusAudit(spark, sfDir)
    assert(kept.count() + dropped.count() === total)
    assert(kept.intersect(dropped.select("doc_id")).count() === 0L)
    val reasons = dropped.select("reason").distinct().collect()
      .map(_.getString(0)).toSet
    assert(reasons.subsetOf(Set("exact_dup", "near_dup", "short")), reasons)
  }

  test("length trim: bounds are the exact percentiles, outliers dropped") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val lens = docs.select("n_chars").collect().map(_.getLong(0)).sorted
    // exact interpolated percentile, same definition both engines use
    def pct(p: Double): Double = {
      val idx = p * (lens.length - 1)
      val (lo, hi) = (math.floor(idx).toInt, math.ceil(idx).toInt)
      lens(lo) + (idx - lo) * (lens(hi) - lens(lo))
    }
    val kept = Pipeline.lengthTrim(spark, sfDir).collect()
      .map(_.getLong(3))
    assert(kept.forall(n => n >= pct(0.05) && n <= pct(0.95)))
    val expectedKept = lens.count(n => n >= pct(0.05) && n <= pct(0.95))
    assert(kept.length === expectedKept)
  }

  test("per-language trim: each language keeps its own percentile window") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "lang", "n_chars").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    def pct(sorted: Array[Long], p: Double): Double = {
      val idx = p * (sorted.length - 1)
      val (lo, hi) = (math.floor(idx).toInt, math.ceil(idx).toInt)
      sorted(lo) + (idx - lo) * (sorted(hi) - sorted(lo))
    }
    val expect = docs.groupBy(_._2).toSeq.flatMap { case (_, rows) =>
      val lens = rows.map(_._3).sorted
      rows.filter(r => r._3 >= pct(lens, 0.05) && r._3 <= pct(lens, 0.95))
        .map(_._1).toSeq
    }.toSet
    val got = Pipeline.lengthTrimByLang(spark, sfDir).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(got === expect)
    // the per-language windows genuinely differ from the global one
    val global = Pipeline.lengthTrim(spark, sfDir).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(got !== global)
  }

  test("compaction: file count tracks bytes / targetBytes") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    // sf0.001 documents ≈ 65 KB on disk → 16 KB target ⇒ several files
    val n = Pipeline.compactionPartitions(docs, targetBytes = 16L * 1024)
    assert(n >= 3 && n <= 8, n.toString)
    val out = java.nio.file.Files.createTempDirectory("compact").toString
    Pipeline.compact(docs, targetBytes = 16L * 1024)
      .write.mode("overwrite").parquet(out)
    val files = new java.io.File(out).listFiles()
      .count(f => f.getName.startsWith("part-"))
    assert(files === n, s"$files files for $n partitions")
    // a huge target always compacts to a single file
    assert(Pipeline.compactionPartitions(docs, 1L << 40) === 1)
    // stats beyond Long range must not wrap negative: range(Long.MaxValue)
    // reports ~7.4e19 optimizer bytes (> Long.MaxValue); the BigInt
    // ceiling division clamps to Int.MaxValue instead of repartition(1)
    val huge = spark.range(Long.MaxValue).toDF()
    assert(Pipeline.compactionPartitions(huge) === Int.MaxValue)
    // rows survive the rewrite
    assert(spark.read.parquet(out).count() === docs.count())
  }
  test("weightedSample: reproducible A-ES draw, top-k plan, weight bias") {
    val s1 = Pipeline.weightedSample(spark, sfDir, k = 50)
    // TakeOrderedAndProject, not a global sort: per-partition top-k
    val plan = s1.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      s"weighted sample must plan a top-k, got:\n$plan")
    val a = s1.collect().map(_.getLong(0)).toSeq
    val b = Pipeline.weightedSample(spark, sfDir, k = 50)
      .collect().map(_.getLong(0)).toSeq
    assert(a === b, "deterministic draw")
    assert(a.length === 50)
    // probability ∝ n_chars: the sampled mean length must exceed the
    // corpus mean (the point of weighting)
    import org.apache.spark.sql.functions._
    val corpusMean = spark.read.parquet(s"$sfDir/documents.parquet")
      .agg(avg("n_chars")).head().getDouble(0)
    val sampleMean = Pipeline.weightedSample(spark, sfDir, k = 50)
      .agg(avg("n_chars")).head().getDouble(0)
    assert(sampleMean > corpusMean,
      s"weighted mean $sampleMean must exceed corpus mean $corpusMean")
  }

  test("corpusShuffle: a permutation — every doc exactly once, contiguous " +
      "positions per shard, deterministic") {
    import org.apache.spark.sql.functions._
    val sh = Pipeline.corpusShuffle(spark, sfDir, nShards = 8)
    val n = spark.read.parquet(s"$sfDir/documents.parquet").count()
    assert(sh.count() === n)
    assert(sh.select("doc_id").distinct().count() === n, "a permutation")
    // per shard: positions are 1..count(shard) (dense, no gaps)
    val byShard = sh.groupBy("shard")
      .agg(count(lit(1)).as("c"), min("pos").as("lo"), max("pos").as("hi"))
      .collect()
    assert(byShard.length === 8, "all shards populated")
    byShard.foreach { r =>
      val c = r.getLong(1); val lo = r.getInt(2); val hi = r.getInt(3)
      assert(lo === 1 && hi.toLong === c, s"dense positions: $lo..$hi of $c")
    }
    val a = sh.orderBy("shard", "pos").collect().map(_.getLong(0)).toSeq
    val b = Pipeline.corpusShuffle(spark, sfDir, nShards = 8)
      .orderBy("shard", "pos").collect().map(_.getLong(0)).toSeq
    assert(a === b, "deterministic order")
    // and it actually shuffles: in-shard order differs from doc_id order
    val firstShard = sh.filter(col("shard") === byShard.head.getInt(0))
      .orderBy("pos").collect().map(_.getLong(0)).toSeq
    assert(firstShard !== firstShard.sorted, "order must be permuted")
  }

  test("leakFreeSplit: clusters never span splits, singletons match the " +
      "per-doc split, and the repair is non-trivial on this corpus") {
    val lf = Pipeline.leakFreeSplit(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getString(4)))
    // every cluster maps to exactly one split
    val perCluster = lf.groupBy(_._2).map { case (_, rows) =>
      rows.map(_._3).distinct.length
    }
    assert(perCluster.forall(_ === 1), "a cluster spanning splits = leakage")
    // singleton docs (cluster_id == doc_id, no other member) reduce to
    // the plain per-doc split
    val docSplit = Pipeline.trainValSplit(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getString(3)).toMap
    val sizes = lf.groupBy(_._2).map { case (c, rows) => c -> rows.length }
    val singletons = lf.filter(r => r._1 == r._2 && sizes(r._2) == 1)
    assert(singletons.nonEmpty)
    singletons.foreach { case (id, _, split) =>
      assert(split === docSplit(id), s"singleton $id must match trainValSplit")
    }
    // and the operator genuinely re-assigns: some clustered member's
    // leak-free split differs from its per-doc split (if this corpus ever
    // stops having such a member, the test data changed — re-derive)
    val moved = lf.filter(r => r._1 != r._2 && r._3 != docSplit(r._1))
    assert(moved.nonEmpty, "expected at least one repaired assignment")
  }

  test("tokenBudget: allocations conserve the budget, caps bind on small " +
      "sources, temperature flattens the mix") {
    val rows = Pipeline.tokenBudget(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(2), r.getDouble(3),
        r.getBoolean(4), r.getDouble(5), r.getDouble(6)))
    // budget conservation (up to round-2 residue per row, and exactly if
    // no source re-crosses its cap in the single redistribution round)
    val totalAlloc = rows.map(_._5).sum
    assert(math.abs(totalAlloc - 110000.0) < 1.0,
      s"allocated $totalAlloc of 110000")
    // capped rows sit exactly at maxEpochs; uncapped strictly under
    rows.foreach { case (src, _, _, capped, _, epochs) =>
      if (capped) assert(math.abs(epochs - 3.0) < 1e-3, s"$src at cap")
      else assert(epochs < 3.0 + 1e-9, s"$src under cap")
    }
    assert(rows.exists(_._4) && rows.exists(!_._4),
      "mix must have both capped and uncapped sources to be interesting")
    // temperature alpha=0.5: mixing weight per token DECREASES with size
    // (small sources upweighted) — check the extremes
    val bySize = rows.sortBy(_._2)
    val small = bySize.head; val large = bySize.last
    assert(small._3 / small._2 > large._3 / large._2,
      "alpha<1 must upweight small sources per token")
  }

  test("dsirWeights: feature count arithmetic, target-domain docs score " +
      "higher, weights are finite") {
    val byId = spark.read.parquet(s"$sfDir/documents.parquet").collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[String]("lang"), r.getAs[String]("text"))).toMap
    val got = Pipeline.dsirWeights(spark, sfDir).collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getDouble(3))).toMap
    // n_feats = words + bigrams = 2*words - 1 (every doc here has >= 2 words)
    byId.foreach { case (id, (_, text)) =>
      val w = text.split("\\s+").count(_.nonEmpty).toLong
      assert(got(id)._1 === (if (w >= 2) 2 * w - 1 else w),
        s"doc $id feature count")
    }
    got.values.foreach { case (_, wt) =>
      assert(!wt.isNaN && !wt.isInfinite, "smoothing keeps weights finite")
    }
    // the LLR must separate the target domain: mean weight of en docs
    // above mean weight of the rest (that is the operator's purpose)
    val (en, rest) = got.toSeq.partition { case (id, _) =>
      byId(id)._1 == "en" }
    val meanEn = en.map(_._2._2).sum / en.size
    val meanRest = rest.map(_._2._2).sum / rest.size
    assert(meanEn > meanRest,
      s"target-domain mean $meanEn must exceed non-target $meanRest")
  }

  test("mixtureSchedule: shares normalize per epoch, T=1 equals the raw " +
      "targets, higher T flattens toward uniform, plan math exact") {
    val targets = Map("src0" -> 0.6, "src1" -> 0.3, "src2" -> 0.1)
    val rows = Pipeline.mixtureSchedule(spark, sfDir, targets,
        budgetPerEpoch = 10000L, epochs = 3, tStart = 2.0, tEnd = 1.0)
      .collect()
      .map(r => (r.getInt(0), r.getString(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(5)))
    assert(rows.length === 9)
    // temperatures anneal 2.0 → 1.5 → 1.0
    assert(rows.map(r => r._1 -> r._3).toMap ===
      Map(0 -> 2.0, 1 -> 1.5, 2 -> 1.0))
    val byEpoch = rows.groupBy(_._1)
    // shares normalize within every epoch
    byEpoch.values.foreach { e =>
      assert(math.abs(e.map(_._4).sum - 1.0) < 1e-4, e.toSeq.toString) }
    // final epoch (T=1) IS the target mix
    val fin = byEpoch(2).map(r => r._2 -> r._4).toMap
    assert(fin === Map("src0" -> 0.6, "src1" -> 0.3, "src2" -> 0.1))
    // T=2 flattens: dominant source down, tail source up, order kept
    val e0 = byEpoch(0).map(r => r._2 -> r._4).toMap
    assert(e0("src0") < 0.6 && e0("src2") > 0.1 &&
      e0("src0") > e0("src1") && e0("src1") > e0("src2"), e0.toString)
    // planned tokens = share × budget at 2 dp
    rows.foreach { case (_, _, _, share, planned) =>
      assert(math.abs(planned - share * 10000.0) < 0.5 + 1e-9,
        s"share=$share planned=$planned") }
    // misuse fails loudly before any job
    intercept[IllegalArgumentException](
      Pipeline.mixtureSchedule(spark, sfDir, Map("a" -> 0.0), 100L))
    intercept[IllegalArgumentException](
      Pipeline.mixtureSchedule(spark, sfDir, targets, 100L, epochs = 0))
    intercept[IllegalArgumentException](
      Pipeline.mixtureSchedule(spark, sfDir, targets, 0L))
  }

  test("applyChanges: MERGE semantics (delete/update/insert/upsert), " +
      "snapshot never shuffled") {
    import spark.implicits._
    val snap = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("doc_id", "text")
    val changes = Seq(
      ("D", 2L, ""),          // delete 2
      ("U", 3L, "c2"),        // revise 3
      ("I", 4L, "d"),         // insert 4
      ("U", 9L, "upserted")   // U on a missing key inserts (upsert)
    ).toDF("op", "doc_id", "text")
    val out = Pipeline.applyChanges(snap, changes)
    val got = out.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got === Map(1L -> "a", 3L -> "c2", 4L -> "d",
      9L -> "upserted"))
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin LeftAnti") ||
      plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"),
      s"change keys must broadcast into a left-anti join\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"the snapshot side must not shuffle\n$plan")
  }

  /** Join nodes of `df`'s final AQE plan, query stages included (run
    * `df` first). */
  private def finalJoins(df: org.apache.spark.sql.DataFrame) = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
      QueryStageExec}
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec,
      ShuffledHashJoinExec, SortMergeJoinExec}
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case s: QueryStageExec => nodes(s.plan)
      case _ => p +: p.children.flatMap(nodes)
    }
    nodes(df.queryExecution.executedPlan).collect {
      case j: BroadcastHashJoinExec => ("broadcast", j.joinType.toString)
      case j: SortMergeJoinExec => ("shuffle", j.joinType.toString)
      case j: ShuffledHashJoinExec => ("shuffle", j.joinType.toString)
    }
  }

  test("applyChanges: with no static broadcast, AQE broadcasts a small " +
      "batch and keeps a shuffle join for a batch above the adaptive " +
      "threshold, same rows either way") {
    import spark.implicits._
    val static = "spark.sql.autoBroadcastJoinThreshold"
    val adaptive = "spark.sql.adaptive.autoBroadcastJoinThreshold"
    val priors = Seq(static, adaptive).map(k => k -> spark.conf.getOption(k))
    val snap = (1L to 3000L).map(i => (i, s"t$i")).toDF("doc_id", "text")
    // keys 3, 6, 9, ...: even i deletes, odd i revises
    def changes(n: Int) = (1 to n).map(i =>
      (if (i % 2 == 0) "D" else "U", 3L * i, s"u$i"))
      .toDF("op", "doc_id", "text")
    def expected(n: Int) = {
      val touched = (1 to n).map(i => 3L * i).toSet
      (1L to 3000L).filterNot(touched).map(i => i -> s"t$i").toMap ++
        (1 to n).filter(_ % 2 == 1).map(i => 3L * i -> s"u$i")
    }
    def run(n: Int) = {
      val out = Pipeline.applyChanges(snap, changes(n))
      val got = out.collect().map(r => r.getLong(0) -> r.getString(1))
      assert(got.length === expected(n).size)
      assert(got.toMap === expected(n))
      finalJoins(out)
    }
    try {
      spark.conf.set(static, "-1")
      // Spark's default threshold, stated because the adaptive one
      // falls back to the static -1 when unset
      spark.conf.set(adaptive, "10MB")
      val small = run(10)
      assert(small === Seq(("broadcast", "LeftAnti")),
        s"a small batch must end as a broadcast anti-join: $small")
      spark.conf.set(adaptive, "1KB")
      val big = run(800)
      assert(big === Seq(("shuffle", "LeftAnti")),
        s"a batch above the threshold must stay a shuffle join: $big")
    } finally priors.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("cdcMergeDemo runs no job while it builds its plan") {
    graft.operators.Tables.documents(spark, sfDir) // warm-up read
    val (_, jobs) = jobsDuring(Pipeline.cdcMergeDemo(spark, sfDir))
    assert(jobs === 0, "no pre-flight size probe: AQE picks the join")
  }

  test("scd2: unchanged/changed/removed/added fan into the right " +
      "version intervals") {
    import spark.implicits._
    val v1 = Seq((1L, "same"), (2L, "will change"), (3L, "will vanish"))
      .toDF("doc_id", "text")
    val v2 = Seq((1L, "same"), (2L, "changed!"), (4L, "brand new"))
      .toDF("doc_id", "text")
    val got = Pipeline.scd2(v1, v2).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3)),
        r.getBoolean(4))).toSet
    def h(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(got === Set(
      (1L, h("same"), 1L, None, true),            // unchanged: open v1
      (2L, h("will change"), 1L, Some(2L), false), // changed: closed v1
      (2L, h("changed!"), 2L, None, true),         //   + open v2
      (3L, h("will vanish"), 1L, Some(2L), false), // removed: closed v1
      (4L, h("brand new"), 2L, None, true)))       // added: open v2
    // exactly one current row per live doc, none for removed
    val cur = got.filter(_._5).map(_._1)
    assert(cur === Set(1L, 2L, 4L))
    intercept[IllegalArgumentException](Pipeline.scd2(v1, v2, 2L, 2L))
  }

  test("tokenWindows: exact-size windows except shard tails, token " +
      "conservation, contiguous ids, zero-token docs dropped") {
    val W = 512L
    val out = Pipeline.tokenWindows(spark, sfDir, windowTokens = W)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))
    val byShard = out.groupBy(_._1)
    byShard.foreach { case (shard, ws) =>
      val sorted = ws.sortBy(_._2)
      // window ids are 0..max contiguous
      assert(sorted.map(_._2).toSeq === (0L until sorted.length).toSeq,
        s"shard $shard ids")
      // every window but the tail holds exactly W tokens
      sorted.dropRight(1).foreach(w =>
        assert(w._4 === W, s"shard $shard window ${w._2} has ${w._4}"))
      assert(sorted.last._4 <= W && sorted.last._4 > 0)
    }
    // token conservation: sum over windows == sum of per-doc estimates
    val total = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(ceil(length(col("text")) / 4.0).cast("long").as("t"))
      .agg(sum("t")).collect()(0).getLong(0)
    assert(out.map(_._4).sum === total)
    // a doc spanning a cut appears in consecutive windows: first/last
    // doc ranges of consecutive windows overlap or abut
    byShard.foreach { case (_, ws) =>
      ws.sortBy(_._2).sliding(2).foreach {
        case Array(a, b) => assert(b._5 >= a._6,
          s"window ${b._2} starts before ${a._2} ends")
        case _ =>
      }
    }
  }

  test("expectations: all checks pass on the fixture; planted " +
      "violations flip exactly their checks") {
    import spark.implicits._
    val clean = Pipeline.expectations(spark, sfDir).collect()
      .map(r => r.getString(0) -> r.getBoolean(2)).toMap
    assert(clean.size === 7 && clean.values.forall(identity), clean)
    // planted: duplicate id, null text, n_chars drift, empty lang
    val tmp = java.nio.file.Files.createTempDirectory("expect").toString
    Seq(
      (1L, Some("ok text"), "en", "s1", 7L),
      (1L, Some("dup id"), "en", "s1", 99L),    // dup + wrong n_chars
      (2L, None: Option[String], "en", "s1", 5L), // null text
      (3L, Some("fine"), "", "s1", 4L))          // empty lang
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val dirty = Pipeline.expectations(spark, tmp).collect()
      .map(r => r.getString(0) -> r.getBoolean(2)).toMap
    assert(dirty("row_count_positive"))
    assert(!dirty("doc_id_unique"))
    assert(!dirty("text_nonnull"))
    assert(!dirty("n_chars_consistent"))
    assert(!dirty("lang_present"))
    assert(dirty("source_present"))
  }

  test("expectations: NULL comparisons count as check FAILURES, not " +
      "skipped rows (avg-skips-null regression)") {
    import spark.implicits._
    // the only defects are NULLs — under the old avg-over-nullable
    // semantics every comparison row would be skipped and all checks
    // would read a clean 1.0; the oracle's CASE WHEN .. ELSE 0.0
    // counts them as failures.
    val tmp = java.nio.file.Files.createTempDirectory("expnull").toString
    Seq(
      (1L, Some("good row"), "en", "s1", Some(8L)),
      (2L, None: Option[String], "en", "s1", Some(5L)), // null text
      (3L, Some("ok"), "en", "s1", None: Option[Long])) // null n_chars
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val got = Pipeline.expectations(spark, tmp).collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getBoolean(2)))
      .toMap
    assert(!got("n_chars_consistent")._2 &&
      got("n_chars_consistent")._1 === 0.3333,
      s"null text/n_chars must fail consistency: $got")
    assert(!got("n_chars_in_range")._2 &&
      got("n_chars_in_range")._1 === 0.6667,
      s"null n_chars must fail the range check: $got")
    assert(!got("text_nonnull")._2)
    assert(got("doc_id_unique")._2 && got("lang_present")._2)
  }

  test("scd2Accrete chain law: as-of-v slices reproduce every " +
      "snapshot; original valid_from survives late changes") {
    import spark.implicits._
    val v1 = Seq((1L, "stable"), (2L, "late bloomer"), (3L, "temp"))
      .toDF("doc_id", "text")
    val v2 = Seq((1L, "stable"), (2L, "late bloomer"), (4L, "joined v2"))
      .toDF("doc_id", "text") // 3 removed, 4 added, 1 & 2 unchanged
    val v3 = Seq((1L, "stable"), (2L, "finally changed"),
      (4L, "joined v2")).toDF("doc_id", "text") // 2 changes at v3
    val hist = Pipeline.scd2Accrete(Pipeline.scd2(v1, v2, 1L, 2L),
      v2, v3, 3L)
    val rows = hist.collect().map(r => (r.getLong(0), r.getString(1),
      r.getLong(2), if (r.isNullAt(3)) None else Some(r.getLong(3)),
      r.getBoolean(4)))
    def h(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    // doc 2 was untouched v1→v2 then changed at v3: its closing row
    // must keep valid_from = 1 (the naive re-run-and-union restamps 2)
    assert(rows.toSet.contains((2L, h("late bloomer"), 1L, Some(3L),
      false)), rows.toSet.mkString("\n"))
    // as-of-v slice == snapshot v, for every version
    def asOf(v: Long) = rows.filter(r =>
      r._3 <= v && r._4.forall(_ > v)).map(r => r._1 -> r._2).toMap
    def snap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getLong(0) -> h(r.getString(1))).toMap
    assert(asOf(1L) === snap(v1))
    assert(asOf(2L) === snap(v2))
    assert(asOf(3L) === snap(v3))
    // exactly one current row per live doc
    assert(rows.filter(_._5).map(_._1).toSet === Set(1L, 2L, 4L))
  }

  test("cdcMergeDemo matches the recomputed merge on the fixture") {
    val d = graft.operators.Tables.documents(spark, sfDir)
    val got = Pipeline.cdcMergeDemo(spark, sfDir).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getString(2),
        r.getLong(3))).toMap
    val base = d.collect().map { r =>
      (r.getLong(r.fieldIndex("doc_id")), r.getString(r.fieldIndex("lang")),
        r.getString(r.fieldIndex("source")),
        r.getLong(r.fieldIndex("n_chars")))
    }
    val kept = base.filter { case (id, _, _, _) =>
      id % 11 != 0 && id % 7 != 3 }
      .map { case (id, l, s, n) => id -> (l, s, n) }
    val upd = base.filter { case (id, _, _, _) =>
      id % 11 != 0 && id % 7 == 3 }
      .map { case (id, l, s, n) => id -> (l, s, n + 7) }
    val ins = base.filter(_._1 % 13 == 5)
      .map { case (id, l, s, n) => (id + 1000000L) -> (l, s, n) }
    assert(got === (kept ++ upd ++ ins).toMap)
  }
}

package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class TextOpsSpec extends SparkSpec {

  test("text stats: n_words/n_chars consistent with document text") {
    val r = TextOps.textStats(spark, sfDir)
      .filter(col("doc_id") === 0L).collect()(0)
    val text = spark.read.parquet(s"$sfDir/documents.parquet")
      .filter(col("doc_id") === 0L).select("text").collect()(0).getString(0)
    assert(r.getLong(1) === text.length)
    assert(r.getLong(3) === text.split(" ").length)
  }

  test("word count is ONE definition corpus-wide: \\s+ tokens, agreeing " +
      "across operators on text with tabs and newlines") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("nwords").toString
    val texts = Seq(
      (1L, "plain single space words here"),
      (2L, "tab\tseparated\twords and\nnewlines\r\nmixed  double  spaces"),
      (3L, " leading and trailing whitespace \t"),
      (4L, "one"))
    texts.map { case (id, t) => (id, t, "en") }.toDF("doc_id", "text", "lang")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val expect = texts.map { case (id, t) =>
      id -> t.split("\\s+").count(_.nonEmpty).toLong
    }.toMap
    val stats = TextOps.textStats(spark, tmp).collect()
      .map(r => r.getLong(0) -> r.getLong(3)).toMap
    val quality = TextOps.qualityScore(spark, tmp).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val stop = TextOps.stopwordQuality(spark, tmp).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    val rep = TextOps.repetition(spark, tmp).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(stats === expect, "textStats")
    assert(quality === expect, "qualityScore")
    assert(rep === expect, "repetition")
    assert(stop === expect, "stopwordQuality")
  }

  test("quality funnel: cumulative stage survivors on a hand-computed " +
      "corpus (each stage knocks out exactly the planted doc)") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("funnel").toString
    val long35 = (1 to 31).map(i => s"w$i").mkString(" ") + " the and of a"
    val repet = Array.fill(30)("x").mkString(" ") + " the and of a"
    Seq(
      (1L, ""),            // fails nonempty (0 words)
      (2L, "a b"),         // fails min_30_words
      (3L, long35),        // passes all (35 distinct words, 4 stop hits)
      (4L, repet))         // fails low_repetition (rep = 1 - 5/34 ≈ 0.85)
      .toDF("doc_id", "text").withColumn("lang",
        org.apache.spark.sql.functions.lit("en"))
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val rows = TextOps.qualityFunnel(spark, tmp).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getDouble(3))).sortBy(_._1)
    assert(rows === Seq(
      (1L, "nonempty", 3L, 0.75),
      (2L, "min_30_words", 2L, 0.5),
      (3L, "stopword_hits", 2L, 0.5),
      (4L, "low_repetition", 1L, 0.25)))
    // funnel is monotone by construction — pin it anyway
    assert(rows.map(_._3).sliding(2).forall(p => p(0) >= p(1)))
  }

  test("token count: bpe estimate = ceil(chars/4)") {
    val rows = TextOps.tokenCount(spark, sfDir).limit(20).collect()
    assert(rows.forall(r => r.getLong(2) >= 1))
  }

  test("quality score bounded [0,1] with consistent flags") {
    val rows = TextOps.qualityScore(spark, sfDir).collect()
    assert(rows.forall { r =>
      val q = r.getDouble(2); q >= 0.0 && q <= 1.0
    })
    assert(rows.forall { r =>
      val (n, flag) = (r.getLong(1), r.getString(3))
      if (n < 30) flag == "short" else if (n > 150) flag == "long" else flag == "ok"
    })
  }

  test("langId predicts 'en' for English function words") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("langid").toString
    Seq((1L, "the cat and the dog of the house is here", "en"),
      (2L, "der hund und die katze ist hier", "de"),
      (3L, "xyzzy qwerty plugh", "xx"))
      .toDF("doc_id", "text", "lang")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val out = TextOps.langId(spark, tmp).collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(out(1L) === "en")
    assert(out(2L) === "de")
    assert(out(3L) === "und") // no profile hit → undetermined
  }

  test("langIdConfusion: shares sum to 1 per declared lang, matrix " +
      "consistent with per-doc predictions") {
    val conf = TextOps.langIdConfusion(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getDouble(3)))
    val byDecl = conf.groupBy(_._1)
    byDecl.foreach { case (decl, rows) =>
      assert(math.abs(rows.map(_._4).sum - 1.0) < 0.001,
        s"$decl shares sum ${rows.map(_._4).sum}")
    }
    val perDoc = TextOps.langId(spark, sfDir).collect()
      .map(r => (r.getString(1), r.getString(2)))
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    assert(conf.map(c => (c._1, c._2) -> c._3).toMap === perDoc)
  }

  test("winnowing fingerprint: deterministic, shift-robust, short-text safe") {
    val t = "abcdefghijklmnopqrstuvwxyz0123456789"
    assert(TextOps.fingerprintSet(t) === TextOps.fingerprintSet(t))
    // contiguous shared content yields overlapping fingerprints
    val fp1 = TextOps.fingerprintSet("PREFIX " + t).toSet
    val fp2 = TextOps.fingerprintSet(t + " SUFFIX").toSet
    assert((fp1 & fp2).nonEmpty)
    // shorter than k → empty; k..k+window → still produces output
    assert(TextOps.fingerprintSet("abc") === Seq.empty)
    assert(TextOps.fingerprintSet("abcdefgh").nonEmpty)
    assert(TextOps.fingerprintSet(null) === Seq.empty)
  }

  test("fingerprints: exploded scalar rows agree with array form") {
    val exploded = TextOps.fingerprints(spark, sfDir)
    assert(exploded.schema.map(_.name) === Seq("doc_id", "fp_hash"))
    val arrays = TextOps.fingerprintArrays(spark, sfDir)
    // counts line up: sum of n_grams == exploded row count
    val nExploded = exploded.count()
    val nFromArrays = arrays.agg(sum("n_grams")).collect()(0).getLong(0)
    assert(nExploded === nFromArrays && nExploded > 0)
    // spot-check one doc: exploded rows == the array's elements
    val a0 = arrays.filter(col("doc_id") === 0L)
      .select("fingerprint").collect()(0).getSeq[Long](0).toSet
    val e0 = exploded.filter(col("doc_id") === 0L)
      .collect().map(_.getLong(1)).toSet
    assert(a0 === e0)
  }

  test("repetition ratio: duplicate-token fraction, empty-safe") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("rep").toString
    Seq((1L, "spam spam spam spam", "en"), (2L, "all words differ here", "en"),
      (3L, "", "en")).toDF("doc_id", "text", "lang")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val out = TextOps.repetition(spark, tmp).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toMap
    assert(out(1L) === ((4L, 1L, 0.75)), "4 tokens, 1 distinct → 0.75")
    assert(out(2L) === ((4L, 4L, 0.0)))
    assert(out(3L) === ((0L, 0L, 0.0)), "empty text is 0, not NaN/err")
  }

  test("char-class ratios: punct/upper/digit arithmetic is exact") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("charclass").toString
    Seq((1L, "Ab, cd! 12", "en")).toDF("doc_id", "text", "lang")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val r = TextOps.charClassQuality(spark, tmp).collect()(0)
    assert(r.getLong(1) === 10L)
    assert(r.getDouble(2) === 0.2, "2 punct chars of 10")
    assert(r.getDouble(3) === 0.1, "1 uppercase of 10")
    assert(r.getDouble(4) === 0.2, "2 digits of 10")
    // empty text: 0.0 ratios, not a divide-by-zero (ANSI) or NULL
    val tmp2 = java.nio.file.Files.createTempDirectory("charclass0").toString
    Seq((1L, "", "en")).toDF("doc_id", "text", "lang")
      .write.mode("overwrite").parquet(s"$tmp2/documents.parquet")
    val r0 = TextOps.charClassQuality(spark, tmp2).collect()(0)
    assert(r0.getDouble(2) === 0.0 && r0.getDouble(3) === 0.0 &&
      r0.getDouble(4) === 0.0)
  }

  test("tfidf: rare terms outweigh common ones; df counts documents") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("tfidf").toString
    Seq((1L, "alpha beta beta", "en"), (2L, "alpha gamma", "en"),
      (3L, "alpha delta", "en"))
      .toDF("doc_id", "text", "lang")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val out = TextOps.tfIdf(spark, tmp).collect()
      .map(r => (r.getLong(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    assert(out((1L, "alpha"))._2 === 3L, "df(alpha) = all 3 docs")
    assert(out((1L, "beta"))._1 === 2L, "tf counts occurrences")
    assert(out((1L, "beta"))._2 === 1L)
    // beta (rare, tf 2) must outweigh alpha (ubiquitous, tf 1) in doc 1
    assert(out((1L, "beta"))._3 > out((1L, "alpha"))._3)
    // idf formula: tf * (ln((N+1)/(df+1)) + 1)
    val expected = 1.0 * (math.log(4.0 / 2.0) + 1.0)
    assert(math.abs(out((2L, "gamma"))._3 -
      math.rint(expected * 1e4) / 1e4) < 1e-9)
  }

  test("top terms: per-language ranks, deterministic tie-break") {
    val top = TextOps.topTerms(spark, sfDir, k = 5)
    val langs = top.select("lang").distinct().count()
    assert(top.groupBy("lang").count().filter(col("count") =!= 5)
      .count() === 0, s"every lang gets exactly k rows ($langs langs)")
    assert(top.filter(col("rank") > 5).count() === 0)
  }

  test("containment: a quoted document scores 1.0 against its source") {
    import spark.implicits._
    val body = (1 to 80).map(i => s"tok$i").mkString(" ")
    val quote = (21 to 60).map(i => s"tok$i").mkString(" ") // strict subset
    val other = (200 to 280).map(i => s"w$i").mkString(" ")
    val tmp = java.nio.file.Files.createTempDirectory("contain").toString
    Seq((1L, body, "en"), (2L, quote, "en"), (3L, other, "en"))
      .toDF("doc_id", "text", "lang")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val rows = TextOps.containmentPairs(spark, tmp, minContainment = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(3)))
    assert(rows.length === 1, s"only the quote pair survives: ${rows.toSeq}")
    val (a, b, c) = rows(0)
    assert(a === 1L && b === 2L)
    assert(c === 1.0, "every fingerprint of the quote appears in the body")
  }

  test("evalContainment: quoted eval doc flagged, eval side broadcast") {
    import spark.implicits._
    val evalDoc = (21 to 60).map(i => s"tok$i").mkString(" ")
    val train = (1 to 80).map(i => s"tok$i").mkString(" ") // contains eval
    val clean = (200 to 280).map(i => s"w$i").mkString(" ")
    val tmp = java.nio.file.Files.createTempDirectory("evalc").toString
    // eval docs sit below evalMaxId (5); corpus above
    Seq((1L, evalDoc, "en"), (10L, train, "en"), (11L, clean, "en"))
      .toDF("doc_id", "text", "lang")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val hits = TextOps.evalContainment(spark, tmp, evalMaxId = 5L,
      minContainment = 0.9)
    val rows = hits.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getDouble(3)))
    assert(rows.toSeq === Seq((10L, 1L, 1.0)),
      s"only the containing train doc is flagged: ${rows.toSeq}")
    // scale shape: both eval-side frames enter as broadcast joins, the
    // corpus stream is never shuffled before the hit aggregation
    val plan = hits.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("containment materialized: identical pairs, winnow-free plan") {
    Artifacts.clear()
    try {
      val recompute = TextOps.containmentPairsRecompute(spark, sfDir)
      val mat = TextOps.containmentPairs(spark, sfDir)
      val key = (r: org.apache.spark.sql.Row) =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))
      assert(mat.collect().map(key).sortBy(t => (t._1, t._2)).toSeq ===
        recompute.collect().map(key).sortBy(t => (t._1, t._2)).toSeq)
      // the winnowing expression must be GONE from the materialized
      // plan — every branch scans the build-once parquet table instead
      // (the recomputing form carries it once per self-join side)
      val plan = mat.queryExecution.executedPlan.toString
      assert(!plan.contains("winnow_fingerprints"),
        s"plan must scan the fingerprint table, not re-winnow:\n$plan")
      // round-8 shape: NO full-stream count-windows — hot-hash pruning
      // is an aggregate anti-join, sizes join the pair aggregate; the
      // only full-stream shuffle is the pair join itself
      assert(!plan.contains("Window"),
        s"containment must not sort-shuffle the stream through windows:\n$plan")
      // round-11 shape: the hot-hash prune and per-doc sizes are baked
      // into the PRUNED index at build time, so the warm plan is ONE
      // self-join + ONE aggregate — no anti-join, no full-stream df
      // aggregate, and every scan reads the pruned index
      assert(!plan.contains("LeftAnti"),
        s"hot-hash prune must be baked into the index, not re-run:\n$plan")
      val scanPaths = plan.split('\n').filter(_.contains("FileScan"))
      assert(scanPaths.forall(_.contains("winnow_fps_pruned")),
        s"warm plan must scan only the pruned index:\n$plan")
      assert(recompute.queryExecution.executedPlan.toString
        .contains("winnow_fingerprints"))
    } finally Artifacts.clear()
  }

  test("containment fan-out guard: boilerplate saturation refuses before the df-squared join") {
    import spark.implicits._
    // same doc count, same per-doc length; only difference: a shared
    // boilerplate block. Every boilerplate fingerprint lands in ALL 40
    // docs (df=40, under the default maxDf=100 cap) so each contributes
    // C(40,2) pairs — the sub-cap saturation band the r14 verdict named
    def corpus(body: Int => String): String = {
      val tmp = java.nio.file.Files.createTempDirectory("contain_guard").toString
      (0 until 40).map(i => (i.toLong, body(i), "en"))
        .toDF("doc_id", "text", "lang")
        .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
      tmp
    }
    val boilerBlock = (1 to 60).map(i => s"legal$i").mkString(" ")
    val boiler = corpus(i =>
      boilerBlock + " " + (1 to 10).map(j => s"u${i}_$j").mkString(" "))
    val distinct = corpus(i =>
      (1 to 70).map(j => s"d${i}_$j").mkString(" "))
    val boilerEst = TextOps.containmentCandidateEstimate(spark, boiler, 100)
    val distinctEst = TextOps.containmentCandidateEstimate(spark, distinct, 100)
    assert(boilerEst > 20 * math.max(distinctEst, 1.0),
      s"boilerplate must dominate the estimate: $boilerEst vs $distinctEst")
    // exactness: the estimate IS sum(df·(df−1))/2 over surviving hashes
    val expected = TextOps.fingerprints(spark, boiler)
      .groupBy("fp_hash").count().filter(col("count") <= 100)
      .agg(sum(col("count") * (col("count") - 1L))).head.getLong(0) / 2.0
    assert(boilerEst === expected)
    // a budget between the two corpora: boilerplate refuses with the
    // remedy named, the healthy corpus passes silently
    val budget = ((boilerEst + distinctEst) / 2).toLong.max(2L)
    spark.conf.set(PairGuard.BudgetConf, budget.toString)
    try {
      val e = intercept[IllegalStateException] {
        TextOps.containmentPairs(spark, boiler)
      }
      assert(e.getMessage.contains("containmentPairs"))
      assert(e.getMessage.contains("maxDf"))
      assert(TextOps.containmentPairs(spark, distinct).count() === 0L)
    } finally spark.conf.unset(PairGuard.BudgetConf)
    // and with the default budget the boilerplate fixture (tiny in
    // absolute terms) still runs — the guard prices, never blanket-bans
    assert(TextOps.containmentPairs(spark, boiler,
      minContainment = 0.8).count() > 0L)
  }

  test("gopher repetition: dup lines, top word/bigram token shares") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("gopher").toString
    Seq(
      (1L, "a a a a b"),          // top word 4/5, top bigram "a a" 3/4
      (2L, "x\nx\ny"),            // 3 lines, 2 distinct → dup 1/3
      (3L, "one"),                // no bigrams → 0.0
      (4L, "p q r s"))            // all unique: word 1/4, bigram 1/3
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val got = TextOps.gopherRepetition(spark, tmp).collect()
      .map(r => r.getLong(0) ->
        ((r.getDouble(1), r.getDouble(2), r.getDouble(3)))).toMap
    assert(got(1L) === ((0.0, 0.8, 0.75)))
    assert(got(2L) === ((0.3333, 0.6667, 0.5)))
    assert(got(3L) === ((0.0, 1.0, 0.0)))
    assert(got(4L) === ((0.0, 0.25, 0.3333)))
  }

  test("bigram vocab: corpus pair counts, deterministic top-k ties") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("bigram").toString
    Seq((1L, "to be or not to be"), (2L, "to be is to do"), (3L, "do"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val got = TextOps.bigramVocab(spark, tmp, k = 3).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    // "to be" ×3; then the 1-count ties resolve alphabetically
    assert(got(0) === (("to be", 3L)))
    assert(got.drop(1).map(_._1).toSeq === got.drop(1).map(_._1).sorted.toSeq)
    assert(got.forall(_._2 >= 1L) && got.length === 3)
  }

  test("unigram logprob: common prose outscores rare-token gibberish") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("unigram").toString
    val common = "the cat sat on the mat the cat sat"
    Seq((1L, "en", common), (2L, "en", common), (3L, "en", common),
      (4L, "en", "zqx9 vbn7 qwerty0 plm8 okn6"))
      .toDF("doc_id", "lang", "text")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val got = TextOps.unigramLogProb(spark, tmp).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(got(1L) === got(2L), "identical docs score identically")
    assert(got(1L) > got(4L), "gibberish must score lower")
  }

  test("decontaminate: verbatim 8-gram inclusion flagged, clean doc not") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("decon").toString
    val evalQ = (1 to 12).map(i => s"eval$i").mkString(" ")
    val leaky = "prefix words here " + evalQ + " suffix tail"
    val clean = (50 to 70).map(i => s"w$i").mkString(" ")
    Seq((1L, evalQ), (100L, leaky), (101L, clean))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val got = TextOps.decontaminate(spark, tmp, benchmarkMaxId = 10L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.contains(100L) && got(100L) >= 5L,
      s"leaky doc must share the eval 8-grams: $got")
    assert(!got.contains(101L), "clean doc must not be flagged")
  }

  test("decontaminate plan: the eval gram set BROADCASTS — the corpus " +
      "gram stream never sort-merge-shuffles into the join") {
    // the 100 TB contract: benchmarks are small by nature, so the only
    // shuffle a decontamination pass may carry is the final per-doc
    // aggregation; a sort-merge join here would shuffle the full corpus
    // gram stream (≈ tokens × n) and dominate everything
    val plan = TextOps.decontaminate(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
    assert(!plan.contains("SortMergeJoin"),
      "corpus gram stream must not sort-merge into the eval join:\n" +
        plan.take(2000))
  }

  test("decontaminateFast: identical rows to the join form, and a plan " +
      "with no Generate/join/shuffle on the corpus side") {
    val fast = TextOps.decontaminateFast(spark, sfDir)
    val join = TextOps.decontaminate(spark, sfDir)
    val a = fast.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val b = join.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(a === b, "expression form diverged from the join form")
    val plan = fast.queryExecution.executedPlan.toString
    for (bad <- Seq("Generate", "Join", "Exchange", "HashAggregate"))
      assert(!plan.contains(bad),
        s"corpus side must be a pure map — found $bad:\n${plan.take(2000)}")
    assert(plan.contains("shared_grams"), plan.take(500))
    // edge semantics identical too: below-k collapse + empty text
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("deconf").toString
    Seq((1L, "a b c"), (100L, "a b c"), (101L, " "), (102L, "a b"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val fa = TextOps.decontaminateFast(spark, tmp).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val jo = TextOps.decontaminate(spark, tmp).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fa === jo, s"edge semantics diverged: $fa vs $jo")
    assert(fa === Map(100L -> 1L), fa)
  }

  test("decontaminateBloom: identical rows to the join form — even at " +
      "nBits=64 where the bloom saturates (false-positive flood) — and " +
      "the map-side closure is nBits/8 bytes regardless of gram count") {
    val exact = TextOps.decontaminate(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val bloom = TextOps.decontaminateBloom(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(bloom === exact, "bloom+confirm diverged from the join form")
    // exactness survives a saturated 64-bit bloom: every doc gets
    // flagged, the confirm join still yields the same rows
    val tiny = TextOps.decontaminateBloom(spark, sfDir, nBits = 64)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(tiny === exact, "a false-positive flood must not change rows")
    // the shipped closure is the bloom word array: exactly nBits/64
    // longs = nBits/8 bytes, INDEPENDENT of how many grams went in
    import spark.implicits._
    val nBits = 1 << 14
    def stateFor(rows: Seq[String]): Array[Long] =
      rows.toDF("gram")
        .agg(graft.functions.BloomSketch.sketchState(col("gram"), nBits, 4))
        .collect()(0).getSeq[Long](0).toArray
    val small = stateFor(Seq("a b"))
    val big = stateFor((1 to 5000).map(i => s"gram number $i here"))
    assert(small.length === nBits / 64 && big.length === nBits / 64)
    def serializedBytes(o: AnyRef): Int = {
      val bos = new java.io.ByteArrayOutputStream()
      val oos = new java.io.ObjectOutputStream(bos)
      oos.writeObject(o); oos.close(); bos.size()
    }
    assert(serializedBytes(big) <= nBits / 8 + 64,
      s"bloom closure must ship ~nBits/8 bytes, got ${serializedBytes(big)}")
    // and the pre-filter stage is the native probe, not shared_grams
    val plan = TextOps.decontaminateBloom(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("bloom_any_gram"), plan.take(800))
  }

  test("bpe merges: hand-computed fixture, boundary marker, tie-break, " +
      "determinism") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("bpe").toString
    // corpus: "low" ×5, "lower" ×2, "newest" ×6 — the Sennrich example.
    // word-end marker '·' appended; char pair counts:
    //   (w,e) = 2 (from lower) + 6 (from nEWEst) = 8  ← max
    //   (l,o) = 7, (o,w) = 5+2, (n,e)=(e,w)=(e,s)=(s,t)=(t,·) = 6, …
    // merge 0: (w,e)=8 → 'we'
    // merge 1: recount — (l,o)=7 is now the max → 'lo'
    // merge 2: five-way tie at 6: (e,we),(n,e),(s,t),(t,·),(we,s) →
    //   lexicographic smallest left 'e' → (e,we)
    val text = (Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
      Seq.fill(6)("newest")).mkString(" ")
    Seq((1L, text, "en")).toDF("doc_id", "text", "lang")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val got = TextOps.learnBpeMerges(spark, tmp, numMerges = 3,
        minFreq = 1L).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
      .sortBy(_._1)
    assert(got.toSeq === Seq(
      (0L, "w", "e", 8L),
      (1L, "l", "o", 7L),
      (2L, "e", "we", 6L)))
    // deterministic across invocations
    val again = TextOps.learnBpeMerges(spark, tmp, numMerges = 3,
      minFreq = 1L).collect().map(r =>
      (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3))).sortBy(_._1)
    assert(again.toSeq === got.toSeq)
    // merges never cross the word boundary: no left symbol ends with '·'
    assert(got.forall(m => !m._2.endsWith("·")))
  }

  test("bpe maxVocab cap: deterministic truncation by (freq desc, word)") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("bpecap").toString
    val text = (Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
      Seq.fill(6)("newest")).mkString(" ")
    Seq((1L, text, "en")).toDF("doc_id", "text", "lang")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    // maxVocab=2 keeps newest(6) + low(5), drops lower(2). Pair counts
    // over the truncated dict peak in a six-way tie at 6 (all newest
    // pairs) — lexicographic (left, right) tie-break walks:
    //   merge 0: (e,s)  merge 1: (e,w)  merge 2: (es,t)
    def run() = TextOps.learnBpeMerges(spark, tmp, numMerges = 3,
        minFreq = 1L, maxVocab = 2).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
      .sortBy(_._1).toSeq
    val got = run()
    assert(got === Seq(
      (0L, "e", "s", 6L),
      (1L, "e", "w", 6L),
      (2L, "es", "t", 6L)), got.toString)
    assert(run() === got, "cap truncation must be deterministic")
    // a cap above the dictionary is a no-op: identical to uncapped golden
    val wide = TextOps.learnBpeMerges(spark, tmp, numMerges = 3,
        minFreq = 1L, maxVocab = 1000).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
      .sortBy(_._1).toSeq
    assert(wide === Seq((0L, "w", "e", 8L), (1L, "l", "o", 7L),
      (2L, "e", "we", 6L)))
  }

  test("applyBpe: greedy lowest-rank-first encoding on a known case") {
    // ranks: (l,o)=0 (lo,w)=1 (e,r)=2 — "lower" must merge rank order:
    // l o w e r · → lo w e r · → low e r · → low er ·
    val ranks = Map(("l", "o") -> 0, ("lo", "w") -> 1, ("e", "r") -> 2)
    assert(TextOps.applyBpe("lower", ranks).toSeq ===
      Seq("low", "er", "·"))
    // unknown word → characters + boundary marker, untouched
    assert(TextOps.applyBpe("xyz", ranks).toSeq === Seq("x", "y", "z", "·"))
    // encoding with the corpus-learned table round-trips concatenation
    val learned = TextOps.learnBpeMerges(spark, sfDir).collect()
      .map(r => (r.getString(1), r.getString(2)) -> r.getLong(0).toInt).toMap
    Seq("lower", "growth", "analysis").foreach { w =>
      assert(TextOps.applyBpe(w, learned).mkString === w + "·",
        s"tokens of '$w' must concatenate back to the word")
    }
  }

  test("pii redact: planted emails/phones, cascade order, counts") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("pii").toString
    Seq(
      (1L, "mail a.user+tag@example.co.uk or call +1 (555) 123-4567 now"),
      (2L, "two addrs: x@y.org z@w.io"),
      (3L, "no pii here at all"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val got = TextOps.piiRedact(spark, tmp).collect()
      .map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got(1L)._2 === 1L && got(1L)._3 === 1L)
    assert(got(1L)._1 === "mail <EMAIL> or call <PHONE> now")
    assert(got(2L) === (("two addrs: <EMAIL> <EMAIL>", 2L, 0L)))
    assert(got(3L) === (("no pii here at all", 0L, 0L)))
  }

  test("char entropy: known values, degenerate texts, bounds") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("entropy").toString
    Seq((1L, "aabb"),       // two equiprobable symbols → exactly 1 bit
      (2L, "abcd"),         // four equiprobable → exactly 2 bits
      (3L, "aaaa"),         // single symbol → 0
      (4L, ""),             // empty → 0 by definition (guard path)
      (5L, "aab"))          // p=(2/3,1/3) → 0.9183
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val got = TextOps.charEntropy(spark, tmp).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got(1L) === 1.0)
    assert(got(2L) === 2.0)
    assert(got(3L) === 0.0)
    assert(got(4L) === 0.0)
    assert(got(5L) === 0.9183)
    // real corpus: entropy of n distinct chars is bounded by log2(n)
    val corpus = TextOps.charEntropy(spark, sfDir).collect()
    assert(corpus.forall(r => r.getDouble(1) >= 0.0 && r.getDouble(1) < 8.0))
    // scale guard: a per-row signal must stay a narrow map — no shuffle,
    // no UDF, one codegen span over the scan
    val plan = TextOps.charEntropy(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan.take(1500))
    assert(!plan.contains("BatchEvalPython") && !plan.contains("ScalaUDF"),
      plan.take(1500))
  }

  test("bm25: term-frequency saturating rank order, non-matching docs absent") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("bm25").toString
    Seq((1L, "join join join scan x", "en"), // most query mass
      (2L, "join y z w v", "en"),            // one term, same length
      (3L, "nothing relevant here", "en"))   // no query terms → no row
      .toDF("doc_id", "text", "lang")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val got = TextOps.bm25(spark, tmp).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got.keySet === Set(1L, 2L))
    assert(got(1L) > got(2L), s"tf-heavier doc must outrank: $got")
    assert(got.values.forall(_ > 0.0))
  }
  test("invertedIndex: df prune, rank cap, and bounded window partitions") {
    import org.apache.spark.sql.functions._
    val idx = TextOps.invertedIndex(spark, sfDir, maxDf = 5000,
      maxPostings = 5)
    val rows = idx.collect()
    assert(rows.nonEmpty)
    // every term's postings: <= maxPostings, ranks dense from 1,
    // tf non-increasing along rank
    rows.groupBy(_.getString(0)).foreach { case (w, ps) =>
      val byRank = ps.sortBy(_.getInt(4))
      assert(byRank.length <= 5, s"$w postings capped")
      assert(byRank.map(_.getInt(4)).toSeq === (1 to byRank.length), w)
      val tfs = byRank.map(_.getLong(3)).toSeq
      assert(tfs === tfs.sorted.reverse, s"$w tf-descending")
    }
    // the df prune drops hot terms entirely
    val pruned = TextOps.invertedIndex(spark, sfDir, maxDf = 1)
    val maxDfKept = if (pruned.isEmpty) 0L
      else pruned.agg(max("df")).head().getLong(0)
    assert(maxDfKept <= 1L, "maxDf must prune hot terms")
  }

  test("perplexity buckets apply the fixed cutoffs to every scored doc") {
    val scores = TextOps.unigramLogProb(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val got = TextOps.perplexityBuckets(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getString(2)))
    assert(got.length === scores.size, "one bucket row per scored doc")
    got.foreach { case (id, lp, bucket) =>
      assert(lp === scores(id))
      val expect = if (lp >= -3.39985) "head"
        else if (lp >= -3.40395) "middle" else "tail"
      assert(bucket === expect, s"doc $id lp=$lp")
    }
    // the split is a narrow map after scoring: no window in the plan
    val plan = TextOps.perplexityBuckets(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), "no global-rank window")
  }

  test("token fertility is the per-language token/word ratio") {
    val perDoc = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("lang"), col("text")).collect()
      .map { r =>
        val words = r.getString(1).split("\\s+").count(_.nonEmpty).toLong
        val toks = math.ceil(r.getString(1).length / 4.0).toLong
        (r.getString(0), words, toks)
      }
    val expect = perDoc.groupBy(_._1).map { case (lang, rows) =>
      val w = rows.map(_._2).sum
      val t = rows.map(_._3).sum
      lang -> (rows.length.toLong, w, t,
        BigDecimal(t.toDouble / w).setScale(4,
          BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
    val got = TextOps.tokenFertility(spark, sfDir).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    assert(got === expect)
    got.values.foreach { case (_, _, _, fert) => assert(fert > 0.0) }
  }

  test("rrf fusion: ranks match the standalone scorers, contributions " +
      "are 1/(k+rank), both-list docs sum both") {
    val topK = 20
    val bm = TextOps.bm25(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
      .sortBy { case (id, s) => (-s, id) }.take(topK).zipWithIndex
      .map { case ((id, _), i) => id -> (i + 1) }.toMap
    val ti = TextOps.tfIdf(spark, sfDir)
      .filter(col("word").isin("join", "scan", "filter"))
      .groupBy("doc_id").agg(round(sum("tfidf"), 4).as("s")).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
      .sortBy { case (id, s) => (-s, id) }.take(topK).zipWithIndex
      .map { case ((id, _), i) => id -> (i + 1) }.toMap
    val got = TextOps.rrfFusion(spark, sfDir).collect().map { r =>
      r.getLong(0) -> (Option(r.get(1)).map(_.asInstanceOf[Int]),
        Option(r.get(2)).map(_.asInstanceOf[Int]), r.getDouble(3))
    }.toMap
    assert(got.keySet === (bm.keySet ++ ti.keySet))
    got.foreach { case (id, (ra, rb, score)) =>
      assert(ra === bm.get(id), s"bm25 rank of $id")
      assert(rb === ti.get(id), s"tfidf rank of $id")
      val expect = ra.map(r => 1.0 / (60 + r)).getOrElse(0.0) +
        rb.map(r => 1.0 / (60 + r)).getOrElse(0.0)
      assert(math.abs(score - expect) < 1e-6, s"rrf score of $id")
    }
    // fusion is only interesting if the lists genuinely disagree some
    assert(got.exists { case (_, (ra, rb, _)) => ra.isDefined != rb.isDefined })
  }

  test("bm25/rrf: an empty query term is ignored, not rejected") {
    val terms = Seq("join", "scan", "filter")
    val withEmpty = Seq("join", "", "scan", "filter")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSet
    assert(rows(TextOps.bm25(spark, sfDir, withEmpty)) ===
      rows(TextOps.bm25(spark, sfDir, terms)))
    assert(rows(TextOps.rrfFusion(spark, sfDir, withEmpty)) ===
      rows(TextOps.rrfFusion(spark, sfDir, terms)))
    assert(TextOps.bm25(spark, sfDir, Seq("")).isEmpty,
      "only-empty terms score nothing")
  }

  test("bigram logprob: hand-computed stupid backoff, held-out docs hit " +
      "the backoff path, short docs score null") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("bigramlm").toString
    // train split = doc_id % 10 != 0 → docs 1, 2, 3 train; doc 10 held out
    Seq(
      (1L, "a b a b"), // bigrams (a,b)x2 (b,a)
      (2L, "a b c"),   // bigrams (a,b) (b,c)
      (3L, "solo"),    // no bigrams; contributes the unigram 'solo'
      (10L, "a b z b") // held out: (a,b) seen, (b,z)/(z,b) unseen
    ).map { case (id, t) => (id, t, "en") }.toDF("doc_id", "text", "lang")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    // train counts: cu a=3 b=3 c=1 solo=1, N=8, V=4; cb (a,b)=3 (b,a)=1 (b,c)=1
    val got = TextOps.bigramLogProb(spark, tmp).collect()
      .map(r => r.getLong(0) -> r).toMap
    def r4(x: Double) = BigDecimal(x).setScale(4,
      BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got(3L).getLong(1) === 0L && got(3L).getLong(2) === 0L)
    assert(got(3L).isNullAt(3), "no-bigram doc scores null")
    assert(got(1L).getLong(2) === 0L, "train doc never backs off")
    assert(got(1L).getDouble(3) ===
      r4((math.log(3.0 / 3) + math.log(1.0 / 3) + math.log(3.0 / 3)) / 3))
    assert(got(2L).getDouble(3) ===
      r4((math.log(3.0 / 3) + math.log(1.0 / 3)) / 2))
    // held-out doc: (a,b) bigram path; (b,z) unseen word backoff
    // 0.4*(0+1)/(8+4); (z,b) unseen-bigram backoff 0.4*(3+1)/(8+4)
    assert(got(10L).getLong(2) === 2L, "two backoff positions")
    assert(got(10L).getDouble(3) === r4((math.log(3.0 / 3) +
      math.log(0.4 * 1 / 12) + math.log(0.4 * 4 / 12)) / 3))
  }

  test("ngramNovelty: within-doc distinct grams, corpus df=1 share, " +
      "short docs report null") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("novelty").toString
    Seq(
      (1L, "a b c d"),     // grams: "a b c" (df 2), "b c d" (df 1)
      (2L, "a b c x y"),   // grams: "a b c", "b c x", "c x y"
      (3L, "z z"),         // < 3 words: no grams, null novelty
      (4L, "a b a b a b")  // repeated grams collapse: {"a b a","b a b"}
    ).map { case (id, t) => (id, t, "en", "s0") }
      .toDF("doc_id", "text", "lang", "source")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val got = TextOps.ngramNovelty(spark, tmp).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(got(1L).getLong(3) === 2L && got(1L).getLong(4) === 1L)
    assert(got(1L).getDouble(5) === 0.5)
    assert(got(2L).getLong(3) === 3L && got(2L).getLong(4) === 2L)
    assert(got(2L).getDouble(5) === 0.6667)
    assert(got(3L).getLong(3) === 0L && got(3L).isNullAt(5),
      "short doc kept with null novelty")
    // doc 4's duplicated trigrams count ONCE within the doc, and since no
    // other doc has them their df is 1 → fully novel
    assert(got(4L).getLong(3) === 2L && got(4L).getDouble(5) === 1.0)
  }

  test("sourceDivergence: identical sources at 0, disjoint sources " +
      "higher, all pairs finite within [0, ln 2]") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("jsdiv").toString
    Seq(
      (1L, "cat dog cat bird", "s1"), (2L, "dog bird", "s1"),
      (3L, "cat dog cat bird", "s2"), (4L, "dog bird", "s2"),
      (5L, "quark gluon lepton quark", "s3"), (6L, "gluon boson", "s3")
    ).map { case (id, t, src) => (id, t, "en", src) }
      .toDF("doc_id", "text", "lang", "source")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val got = TextOps.sourceDivergence(spark, tmp).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    assert(got.size === 3, "3 unordered source pairs")
    assert(got(("s1", "s2")) === 0.0, "identical word mixes diverge by 0")
    assert(got(("s1", "s3")) > got(("s1", "s2")),
      "disjoint vocabulary must diverge more than identical")
    got.foreach { case (pair, js) =>
      assert(js >= 0.0 && js <= math.log(2.0) + 1e-9,
        s"$pair JS=$js outside [0, ln 2]")
    }
  }
}

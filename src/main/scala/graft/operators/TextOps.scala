package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text-analysis operators for a large-scale training-data pipeline over the
  * `documents` table: per-document statistics, token counting, quality
  * scoring, language identification, and document fingerprinting.
  *
  * Scale notes: every operator here is a narrow (no-shuffle) per-row map over
  * codegen'd built-in expressions, except langProfile (one partial-agg
  * shuffle on a low-cardinality key). Nothing collects to the driver; all
  * plans are a single WholeStageCodegen span over the parquet scan.
  */
object TextOps {

  private def docs(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)

  /** Whitespace word count — ONE definition corpus-wide: tokens of a
    * `\s+` split with empties dropped, the same tokenization
    * [[words]]/shingling uses. (The previous spaces+1 arithmetic agreed
    * on this corpus's single-space texts but silently diverged from the
    * split-based operators on real text with tabs/newlines — n_words
    * must mean the same thing in qualityScore, gopherRepetition, and
    * cleanCorpus. Spec-pinned on a tab/newline fixture in TextOpsSpec.) */
  private[operators] val nWords =
    size(filter(split(col("text"), "\\s+"), w => length(w) > 0)).cast("long")

  /** Per-document size statistics: chars, bytes, words, avg word length. */
  def textStats(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir).select(
      col("doc_id"),
      length(col("text")).cast("long").as("n_chars"),
      octet_length(col("text")).cast("long").as("n_bytes"),
      nWords.as("n_words"),
      round(length(regexp_replace(col("text"), "\\s+", "")).cast("double") /
        nWords.cast("double"), 4).as("avg_word_len"))

  /** Token counting: whitespace tokens + a BPE-ish chars/4 estimate (the
    * standard heuristic: one subword token ≈ 4 chars of English text). */
  def tokenCount(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir).select(
      col("doc_id"),
      nWords.as("ws_tokens"),
      ceil(length(col("text")).cast("double") / lit(4.0)).cast("long")
        .as("approx_bpe_tokens"))

  /** Corpus language profile: per declared language, doc count + size stats. */
  def langProfile(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        round(avg("n_chars"), 2).as("avg_chars"),
        min("n_chars").as("min_chars"),
        max("n_chars").as("max_chars"))

  /** Quality scoring: length-based score + categorical flag, the shape of a
    * filtering pass in a pretraining pipeline (keep `flag = 'ok'`). */
  def qualityScore(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir).select(
      col("doc_id"),
      nWords.as("n_words"),
      round(least(nWords, lit(200L)).cast("double") / lit(200.0), 4)
        .as("quality"),
      when(nWords < 30, "short").when(nWords > 150, "long")
        .otherwise("ok").as("flag"))

  /** Stopword hit count over `text` — shared with [[QualityModel]]'s
    * feature vector so model and heuristic agree on the signal. */
  private[operators] def stopHitsExpr: Column =
    Seq(" the ", " and ", " of ", " a ").map { w =>
      expr(s"(length(concat(' ', text, ' ')) - " +
        s"length(replace(concat(' ', text, ' '), '$w', ''))) DIV ${w.length}")
    }.reduce(_ + _)

  /** Stopword-based quality signals: stopword hit count and ratio — the
    * classic "is this natural language" pretraining filter. Pure portable
    * string arithmetic (replace + length), identical in any ANSI engine;
    * occurrence counting is leftmost non-overlapping in both Spark and
    * DuckDB so the oracle matches exactly. */
  def stopwordQuality(spark: SparkSession, dir: String): DataFrame = {
    val hits = stopHitsExpr
    docs(spark, dir).select(
      col("doc_id"),
      hits.cast("long").as("stop_hits"),
      nWords.as("n_words"),
      round(hits.cast("double") / nWords.cast("double"), 4).as("stop_ratio"))
  }

  /** Repetition ratio — the duplicate-token fraction of each document
    * (1 − distinct/total words), the boilerplate/spam signal in
    * Gopher-style quality rule sets: machine-generated and template text
    * repeats tokens far above prose rates. Pure array expressions over
    * one split, shuffle-free; the `filter` lambda is interpreted
    * (`CodegenFallback`), once per word. */
  def repetition(spark: SparkSession, dir: String): DataFrame = {
    val words = filter(split(col("text"), "\\s+"), w => length(w) > 0)
    val n = size(words)
    docs(spark, dir).select(
      col("doc_id"),
      n.cast("long").as("n_words"),
      size(array_distinct(words)).cast("long").as("n_distinct"),
      when(n === 0, lit(0.0)).otherwise(
        round(lit(1.0) - size(array_distinct(words)).cast("double") /
          n.cast("double"), 4)).as("rep_ratio"))
  }

  /** Gopher-rule repetition signals (Rae et al. 2021 §A1.1): the
    * duplicate-line fraction and the share of tokens taken by the single
    * most frequent word / 2-gram — the filters that catch templated and
    * machine-generated text that per-token ratios miss.
    *
    * Shape at scale: the line signal is a narrow split/distinct per row;
    * the n-gram modes are explode → partial-agg on (doc_id, gram) →
    * final agg on doc_id — two keyed shuffles with map-side combine, so
    * the exploded token stream never materializes unreduced. Only the
    * top COUNT is needed (not the winning gram), so there is no
    * tie-break nondeterminism. Docs with no words / no bigrams fall out
    * of the aggregation and re-enter via left join as 0.0. */
  def gopherRepetition(spark: SparkSession, dir: String): DataFrame = {
    val words = filter(split(col("text"), "\\s+"), w => length(w) > 0)
    val base = docs(spark, dir).select(col("doc_id"), words.as("w"),
      split(col("text"), "\n").as("lines"))
    val dupLines = base.select(col("doc_id"),
      when(size(col("lines")) === 0, lit(0.0)).otherwise(
        round(lit(1.0) -
          size(array_distinct(col("lines"))).cast("double") /
          size(col("lines")).cast("double"), 4)).as("dup_line_frac"))
    def topFrac(grams: DataFrame, out: String): DataFrame =
      grams.groupBy("doc_id", "g").agg(count(lit(1)).as("c"))
        .groupBy("doc_id")
        .agg(round(max("c").cast("double") / sum("c").cast("double"), 4)
          .as(out))
    val wordTop = topFrac(
      base.select(col("doc_id"), explode(col("w")).as("g")), "twf")
    val bigramTop = topFrac(
      base.filter(size(col("w")) >= 2).select(col("doc_id"),
        explode(transform(sequence(lit(1), size(col("w")) - 1), i =>
          concat_ws(" ", slice(col("w"), i, lit(2))))).as("g")), "tbf")
    dupLines
      .join(wordTop, Seq("doc_id"), "left")
      .join(bigramTop, Seq("doc_id"), "left")
      .select(col("doc_id"), col("dup_line_frac"),
        coalesce(col("twf"), lit(0.0)).as("top_word_frac"),
        coalesce(col("tbf"), lit(0.0)).as("top_bigram_frac"))
  }

  /** BPE merge learning — tokenizer induction over the corpus (Sennrich
    * et al., ACL 2016). The key scale fact: BPE training needs only the
    * WORD-FREQUENCY dictionary, not the corpus — so the distributed part
    * is ONE partial-agg shuffle (word counts, `minFreq`-pruned), and the
    * merge loop runs driver-side over that bounded dictionary, exactly
    * how production tokenizer trainers consume a 100 TB corpus (count
    * distributed, induce centrally). Deterministic: the best pair is
    * max-frequency with lexicographic (left, right) tie-break.
    * Output: one row per learned merge (rank, left, right, pair_freq).
    * Correctness: deterministic on a fixed corpus — golden-VALUES oracle
    * (the loop is not expressible in SQL), spec-pinned semantics on a
    * hand-computed fixture.
    *
    * `maxVocab` bounds the DRIVER-side dictionary: at web scale even the
    * minFreq-pruned distinct-word table can exceed driver RAM, so only
    * the top `maxVocab` words by (freq desc, word asc) are collected —
    * a `TakeOrdered`, one bounded result regardless of corpus size. This
    * is standard trainer practice (merges are driven by high-frequency
    * words; the long tail contributes noise-level pair counts), and the
    * (freq, word) total order keeps the truncation deterministic. The
    * default sits far above any fixture dictionary, so results are
    * unchanged until the bound actually binds. */
  def learnBpeMerges(spark: SparkSession, dir: String, numMerges: Int = 20,
      minFreq: Long = 2L, maxVocab: Int = 1000000): DataFrame = {
    require(maxVocab > 0, "maxVocab must be positive")
    val wordFreq: Array[(Array[String], Long)] =
      words(spark, dir).groupBy("word").agg(count(lit(1)).as("freq"))
        .filter(col("freq") >= minFreq)
        .orderBy(col("freq").desc, col("word").asc)
        .limit(maxVocab)
        .collect()
        // '·' marks the word end so merges can't cross word boundaries
        .map(r => (r.getString(0).split("").filter(_.nonEmpty) :+ "·",
          r.getLong(1)))
    var dict = wordFreq
    val merges = Seq.newBuilder[(Int, String, String, Long)]
    var rank = 0
    var done = false
    while (rank < numMerges && !done) {
      val pairCounts = scala.collection.mutable.Map.empty[(String, String), Long]
      dict.foreach { case (symbols, f) =>
        var i = 0
        while (i < symbols.length - 1) {
          val key = (symbols(i), symbols(i + 1))
          pairCounts.update(key, pairCounts.getOrElse(key, 0L) + f)
          i += 1
        }
      }
      if (pairCounts.isEmpty) done = true
      else {
        // max frequency; ties → lexicographically smallest (left, right)
        val ((l, r), f) = pairCounts
          .minBy { case ((pl, pr), pf) => (-pf, pl, pr) }
        if (f < minFreq) done = true
        else {
          merges += ((rank, l, r, f))
          val merged = l + r
          dict = dict.map { case (symbols, wf) =>
            val out = scala.collection.mutable.ArrayBuffer.empty[String]
            var i = 0
            while (i < symbols.length) {
              if (i < symbols.length - 1 && symbols(i) == l &&
                  symbols(i + 1) == r) {
                out += merged; i += 2
              } else { out += symbols(i); i += 1 }
            }
            (out.toArray, wf)
          }
          rank += 1
        }
      }
    }
    import spark.implicits._
    merges.result().toDF("rank", "merge_left", "merge_right", "pair_freq")
      .select(col("rank").cast("long").as("rank"), col("merge_left"),
        col("merge_right"), col("pair_freq"))
  }

  /** Apply learned BPE merges to one word (greedy lowest-rank-first —
    * the standard encoding algorithm). Exposed for specs. */
  def applyBpe(word: String, ranks: Map[(String, String), Int]): Array[String] = {
    var symbols = word.split("").filter(_.nonEmpty) :+ "·"
    var done = false
    while (!done && symbols.length > 1) {
      var best = Int.MaxValue
      var at = -1
      var i = 0
      while (i < symbols.length - 1) {
        val r = ranks.getOrElse((symbols(i), symbols(i + 1)), Int.MaxValue)
        if (r < best) { best = r; at = i }
        i += 1
      }
      if (at < 0) done = true
      else symbols = (symbols.take(at) :+ (symbols(at) + symbols(at + 1))) ++
        symbols.drop(at + 2)
    }
    symbols
  }

  /** Corpus token-frequency table under the LEARNED tokenizer — the
    * apply half of [[learnBpeMerges]]: encode with the merge table and
    * count. Scale shape: tokenization runs once per DISTINCT word (the
    * word-count aggregate comes first, so the UDF touches the dictionary,
    * not the token stream), then token counts ride a second small keyed
    * shuffle weighted by word frequency. Top-k ties break on the token
    * string, so the result is deterministic → golden-VALUES oracle. */
  def bpeTokenize(spark: SparkSession, dir: String, numMerges: Int = 20,
      minFreq: Long = 2L, topK: Int = 20, maxVocab: Int = 1000000): DataFrame = {
    val ranks: Map[(String, String), Int] =
      learnBpeMerges(spark, dir, numMerges, minFreq, maxVocab).collect()
        .map(r => (r.getString(1), r.getString(2)) -> r.getLong(0).toInt)
        .toMap
    val bc = spark.sparkContext.broadcast(ranks)
    val tokenizeUdf = udf((w: String) => applyBpe(w, bc.value))
    words(spark, dir).groupBy("word").agg(count(lit(1)).as("freq"))
      .select(explode(tokenizeUdf(col("word"))).as("token"), col("freq"))
      .groupBy("token").agg(sum("freq").as("n"))
      .orderBy(col("n").desc, col("token"))
      .limit(topK)
  }

  /** Character-class quality signals — the punct/caps/digit ratios that,
    * with [[stopwordQuality]]'s stopword ratio and [[qualityScore]]'s
    * length score, make up the classic "is this natural prose" filter
    * (boilerplate/code/tables skew punct+digit high; shouting skews caps).
    * Pure regexp_replace + length arithmetic: codegen'd, shuffle-free,
    * and expressible verbatim in the oracle. */
  def charClassQuality(spark: SparkSession, dir: String): DataFrame = {
    // empty text → 0.0 ratios (not a division by zero, which ANSI mode
    // throws on and which would diverge from the oracle's same guard)
    def ratio(pattern: String) =
      when(length(col("text")) === 0, lit(0.0)).otherwise(
        round((length(col("text")) -
          length(regexp_replace(col("text"), pattern, ""))).cast("double") /
          length(col("text")).cast("double"), 4))
    docs(spark, dir).select(
      col("doc_id"),
      length(col("text")).cast("long").as("n_chars"),
      ratio("[.,;:!?]").as("punct_ratio"),
      ratio("[A-Z]").as("upper_ratio"),
      ratio("[0-9]").as("digit_ratio"))
  }

  /** N-gram heuristic language ID. Scores each language by hits of its most
    * frequent words/character patterns in the document; deterministic and
    * driver-free (pure column expressions, codegen'd — no UDF).
    * A real pipeline would use trained trigram profiles; the operator shape
    * (per-row scoring over K language profiles, argmax) is identical. */
  /** Built-in language profiles: language → characteristic tokens. Shared
    * with the `q_lang_id` DuckDB oracle in SparkEntry (argmax over the same
    * (score, lang) structs — keep in sync). */
  private[graft] val langProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq(" the ", " and ", " of ", " is "),
    "de" -> Seq(" der ", " und ", " die ", " ist "),
    "fr" -> Seq(" le ", " la ", " et ", " est "),
    "es" -> Seq(" el ", " de ", " que ", " es "),
    "zh" -> Seq("的", "是", "了", "在"))

  def langId(spark: SparkSession, dir: String): DataFrame = {
    val profiles = langProfiles
    val padded = concat(lit(" "), lower(col("text")), lit(" "))
    def score(tokens: Seq[String]) =
      tokens.map(t => when(padded.contains(t), 1).otherwise(0))
        .reduce(_ + _)
    val scored = profiles.foldLeft(docs(spark, dir)) { case (df, (lang, toks)) =>
      df.withColumn(s"score_$lang", score(toks))
    }
    val best = profiles.map { case (lang, _) =>
      struct(col(s"score_$lang").as("s"), lit(lang).as("l"))
    }
    scored.select(
      col("doc_id"), col("lang").as("declared_lang"),
      when(greatest(best: _*).getField("s") > 0,
        greatest(best: _*).getField("l")).otherwise("und").as("predicted_lang"))
  }

  /** Language-ID CONFUSION MATRIX — the quality audit of [[langId]]
    * against the declared labels: (declared, predicted, n, share-of-
    * declared). The operational read: off-diagonal mass is either
    * classifier error (tune profiles) or LABEL error (the upstream
    * metadata lied — at 100 TB crawl scale both happen constantly, and
    * this matrix is how a curation run decides which langs need manual
    * audit before mixture weights trust the labels). Same one-pass
    * classifier projection, one extra keyed agg (|langs|² output). */
  def langIdConfusion(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    langId(spark, dir)
      .groupBy(col("declared_lang"), col("predicted_lang"))
      .agg(count(lit(1)).as("n"))
      .withColumn("share", round(col("n").cast("double") /
        sum(col("n")).over(Window.partitionBy("declared_lang"))
          .cast("double"), 4))
  }

  /** Document fingerprinting via winnowing (Schleimer et al., SIGMOD'03):
    * rolling Karp-Rabin hashes of k-grams, keep the min hash in each window
    * → a compact, position-robust fingerprint set per document.
    * Implemented as a deterministic Scala UDF (pure function of the text;
    * no state, no I/O) — candidate for a Catalyst Expression upgrade. */
  def fingerprintSet(text: String, k: Int = 8, window: Int = 4): Seq[Long] = {
    if (text == null || text.length < k) return Seq.empty
    // base/modulus chosen so every product fits in a Long (operands < 2^31)
    val B = 131L
    val Mod = 1000000007L
    // rolling hash of every k-gram
    var pow = 1L
    var i = 0
    while (i < k - 1) { pow = pow * B % Mod; i += 1 }
    val n = text.length - k + 1
    val hashes = new Array[Long](n)
    var h = 0L
    i = 0
    while (i < k) { h = (h * B + text.charAt(i)) % Mod; i += 1 }
    hashes(0) = h
    i = 1
    while (i < n) {
      h = (h + Mod - text.charAt(i - 1) * pow % Mod) % Mod
      h = (h * B + text.charAt(i + k - 1)) % Mod
      hashes(i) = h
      i += 1
    }
    // winnow: min of each window (rightmost min), dedup consecutive picks
    val out = scala.collection.mutable.LinkedHashSet.empty[Long]
    i = 0
    val lastStart = n - window
    if (lastStart < 0) return Seq(hashes.min)
    while (i <= lastStart) {
      var m = hashes(i); var j = i + 1
      while (j < i + window) { if (hashes(j) <= m) m = hashes(j); j += 1 }
      out += m
      i += 1
    }
    out.toSeq
  }

  /** Native codegen fingerprint column ([[graft.functions.WinnowExpression]]
    * — no UDF serialization boundary; equivalence to [[fingerprintSet]] is
    * spec-pinned in `WinnowExpressionSpec`). */
  private def fpNative = graft.functions.WinnowExpression.native(col("text"))

  /** Fingerprint operator, exploded to scalar rows (doc_id, fp_hash) — one
    * row per distinct winnowed hash. The scalar shape is directly
    * comparable/joinable (and is what a containment-overlap join between
    * two corpora consumes); the expression runs once per document (the
    * generator consumes the single materialized array). */
  def fingerprints(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir).select(
      col("doc_id"), explode(fpNative).as("fp_hash"))

  /** Array-shaped fingerprints: doc_id → sorted hash set + count. The
    * expression is computed once; `n_grams` derives from the materialized
    * column. */
  def fingerprintArrays(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .select(col("doc_id"), fpNative.as("fingerprint"))
      .withColumn("n_grams", size(col("fingerprint")))

  /** One row per (doc, token), \s+ split, empty tokens dropped — the
    * exploded word stream the frequency operators share. Narrow map +
    * generator; the shuffle happens in the consumer's aggregation. */
  private[operators] def words(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir).select(col("doc_id"), col("lang"),
      explode(filter(split(col("text"), "\\s+"), w => length(w) > 0))
        .as("word"))

  /** Query-term-SCOPED word stream (r17): the `isin` membership test
    * runs INSIDE the token array, before the generator, so only
    * matching tokens ever become rows — `words().filter(isin)` paid the
    * per-row generator for every token of the corpus and then dropped
    * almost all of them. Row-identical to
    * `words(spark, dir).filter(col("word").isin(terms: _*))`: that
    * form drops empty tokens, so an empty query term never matches, and
    * dropping '' from the terms here keeps the length>0 filter
    * subsumed. */
  private def scopedWords(spark: SparkSession, dir: String,
      terms: Seq[String]): DataFrame = {
    val nonEmpty = terms.filter(_.nonEmpty)
    docs(spark, dir).select(col("doc_id"),
      explode(filter(split(col("text"), "\\s+"), w => w.isin(nonEmpty: _*)))
        .as("word"))
  }

  /** Unigram log-probability scoring — the poor-man's LM quality filter
    * (the CCNet recipe's shape with a unigram model instead of a trained
    * LM): score each document by the mean log corpus-frequency of its
    * words; gibberish and rare-token spam score far below prose.
    * Plan: unigram counts = one partial-agg shuffle on word; the corpus
    * total rides in as a broadcast 1-row cross join (declarative — no
    * driver-side action, no single-partition window); per-doc mean = one
    * shuffle on doc_id. All column arithmetic, no UDF. */
  def unigramLogProb(spark: SparkSession, dir: String): DataFrame = {
    val w = words(spark, dir).select("doc_id", "word")
    val counts = w.groupBy("word").agg(count(lit(1)).as("cnt"))
    val total = w.agg(count(lit(1)).cast("double").as("total"))
    w.join(counts, Seq("word"))
      .crossJoin(broadcast(total))
      .groupBy("doc_id")
      .agg(count(lit(1)).cast("long").as("n_words"),
        round(avg(log(col("cnt").cast("double") / col("total"))), 4)
          .as("avg_logprob"))
  }

  /** Benchmark decontamination — flag corpus documents sharing any word
    * `n`-gram with an evaluation set (here: the docs below
    * `benchmarkMaxId`, standing in for an external benchmark table) and
    * count the shared grams. THE pre-training hygiene op: a training doc
    * that contains an eval question verbatim poisons the benchmark.
    * Scale shape: the eval side is SMALL by nature (benchmarks are
    * thousands of items, not terabytes) — its distinct gram set
    * broadcasts, so the corpus side is one narrow explode + a broadcast
    * semi-ish join + per-doc agg; the 100 TB side never shuffles its
    * gram stream. Short docs (< n words) collapse to a whole-text gram
    * ([[graft.operators.Dedup.shingleArray]] semantics). */
  def decontaminate(spark: SparkSession, dir: String,
      benchmarkMaxId: Long = 10L, n: Int = 8): DataFrame = {
    val d = docs(spark, dir)
    def grams(df: DataFrame): DataFrame =
      df.select(col("doc_id"),
        explode(graft.operators.Dedup.shingleArray(col("text"), n))
          .as("gram"))
    val bench = grams(d.filter(col("doc_id") < benchmarkMaxId))
      .select("gram").distinct()
    grams(d.filter(col("doc_id") >= benchmarkMaxId))
      .join(broadcast(bench), Seq("gram"))
      .groupBy("doc_id")
      .agg(countDistinct(col("gram")).as("n_shared_grams"))
  }

  /** [[decontaminate]] with the corpus side collapsed to ONE codegen'd
    * map ([[graft.functions.SharedGramsExpression]]): the benchmark's
    * distinct gram set — small by nature, the same payload the join
    * form broadcasts — is driver-collected once and rides inside the
    * expression, so the corpus side is scan → project → filter with NO
    * Generate, no join, no aggregate, no shuffle (the gram row-burst
    * the declarative form pays ×n_words per doc disappears). Output
    * identical to [[decontaminate]] row-for-row (spec-pinned; same
    * tokenization and distinct-count semantics), ~3× faster at sf0.1.
    * At 100 TB the contract is the usual one: eval sets are thousands
    * of items (MBs of grams) — when a blocklist outgrows executor
    * closures, use [[decontaminateBloom]] (fixed-size bloom pre-filter
    * map-side, exact confirm join on the flagged sliver). */
  def decontaminateFast(spark: SparkSession, dir: String,
      benchmarkMaxId: Long = 10L, n: Int = 8): DataFrame = {
    val d = docs(spark, dir)
    val benchGrams = d.filter(col("doc_id") < benchmarkMaxId)
      .select(explode(graft.operators.Dedup.shingleArray(col("text"), n))
        .as("gram"))
      .distinct().collect().map(_.getString(0))
    val set = new java.util.HashSet[String](benchGrams.length * 2)
    benchGrams.foreach(set.add)
    d.filter(col("doc_id") >= benchmarkMaxId)
      .select(col("doc_id"),
        graft.functions.SharedGramsExpression.native(col("text"), set, n)
          .as("n_shared_grams"))
      .filter(col("n_shared_grams") > 0)
  }

  /** [[decontaminate]] for blocklists TOO BIG for executor closures —
    * the escape hatch [[decontaminateFast]]'s contract names. Two
    * stages, exact by construction:
    *
    *  1. MAP-SIDE bloom pre-filter: the benchmark gram set folds into a
    *     single bloom state (`nBits/8` bytes — a fixed size chosen up
    *     front, regardless of how many grams went in) that rides inside
    *     a codegen'd expression ([[graft.functions
    *     .BloomAnyGramExpression]]); the 100 TB corpus scans once, no
    *     join, no gram row-burst, and only docs with a POSSIBLE shared
    *     gram survive. Bloom false negatives are impossible, so nothing
    *     real is lost here.
    *  2. EXACT confirm on the flagged sliver: the surviving docs — the
    *     true positives plus the bloom's false-positive rate of the
    *     corpus — run the same explode → join-with-bench-grams →
    *     per-doc distinct count as [[decontaminate]]. The bench gram
    *     table stays a TABLE (shuffle-joinable at any size; Catalyst/
    *     AQE still broadcasts it when it is actually small) — never a
    *     closure.
    *
    * Output ≡ [[decontaminate]] row-for-row (spec-pinned): stage-1
    * survivors that share nothing get zero confirm-join matches and
    * drop, exactly as the join form drops them. Size `nBits` ≈ 10× the
    * expected gram count for a ~1% false-positive sliver. */
  def decontaminateBloom(spark: SparkSession, dir: String,
      benchmarkMaxId: Long = 10L, n: Int = 8, nBits: Int = 1 << 20,
      numHashes: Int = 4): DataFrame = {
    val d = docs(spark, dir)
    def grams(df: DataFrame): DataFrame =
      df.select(col("doc_id"),
        explode(graft.operators.Dedup.shingleArray(col("text"), n))
          .as("gram"))
    val bench = grams(d.filter(col("doc_id") < benchmarkMaxId))
      .select("gram").distinct()
    val state = bench
      .agg(graft.functions.BloomSketch.sketchState(col("gram"), nBits,
        numHashes).as("s"))
      .collect()(0).getSeq[Long](0).toArray
    val flagged = d.filter(col("doc_id") >= benchmarkMaxId)
      .filter(graft.functions.BloomSketch.anyGramMightContain(
        col("text"), state, numHashes, n))
    grams(flagged)
      .join(bench, Seq("gram"))
      .groupBy("doc_id")
      .agg(countDistinct(col("gram")).as("n_shared_grams"))
  }

  /** TF-IDF term weighting — the classic relevance/quality signal of a
    * text pipeline. Plan: tf = one partial-agg shuffle on (doc, word);
    * df = a COUNT WINDOW over word on the tf frame (tf is unique per
    * (doc, word), so rows-per-word IS the document frequency) — single
    * lineage, so the scan+explode runs once (a tf⋈df self-join would
    * recompute it on both sides); the doc count joins in as a broadcast
    * 1-row frame (no driver-side collect). idf uses the smoothed
    * ln((N+1)/(df+1)) + 1 so unseen-term weights stay finite. */
  def tfIdf(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tf = words(spark, dir).groupBy("doc_id", "word")
      .agg(count(lit(1)).as("tf"))
    val withDf = tf.withColumn("df",
      count(lit(1)).over(Window.partitionBy("word")))
    val n = docs(spark, dir).agg(count(lit(1)).as("n_docs"))
    withDf.crossJoin(broadcast(n))
      .select(col("doc_id"), col("word"), col("tf"), col("df"),
        round(col("tf").cast("double") *
          (log((col("n_docs") + 1).cast("double") /
            (col("df") + 1).cast("double")) + 1.0), 4).as("tfidf"))
  }

  /** Per-language top-k terms by corpus frequency (heavy hitters) — ties
    * broken by word for determinism. One shuffle on (lang, word) with
    * map-side combine, then the rank's shuffle on lang; Spark pushes the
    * rank<=k limit into the sort (WindowGroupLimit). */
  def topTerms(spark: SparkSession, dir: String, k: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("lang")
      .orderBy(col("n").desc, col("word").asc)
    words(spark, dir).groupBy("lang", "word")
      .agg(count(lit(1)).as("n"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** Document-length histogram over fixed-width bins — the corpus shape
    * report a pipeline run starts and ends with. Fixed-width binning
    * (`floor(n_chars / width)`) deliberately instead of ntile/decile: a
    * global ntile needs a total sort (single-reducer at 100 TB), while a
    * fixed bin is a narrow map + one low-cardinality partial agg. */
  def lengthHistogram(spark: SparkSession, dir: String,
      width: Int = 50): DataFrame =
    docs(spark, dir)
      .groupBy(floor(length(col("text")) / width).as("bin"))
      .agg(count(lit(1)).as("n_docs"),
        min(length(col("text"))).cast("long").as("min_chars"),
        max(length(col("text"))).cast("long").as("max_chars"))

  /** Corpus bigram vocabulary: the k most frequent word 2-grams with
    * counts — the statistic a BPE/tokenizer-training pass starts from
    * (pair frequencies ARE the BPE merge criterion). Explode → one
    * partial-agg shuffle on the gram (map-side combine collapses the
    * token stream) → TakeOrdered top-k; ties broken by gram text so the
    * selected SET is deterministic. */
  def bigramVocab(spark: SparkSession, dir: String, k: Int = 50): DataFrame = {
    val w = filter(split(col("text"), "\\s+"), x => length(x) > 0)
    docs(spark, dir)
      .select(w.as("w")).filter(size(col("w")) >= 2)
      .select(explode(transform(sequence(lit(1), size(col("w")) - 1), i =>
        concat_ws(" ", slice(col("w"), i, lit(2))))).as("gram"))
      .groupBy("gram").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("gram").asc)
      .limit(k)
  }

  /** Email/phone regexes shared verbatim with the DuckDB oracle: the
    * common Java-regex ∩ RE2 subset (no backrefs, no lookaround), so both
    * engines match identically. */
  private[graft] val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private[graft] val PhoneRe = "\\+?[0-9][0-9()\\- ]{7,}[0-9]"

  /** PII scrub: replace emails and phone-number-shaped spans with typed
    * placeholders and count what was redacted (counts from the ORIGINAL
    * text; emails are replaced first so their digits can't double-count
    * as phones). Pure regexp column arithmetic — codegen'd, shuffle-free,
    * a narrow map over 100 TB. A production scrubber adds locale packs;
    * the operator shape (ordered regex cascade + audit counts) is this. */
  def piiRedact(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir).select(
      col("doc_id"),
      regexp_replace(
        regexp_replace(col("text"), EmailRe, "<EMAIL>"),
        PhoneRe, "<PHONE>").as("redacted"),
      size(regexp_extract_all(col("text"), lit(EmailRe), lit(0)))
        .cast("long").as("n_emails"),
      size(regexp_extract_all(
          regexp_replace(col("text"), EmailRe, "<EMAIL>"),
          lit(PhoneRe), lit(0)))
        .cast("long").as("n_phones"))

  /** Build-once fingerprint table — the same pattern as
    * `Dedup.materializeSignatures`: winnow the corpus ONCE, write the
    * scalar (doc_id, fp_hash) table to parquet, and let every consumer —
    * both sides of the containment self-join, the df/size windows,
    * cross-corpus overlap joins — SCAN it instead of re-running the
    * winnowing expression per lineage branch. At 100 TB this is the
    * difference between fingerprinting the corpus once and once per plan
    * branch. */
  def materializeFingerprints(spark: SparkSession, dir: String): String =
    Artifacts.dir("winnow_fps", (), docs(spark, dir)) { path =>
      fingerprints(spark, dir).write.mode("overwrite").parquet(path)
    }

  /** Build-once PRUNED fingerprint index — the production containment
    * artifact: (fp_hash, doc_id, n_fp) with boilerplate hashes
    * (df > maxDf) already dropped and each row carrying its doc's
    * PRUNED fingerprint count. Folding the hot-hash prune and the
    * per-doc sizes into the build (they are corpus-global facts, not
    * query-time choices) means the WARM containment plan is one
    * self-join plus one aggregate: no full-stream df aggregate, no
    * anti-join per branch, no size joins — the rows on both join sides
    * already carry n_a/n_b. At 100 TB the index is also strictly
    * smaller than the raw fingerprint table (the boilerplate tail is
    * gone), which every consumer pays for otherwise. */
  def materializePrunedFingerprints(spark: SparkSession, dir: String,
      maxDf: Int): String = {
    val fps = ParquetInput.read(spark, materializeFingerprints(spark, dir))
    Artifacts.dir("winnow_fps_pruned", maxDf, fps) { path =>
      val hot = fps.groupBy("fp_hash").agg(count(lit(1)).as("hash_df"))
        .filter(col("hash_df") > maxDf).select("fp_hash")
      val pruned = fps.join(hot, Seq("fp_hash"), "left_anti")
      pruned
        .join(pruned.groupBy("doc_id").agg(count(lit(1)).as("n_fp")),
          Seq("doc_id"))
        .write.mode("overwrite").parquet(path)
    }
  }

  /** Exact pair-enumeration volume of [[containmentPairs]]:
    * Σ_h df_h·(df_h−1)/2 over fingerprint hashes SURVIVING the
    * boilerplate prune (df ≤ maxDf) — the number of rows the fp_hash
    * self-join emits before any containment filter. The r14 scale
    * sweep measured this corpus at ×0.55/decade (fingerprints
    * diversify faster than docs), but a boilerplate-heavy corpus
    * (shared headers, license blocks, templated pages) saturates the
    * sub-cap df band and the term goes df² — the same hazard class
    * PairGuard already fences for setsim/edit. Computed from the
    * build-once fingerprint table (one map-side-combinable aggregate;
    * the join itself scans that table twice), built once per
    * (fingerprint table, maxDf) so warm calls run no aggregate. */
  def containmentCandidateEstimate(spark: SparkSession, dir: String,
      maxDf: Int): Double = {
    val fps = ParquetInput.read(spark, materializeFingerprints(spark, dir))
    Artifacts("containment_estimate", maxDf, fps) {
      val r = fps.groupBy("fp_hash").agg(count(lit(1)).as("df"))
        .filter(col("df") <= maxDf)
        .agg(sum(col("df") * (col("df") - 1L)).as("twice_pairs"))
        .head.get(0)
      if (r == null) 0.0 else r.asInstanceOf[Long].toDouble / 2.0
    }
  }

  /** Cross-document containment via winnowing fingerprints: pairs of
    * documents sharing fingerprint hashes, scored by
    * shared / min(|fp(a)|, |fp(b)|) — the copy/quotation detector of
    * Schleimer et al. (SIGMOD'03 §5), and the cross-corpus twin of the
    * MinHash near-dup pass (catches containment, which Jaccard dilutes).
    *
    * Scale shape: the candidate generator is an equi-join on fp_hash —
    * never all-pairs. Hashes shared by more than `maxDf` documents
    * (boilerplate grams) are pruned first via a broadcast anti-join, the
    * same hot-bucket cap as Dedup: a gram in thousands of docs carries no
    * pair signal but O(df²) join cost. Sizes use the pruned universe so
    * numerator and denominator agree (exact dups still score 1.0).
    *
    * Served from the build-once PRUNED fingerprint index
    * ([[materializePrunedFingerprints]]: (fp_hash, doc_id, n_fp), hot
    * hashes dropped, per-doc pruned sizes inline) — the production
    * shape: the warm plan is ONE self-join plus ONE aggregate
    * (winnow-free and full-stream-agg-free, spec-guarded
    * output-identical to [[containmentPairsRecompute]]). */
  def containmentPairs(spark: SparkSession, dir: String,
      maxDf: Int = 100, minContainment: Double = 0.5): DataFrame = {
    // pre-flight (r15, verdict task #6): price the df² join before it
    // runs; a saturated corpus refuses with the remedy named instead of
    // paying for the enumeration. Skips itself when the budget is off.
    if (PairGuard.budget(spark) > 0)
      PairGuard.check(spark, "containmentPairs",
        containmentCandidateEstimate(spark, dir, maxDf),
        "lower maxDf (each surviving hash's pair term is capped at " +
          "maxDf²/2 - the boilerplate band between your current cap and " +
          "the signal-bearing tail is what saturated), or use " +
          "minHashPairs for near-dup recall at scale")
    // index rows carry (fp_hash, doc_id, n_fp) with the prune and
    // sizes baked in at build time: both join sides bring their own
    // denominator, so the pair aggregate is the whole plan
    val idx = ParquetInput.read(spark,
      materializePrunedFingerprints(spark, dir, maxDf))
    val a = idx.select(col("fp_hash"), col("doc_id").as("doc_a"),
      col("n_fp").as("n_a"))
    val b = idx.select(col("fp_hash"), col("doc_id").as("doc_b"),
      col("n_fp").as("n_b"))
    a.join(b, Seq("fp_hash")).filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b", "n_a", "n_b")
      .agg(count(lit(1)).as("shared"))
      .select(col("doc_a"), col("doc_b"), col("shared"),
        round(col("shared").cast("double") /
          least(col("n_a"), col("n_b")).cast("double"), 4)
          .as("containment"))
      .filter(col("containment") >= minContainment)
  }

  /** Test reference for [[containmentPairs]]: the declarative form,
    * re-winnowing the corpus per call, no artifact. */
  private[operators] def containmentPairsRecompute(spark: SparkSession,
      dir: String, maxDf: Int = 100,
      minContainment: Double = 0.5): DataFrame = {
    // Plan shape (round-8 rewrite, was two COUNT WINDOWS): the windowed
    // form shuffled the FULL fingerprint stream twice (fp_hash window,
    // then doc_id window) and — because both self-join branches hang off
    // the same unpersisted frame — executed that entire pipeline once
    // per side. Here the big stream is only ever shuffled by the
    // self-join itself; everything else is partial aggregation whose
    // OUTPUT is small:
    //  - hot hashes (df > maxDf) come from a map-side-combined groupBy
    //    and are FEW by construction (boilerplate tail) → broadcast
    //    anti-join prunes each branch without a stream shuffle;
    //  - per-doc sizes (one row per doc, pruned universe so numerator
    //    and denominator agree; exact dups still score 1.0) join onto
    //    the PAIR AGGREGATE, not the fingerprint stream — at sf the
    //    size table broadcasts (AQE), at 100 TB it shuffle-joins
    //    against the far-smaller pair table instead of widening the
    //    fingerprint stream through an extra keyed shuffle.
    val fps = fingerprints(spark, dir)
    // NO forced broadcast hint on hot: its size is data-dependent (the
    // boilerplate tail can be wide on a diverse corpus). AQE broadcasts
    // it when the aggregate's runtime size is small (the common case —
    // observed sf0.1: 1.6k rows) and degrades to a shuffled anti-join
    // when it is not, instead of OOMing on an oversized forced build.
    val hot = fps.groupBy("fp_hash").agg(count(lit(1)).as("hash_df"))
      .filter(col("hash_df") > maxDf).select("fp_hash")
    val pruned = fps.join(hot, Seq("fp_hash"), "left_anti")
    val sizes = pruned.groupBy("doc_id").agg(count(lit(1)).as("n_fp"))
    val a = pruned.select(col("fp_hash"), col("doc_id").as("doc_a"))
    val b = pruned.select(col("fp_hash"), col("doc_id").as("doc_b"))
    a.join(b, Seq("fp_hash")).filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("shared"))
      .join(sizes.select(col("doc_id").as("doc_a"), col("n_fp").as("n_a")),
        Seq("doc_a"))
      .join(sizes.select(col("doc_id").as("doc_b"), col("n_fp").as("n_b")),
        Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("shared"),
        round(col("shared").cast("double") /
          least(col("n_a"), col("n_b")).cast("double"), 4).as("containment"))
      .filter(col("containment") >= minContainment)
  }

  /** Cross-corpus containment decontamination — the third leakage
    * modality beside [[decontaminate]] (exact n-gram overlap count) and
    * [[graft.operators.Similarity.semanticDecontaminate]] (embedding
    * cosine): score how much of each EVAL document's winnowing
    * fingerprint set is contained in a corpus document
    * (shared / |fp(eval)|, Schleimer et al. SIGMOD'03 §5) — the
    * detector for PARTIAL quotation and trimmed copies, which dilute
    * Jaccard and shift embeddings but keep high containment of the
    * shorter side. Eval docs stand in below `evalMaxId` (an external
    * benchmark table slots into the same shape).
    *
    * Scale shape mirrors [[decontaminate]]'s asymmetry: the eval side
    * is benchmark-sized, so its fingerprints AND its per-doc sizes ride
    * in as broadcasts; the corpus side is one narrow fingerprint scan →
    * broadcast join → keyed agg over the HITS only (a tiny fraction of
    * the stream). No full-stream shuffle anywhere. */
  def evalContainment(spark: SparkSession, dir: String,
      evalMaxId: Long = 10L, minContainment: Double = 0.2): DataFrame = {
    val fps = ParquetInput.read(spark, materializeFingerprints(spark, dir))
    // NO forced broadcast hints: the eval side is benchmark-sized in
    // the intended use, but `evalMaxId` is caller-controlled (the SQL
    // TVF exposes it), so a forced build could OOM on a huge "eval"
    // slice. AQE broadcasts the small side at runtime (the common case,
    // spec-asserted) and degrades to a shuffle join when it is not —
    // the same convention as the containment hot-hash prune.
    val eval = fps.filter(col("doc_id") < evalMaxId)
      .select(col("doc_id").as("eval_id"), col("fp_hash"))
    val evalSizes = eval.groupBy("eval_id")
      .agg(count(lit(1)).as("n_eval"))
    fps.filter(col("doc_id") >= evalMaxId)
      .join(eval, Seq("fp_hash"))
      .groupBy("doc_id", "eval_id")
      .agg(count(lit(1)).as("shared"))
      .join(evalSizes, Seq("eval_id"))
      .select(col("doc_id"), col("eval_id"), col("shared"),
        round(col("shared").cast("double") /
          col("n_eval").cast("double"), 4).as("containment"))
      .filter(col("containment") >= minContainment)
  }

  /** Shannon character entropy per document — the cheapest gibberish /
    * binary-spill / base64-blob detector in a curation pipeline (prose
    * sits ≈ 4.0-4.5 bits/char; single-char spam ≈ 0, random base64 ≈ 6).
    *
    * Shape: a pure per-row map over codegen'd higher-order functions —
    * NO shuffle, no UDF; the per-char frequency scan is
    * O(distinct · len) per row, which for natural text (≤ ~100 distinct
    * chars) beats materializing an exploded (doc, char) stream through a
    * shuffle at 100 TB. The distinct-char list is sorted so the fold's
    * summation order is deterministic and identical to the oracle's.
    * Spark's `split(text, '')` keeps a trailing '' (Java regex,
    * limit = -1) — filtered before use. */
  def charEntropy(spark: SparkSession, dir: String): DataFrame = {
    val chars = "filter(split(text, ''), c -> c <> '')"
    val p = s"(CAST(size(filter($chars, x -> x = c)) AS DOUBLE) / " +
      "CAST(length(text) AS DOUBLE))"
    // 0.0 − sum, not −sum: a degenerate doc's sum is +0.0 and unary minus
    // would yield IEEE −0.0, whose bit pattern differs from the oracle's
    docs(spark, dir).select(col("doc_id"),
      expr("round(CASE WHEN length(text) = 0 THEN 0.0D ELSE " +
        s"0.0D - aggregate(transform(array_sort(array_distinct($chars)), " +
        s"c -> $p * log2($p)), 0.0D, (acc, x) -> acc + x) END, 4)")
        .as("char_entropy"))
  }

  /** Okapi BM25 relevance scoring against a fixed term set — the ranking
    * function of every classic retrieval stage (and of retrieval-based
    * decontamination). Plan: the exploded word stream feeds (1) per-doc
    * lengths (shuffle on doc_id), (2) tf over query terms only — the
    * `isin` filter prunes the stream BEFORE its shuffle, so the heavy
    * (doc, word) aggregation touches query-term rows only; df and the
    * (avgdl, N) scalars ride in as broadcasts. At 100 TB the only large
    * shuffles are the two doc_id-keyed aggregations — linear, skew-free
    * (doc_id is unique). */
  def bm25(spark: SparkSession, dir: String,
      queryTerms: Seq[String] = Seq("join", "scan", "filter"),
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    // per-doc token length is a NARROW per-row expression over the
    // documents scan (same tokenization as `words`), not a corpus-scale
    // exploded-words shuffle — dl is a property of the row, so paying a
    // keyed aggregate for it is pure waste at 100 TB. The dl > 0 filter
    // keeps the historical semantics (token-less docs carry no dl row).
    val dl = docs(spark, dir).select(col("doc_id"),
      size(filter(split(col("text"), "\\s+"), w => length(w) > 0))
        .cast("long").as("dl"))
      .filter(col("dl") > 0)
    val stats = dl.agg(avg(col("dl").cast("double")).as("avgdl"),
      count(lit(1)).cast("double").as("n_docs"))
    val tf = scopedWords(spark, dir, queryTerms)
      .groupBy("doc_id", "word").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("word").agg(count(lit(1)).cast("double").as("df"))
    tf.join(broadcast(df), Seq("word"))
      .join(dl, Seq("doc_id"))
      .crossJoin(broadcast(stats))
      .withColumn("idf",
        log((col("n_docs") - col("df") + 0.5) / (col("df") + 0.5) + 1.0))
      .groupBy("doc_id")
      .agg(round(sum(col("idf") * col("tf").cast("double") * lit(k1 + 1.0) /
        (col("tf").cast("double") +
          lit(k1) * (lit(1.0 - b) +
            lit(b) * col("dl").cast("double") / col("avgdl")))), 4)
        .as("bm25"))
  }

  /** Reciprocal-rank fusion (Cormack et al. 2009) — the standard way a
    * retrieval pipeline combines heterogeneous rankings (lexical BM25,
    * TF-IDF, dense ANN, ...) without score calibration: each ranking
    * contributes 1/(k + rank) and the fused list orders by the sum. Here
    * the two fused rankings are [[bm25]] and summed [[tfIdf]] over the
    * same query terms — the hybrid-search shape (swap either side for an
    * ANN shortlist and nothing else changes).
    *
    * Scale shape: each ranking is its scorer's plan + a top-K via
    * `TakeOrderedAndProject` (per-partition heads, no global sort); the
    * rank window then runs over ≤ topK rows by construction — the
    * single-partition window is BOUNDED, the same justification as
    * [[invertedIndex]]'s capped posting windows. The fusion join is
    * topK⋈topK — driver-trivial at any corpus size. Ranks are total
    * orders (round-4 score, doc_id tiebreak), so both engines pick the
    * same shortlist and the same ranks. */
  def rrfFusion(spark: SparkSession, dir: String,
      queryTerms: Seq[String] = Seq("join", "scan", "filter"),
      kRrf: Int = 60, topK: Int = 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val a = bm25(spark, dir, queryTerms)
      .orderBy(col("bm25").desc, col("doc_id").asc).limit(topK)
      .withColumn("rank_bm25", row_number().over(
        Window.orderBy(col("bm25").desc, col("doc_id").asc)))
      .select("doc_id", "rank_bm25")
    // query-term-SCOPED tf-idf: tf and df only need the rows whose word
    // is a query term (df of a word = docs containing it — computable
    // from the scoped tf), so the full-vocabulary aggregation and its
    // per-word window in [[tfIdf]] never run. Arithmetic is the exact
    // tfIdf formula (per-word round(…,4) before the sum), so the fused
    // list is bit-identical to filtering the full table (spec-pinned).
    val tfq = scopedWords(spark, dir, queryTerms)
      .groupBy("doc_id", "word").agg(count(lit(1)).as("tf"))
    val dfq = tfq.groupBy("word").agg(count(lit(1)).as("df"))
    val nDocs = docs(spark, dir).agg(count(lit(1)).as("n_docs"))
    val b = tfq.join(broadcast(dfq), Seq("word"))
      .crossJoin(broadcast(nDocs))
      .select(col("doc_id"),
        round(col("tf").cast("double") *
          (log((col("n_docs") + 1).cast("double") /
            (col("df") + 1).cast("double")) + 1.0), 4).as("tfidf"))
      .groupBy("doc_id").agg(round(sum("tfidf"), 4).as("s"))
      .orderBy(col("s").desc, col("doc_id").asc).limit(topK)
      .withColumn("rank_tfidf", row_number().over(
        Window.orderBy(col("s").desc, col("doc_id").asc)))
      .select("doc_id", "rank_tfidf")
    a.join(b, Seq("doc_id"), "full")
      .select(col("doc_id"), col("rank_bm25"), col("rank_tfidf"),
        round(
          coalesce(lit(1.0) / (lit(kRrf) + col("rank_bm25")), lit(0.0)) +
            coalesce(lit(1.0) / (lit(kRrf) + col("rank_tfidf")), lit(0.0)),
          6).as("rrf_score"))
  }

  /** Inverted-index construction — the search-side artifact a retrieval
    * or decontamination pipeline materializes: one posting row per
    * (term, doc) with term frequency, document frequency, and the
    * term-local rank of the posting (tf-descending).
    *
    * Scale bounds, both load-bearing at 100 TB:
    *  - `maxDf` drops stopword-grade terms BEFORE postings are ranked —
    *    the hot-key prune [[containmentPairs]] uses, because a term in
    *    every document carries no retrieval signal but all of the skew.
    *  - `maxPostings` caps each kept term's posting list via a
    *    rank-window filter — and the window only ever sees df-filtered
    *    terms, so every window partition is ≤ maxDf rows by
    *    construction. df itself comes from a partial-aggregable groupBy
    *    (map-side combined), NOT an unordered count-window, because a
    *    count-window over the raw posting stream would buffer the
    *    hottest term's whole partition in one task.
    * Three word-keyed exchanges — tf aggregation, df aggregation, the
    * equi-join — all partial-agg or AQE-skew-safe; per-task memory is
    * bounded everywhere. */
  def invertedIndex(spark: SparkSession, dir: String, maxDf: Int = 50,
      maxPostings: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tf = words(spark, dir).groupBy("word", "doc_id")
      .agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("word").agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf)
    tf.join(df, Seq("word"))
      .withColumn("rank", row_number().over(
        Window.partitionBy("word")
          .orderBy(col("tf").desc, col("doc_id").asc)))
      .filter(col("rank") <= maxPostings)
      .select("word", "df", "doc_id", "tf", "rank")
  }

  /** Perplexity-style bucketing over the unigram LM score — the CCNet
    * recipe's head/middle/tail split: documents scored by
    * [[unigramLogProb]] are assigned to quality buckets by FIXED score
    * cutoffs. Fixed thresholds (chosen offline from a reference
    * distribution, as CCNet does) keep this a narrow per-row map after
    * the scoring pass — bucketing by global rank (ntile) would demand a
    * full corpus sort, the classic 100 TB anti-pattern this avoids.
    * Cutoffs sit strictly between representable round-4 score values, so
    * assignment is tie-free and deterministic in both engines. */
  def perplexityBuckets(spark: SparkSession, dir: String,
      headCut: Double = -3.39985, middleCut: Double = -3.40395): DataFrame =
    unigramLogProb(spark, dir)
      .select(col("doc_id"), col("avg_logprob"),
        when(col("avg_logprob") >= headCut, lit("head"))
          .when(col("avg_logprob") >= middleCut, lit("middle"))
          .otherwise(lit("tail")).as("bucket"))

  /** Tokenizer fertility per language: subword-tokens-per-word (here the
    * chars/4 BPE estimate over whitespace words — the standard proxy when
    * the real tokenizer is external). THE metric that exposes languages a
    * tokenizer serves badly (high fertility → more tokens per word →
    * shorter effective context, higher cost). One partial-agg shuffle on
    * the tiny `lang` key; the per-doc counts are the same narrow codegen
    * expressions as [[tokenCount]]. */
  def tokenFertility(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .select(col("lang"), nWords.as("ws_tokens"),
        ceil(length(col("text")).cast("double") / lit(4.0)).cast("long")
          .as("bpe_tokens"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum("ws_tokens").as("total_words"),
        sum("bpe_tokens").as("total_tokens"),
        round(sum("bpe_tokens").cast("double") /
          sum("ws_tokens").cast("double"), 4).as("fertility"))

  /** Per-document bigram stream (doc_id, prev, cur) — derived from the
    * split array with `transform`+`explode` (narrow, codegen'd; no
    * per-doc window/sort). Docs with < 2 words emit no bigrams. */
  private def bigrams(spark: SparkSession, dir: String): DataFrame = {
    val w = filter(split(col("text"), "\\s+"), x => length(x) > 0)
    docs(spark, dir)
      .select(col("doc_id"), w.as("w")).filter(size(col("w")) >= 2)
      .select(col("doc_id"),
        explode(transform(sequence(lit(1), size(col("w")) - 1), i =>
          struct(element_at(col("w"), i).as("prev"),
            element_at(col("w"), i + 1).as("cur")))).as("b"))
      .select(col("doc_id"), col("b.prev").as("prev"), col("b.cur").as("cur"))
  }

  /** Bigram LM scoring with STUPID BACKOFF (Brants et al. 2007) — the
    * real shape of the CCNet perplexity filter that [[perplexityBuckets]]
    * approximates with a unigram model: score every document by the mean
    * log of S(w_i | w_{i-1}) where
    *
    *   S(w|p) = count(p w) / count(p)            if the TRAIN split saw
    *                                             the bigram,
    *          = 0.4 · (count(w)+1) / (N+V)       otherwise (backoff to an
    *                                             add-one unigram, so an
    *                                             unseen word scores finite).
    *
    * The LM trains on the hash-complement split (`doc_id % holdoutMod != 0`)
    * and scores EVERYTHING — held-out docs genuinely exercise the backoff
    * path (training and scoring on the same corpus would make it dead
    * code, since every scored bigram would have count ≥ 1).
    *
    * Scale shape: the bigram stream is a narrow array transform (no
    * per-doc window); bigram counts are one partial-agg shuffle keyed on
    * (prev, cur); the unigram table is vocabulary-sized and BROADCASTS to
    * both the prev- and cur-side lookups, so the 100 TB scoring stream
    * shuffles once on the bigram key and once on doc_id — the same
    * count as [[unigramLogProb]]. N/V ride in as a broadcast 1-row
    * aggregate (declarative, no driver action). */
  def bigramLogProb(spark: SparkSession, dir: String,
      holdoutMod: Int = 10, alpha: Double = 0.4): DataFrame = {
    val bg = bigrams(spark, dir)
    val train = bg.filter(col("doc_id") % holdoutMod =!= 0)
    val trainWords = docs(spark, dir)
      .filter(col("doc_id") % holdoutMod =!= 0)
      .select(col("doc_id"),
        explode(filter(split(col("text"), "\\s+"), x => length(x) > 0))
          .as("word"))
    val cu = trainWords.groupBy("word").agg(count(lit(1)).as("cu"))
    val tot = trainWords.agg(
      count(lit(1)).cast("double").as("n_tok"),
      count_distinct(col("word")).cast("double").as("v"))
    val cb = train.groupBy("prev", "cur").agg(count(lit(1)).as("cb"))
    val scored = bg
      .join(cb, Seq("prev", "cur"), "left")
      .join(broadcast(cu.select(col("word").as("prev"),
        col("cu").as("cu_prev"))), Seq("prev"), "left")
      .join(broadcast(cu.select(col("word").as("cur"),
        col("cu").as("cu_cur"))), Seq("cur"), "left")
      .crossJoin(broadcast(tot))
      .select(col("doc_id"),
        when(col("cb").isNotNull,
          log(col("cb").cast("double") / col("cu_prev").cast("double")))
          .otherwise(log(lit(alpha) *
            (coalesce(col("cu_cur"), lit(0L)).cast("double") + 1.0) /
            (col("n_tok") + col("v")))).as("s"),
        when(col("cb").isNull, 1L).otherwise(0L).as("backoff"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        sum("backoff").as("n_backoff"),
        round(avg("s"), 4).as("avg_logprob"))
    docs(spark, dir).select("doc_id")
      .join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("n_backoff"), lit(0L)).as("n_backoff"),
        col("avg_logprob"))
  }

  /** Per-document n-gram novelty — what fraction of a document's distinct
    * word n-grams appears NOWHERE else in the corpus (document frequency
    * exactly 1)? High-novelty docs carry content the model sees only
    * once; low-novelty docs are recombinations of corpus-common phrasing.
    * The per-source rollup of this score is the standard "how much does
    * each source actually add" curation signal.
    *
    * Scale shape: distinct-within-doc is a NARROW `array_distinct` (no
    * shuffle — dedup happens before the explode multiplies rows), then
    * exactly two keyed shuffles, both partial-agg combined: df per gram,
    * novelty per doc. Gram df is never joined back to full text — only
    * (doc_id, gram-hash-sized) rows move. Docs with fewer than `n` words
    * have no n-grams and report novelty NULL (kept, not dropped — a
    * curation scan must not silently lose short docs). */
  def ngramNovelty(spark: SparkSession, dir: String, n: Int = 3): DataFrame = {
    val w = filter(split(col("text"), "\\s+"), x => length(x) > 0)
    val grams = docs(spark, dir)
      .select(col("doc_id"), w.as("w")).filter(size(col("w")) >= n)
      .select(col("doc_id"), explode(array_distinct(
        transform(sequence(lit(1), size(col("w")) - (n - 1)), i =>
          concat_ws(" ", slice(col("w"), i, lit(n)))))).as("gram"))
    val df = grams.groupBy("gram").agg(count(lit(1)).as("df"))
    val perDoc = grams.join(df, Seq("gram"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("df") === 1L, 1L).otherwise(0L)).as("n_unique"))
      .select(col("doc_id"), col("n_grams"), col("n_unique"),
        round(col("n_unique").cast("double") /
          col("n_grams").cast("double"), 4).as("novelty"))
    docs(spark, dir).select("doc_id", "lang", "source")
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("lang"), col("source"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_unique"), lit(0L)).as("n_unique"),
        col("novelty"))
  }

  /** Pairwise Jensen-Shannon divergence between per-source unigram
    * distributions — the mixture-design view of "which sources say the
    * same things": JS(p‖q) in nats, 0 = identical phrasing mix,
    * ln 2 ≈ 0.693 = disjoint. Distributions are add-λ smoothed over the
    * SAME global top-V vocabulary so every source has full support and
    * the divergence is finite and symmetric by construction.
    *
    * Scale shape: ONE corpus-scale shuffle (word counts per
    * (source, word), partial-agg combined). Everything after operates on
    * mixture-sized frames: the top-V vocab (V rows, broadcast), the
    * densified source×vocab grid (|sources|·V rows — at 100 TB still
    * thousands, never corpus-scale), and the pair join keyed on word
    * within that grid. The quadratic-in-sources pair expansion happens
    * on the grid, NOT on the corpus. */
  def sourceDivergence(spark: SparkSession, dir: String,
      topV: Int = 200, lambda: Double = 0.5): DataFrame = {
    val counts = docs(spark, dir)
      .select(col("source"),
        explode(filter(split(col("text"), "\\s+"), x => length(x) > 0))
          .as("word"))
      .groupBy("source", "word").agg(count(lit(1)).as("n"))
    val vocab = counts.groupBy("word").agg(sum("n").as("tot"))
      .orderBy(col("tot").desc, col("word").asc).limit(topV)
      .select("word")
    val sources = counts.select("source").distinct()
    // densify: every (source, vocab word) cell, zero-filled then smoothed
    val grid = sources.crossJoin(broadcast(vocab))
      .join(counts, Seq("source", "word"), "left")
      .select(col("source"), col("word"),
        (coalesce(col("n"), lit(0L)).cast("double") + lit(lambda)).as("c"))
    val probs = grid
      .withColumn("p", col("c") /
        sum("c").over(org.apache.spark.sql.expressions.Window
          .partitionBy("source")))
      .select("source", "word", "p")
    val a = probs.select(col("source").as("source_a"), col("word"),
      col("p").as("pa"))
    val b = probs.select(col("source").as("source_b"), col("word"),
      col("p").as("pb"))
    a.join(b, Seq("word")).filter(col("source_a") < col("source_b"))
      .select(col("source_a"), col("source_b"),
        (col("pa") * log(col("pa") * 2.0 / (col("pa") + col("pb"))) +
          col("pb") * log(col("pb") * 2.0 / (col("pa") + col("pb"))))
          .as("term"))
      .groupBy("source_a", "source_b")
      .agg(round(sum(col("term")) / 2.0, 6).as("js_divergence"))
  }

  /** Quality-filter FUNNEL: cumulative per-stage survivor counts for a
    * fixed cascade of the portable quality rules above — the standard
    * curation diagnostic ("how many documents does each filter cost
    * me?") that every training-data pipeline reports before committing
    * to a rule set. Stages are CUMULATIVE (a doc surviving stage i has
    * passed 1..i), so the yields read directly as the pipeline's
    * retention curve:
    *   1 nonempty       — n_words >= 1
    *   2 min_30_words   — n_words >= 30 (the qualityScore short cut)
    *   3 stopword_hits  — stop_hits >= 2 ([[stopwordQuality]] signal)
    *   4 low_repetition — rep_ratio <= 0.3 ([[repetition]] signal)
    *
    * Shape at scale: ONE narrow codegen pass over the corpus into a
    * single partial-aggregated global row (4 conditional sums — no
    * shuffle beyond the 1-row final agg), then the row explodes into
    * the 4-row funnel. At 100 TB this is exactly one corpus scan, the
    * same cost as any single signal query; the rule thresholds reuse
    * the SAME expressions as the per-doc signal operators so the
    * funnel's counts are consistent with filtering on those signals
    * (an inconsistent re-implementation would report a funnel no
    * filter reproduces). */
  def qualityFunnel(spark: SparkSession, dir: String): DataFrame = {
    // bind the per-row signals ONCE below the aggregate: the naive form
    // (conditions inlined into each conditional sum) re-evaluates the
    // \s+ split ~10× per row — CollapseProject keeps these projections
    // materialized because the non-cheap exprs are multi-referenced
    // (same Columns-are-trees discipline as ExprLet.bindOnce)
    val words = filter(split(col("text"), "\\s+"), w => length(w) > 0)
    val pre = docs(spark, dir)
      .select(col("text"), words.as("w"))
      .select(
        size(col("w")).cast("long").as("nw"),
        size(array_distinct(col("w"))).cast("long").as("nd"),
        stopHitsExpr.cast("long").as("sh"))
    val c1 = col("nw") >= 1
    val c2 = c1 && col("nw") >= 30
    val c3 = c2 && col("sh") >= 2
    val c4 = c3 && (lit(1.0) -
      col("nd").cast("double") / col("nw").cast("double")) <= lit(0.3)
    val agg = pre.agg(
      count(lit(1)).as("total"),
      sum(when(c1, 1L).otherwise(0L)).as("s1"),
      sum(when(c2, 1L).otherwise(0L)).as("s2"),
      sum(when(c3, 1L).otherwise(0L)).as("s3"),
      sum(when(c4, 1L).otherwise(0L)).as("s4"))
    def stage(i: Int, name: String): Column =
      struct(lit(i.toLong).as("stage_idx"), lit(name).as("stage"),
        col(s"s$i").as("survivors"), col("total").as("total"))
    agg.select(explode(array(
        stage(1, "nonempty"), stage(2, "min_30_words"),
        stage(3, "stopword_hits"), stage(4, "low_repetition"))).as("x"))
      .select(col("x.stage_idx"), col("x.stage"),
        col("x.survivors").cast("long").as("survivors"),
        round(col("x.survivors").cast("double") /
          col("x.total").cast("double"), 4).as("yield_ratio"))
  }
}

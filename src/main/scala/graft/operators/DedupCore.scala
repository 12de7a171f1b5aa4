package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Shared dedup infrastructure (split out of the former 2,085-line
  * Dedup.scala in round 12 — pure code motion, one trait per operator
  * family, all mixed back into the single public [[Dedup]] object):
  * the grouped-bucket pair generator + prune accounting every LSH
  * family shares, exact dedup, shingle/MinHash-signature/Jaccard
  * expressions. */
private[operators] trait DedupCore {

  /** The (band, band_key) buckets holding more than `maxBucket` docs —
    * i.e. what [[pruneHotBuckets]] WOULD drop. Run this alongside a capped
    * dedup to see what pruning costs: a non-empty result means recall was
    * traded for boundedness on those buckets (legitimate >maxBucket
    * near-dup clusters lose pairs; boilerplate/exact-dup clusters lose
    * nothing that [[exact]] dedup wouldn't catch). */
  private[operators] def hotBuckets(bandKeys: DataFrame,
      maxBucket: Int): DataFrame =
    bandKeys.groupBy("band", "band_key")
      .agg(count(lit(1)).as("bucket_n"))
      .filter(col("bucket_n") > maxBucket)

  /** Candidate pairs by grouped-bucket expansion — the classic LSH shape:
    * ONE shuffle groups band keys into buckets (`collect_list`, map-side
    * combined), the `maxBucket` cap is an inline `size` filter on the
    * grouped array (subsuming the former hot-bucket aggregation + anti-
    * join — two extra passes over the band keys), and within-bucket pairs
    * are emitted by a pure array expression over the sorted ids (i < j ⇒
    * doc_a < doc_b). Bucket arrays are bounded by `maxBucket`, so executor
    * memory is bounded by construction; `maxBucket <= 0` disables the cap
    * AND that bound. Pruning is SILENT in the pair output — use
    * [[minHashHotBuckets]] / [[simHashHotBuckets]] to audit what a cap
    * dropped. Measured at sf0.1: ~2× faster than the self-join form, and
    * one pass over the signatures instead of three. */
  private[operators] def bucketPairs(bandKeys: DataFrame,
      maxBucket: Int): DataFrame = {
    val sized = bandKeys.groupBy("band", "band_key")
      .agg(array_sort(collect_list("doc_id")).as("ids"))
    val capped =
      if (maxBucket > 0) {
        // inline prune accounting: an `observe` (CollectMetrics) node —
        // the declarative form of a LongAccumulator, zero extra passes
        val over = size(col("ids")) > maxBucket
        Observations.observe(sized, Observations.BucketPrune,
            coalesce(sum(when(over, 1L).otherwise(0L)), lit(0L)),
            coalesce(sum(when(over, size(col("ids")).cast("long"))
              .otherwise(0L)), lit(0L)))
          .filter(size(col("ids")).between(2, maxBucket))
      }
      else sized.filter(size(col("ids")) >= 2)
    val ids = col("ids")
    capped.select(explode(flatten(transform(ids, (a, i) =>
        transform(slice(ids, i + lit(2), size(ids)), b =>
          struct(a.as("doc_a"), b.as("doc_b")))))).as("pr"))
      .select(col("pr.doc_a"), col("pr.doc_b"))
      .dropDuplicates("doc_a", "doc_b")
  }

  private[operators] def docs(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)

  /** Exact dedup: group identical texts by md5, pick the min doc_id as the
    * canonical representative. One partial-agg shuffle on the hash. */
  def exact(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .groupBy(md5(col("text")).as("text_hash"))
      .agg(count(lit(1)).as("n_copies"), min("doc_id").as("keep_id"))

  /** Exact-dedup filter form: keep one row per distinct text. */
  def exactKeep(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    val keep = d.groupBy(md5(col("text")).as("h")).agg(min("doc_id").as("doc_id"))
    d.join(keep, Seq("doc_id"), "left_semi")
  }

  // ---------------------------------------------------------------- MinHash

  /** Word k-shingles of a document (k=3). */
  def shingles(text: String, k: Int = 3): Set[String] = {
    if (text == null) return Set.empty
    val words = text.split("\\s+").filter(_.nonEmpty)
    if (words.length < k) Set(words.mkString(" "))
    else words.sliding(k).map(_.mkString(" ")).toSet
  }

  private val Prime = 2147483647L // 2^31 - 1, Mersenne

  /** Deterministic hash-family parameters (no RNG — fixed SplitMix64 walk
    * seeded by the function index so signatures are reproducible). */
  private def hashParams(i: Int): (Long, Long) = {
    def splitmix(x0: Long): Long = {
      var x = x0 + 0x9E3779B97F4A7C15L
      x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
      x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
      x ^ (x >>> 31)
    }
    val a = Math.floorMod(splitmix(i.toLong * 2 + 1), Prime - 1) + 1
    val b = Math.floorMod(splitmix(i.toLong * 2 + 2), Prime)
    (a, b)
  }

  /** Per-numHashes memo of the hash family — the parameters are a pure
    * function of the index, but re-deriving 64 splitmix walks per ROW was
    * measurable in the signature pass. */
  private val paramCache =
    new java.util.concurrent.ConcurrentHashMap[Int, Array[(Long, Long)]]()
  private def cachedParams(numHashes: Int): Array[(Long, Long)] =
    paramCache.computeIfAbsent(numHashes, n => Array.tabulate(n)(hashParams))

  /** MinHash signature: numHashes permutations approximated by
    * (a*x + b) mod p over shingle hashes. */
  def minHashSignature(sh: Set[String], numHashes: Int): Array[Long] = {
    val params = cachedParams(numHashes)
    val sig = Array.fill(numHashes)(Long.MaxValue)
    sh.foreach { s =>
      val x = Math.floorMod(scala.util.hashing.MurmurHash3.stringHash(s).toLong, Prime)
      var i = 0
      while (i < numHashes) {
        val (a, b) = params(i)
        val h = (a * x + b) % Prime
        if (h < sig(i)) sig(i) = h
        i += 1
      }
    }
    sig
  }

  def jaccard(a: Set[String], b: Set[String]): Double =
    if (a.isEmpty && b.isEmpty) 1.0
    else (a & b).size.toDouble / (a | b).size.toDouble

  /** Column twin of [[shingles]]: word k-gram shingle set as a pure array
    * expression, no UDF, and expressible verbatim in any engine with list
    * functions (the `q_jaccard` DuckDB oracle is the same computation).
    *
    * Linear per document. `transform` is interpreted (`CodegenFallback`)
    * and re-evaluates every outer column its lambda references once per
    * element, so a lambda over `words` would re-run the regex split once
    * per shingle. Here the lambda reads only its own element: the k-grams
    * are the rows of `arrays_zip` over k equal-length shifted slices of
    * `words` (slice j starts at word j+1), each joined with spaces. */
  def shingleArray(textCol: Column, k: Int = 3): Column = {
    require(k >= 1, s"shingle width k must be >= 1, got $k")
    val words = filter(split(textCol, "\\s+"), w => length(w) > 0)
    val n = size(words)
    val shifted = (0 until k).map(j => slice(words, lit(j + 1), n - (k - 1)))
    array_distinct(
      when(n < k, array(concat_ws(" ", words)))
        .otherwise(transform(arrays_zip(shifted: _*), s =>
          concat_ws(" ", (0 until k).map(j => s.getField(j.toString)): _*))))
  }

  /** Test reference for [[shingleArray]]: the same shingles from a lambda
    * that slices `words` itself, quadratic per document. */
  private[operators] def shingleArrayRecompute(textCol: Column,
      k: Int = 3): Column = {
    val words = filter(split(textCol, "\\s+"), w => length(w) > 0)
    val n = size(words)
    array_distinct(
      when(n < k, array(concat_ws(" ", words)))
        .otherwise(transform(sequence(lit(1), n - (k - 1)), i =>
          concat_ws(" ", slice(words, i, lit(k))))))
  }

  /** Character n-gram shingle set (n=5 default) as a pure array
    * expression — the character-level twin of [[shingleArray]]: robust to
    * tokenization differences (CJK, code, no-whitespace scripts) where
    * word shingles fail. substring is 1-based; texts shorter than n
    * collapse to a single whole-text shingle. */
  def charShingleArray(textCol: Column, n: Int = 5): Column = {
    require(n >= 1, s"shingle width n must be >= 1, got $n")
    val len = length(textCol)
    array_distinct(
      when(len <= n, array(textCol))
        .otherwise(transform(sequence(lit(1), len - (n - 1)), i =>
          textCol.substr(i, lit(n)))))
  }

  /** Exact Jaccard of two shingle-array columns (both-empty → 1.0),
    * column twin of [[jaccard]]. */
  def jaccardExpr(a: Column, b: Column): Column = {
    val uni = size(array_union(a, b))
    when(uni === 0, lit(1.0))
      .otherwise(size(array_intersect(a, b)).cast("double") / uni.cast("double"))
  }

  /** Consecutive-pair exact Jaccard scaffold shared by the word- and
    * character-shingle demonstrations: one narrow shuffle-free map per
    * side + an equi-join on doc_id, scored by `shingle` over both texts. */
  private def consecutivePairJaccard(spark: SparkSession, dir: String,
      shingle: Column => Column): DataFrame = {
    val d = docs(spark, dir)
    val a = d.select(col("doc_id").as("doc_a"), col("text").as("text_a"))
    val b = d.select((col("doc_id") - 1).as("doc_a"),
      col("doc_id").as("doc_b"), col("text").as("text_b"))
    a.join(b, Seq("doc_a"))
      .select(col("doc_a"), col("doc_b"),
        round(jaccardExpr(shingle(col("text_a")),
          shingle(col("text_b"))), 4).as("jaccard"))
  }

  /** Exact 3-gram Jaccard for each consecutive doc-id pair — the oracle-
    * backed demonstration of the exact-similarity path (the same
    * expressions verify LSH candidates in [[minHashPairs]]). */
  def jaccardPairs(spark: SparkSession, dir: String): DataFrame =
    consecutivePairJaccard(spark, dir, shingleArray(_))

  /** Exact character-5-gram Jaccard for each consecutive doc-id pair —
    * the character-level twin of [[jaccardPairs]] (same join shape, the
    * tokenization-free similarity a multilingual corpus needs). */
  def charJaccardPairs(spark: SparkSession, dir: String,
      n: Int = 5): DataFrame =
    consecutivePairJaccard(spark, dir, charShingleArray(_, n))

  /** MinHash signatures per document: (doc_id, sig: array<bigint>) —
    * computed by the native codegen expression
    * ([[graft.functions.MinHashExpression]]), not a UDF, so the signature
    * pass stays inside WholeStageCodegen (equivalence to the Scala
    * function is spec-pinned in `MinHashExpressionSpec`). */
  def minHashSignatures(spark: SparkSession, dir: String,
      numHashes: Int = 64): DataFrame =
    docs(spark, dir).select(col("doc_id"), col("text"),
      graft.functions.MinHashExpression.native(col("text"), numHashes)
        .as("sig"))

  /** One row per (doc, band): band key = hash of the band's sig slice. */
  private[operators] def bandKeysOf(sigs: DataFrame, numHashes: Int,
      bands: Int): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rows = numHashes / bands
    sigs.select(col("doc_id"), col("sig"),
        explode(sequence(lit(0), lit(bands - 1))).as("band"))
      .select(col("doc_id"), col("band"),
        hash(col("band"), slice(col("sig"), col("band") * rows + 1, lit(rows)))
          .as("band_key"))
  }
}

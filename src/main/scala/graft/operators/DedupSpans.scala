package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** SimHash near-dup, span-level dedup (windowed), banded edit-distance
  * pairs, cross-source dup matrix, and repeated-substring span
  * excision. See [[Dedup]]. */
private[operators] trait DedupSpans { self: DedupCore with DedupMinHash =>
  // ---------------------------------------------------------------- SimHash

  /** 64-bit SimHash over word hashes (unweighted). */
  def simHash64(text: String): Long = {
    if (text == null) return 0L
    val acc = new Array[Int](64)
    text.split("\\s+").withFilter(_.nonEmpty).foreach { w =>
      val h1 = scala.util.hashing.MurmurHash3.stringHash(w, 0x9747b28c)
      val h2 = scala.util.hashing.MurmurHash3.stringHash(w, 0x85ebca6b)
      val h = (h1.toLong << 32) | (h2.toLong & 0xffffffffL)
      var i = 0
      while (i < 64) {
        if (((h >>> i) & 1L) == 1L) acc(i) += 1 else acc(i) -= 1
        i += 1
      }
    }
    var out = 0L
    var i = 0
    while (i < 64) { if (acc(i) > 0) out |= (1L << i); i += 1 }
    out
  }

  /** SimHash per document — computed by the native codegen expression
    * ([[graft.functions.SimHashExpression]]), not a UDF, so the signature
    * pass stays inside WholeStageCodegen (equivalence to the Scala
    * function is spec-pinned). */
  def simHashes(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir).select(col("doc_id"),
      graft.functions.SimHashExpression.native(col("text")).as("simhash"))

  /** SimHash near-dup pairs: band the 64 bits into 4×16-bit keys (any pair
    * within Hamming distance 3 shares at least one full band), bucketed
    * self-join per band, then exact Hamming check via bit_count(xor). */
  /** One row per (doc, band): the 64-bit simhash split into 4×16-bit keys. */
  private def simHashBandKeys(spark: SparkSession, dir: String): DataFrame =
    simHashes(spark, dir)
      .select(col("doc_id"), col("simhash"),
        explode(sequence(lit(0), lit(3))).as("band"))
      .select(col("doc_id"), col("simhash"), col("band"),
        expr("shiftrightunsigned(simhash, band * 16)")
          .bitwiseAND(lit(0xffffL)).as("band_key"))

  /** Audit query: the SimHash band buckets a `maxBucket` cap prunes. */
  def simHashHotBuckets(spark: SparkSession, dir: String,
      maxBucket: Int = 1000): DataFrame =
    hotBuckets(simHashBandKeys(spark, dir), maxBucket)

  def simHashPairs(spark: SparkSession, dir: String, maxHamming: Int = 3,
      maxBucket: Int = 1000): DataFrame = {
    // same grouped-bucket expansion as [[bucketPairs]], carrying the
    // simhash alongside the id (struct sort orders by doc_id first, so
    // i < j still implies doc_a < doc_b)
    val sized = simHashBandKeys(spark, dir).groupBy("band", "band_key")
      .agg(array_sort(collect_list(struct(col("doc_id"), col("simhash"))))
        .as("ds"))
    val capped =
      if (maxBucket > 0) sized.filter(size(col("ds")).between(2, maxBucket))
      else sized.filter(size(col("ds")) >= 2)
    val ds = col("ds")
    // hamming is a pure function of the pair, so filtering BEFORE the
    // dropDuplicates exchange is output-identical (r17, guide §2.3):
    // only the ≤ maxHamming survivors cross the wire instead of every
    // same-band candidate — and the filter runs inside the array
    // expression, so far pairs never even become rows.
    capped.select(explode(filter(flatten(transform(ds, (a, i) =>
        transform(slice(ds, i + lit(2), size(ds)), b =>
          struct(a.getField("doc_id").as("doc_a"),
            b.getField("doc_id").as("doc_b"),
            bit_count(a.getField("simhash")
              .bitwiseXOR(b.getField("simhash"))).as("hamming"))))),
        p => p.getField("hamming") <= maxHamming))
        .as("pr"))
      .select(col("pr.doc_a"), col("pr.doc_b"), col("pr.hamming"))
      .dropDuplicates("doc_a", "doc_b")
  }

  /** C4-style span-level dedup (Raffel et al., JMLR'20 §2.2 — C4 drops
    * every repeated three-sentence span corpus-wide, keeping one
    * occurrence): documents are cut into fixed `spanWords`-word windows
    * (pseudo-sentences — this corpus has no sentence punctuation), each
    * distinct span keeps only its FIRST occurrence (lexicographic min of
    * (doc_id, position)), and documents are reassembled from their
    * surviving spans. A document that is a full exact duplicate loses
    * all spans and comes back as ''.
    *
    * Scale shape: tokenize+window is one narrow codegen pass; the winner
    * per span is `min(struct(doc_id, pos))` — a partial-aggregable
    * GROUP BY, so a boilerplate span repeated a billion times is combined
    * map-side instead of sorting on one reducer (the reason this is NOT a
    * row_number window); reassembly groups by doc_id with an array sort.
    * Two keyed shuffles total (span, doc_id), both linear. At 100 TB
    * shuffle bytes are dominated by the span strings themselves; shuffling
    * `xxhash64(span)` instead (8 bytes) trades exactness for volume —
    * collisions would merge unrelated spans, so the exact string is the
    * default.
    */
  def spanDedup(spark: SparkSession, dir: String,
      spanWords: Int = 10): DataFrame = {
    val d = docs(spark, dir)
    val tokens = filter(split(col("text"), "\\s+"), t => length(t) > 0)
    val spans = d
      .select(col("doc_id"), tokens.as("w"))
      .filter(size(col("w")) > 0)
      .select(col("doc_id"), col("w"),
        explode(sequence(lit(0),
          ceil(size(col("w")) / lit(spanWords.toDouble)).cast("int") - 1))
          .as("pos"))
      .select(col("doc_id"), col("pos"),
        concat_ws(" ",
          slice(col("w"), col("pos") * spanWords + 1, lit(spanWords)))
          .as("span"))
    val winners = spans.groupBy("span")
      .agg(min(struct(col("doc_id"), col("pos"))).as("win"))
      .select(col("span").as("w_span"),
        col("win.doc_id").as("w_doc"), col("win.pos").as("w_pos"))
    val kept = spans.join(winners,
      col("span") === col("w_span") && col("doc_id") === col("w_doc") &&
        col("pos") === col("w_pos"))
      .select(col("doc_id"), col("pos"), col("span"))
    val reassembled = kept.groupBy("doc_id")
      .agg(
        concat_ws(" ", transform(
          array_sort(collect_list(struct(col("pos"), col("span")))),
          x => x.getField("span"))).as("text_clean"),
        count(lit(1)).as("n_spans_kept"))
    d.select(col("doc_id"))
      .join(reassembled, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("text_clean"), lit("")).as("text_clean"),
        coalesce(col("n_spans_kept"), lit(0L)).as("n_spans_kept"))
  }

  // ----------------------------------------------------------- edit distance

  /** Edit-distance (Levenshtein) near-dup pairs, length-banded.
    *
    * Candidate generation is an EQUI-join on a length bucket of width
    * `maxLenDiff`: side A fans each doc out to buckets {b-1, b, b+1} and
    * joins side B on its single bucket, so any pair within `maxLenDiff`
    * chars of each other meets on exactly one key (|len diff| <= width ⇒
    * bucket distance <= 1, and the key equals B's unique bucket). That
    * keeps the candidate volume length-banded-linear — never all-pairs —
    * and the shuffle is a plain keyed exchange, the same scale shape as
    * the LSH banding.
    *
    * Two verify-cost levers, both load-bearing at scale (a length band
    * still holds O(docs-per-band²) candidates):
    *  - BAG-OF-CHARS LOWER BOUND: one edit changes a character histogram
    *    by at most 2 in L1 (substitute ±1 twice; insert/delete ±1), so
    *    L1(bag_a, bag_b)/2 <= lev(a, b) — for ANY projection of the
    *    alphabet onto classes. 27 single-letter counts (a–z + space,
    *    round-13: finer classes only tighten the bound) are packed into
    *    one BINARY column ONCE per doc, and the per-pair filter
    *    `L1 <= 2·maxDist` is one static call into a native codegen
    *    expression ([[graft.functions.CharBagExpression]]) that passes
    *    only ~2.6% of the banded candidates to the DP (measured on the
    *    sf10 twin — bag_prune row, BENCH_sf10_r14.json; the r12
    *    two-letter classes passed ~14%). Exact — a
    *    surviving true pair can never be pruned.
    *
    *  - THRESHOLDED Levenshtein (`levenshtein(l, r, k)`, Spark >= 3.5):
    *    the DP runs a 2k+1 diagonal band and abandons early, so per-pair
    *    cost is O(len·maxDist), not O(len²).
    *
    * SECOND-DECADE HONESTY (round 13, measured; committed artifact
    * BENCH_sf10_r14.json + bench_sfx*_medians.json): the
    * candidate ENUMERATION itself is Θ(Σ_band n_b²) — with corpus
    * length diversity fixed (~650 distinct lengths at every SF), the
    * banded pair count grows ~×100 per decade (enumerated-row counts
    * per twin are the pair_volume rows of BENCH_sf10_r14.json; warm
    * wall ×99.5, 5.7 → 569 s), and no exact filter changes what must
    * be enumerated — which is why round 14 added the [[PairGuard]]
    * pre-flight above: the saturated regime now fails in the first
    * second with the estimate and the alternative, instead of running.
    * The knobs are `maxLenDiff` (narrower band = proportionally fewer
    * candidates, recall contract unchanged as long as it stays >= the
    * wanted length gap) and, for pipelines that only need NEAR-dup
    * pairs rather than the exact edit-threshold set, the SimHash band
    * path ([[simHashPairs]] — signature keys grow with content, so its
    * buckets do NOT saturate; measured ×7.2/decade (committed medians: 6.9 → 49.7 s) at the same step
    * where this operator is ×100/decade). This is the same
    * exact-vs-signature trade the set-similarity family documents.
    *
    * Contract (mirrored by the oracle, where the bag prune is invisible
    * by exactness): pairs with |n_chars diff| <= `maxLenDiff` AND
    * levenshtein <= `maxDist`. Note `maxLenDiff` bounds recall: a pair
    * can have distance <= maxDist with a length gap up to maxDist; set
    * `maxLenDiff = maxDist` for exact recall, or tighter to trade recall
    * for candidate volume (the usual production choice — wildly
    * different-length docs are rarely edit-close per char). */
  def editDistancePairs(spark: SparkSession, dir: String,
      maxLenDiff: Int = 8, maxDist: Int = 16): DataFrame = {
    require(maxLenDiff >= 1, "maxLenDiff must be >= 1")
    // the bag is ONE packed BINARY column probed by a native codegen
    // expression (round-13; see [[graft.functions.CharBagExpression]]):
    // the per-pair L1 is a single static call into a 27-lane byte loop.
    // The r12 form (13 scalar class columns, inline abs-sum) was the
    // most WholeStageCodegen could carry — widening it to 27 columns
    // for the sharper bound blew the fused consume() past the JIT
    // budget and the join ran deoptimized (measured 5.4 s → 133 s at
    // sf1); the packed form gets the sharper bound AND compact
    // generated code. Scanned from the build-once bag table
    // ([[materializeBagTable]]) so the histogram pass runs once per
    // corpus, not once per query, and CollapseProject can't substitute
    // it into the post-join filter (recomputed PER PAIR when it does).
    val base = ParquetInput.read(spark, materializeBagTable(spark, dir))
    // PRE-FLIGHT CANDIDATE GUARD (round-14, verdict task #2): the
    // banded enumeration below is Θ(Σ_band n_b²) and was MEASURED
    // quadratic at the second decade (warm ×99.5 at ×10 data,
    // BENCH_sf10_r14.json) — this one map-side pass prices the join
    // from the length histogram and refuses the saturated regime in
    // the first second instead of minute nine.
    PairGuard.check(spark, "editDistancePairs",
      editCandidateEstimate(spark, dir, maxLenDiff),
      "simHashPairs (signature bands grow with content - measured " +
        "x7.2/decade where this operator is x100/decade) or a tighter " +
        "maxLenDiff")
    // NARROW ENUMERATION (round-13): the banded self-join carries only
    // (doc_id, len, bag) — texts join back AFTER the bag prune. The r12
    // shape carried both 500 B texts through the join, and at sf10 the
    // 4.2B joined rows made the SMJ's buffered-row copying the dominant
    // term (~1.2 KB memcpy per candidate dwarfs the ~200 byte-ops bag
    // probe); candidates are enumeration-bound, so shrinking the row is
    // the only lever that scales with them. Survivors (≈0.1–3% of
    // candidates, see the bag sections' measured rates) pay two keyed
    // joins back to the text column and ONE banded DP each.
    val slim = base.select(col("doc_id"), col("n_chars"), col("bag"))
    def side(suffix: String): DataFrame = slim.select(
      col("doc_id").as(s"doc_$suffix"),
      col("n_chars").as(s"len_$suffix"),
      col("bag").as(s"bag_$suffix"))
    val da = side("a")
    val db = side("b")
    val bktA = floor(col("len_a") / lit(maxLenDiff)).cast("long")
    val a = da.withColumn("bkt",
      explode(array(bktA - 1, bktA, bktA + 1)))
    val b = db.withColumn("bkt",
      floor(col("len_b") / lit(maxLenDiff)).cast("long"))
    val bagOk = graft.functions.CharBagExpression
      .withinCol(col("bag_a"), col("bag_b"), maxDist)
    val survivors = a.join(b, Seq("bkt"))
      .filter(col("doc_a") < col("doc_b") &&
        abs(col("len_a") - col("len_b")) <= maxLenDiff && bagOk)
      .select(col("doc_a"), col("doc_b"))
    survivors
      .join(base.select(col("doc_id").as("doc_a"),
        col("text").as("text_a")), Seq("doc_a"))
      .join(base.select(col("doc_id").as("doc_b"),
        col("text").as("text_b")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        levenshtein(col("text_a"), col("text_b"), maxDist)
          .cast("long").as("edit_dist"))
      .filter(col("edit_dist") >= 0 && col("edit_dist") <= maxDist)
  }

  /** Enumerated-candidate-row count of [[editDistancePairs]]'s banded
    * self-join, priced BEFORE the join runs: with the length histogram
    * cnt(b) per `floor(len/maxLenDiff)` bucket, the explode-3-buckets
    * join enumerates exactly Σ_b cnt(b)·(cnt(b−1)+cnt(b)+cnt(b+1))
    * rows (ordered pairs incl. self — ~2× the `doc_a < doc_b`
    * survivors, the right cost metric since enumeration dominates).
    * One map-side group-by over the build-once bag table; the
    * collected histogram is bounded by max-doc-length / maxLenDiff
    * buckets (a bounded dictionary read, ~650/8 entries on the
    * fixtures), built once per (bag table, maxLenDiff), so warm
    * [[editDistancePairs]] timings are unchanged. */
  def editCandidateEstimate(spark: SparkSession, dir: String,
      maxLenDiff: Int): Double = {
    val bags = ParquetInput.read(spark, materializeBagTable(spark, dir))
    Artifacts("edit_estimate", maxLenDiff, bags) {
      val hist = bags
        .groupBy(floor(col("n_chars") / lit(maxLenDiff)).cast("long")
          .as("bkt"))
        .count().collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      hist.iterator.map { case (b, c) =>
        c.toDouble * (hist.getOrElse(b - 1, 0L) + c +
          hist.getOrElse(b + 1, 0L)).toDouble
      }.sum
    }
  }

  /** Build-once bag table: (doc_id, text,
    * n_chars, bag BINARY(54)) written once per corpus — the
    * edit-distance analogue of [[materializeSignatures]] (texts ride
    * along because the DP verify needs them; at 100 TB this is the
    * staged artifact an edit-dedup pass reads instead of re-deriving
    * histograms per run). The bag packs 27 single-character counts
    * (a–z + space, 2 B each): finer classes than r12's 13 two-letter
    * ones can only TIGHTEN the L1 lower bound (merging classes lets
    * opposite-sign deltas cancel), so they prune strictly more while
    * staying exact — measured on the 500k-doc sf10 twin by
    * `tools/BagPruneProbe` (10% doc sample, 41.7M banded candidates;
    * the bag_prune row of BENCH_sf10_r14.json): single-letter classes
    * pass 2.56% of candidates to the DP (the r12 two-letter classes
    * passed ~14%). Built by
    * ONE streaming char scan per doc ([[graft.functions
    * .CharBagExpression]]) instead of 27 regexp passes. */
  def materializeBagTable(spark: SparkSession, dir: String): String = {
    val d = docs(spark, dir)
    Artifacts.dir("edit_bags", (), d) { path =>
      d.select(col("doc_id"), col("text"), col("n_chars"),
          graft.functions.CharBagExpression.bagCol(col("text")).as("bag"))
        .write.mode("overwrite").parquet(path)
    }
  }

  // ------------------------------------------------- cross-source dup matrix

  /** Cross-source duplication matrix: near-dup pair counts grouped by the
    * (unordered) source pair — the standard corpus-composition diagnostic
    * ("how much of source X is a copy of source Y?") that decides which
    * sources to drop or down-weight before training. Rides entirely on the
    * build-once MinHash pair table ([[minHashPairs]]);
    * the extra work over the pair query is two broadcast-size joins back
    * to (doc_id, source) and a tiny group-by — nothing new shuffles at
    * corpus scale. */
  def crossSourceDupMatrix(spark: SparkSession, dir: String,
      threshold: Double = 0.5): DataFrame = {
    val pairs = minHashPairs(spark, dir, threshold = threshold)
    val src = docs(spark, dir).select(col("doc_id"), col("source"))
    pairs
      .join(src.select(col("doc_id").as("doc_a"),
        col("source").as("src_a")), Seq("doc_a"))
      .join(src.select(col("doc_id").as("doc_b"),
        col("source").as("src_b")), Seq("doc_b"))
      .groupBy(least(col("src_a"), col("src_b")).as("source_a"),
        greatest(col("src_a"), col("src_b")).as("source_b"))
      .agg(count(lit(1)).as("n_pairs"),
        round(avg(col("jaccard")), 4).as("avg_jaccard"))
  }

  // ------------------------------------------------ repeated-substring spans

  /** Word positions whose stride-1 `k`-gram window is repeated across at
    * least `minDocs` distinct documents — the anchor stream behind
    * [[repeatedSpans]] / [[repeatedSpanExcise]] (the cross-document
    * substring dedup of Lee et al., "Deduplicating Training Data Makes
    * Language Models Better", arXiv:2107.06499 — suffix-array repeats
    * re-expressed as a grouped k-gram anchor join).
    *
    * Scale shape — the part that must survive 100 TB of stride-1 anchors
    * (one row per WORD of the corpus):
    *  1. The full anchor stream shuffles ONCE, keyed on `xxhash64(gram)`
    *     with a (hash, doc_id) 16-byte projection — never the gram
    *     strings. `count(DISTINCT doc_id) >= minDocs` over that narrow
    *     stream yields the repeated-hash set, which is bounded by the
    *     corpus's duplicated-content volume, not its size.
    *  2. The repeated-hash set broadcasts back over the (re-scanned,
    *     still narrow) anchor stream as a semi-join filter, so only
    *     candidate anchors ever materialize their strings.
    *  3. Candidates are re-grouped by the exact STRING to discard hash
    *     collisions — the string shuffle touches candidates only. (At
    *     petabyte scale with a >8 GB repeated set, drop the broadcast
    *     hint: AQE falls back to a shuffled semi-join and the contract
    *     is unchanged.)
    */
  /** (doc_id, p, gram) stride-1 k-word anchors of a (doc_id, text)
    * frame — one narrow codegen'd pass, no shuffle. */
  private[operators] def anchorGrams(d: DataFrame, k: Int): DataFrame =
    d.select(col("doc_id"),
        filter(split(col("text"), "\\s+"), t => length(t) > 0).as("w"))
      .filter(size(col("w")) >= k)
      .select(col("doc_id"), col("w"),
        explode(sequence(lit(0), size(col("w")) - k)).as("p"))
      .select(col("doc_id"), col("p"),
        concat_ws(" ", slice(col("w"), col("p") + 1, lit(k))).as("gram"))

  /** Gaps-and-islands merge of flagged (doc_id, p) anchor positions
    * into maximal `[start_word, end_word)` regions: windows at p and q
    * overlap or touch iff |q − p| <= k. Two window passes + a group-by
    * over the flagged subset only. */
  private[operators] def islandRegions(flagged: DataFrame,
      k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ord = Window.partitionBy("doc_id").orderBy("p")
    flagged
      .withColumn("brk",
        when(col("p") - lag("p", 1).over(ord) <= k, lit(0)).otherwise(lit(1)))
      .withColumn("grp",
        sum("brk").over(
          ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("doc_id"), col("grp"))
      .agg(min("p").as("mn"), max("p").as("mx"), count(lit(1)).as("nw"))
      .select(col("doc_id"),
        col("mn").cast("long").as("start_word"),
        (col("mx") + k).cast("long").as("end_word"),
        (col("mx") + k - col("mn")).cast("long").as("span_words"),
        col("nw").cast("long").as("n_windows"))
  }

  /** (doc_id, p, w, gh) stride-1 anchor HASHES: one row per window
    * position carrying xxhash64 over the k-word SLICE of the doc's word
    * array — no gram string is ever built on this path (r16: the
    * corpus-wide concat_ws was ~the whole anchor-pass CPU; words are
    * whitespace-free so slice-array equality ⇔ gram-string equality,
    * and the hash pass was already a collision-superset filter). `w`
    * rides along unshuffled (the consumer is a broadcast semi-join
    * inside the same codegen stage) so survivors can build their gram
    * string AFTER the filter. */
  private[operators] def anchorHashes(d: DataFrame, k: Int): DataFrame =
    d.select(col("doc_id"),
        filter(split(col("text"), "\\s+"), t => length(t) > 0).as("w"))
      .filter(size(col("w")) >= k)
      .select(col("doc_id"), col("w"),
        explode(sequence(lit(0), size(col("w")) - k)).as("p"))
      .select(col("doc_id"), col("p"), col("w"),
        xxhash64(slice(col("w"), col("p") + 1, lit(k))).as("gh"))

  /** (doc_id, p) word positions whose `k`-word window occurs in >=
    * `minDocs` distinct documents. Spark's CacheManager owns the
    * persisted candidate frame: a repeated call on the same plan reuses
    * its one cache entry, and `spark.catalog.clearCache()` releases it. */
  private[operators] def repeatedPositions(spark: SparkSession, dir: String,
      k: Int, minDocs: Int): DataFrame = {
    require(k >= 2, "k must be >= 2")
    require(minDocs >= 2, "minDocs must be >= 2")
    val anchors = anchorHashes(docs(spark, dir), k)
    // "seen in >= minDocs DISTINCT docs": for the ubiquitous minDocs=2
    // case, nd >= 2 ⟺ min(doc_id) != max(doc_id) — ONE
    // map-side-combinable aggregate phase instead of countDistinct's
    // (key, doc) dedup exchange + recount (r16; the stage probe put
    // the distinct aggregate at ~1/3 of the warm query). The generic
    // minDocs path keeps the exact distinct count.
    def repeatedBy(rows: DataFrame, key: String): DataFrame =
      if (minDocs == 2)
        rows.groupBy(key)
          .agg(min(col("doc_id")).as("_d0"), max(col("doc_id")).as("_d1"))
          .filter(col("_d0") =!= col("_d1"))
          .select(key)
      else
        rows.groupBy(key)
          .agg(countDistinct(col("doc_id")).as("nd"))
          .filter(col("nd") >= minDocs)
          .select(key)
    val repHash = repeatedBy(anchors.select(col("gh"), col("doc_id")), "gh")
    // gram strings materialize only for anchors SURVIVING the hash
    // semi-join (candidate volume, not corpus volume). The candidate
    // frame feeds TWO consumers (the exact-gram aggregate and the final
    // semi-join), each of which re-derived the whole corpus anchor pass
    // before r17 — the stage probe put one full anchor+semi pass at
    // ~1 s of the 1.9 s query. It is duplicated-content-sized by
    // construction (the spanGuard probe trade), so persist it and let
    // both consumers read the cached blocks — persist, NOT a lineage
    // cut: a localCheckpoint here hides the frame's size statistics
    // behind an RDD scan, which demoted repeatedSpanExcise's downstream
    // broadcast anti-join to a sort-merge of the corpus word stream
    // (measured 3× on the excise gate row before this note). Left
    // unpersisted, AQE reuses the anchor exchange but the query runs
    // ~10 % slower (sf0.1, 4 cores: 1.97 s vs 1.78 s).
    val cand = anchors
      .join(repHash.hint("broadcast"), Seq("gh"), "left_semi")
      .select(col("doc_id"), col("p"),
        concat_ws(" ", slice(col("w"), col("p") + 1, lit(k))).as("gram"))
      .persist()
    val repGram = repeatedBy(cand, "gram")
    cand.select(col("doc_id"), col("p"), col("gram"))
      .join(repGram.hint("broadcast"), Seq("gram"), "left_semi")
      .select(col("doc_id"), col("p"))
  }

  /** Maximal cross-document repeated regions per document: every word
    * position whose stride-1 `k`-word window also occurs in >= `minDocs`
    * distinct documents is flagged, and runs of flagged positions whose
    * windows overlap or touch (gap <= k) merge into one maximal region
    * `[start_word, end_word)`. Unlike [[spanDedup]] (fixed non-overlapping
    * 10-word blocks), this finds ARBITRARY-offset shared substrings — the
    * boilerplate/license/template text that block alignment misses.
    *
    * After [[repeatedPositions]]'s one narrow corpus-wide shuffle, the
    * island merge is two window passes + a group-by over the flagged
    * subset only (duplicated-content-sized, not corpus-sized). */
  def repeatedSpans(spark: SparkSession, dir: String,
      k: Int = 8, minDocs: Int = 2): DataFrame =
    islandRegions(repeatedPositions(spark, dir, k, minDocs), k)

  /** Cross-document substring EXCISION: rewrite each document with every
    * word inside a repeated region ([[repeatedSpans]]) removed. The
    * remove-everywhere contract (vs keep-one-copy) is the conservative
    * decontamination-grade variant — no copy of corpus-repeated
    * boilerplate survives into training text.
    *
    * Covered word indexes come from exploding each flagged window
    * (duplicated-content-sized); the corpus-wide word stream is a narrow
    * posexplode anti-joined on (doc_id, index) — one keyed shuffle each
    * side — and reassembly is the same doc_id group-by [[spanDedup]]
    * uses. */
  def repeatedSpanExcise(spark: SparkSession, dir: String,
      k: Int = 8, minDocs: Int = 2): DataFrame = {
    val d = docs(spark, dir)
      .select(col("doc_id"),
        filter(split(col("text"), "\\s+"), t => length(t) > 0).as("w"))
    val covered = repeatedPositions(spark, dir, k, minDocs)
      .select(col("doc_id"),
        explode(sequence(col("p"), col("p") + k - 1)).as("i"))
      .distinct()
    val wi = d.select(col("doc_id"),
      posexplode(col("w")).as(Seq("i", "word")))
    val kept = wi.join(covered, Seq("doc_id", "i"), "left_anti")
    val agg = kept.groupBy("doc_id")
      .agg(
        concat_ws(" ", transform(
          array_sort(collect_list(struct(col("i"), col("word")))),
          x => x.getField("word"))).as("text_clean"),
        count(lit(1)).as("n_kept"))
    d.select(col("doc_id"), size(col("w")).as("n_words"))
      .join(agg, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("text_clean"), lit("")).as("text_clean"),
        (col("n_words") - coalesce(col("n_kept"), lit(0L)))
          .cast("long").as("n_dropped_words"))
  }
}

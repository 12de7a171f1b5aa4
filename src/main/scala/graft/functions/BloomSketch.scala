package graft.functions

import org.apache.spark.sql.{Column, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.graftshim.GraftSqlShim

/** Bloom-filter membership sketch with the same table algebra as
  * [[KmvSketch]]/[[QuantileSketch]]: the state is STORABLE (an
  * `array<bigint>` of bit words, parquet-friendly) and MERGEABLE with a
  * closed-form row-level merge (bitwise OR — a pure codegen'd
  * `zip_with`), so per-shard/per-snapshot bloom rows in a sketch table
  * answer later membership questions without rescanning raw data.
  *
  * The 100 TB use is the ADMISSION BLOCKLIST: a billion-entry ban list
  * (URLs, document hashes, contaminated texts) is too big to broadcast
  * raw, but its bloom is `nBits/8` bytes — small enough to ride INSIDE a
  * codegen'd expression ([[BloomMightContainExpression]]) and filter an
  * arbitrarily large corpus map-side, no shuffle, no join. False
  * positives (rate ≈ (1−e^(−kn/m))^k) go to an exact confirm join that
  * only ever sees the flagged sliver; false negatives are impossible, so
  * the bloom+confirm composition is EXACT (the oracle contract of
  * `q_bloom_guard`).
  *
  * Deterministic end to end: Kirsch–Mitzenmacher double hashing over two
  * FNV-1a 64-bit hashes (different offset bases), no RNG — the same
  * reproducibility convention as every other sketch here.
  */
object BloomSketch {

  /** First FNV-1a 64-bit hash, avalanche-finalized ([[KmvSketch
    * .fmix64]]) — without the finalizer, short similar grams cluster in
    * the probe space and the measured FP rate (and the fill-based
    * cardinality estimate of [[estimateExpr]]) drifts from the
    * (1-e^{-kn/m})^k model. */
  private[functions] def hash1(s: String): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < s.length) {
      h ^= s.charAt(i)
      h *= 0x100000001b3L
      i += 1
    }
    KmvSketch.fmix64(h)
  }

  /** Second, independent FNV-1a stream (distinct offset basis), forced
    * odd so it is coprime with the power-of-two bit count and the
    * double-hash probe sequence h1 + j·h2 walks all bit positions. */
  private[functions] def hash2(s: String): Long = {
    var h = 0x9e3779b97f4a7c15L
    var i = 0
    while (i < s.length) {
      h ^= s.charAt(i)
      h *= 0x100000001b3L
      i += 1
    }
    KmvSketch.fmix64(h) | 1L
  }

  private def requireLayout(nBits: Int): Unit = {
    require(nBits >= 64 && (nBits & (nBits - 1)) == 0,
      s"nBits must be a power of two >= 64, got $nBits")
  }

  /** Set `s`'s `numHashes` bits in `words` (mutates; build side). */
  private[functions] def setBits(words: Array[Long], s: String,
      numHashes: Int): Unit = {
    val mask = words.length * 64 - 1
    val h1 = hash1(s); val h2 = hash2(s)
    var j = 0
    while (j < numHashes) {
      val pos = ((h1 + j * h2) & mask.toLong).toInt
      words(pos >> 6) |= (1L << (pos & 63))
      j += 1
    }
  }

  /** Probe side: true iff every probed bit is set. Shared by the
    * aggregator and the codegen expression — one hash definition. */
  private[functions] def testBits(words: Array[Long], s: String,
      numHashes: Int): Boolean = {
    val mask = words.length * 64 - 1
    val h1 = hash1(s); val h2 = hash2(s)
    var j = 0
    while (j < numHashes) {
      val pos = ((h1 + j * h2) & mask.toLong).toInt
      if ((words(pos >> 6) & (1L << (pos & 63))) == 0L) return false
      j += 1
    }
    true
  }

  /** Typed aggregator building the bloom state over a string column.
    * The buffer is the word array itself (constant `nBits/64` longs per
    * group, mutated in place) — a proper partial aggregate: map-side
    * combines locally, the shuffle carries one fixed-size array per
    * group, merge is word-wise OR. */
  final class BloomStateSketch(nBits: Int, numHashes: Int)
      extends Aggregator[String, Array[Long], Seq[Long]] {
    requireLayout(nBits)
    require(numHashes >= 1 && numHashes <= 16,
      s"numHashes must be in [1, 16], got $numHashes")

    override def zero: Array[Long] = new Array[Long](nBits / 64)

    override def reduce(b: Array[Long], a: String): Array[Long] = {
      if (a != null) setBits(b, a, numHashes)
      b
    }

    override def merge(x: Array[Long], y: Array[Long]): Array[Long] = {
      var i = 0
      while (i < x.length) { x(i) |= y(i); i += 1 }
      x
    }

    override def finish(b: Array[Long]): Seq[Long] = b.toSeq

    override def bufferEncoder: Encoder[Array[Long]] =
      org.apache.spark.sql.catalyst.encoders
        .ExpressionEncoder[Array[Long]]()
    override def outputEncoder: Encoder[Seq[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Long]]()
  }

  /** Bloom STATE of a string column as an `array<bigint>` value. */
  def sketchState(c: Column, nBits: Int = 1 << 16,
      numHashes: Int = 4): Column =
    org.apache.spark.sql.functions.udaf(new BloomStateSketch(nBits,
      numHashes)).apply(c)

  /** Row-level merge of an array-of-states column (`collect_list` over
    * stored bloom rows): word-wise OR — pure codegen'd array
    * expressions, bit-identical to a one-shot bloom over the union
    * (spec-pinned merge law). */
  def mergeStatesExpr(states: Column, nBits: Int): Column = {
    import org.apache.spark.sql.functions._
    requireLayout(nBits)
    aggregate(states,
      array_repeat(lit(0L), nBits / 64).cast("array<bigint>"),
      (acc, s) => zip_with(acc, s, (a, b) => a.bitwiseOR(b)))
  }

  /** Swamidass–Baldi cardinality estimate from a state's fill ratio:
    * n ≈ −(m/k)·ln(1 − X/m), X = set bits. Saturated states (X = m)
    * report NULL — "beyond capacity", the honest answer. */
  def estimateExpr(state: Column, numHashes: Int): Column = {
    import org.apache.spark.sql.functions._
    ExprLet.bindCompound(state) { st =>
      val m = size(st).cast("double") * 64.0
      val x = aggregate(st, lit(0L),
        (acc, w) => acc + bit_count(w).cast("long")).cast("double")
      when(x >= m, lit(null).cast("long"))
        .otherwise(round(-(m / numHashes.toDouble) *
          log(lit(1.0) - x / m)).cast("long"))
    }
  }

  /** Set-bit count of a state (fill observability). */
  def bitsSetExpr(state: Column): Column = {
    import org.apache.spark.sql.functions._
    aggregate(state, lit(0L), (acc, w) => acc + bit_count(w).cast("long"))
  }

  /** Column-API probe: the state rides inside the expression as a
    * reference object (see [[BloomMightContainExpression]]). */
  def mightContain(key: Column, words: Array[Long],
      numHashes: Int): Column = {
    requireLayout(words.length * 64)
    GraftSqlShim.column(BloomMightContainExpression(
      GraftSqlShim.expression(key), words, numHashes))
  }

  /** Column-API gram probe: true iff ANY word k-gram of `text` bloom-
    * hits (see [[BloomAnyGramExpression]]) — the map-side pre-filter of
    * [[graft.operators.TextOps.decontaminateBloom]]. */
  def anyGramMightContain(text: Column, words: Array[Long],
      numHashes: Int, k: Int): Column = {
    requireLayout(words.length * 64)
    GraftSqlShim.column(BloomAnyGramExpression(
      GraftSqlShim.expression(text), words, numHashes, k))
  }
}

/** Native Catalyst expression for the bloom probe — the map-side
  * admission filter. The word array (`nBits/8` bytes) rides via
  * `ctx.addReferenceObj` so the probe stays inside whole-stage codegen:
  * no UDF boundary, no broadcast variable, no shuffle — a 100 TB corpus
  * scan filters against a billion-entry blocklist at memory-bandwidth
  * speed. NULL keys yield false (a NULL text is trivially not on the
  * blocklist), keeping the guard a total function like
  * [[SimHashExpression]].
  */
final case class BloomMightContainExpression(
    child: org.apache.spark.sql.catalyst.expressions.Expression,
    words: Array[Long], numHashes: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.ImplicitCastInputTypes {
  import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
  import org.apache.spark.sql.catalyst.expressions.codegen.Block._
  import org.apache.spark.sql.types.{BooleanType, DataType, StringType}

  override def dataType: DataType = BooleanType
  override def nullable: Boolean = false
  override def prettyName: String = "bloom_might_contain"
  override def inputTypes = Seq(StringType)

  override def eval(
      input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) false
    else BloomMightContainExpression.probe(
      v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String],
      words, numHashes)
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bloomWords", words, "long[]")
    val childGen = child.genCode(ctx)
    val fn = "graft.functions.BloomMightContainExpression.probe"
    ev.copy(
      code = code"""
        ${childGen.code}
        boolean ${ev.value} = !${childGen.isNull} &&
          $fn(${childGen.value}, $ref, $numHashes);
      """,
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(
      newChild: org.apache.spark.sql.catalyst.expressions.Expression)
      : BloomMightContainExpression = copy(child = newChild)
}

object BloomMightContainExpression {
  /** Codegen entry point (static call from generated Java). */
  def probe(text: org.apache.spark.unsafe.types.UTF8String,
      words: Array[Long], numHashes: Int): Boolean =
    text != null && BloomSketch.testBits(words, text.toString, numHashes)
}

/** Gram-level bloom probe: true iff ANY word k-gram of the text might
  * be in the bloomed gram set — the map-side escape hatch
  * [[SharedGramsExpression]]'s scaladoc promises for when a
  * decontamination blocklist outgrows executor closures. The exact gram
  * set may be GBs; its bloom is `nBits/8` bytes and rides via
  * `addReferenceObj`, so a 100 TB corpus scan pre-filters to the
  * flagged sliver with no join, no shuffle, no gram row-burst. No false
  * negatives (bloom guarantee) → a downstream exact confirm on the
  * sliver makes the composition EXACT. Tokenization is gram-for-gram
  * [[SharedGramsExpression.count]] / [[graft.operators.Dedup
  * .shingleArray]]: split on `\s+`, drop empties, below-k collapses to
  * the whole-text gram. Early-exits on the first hit.
  */
final case class BloomAnyGramExpression(
    child: org.apache.spark.sql.catalyst.expressions.Expression,
    words: Array[Long], numHashes: Int, k: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.ImplicitCastInputTypes {
  import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
  import org.apache.spark.sql.catalyst.expressions.codegen.Block._
  import org.apache.spark.sql.types.{BooleanType, DataType, StringType}

  override def dataType: DataType = BooleanType
  // total function: NULL text trivially shares nothing
  override def nullable: Boolean = false
  override def prettyName: String = "bloom_any_gram"
  override def inputTypes = Seq(StringType)

  override def eval(
      input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) false
    else BloomAnyGramExpression.probe(
      v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String],
      words, numHashes, k)
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bloomWords", words, "long[]")
    val childGen = child.genCode(ctx)
    val fn = "graft.functions.BloomAnyGramExpression.probe"
    ev.copy(
      code = code"""
        ${childGen.code}
        boolean ${ev.value} = !${childGen.isNull} &&
          $fn(${childGen.value}, $ref, $numHashes, $k);
      """,
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(
      newChild: org.apache.spark.sql.catalyst.expressions.Expression)
      : BloomAnyGramExpression = copy(child = newChild)
}

object BloomAnyGramExpression {
  /** Codegen entry point: rolling k-gram window over the text, probing
    * each gram against the bloom; true on the first hit. */
  def probe(text: org.apache.spark.unsafe.types.UTF8String,
      words: Array[Long], numHashes: Int, k: Int): Boolean = {
    if (text == null) return false
    val w = text.toString.split("\\s+").filter(_.nonEmpty)
    if (w.length < k)
      return BloomSketch.testBits(words, w.mkString(" "), numHashes)
    val sb = new java.lang.StringBuilder
    var i = 0
    while (i <= w.length - k) {
      sb.setLength(0)
      var j = 0
      while (j < k) {
        if (j > 0) sb.append(' ')
        sb.append(w(i + j))
        j += 1
      }
      if (BloomSketch.testBits(words, sb.toString, numHashes)) return true
      i += 1
    }
    false
  }
}

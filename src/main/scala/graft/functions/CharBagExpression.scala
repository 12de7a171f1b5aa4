package graft.functions

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.types.{BinaryType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Packed character-histogram ("bag") for the edit-distance lower
  * bound: 27 counts (a–z + space), 2 bytes each big-endian, over one
  * streaming pass of the text — the build side of
  * [[graft.operators.Dedup.editDistancePairs]]'s bag prune.
  *
  * Why a packed BINARY column + a native L1 expression instead of 27
  * scalar columns (round-13 find): inlining a 27-term
  * `abs(c0a−c0b)+…` into the join's generated consume() regressed the
  * sf1 banded join 5.4 s → 133 s — the fused method blows the JIT's
  * compilation budget and the hot loop runs deoptimized. Here each
  * pair costs ONE static call into [[CharBagExpression.l1]] (a 27-lane
  * byte loop, ~100 bytecode bytes), which the JIT inlines happily; the
  * bag itself is built once per document at bag-table-materialization
  * time (one char scan — also replacing the 27 regexp_replace passes
  * of the column variant).
  *
  * Exactness of the bound is unaffected by representation: characters
  * outside the counted alphabet are ignored (projection can only
  * LOOSEN L1, and the prune drops only pairs with L1 > 2k), and counts
  * clamp at 0xFFFF (clamping can only lower L1 — same direction). */
final case class CharBagExpression(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes {

  override def dataType: DataType = BinaryType
  // total: NULL text has the all-zero histogram
  override def nullable: Boolean = false
  override def prettyName: String = "char_bag"
  override def inputTypes = Seq(StringType)

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = child.eval(input)
    CharBagExpression.bag(
      if (v == null) null else v.asInstanceOf[UTF8String])
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val childGen = child.genCode(ctx)
    val fn = "graft.functions.CharBagExpression.bag"
    ev.copy(
      code = code"""
        ${childGen.code}
        byte[] ${ev.value} =
          $fn(${childGen.isNull} ? null : ${childGen.value});
      """,
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression)
      : CharBagExpression = copy(child = newChild)
}

/** L1 distance between the LETTER sections of two
  * [[CharBagExpression]] bags (`l1/2 <= levenshtein` — spec and
  * diagnostics surface). Mismatched/absent bags yield 0 (no evidence
  * → no prune → exactness preserved). */
final case class CharBagL1Expression(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {

  override def dataType: DataType = LongType
  override def nullable: Boolean = false
  override def prettyName: String = "char_bag_l1"
  override def inputTypes = Seq(BinaryType, BinaryType)

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val a = left.eval(input)
    val b = right.eval(input)
    CharBagExpression.l1(
      if (a == null) null else a.asInstanceOf[Array[Byte]],
      if (b == null) null else b.asInstanceOf[Array[Byte]])
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val lg = left.genCode(ctx)
    val rg = right.genCode(ctx)
    val fn = "graft.functions.CharBagExpression.l1"
    ev.copy(
      code = code"""
        ${lg.code}
        ${rg.code}
        long ${ev.value} = $fn(
          ${lg.isNull} ? null : ${lg.value},
          ${rg.isNull} ? null : ${rg.value});
      """,
      isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): CharBagL1Expression =
    copy(left = newLeft, right = newRight)
}

/** The combined exact reject probe of the bag prune: true iff the
  * letter-section L1 is within `2·k` AND the hashed-bigram-section L1
  * is within `4·k` — both implied by levenshtein <= k, so `false`
  * can never drop a true pair. One static call per candidate. */
final case class CharBagWithinExpression(left: Expression,
    right: Expression, k: Int)
    extends BinaryExpression with ImplicitCastInputTypes {

  override def dataType: DataType =
    org.apache.spark.sql.types.BooleanType
  override def nullable: Boolean = false
  override def prettyName: String = "char_bag_within"
  override def inputTypes = Seq(BinaryType, BinaryType)

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val a = left.eval(input)
    val b = right.eval(input)
    CharBagExpression.withinBound(
      if (a == null) null else a.asInstanceOf[Array[Byte]],
      if (b == null) null else b.asInstanceOf[Array[Byte]], k)
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val lg = left.genCode(ctx)
    val rg = right.genCode(ctx)
    val fn = "graft.functions.CharBagExpression.withinBound"
    ev.copy(
      code = code"""
        ${lg.code}
        ${rg.code}
        boolean ${ev.value} = $fn(
          ${lg.isNull} ? null : ${lg.value},
          ${rg.isNull} ? null : ${rg.value}, $k);
      """,
      isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): CharBagWithinExpression =
    copy(left = newLeft, right = newRight)
}

object CharBagExpression {
  /** Unigram lanes: 'a'..'z' at 0..25, space at 26. */
  val LetterLanes = 27
  /** Hashed-bigram lanes (round-13 second section): each adjacent
    * in-alphabet byte pair lands in lane `(c1*31 + c2) % 64`. One edit
    * touches at most 2 adjacent pairs on each side of the alignment, so
    * the bigram-bag L1 moves by at most 4 per edit —
    * `bigramL1 > 4·maxDist` is an exact reject, and hashing lanes
    * together only LOWERS L1 (opposite-sign deltas cancel), preserving
    * the bound direction. On same-length random word salads the bigram
    * histogram is far more discriminative than the letter one (≈64
    * effective dimensions vs ≈14), which is what cuts the DP survivor
    * rate another order of magnitude under domain saturation. */
  val BigramLanes = 64
  val Lanes = LetterLanes + BigramLanes

  /** Codegen entry point: one-pass packed histogram of `text`
    * (27 letter lanes ++ 64 hashed-bigram lanes, 2 B big-endian each). */
  def bag(text: UTF8String): Array[Byte] = {
    val out = new Array[Byte](Lanes * 2)
    if (text == null) return out
    val counts = new Array[Int](Lanes)
    val n = text.numBytes()
    var prev = -1 // previous in-alphabet code, -1 if none/broken adjacency
    var i = 0
    while (i < n) {
      val b = text.getByte(i)
      val code =
        if (b >= 'a' && b <= 'z') b - 'a'
        else if (b == ' ') 26
        else -1
      if (code >= 0) {
        counts(code) += 1
        if (prev >= 0)
          counts(LetterLanes + (prev * 31 + code) % BigramLanes) += 1
      }
      prev = code
      i += 1
    }
    var j = 0
    while (j < Lanes) {
      val c = math.min(counts(j), 0xFFFF)
      out(j * 2) = ((c >> 8) & 0xFF).toByte
      out(j * 2 + 1) = (c & 0xFF).toByte
      j += 1
    }
    out
  }

  private def sectionL1(a: Array[Byte], b: Array[Byte],
      fromLane: Int, toLane: Int): Long = {
    var sum = 0L
    var i = fromLane * 2
    val end = toLane * 2
    while (i < end) {
      val ca = ((a(i) & 0xFF) << 8) | (a(i + 1) & 0xFF)
      val cb = ((b(i) & 0xFF) << 8) | (b(i + 1) & 0xFF)
      sum += math.abs(ca - cb)
      i += 2
    }
    sum
  }

  /** L1 over the LETTER lanes (spec + diagnostics; `l1/2 <= lev`). */
  def l1(a: Array[Byte], b: Array[Byte]): Long = {
    if (a == null || b == null || a.length != b.length) return 0L
    sectionL1(a, b, 0, LetterLanes)
  }

  /** L1 over the hashed-bigram lanes (`bigramL1/4 <= lev`). */
  def bigramL1(a: Array[Byte], b: Array[Byte]): Long = {
    if (a == null || b == null || a.length != b.length) return 0L
    sectionL1(a, b, LetterLanes, Lanes)
  }

  /** Codegen entry point for the combined exact reject: true iff BOTH
    * sections keep the pair alive (letters within 2k, bigrams within
    * 4k). Null/mismatched bags pass — "no evidence" never prunes. */
  def withinBound(a: Array[Byte], b: Array[Byte], k: Int): Boolean = {
    if (a == null || b == null || a.length != b.length) return true
    sectionL1(a, b, 0, LetterLanes) <= 2L * k &&
      sectionL1(a, b, LetterLanes, Lanes) <= 4L * k
  }

  import org.apache.spark.sql.Column
  import org.apache.spark.sql.graftshim.GraftSqlShim
  /** Column-API forms (same bridge idiom as [[SimHashExpression]]). */
  def bagCol(text: Column): Column =
    GraftSqlShim.column(CharBagExpression(GraftSqlShim.expression(text)))
  def l1Col(a: Column, b: Column): Column =
    GraftSqlShim.column(CharBagL1Expression(
      GraftSqlShim.expression(a), GraftSqlShim.expression(b)))
  def withinCol(a: Column, b: Column, k: Int): Column =
    GraftSqlShim.column(CharBagWithinExpression(
      GraftSqlShim.expression(a), GraftSqlShim.expression(b), k))
}

package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}
import org.apache.spark.sql.graftshim.GraftSqlShim

/** Positional agreement count of two long-array columns — the MinHash
  * Jaccard-estimate numerator of [[graft.operators.Dedup]]'s
  * signature-vs-index scorers (r17).
  *
  * Replaces `aggregate(zip_with(sig, hist_sig, (a,b) => (a===b).cast(int)),
  * 0, _+_)` — a non-codegen higher-order pair of expressions allocating
  * a zipped array per candidate — with one static JIT-inlinable loop
  * (the [[DotProductExpression]] trade). Semantics pinned equal: NULL
  * iff either array is null or lengths differ (zip_with pads with null
  * → null sum); the caller's signatures are fixed-width non-null
  * arrays, so the null path is totality, not behavior. */
final case class SlotAgreeExpression(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "slot_agree_n"

  private def elemOk(dt: DataType): Boolean = dt match {
    case ArrayType(LongType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (elemOk(left.dataType) && elemOk(right.dataType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<bigint> inputs, got " +
        s"${left.dataType.catalogString} and ${right.dataType.catalogString}")

  override def eval(input: InternalRow): Any = {
    val l = left.eval(input)
    val r = right.eval(input)
    SlotAgreeExpression.count(
      if (l == null) null else l.asInstanceOf[ArrayData],
      if (r == null) null else r.asInstanceOf[ArrayData])
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val lg = left.genCode(ctx)
    val rg = right.genCode(ctx)
    val tmp = ctx.freshName("agreeBoxed")
    val fn = "graft.functions.SlotAgreeExpression.count"
    ev.copy(code = code"""
      ${lg.code}
      ${rg.code}
      java.lang.Long $tmp = $fn(
        ${lg.isNull} ? null : ${lg.value},
        ${rg.isNull} ? null : ${rg.value});
      boolean ${ev.isNull} = $tmp == null;
      long ${ev.value} = ${ev.isNull} ? 0L : $tmp.longValue();
    """)
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): SlotAgreeExpression =
    copy(left = newLeft, right = newRight)
}

object SlotAgreeExpression {
  /** Agreeing-slot count; null on null array or length mismatch —
    * the exact aggregate(zip_with) totality. Null SLOTS cannot occur on
    * the callers' signatures (containsNull = false), but are treated as
    * the HOF would: a null comparison poisons the sum → null. */
  def count(a: ArrayData, b: ArrayData): java.lang.Long = {
    if (a == null || b == null) return null
    val n = a.numElements()
    if (b.numElements() != n) return null
    var i = 0
    var c = 0L
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      if (a.getLong(i) == b.getLong(i)) c += 1L
      i += 1
    }
    java.lang.Long.valueOf(c)
  }

  /** Column form (the Dedup scorer call sites). */
  def countCol(a: org.apache.spark.sql.Column,
      b: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    GraftSqlShim.column(SlotAgreeExpression(
      GraftSqlShim.expression(a), GraftSqlShim.expression(b)))
}

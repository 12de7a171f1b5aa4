package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}
import org.apache.spark.sql.graftshim.GraftSqlShim

/** Sequential-fold dot product of two float/double array columns — the
  * native verify kernel of every cosine in [[graft.operators.Similarity]]
  * / [[graft.operators.Ivf]] / [[graft.operators.Pq]] (r17).
  *
  * Why an expression and not `aggregate(zip_with(a, b, _*_), 0d, _+_)`:
  * the higher-order form is NOT whole-stage-codegen — per call it
  * allocates the zipped array (plus the array<double> casts' copies)
  * and walks it with an interpreted lambda projection, and it sits in
  * the per-candidate hot path of the LSH pair joins (knnJoin,
  * nearDupPairs, marginMine score every bucket-mate pair three times:
  * dot + two self-dots). Here the same fold is one static
  * JIT-inlinable call over the unsafe array data — the
  * [[SortedIntersectExpression]] trade.
  *
  * Semantics are pinned EQUAL to the HOF form (spec: random/adversarial
  * parity): left-to-right fold `((0.0 + x₀y₀) + x₁y₁) + …` in double —
  * bit-identical summation order — with float elements widened per
  * element exactly like the array<double> cast; NULL result iff either
  * array is null, lengths differ (zip_with pads with null → null sum),
  * or any element is null. */
final case class DotProductExpression(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "dot_product_f"

  private def elemOk(dt: DataType): Boolean = dt match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (elemOk(left.dataType) && elemOk(right.dataType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<float>/array<double> inputs, got " +
        s"${left.dataType.catalogString} and ${right.dataType.catalogString}")

  private def isFloat(e: Expression): Boolean =
    e.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def eval(input: InternalRow): Any = {
    val a = left.eval(input)
    val b = right.eval(input)
    DotProductExpression.dot(
      if (a == null) null else a.asInstanceOf[ArrayData],
      if (b == null) null else b.asInstanceOf[ArrayData],
      isFloat(left), isFloat(right))
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val lg = left.genCode(ctx)
    val rg = right.genCode(ctx)
    val af = isFloat(left)
    val bf = isFloat(right)
    val tmp = ctx.freshName("dotBoxed")
    val fn = "graft.functions.DotProductExpression.dot"
    ev.copy(code = code"""
      ${lg.code}
      ${rg.code}
      java.lang.Double $tmp = $fn(
        ${lg.isNull} ? null : ${lg.value},
        ${rg.isNull} ? null : ${rg.value}, $af, $bf);
      boolean ${ev.isNull} = $tmp == null;
      double ${ev.value} = ${ev.isNull} ? 0.0 : $tmp.doubleValue();
    """)
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): DotProductExpression =
    copy(left = newLeft, right = newRight)
}

object DotProductExpression {
  /** Left-to-right double fold; null on null array, length mismatch or
    * null element — the exact aggregate(zip_with) totality. */
  def dot(a: ArrayData, b: ArrayData, aFloat: Boolean,
      bFloat: Boolean): java.lang.Double = {
    if (a == null || b == null) return null
    val n = a.numElements()
    if (b.numElements() != n) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val x = if (aFloat) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (bFloat) b.getFloat(i).toDouble else b.getDouble(i)
      acc += x * y
      i += 1
    }
    java.lang.Double.valueOf(acc)
  }

  /** Column form (the Similarity/Ivf/Pq call sites). */
  def dotCol(a: org.apache.spark.sql.Column,
      b: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    GraftSqlShim.column(DotProductExpression(
      GraftSqlShim.expression(a), GraftSqlShim.expression(b)))
}

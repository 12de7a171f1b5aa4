package graft.functions

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ImplicitCastInputTypes}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}
import org.apache.spark.sql.graftshim.GraftSqlShim

/** Distinct-common-element count of two SORTED LongArray columns — the
  * native verify probe of [[graft.operators.Dedup.setSimPairs]]'s bulk
  * hash stage (r16).
  *
  * Why an expression and not `size(array_intersect(a, b))`: the generic
  * intersect builds a per-call hash set of one side (allocation +
  * boxing + rehash for every candidate pair), which the setsim stage
  * probe measured as the dominant warm term of the top gate query
  * (~1.6 s of 2.7 s at sf0.1 — 137k candidates × ~12 µs). Over arrays
  * the BUILD step already wrote sorted, the same count is one
  * allocation-free merge scan (~0.5 µs) — the [[CharBagExpression]]
  * trade: a single static call the JIT inlines, instead of a fused
  * generic operator.
  *
  * Semantics match `size(array_intersect)` on sorted inputs exactly:
  * duplicates (hash collisions in the setsim tables) count ONCE, null
  * elements match each other once (two arrays that both hold a null
  * share one null) and are never read as values, and a NULL array
  * yields 0 (the caller's arrays are non-null by construction; 0 keeps
  * the expression total). The non-null elements MUST be sorted
  * ascending, wherever the nulls sit — the caller owns that invariant
  * (spec-pinned vs the generic intersect on the real tables and on
  * nullable arrays read back from parquet). */
final case class SortedIntersectExpression(left: Expression,
    right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {

  override def dataType: DataType = LongType
  override def nullable: Boolean = false
  override def prettyName: String = "sorted_intersect_n"
  override def inputTypes = Seq(ArrayType(LongType), ArrayType(LongType))

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val a = left.eval(input)
    val b = right.eval(input)
    SortedIntersectExpression.count(
      if (a == null) null else a.asInstanceOf[ArrayData],
      if (b == null) null else b.asInstanceOf[ArrayData])
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val lg = left.genCode(ctx)
    val rg = right.genCode(ctx)
    val fn = "graft.functions.SortedIntersectExpression.count"
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
      newRight: Expression): SortedIntersectExpression =
    copy(left = newLeft, right = newRight)
}

object SortedIntersectExpression {
  /** Merge scan over two ascending long arrays; equal runs advance both
    * sides and count once (array_intersect's distinct semantics). Null
    * slots are skipped, and a null held by both sides counts once. */
  def count(a: ArrayData, b: ArrayData): Long = {
    if (a == null || b == null) return 0L
    val na = a.numElements()
    val nb = b.numElements()
    val aNull = hasNull(a)
    val bNull = hasNull(b)
    var i = 0
    var j = 0
    var n = if (aNull && bNull) 1L else 0L
    var prev = 0L
    var hasPrev = false
    while (i < na && j < nb) {
      if (aNull && a.isNullAt(i)) i += 1
      else if (bNull && b.isNullAt(j)) j += 1
      else {
        val x = a.getLong(i)
        val y = b.getLong(j)
        if (x < y) i += 1
        else if (x > y) j += 1
        else {
          if (!hasPrev || x != prev) { n += 1L; prev = x; hasPrev = true }
          i += 1; j += 1
        }
      }
    }
    n
  }

  private def hasNull(a: ArrayData): Boolean = {
    var i = 0
    while (i < a.numElements()) {
      if (a.isNullAt(i)) return true
      i += 1
    }
    false
  }

  /** Column form (the [[graft.operators.Dedup.setSimPairs]] call site). */
  def countCol(a: org.apache.spark.sql.Column,
      b: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    GraftSqlShim.column(SortedIntersectExpression(
      GraftSqlShim.expression(a), GraftSqlShim.expression(b)))
}

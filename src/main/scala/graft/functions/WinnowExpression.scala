package graft.functions

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, ImplicitCastInputTypes}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.sql.graftshim.GraftSqlShim

/** Native Catalyst expression for winnowing fingerprints (Schleimer et
  * al., SIGMOD'03) — the fingerprint pass of
  * [[graft.operators.TextOps.containmentPairs]] without the Scala-UDF
  * serialization boundary, following the [[MinHashExpression]] pattern.
  * Semantics identical to `fingerprintSet(text, k, window).sorted`
  * (NULL / short text → empty array — total function; sorted so the
  * output is set-shaped and deterministic).
  */
final case class WinnowExpression(child: Expression, k: Int, window: Int)
    extends UnaryExpression with ImplicitCastInputTypes {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  // total function: NULL input yields the empty fingerprint set, not NULL
  override def nullable: Boolean = false
  override def prettyName: String = "winnow_fingerprints"
  override def inputTypes = Seq(StringType)

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any =
    WinnowExpression.fingerprintsUtf8(
      child.eval(input).asInstanceOf[UTF8String], k, window)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val childGen = child.genCode(ctx)
    val fn = "graft.functions.WinnowExpression.fingerprintsUtf8"
    ev.copy(
      code = code"""
        ${childGen.code}
        org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} =
          $fn(${childGen.isNull} ? null : ${childGen.value}, $k, $window);
      """,
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): WinnowExpression =
    copy(child = newChild)
}

object WinnowExpression {
  /** Codegen entry point (static call from generated Java). */
  def fingerprintsUtf8(text: UTF8String, k: Int, window: Int): ArrayData = {
    val s = if (text == null) null else text.toString
    ArrayData.toArrayData(
      graft.operators.TextOps.fingerprintSet(s, k, window).sorted.toArray)
  }

  /** Column-API form (defaults match [[graft.operators.TextOps.fingerprintSet]]). */
  def native(c: org.apache.spark.sql.Column, k: Int = 8, window: Int = 4)
      : org.apache.spark.sql.Column =
    GraftSqlShim.column(WinnowExpression(GraftSqlShim.expression(c), k, window))
}

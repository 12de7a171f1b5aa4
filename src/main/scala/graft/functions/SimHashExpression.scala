package graft.functions

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, ImplicitCastInputTypes}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.sql.graftshim.GraftSqlShim

/** Native Catalyst expression for the 64-bit SimHash (the one remaining
  * per-row signature UDF with a clean codegen upgrade path — r2 verdict
  * stretch item): stays inside WholeStageCodegen instead of paying the UDF
  * serialization boundary. Semantics identical to
  * [[graft.operators.Dedup.simHash64]] (NULL → 0L, the total-function
  * contract the dedup pipeline relies on).
  */
final case class SimHashExpression(child: Expression) extends UnaryExpression
    with ImplicitCastInputTypes {

  override def dataType: DataType = LongType
  // total function: NULL input yields 0L (not NULL), matching simHash64
  override def nullable: Boolean = false
  override def prettyName: String = "simhash"
  // (return type inferred — AbstractDataType is private[sql])
  override def inputTypes = Seq(StringType)

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) 0L
    else graft.operators.Dedup.simHash64(v.asInstanceOf[UTF8String].toString)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val childGen = child.genCode(ctx)
    // companion-object method reached via its Scala static forwarder
    val fn = "graft.functions.SimHashExpression.hashUtf8"
    ev.copy(
      code = code"""
        ${childGen.code}
        long ${ev.value} = ${childGen.isNull} ? 0L : $fn(${childGen.value});
      """,
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): SimHashExpression =
    copy(child = newChild)
}

object SimHashExpression {
  /** Codegen entry point (static call from generated Java). */
  def hashUtf8(text: UTF8String): Long =
    if (text == null) 0L else graft.operators.Dedup.simHash64(text.toString)

  /** Column-API form: `df.select(SimHashExpression.native(col("text")))`. */
  def native(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    GraftSqlShim.column(SimHashExpression(GraftSqlShim.expression(c)))
}

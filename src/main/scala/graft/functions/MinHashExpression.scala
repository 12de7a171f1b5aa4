package graft.functions

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, ImplicitCastInputTypes}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.sql.graftshim.GraftSqlShim

/** Native Catalyst expression for the MinHash signature — the signature
  * pass of [[graft.operators.Dedup.minHashPairs]] without the Scala-UDF
  * serialization boundary, following the [[SimHashExpression]] pattern.
  * Semantics identical to `minHashSignature(shingles(text), numHashes)`
  * (NULL → the empty-set signature, all Long.MaxValue — total function).
  */
final case class MinHashExpression(child: Expression, numHashes: Int)
    extends UnaryExpression with ImplicitCastInputTypes {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  // total function: NULL input yields the empty-set signature, not NULL
  override def nullable: Boolean = false
  override def prettyName: String = "minhash_signature"
  override def inputTypes = Seq(StringType)

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any =
    MinHashExpression.signatureUtf8(
      child.eval(input).asInstanceOf[UTF8String], numHashes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val childGen = child.genCode(ctx)
    val fn = "graft.functions.MinHashExpression.signatureUtf8"
    ev.copy(
      code = code"""
        ${childGen.code}
        org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} =
          $fn(${childGen.isNull} ? null : ${childGen.value}, $numHashes);
      """,
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): MinHashExpression =
    copy(child = newChild)
}

object MinHashExpression {
  /** Codegen entry point (static call from generated Java). */
  def signatureUtf8(text: UTF8String, numHashes: Int): ArrayData = {
    val s = if (text == null) null else text.toString
    ArrayData.toArrayData(
      graft.operators.Dedup.minHashSignature(
        graft.operators.Dedup.shingles(s), numHashes))
  }

  /** Column-API form. */
  def native(c: org.apache.spark.sql.Column, numHashes: Int)
      : org.apache.spark.sql.Column =
    GraftSqlShim.column(MinHashExpression(
      GraftSqlShim.expression(c), numHashes))
}

package graft.functions

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.sql.graftshim.GraftSqlShim

/** Native Catalyst expression for SUDAN_GeoCode — the codegen'd upgrade of
  * the UDF (SURVEY §7.3): stays inside WholeStageCodegen instead of paying
  * the UDF serialization boundary. Semantics identical to [[GeoCode.lookup]]
  * (Arabic-exact / English-ci / '' on miss / '' on NULL — the reference's
  * empty-string-not-null contract, geo_functions.cpp:350-352).
  */
final case class GeoCodeExpression(child: Expression) extends UnaryExpression
    with ImplicitCastInputTypes {

  override def dataType: DataType = StringType
  // analysis-time coercion: SUDAN_GeoCode(123) casts to string like the
  // reference's implicit VARCHAR cast, instead of failing in codegen.
  // (return type inferred — AbstractDataType is private[sql])
  override def inputTypes = Seq(StringType)
  // total function: NULL input yields '' (not NULL), so never null out
  override def nullable: Boolean = false
  override def prettyName: String = "sudan_geocode"

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) UTF8String.EMPTY_UTF8
    else UTF8String.fromString(GeoCode.lookup(v.asInstanceOf[UTF8String].toString))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val childGen = child.genCode(ctx)
    // companion-object method reached via its Scala static forwarder
    val fn = "graft.functions.GeoCodeExpression.lookupUtf8"
    ev.copy(
      code = code"""
        ${childGen.code}
        UTF8String ${ev.value} = ${childGen.isNull}
          ? UTF8String.EMPTY_UTF8
          : $fn(${childGen.value});
      """,
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): GeoCodeExpression =
    copy(child = newChild)
}

object GeoCodeExpression {
  /** Codegen entry point (static call from generated Java). */
  def lookupUtf8(name: UTF8String): UTF8String =
    if (name == null) UTF8String.EMPTY_UTF8
    else UTF8String.fromString(GeoCode.lookup(name.toString))

  /** Column-API form of the native expression:
    * `df.select(GeoCodeExpression.native(col("name")))`. */
  def native(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    GraftSqlShim.column(GeoCodeExpression(GraftSqlShim.expression(c)))
}

package graft.functions

import org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext
import org.apache.spark.sql.catalyst.expressions.codegen.ExprCode
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, FloatType, IntegerType}
import org.apache.spark.sql.graftshim.GraftSqlShim

/** Native Catalyst expressions for the IVF-PQ encode path — the
  * cell-assignment and code-emission maps of
  * [[graft.operators.Pq.encodeInto]] without the Scala-UDF
  * serialization boundary, following the
  * [[MinHashExpression]]/[[SimHashExpression]] pattern. The frozen
  * model (centroids / codebooks, a few KB) rides inside the expression
  * via `ctx.addReferenceObj`, so the encode projection stays inside
  * whole-stage codegen — no broadcast variable, no
  * `ScalaUDF`/`BatchEvalPython` node in the index-write job.
  *
  * Semantics identical to the former UDFs: nearest centroid by squared
  * L2, ties → lowest index ([[graft.operators.Ivf.nearest]]); NULL
  * embedding propagates to NULL (the UnaryExpression null-safe
  * contract).
  */
final case class NearestCentroidExpression(child: Expression,
    centroids: Array[Array[Double]])
    extends UnaryExpression with ImplicitCastInputTypes {

  override def dataType: DataType = IntegerType
  override def prettyName: String = "pq_nearest_centroid"
  override def inputTypes = Seq(ArrayType(FloatType))

  override protected def nullSafeEval(input: Any): Any =
    PqEncodeExpression.nearestCentroid(
      input.asInstanceOf[ArrayData], centroids)

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("pqCentroids", centroids, "double[][]")
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.PqEncodeExpression.nearestCentroid($c, $ref)")
  }

  override protected def withNewChildInternal(newChild: Expression)
      : NearestCentroidExpression = copy(child = newChild)
}

/** The m-subspace PQ code array for one embedding (see
  * [[NearestCentroidExpression]] for the shared design notes). */
final case class PqCodesExpression(child: Expression,
    books: Array[Array[Array[Double]]])
    extends UnaryExpression with ImplicitCastInputTypes {

  override def dataType: DataType =
    ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "pq_codes"
  override def inputTypes = Seq(ArrayType(FloatType))

  override protected def nullSafeEval(input: Any): Any =
    PqEncodeExpression.pqCodes(input.asInstanceOf[ArrayData], books)

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("pqBooks", books, "double[][][]")
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.PqEncodeExpression.pqCodes($c, $ref)")
  }

  override protected def withNewChildInternal(newChild: Expression)
      : PqCodesExpression = copy(child = newChild)
}

object PqEncodeExpression {
  /** Codegen entry point (static call from generated Java). */
  def nearestCentroid(v: ArrayData, centroids: Array[Array[Double]]): Int =
    graft.operators.Ivf.nearest(centroids, v.toFloatArray())

  /** Codegen entry point: code s = nearest codebook-s centroid of the
    * s-th subvector slice. */
  def pqCodes(v: ArrayData, books: Array[Array[Array[Double]]]): ArrayData = {
    val arr = v.toFloatArray()
    val sub = books(0)(0).length
    ArrayData.toArrayData(Array.tabulate(books.length) { s =>
      graft.operators.Ivf.nearest(books(s),
        java.util.Arrays.copyOfRange(arr, s * sub, (s + 1) * sub))
    })
  }

  /** Column-API forms. */
  def assign(c: org.apache.spark.sql.Column,
      centroids: Array[Array[Double]]): org.apache.spark.sql.Column =
    GraftSqlShim.column(NearestCentroidExpression(
      GraftSqlShim.expression(c), centroids))

  def codes(c: org.apache.spark.sql.Column,
      books: Array[Array[Array[Double]]]): org.apache.spark.sql.Column =
    GraftSqlShim.column(PqCodesExpression(GraftSqlShim.expression(c), books))
}

package graft.functions

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, FloatType, LongType}
import org.apache.spark.sql.graftshim.GraftSqlShim

/** Native Catalyst expression for the random-hyperplane LSH bucket id:
  * bit i of the result is the sign (≥ 0) of the vector's dot product with
  * deterministic hyperplane i ([[graft.operators.Similarity.hyperplanes]]).
  *
  * This replaces the last UDF in the ANN hot path (the bucket assignment
  * feeding knnJoin / nearDupPairs / SemDeDup / LSH top-k): as a codegen'd
  * expression the embedding scan → bucket → shuffle pipeline stays inside
  * one WholeStageCodegen stage instead of paying a per-row serialization
  * boundary on every vector of a 100 TB corpus. Buckets are bit-identical
  * to the UDF it replaces (same plane matrix, same float→double widening,
  * same accumulation order) — spec-pinned in `SimilaritySpec`, and the
  * DuckDB oracles that re-derive buckets hash-check it per round.
  */
final case class HyperplaneBucketExpression(child: Expression, numPlanes: Int,
    dim: Int) extends UnaryExpression with ImplicitCastInputTypes {

  override def dataType: DataType = LongType
  override def prettyName: String = "hyperplane_bucket"
  // (return type inferred — AbstractDataType is private[sql])
  override def inputTypes = Seq(ArrayType(FloatType))

  override protected def nullSafeEval(input: Any): Any =
    HyperplaneBucketExpression.bucket(
      input.asInstanceOf[ArrayData], numPlanes, dim)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    // companion-object method reached via its Scala static forwarder
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.HyperplaneBucketExpression.bucket($c, $numPlanes, $dim)")

  override protected def withNewChildInternal(newChild: Expression): HyperplaneBucketExpression =
    copy(child = newChild)
}

object HyperplaneBucketExpression {

  /** Plane matrices are deterministic in (numPlanes, dim); cache one copy
    * per JVM so codegen'd rows don't re-derive the SplitMix walk. */
  private val planeCache =
    new ConcurrentHashMap[(Int, Int), Array[Array[Double]]]()

  private def planes(numPlanes: Int, dim: Int): Array[Array[Double]] =
    planeCache.computeIfAbsent((numPlanes, dim),
      _ => graft.operators.Similarity.hyperplanes(numPlanes, dim))

  /** Codegen entry point (static call from generated Java). Identical
    * arithmetic to the UDF it replaced: per plane, fold p(j) * v(j) in
    * double precision over min(plane dim, vector dim) and set bit i iff
    * the sum is non-negative. */
  def bucket(v: ArrayData, numPlanes: Int, dim: Int): Long = {
    val ps = planes(numPlanes, dim)
    val n = v.numElements()
    var bucket = 0L
    var i = 0
    while (i < ps.length) {
      val p = ps(i)
      val lim = math.min(p.length, n)
      var d = 0.0
      var j = 0
      while (j < lim) { d += p(j) * v.getFloat(j); j += 1 }
      if (d >= 0) bucket |= (1L << i)
      i += 1
    }
    bucket
  }

  /** Column-API form:
    * `df.select(HyperplaneBucketExpression.native(col("embedding"), 12))`. */
  def native(c: org.apache.spark.sql.Column, numPlanes: Int,
      dim: Int = 64): org.apache.spark.sql.Column =
    GraftSqlShim.column(HyperplaneBucketExpression(
      GraftSqlShim.expression(c), numPlanes, dim))
}

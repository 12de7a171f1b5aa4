package graft.functions

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.sql.graftshim.GraftSqlShim

/** Native decontamination probe: the number of DISTINCT word k-grams of
  * `child` that appear in the benchmark gram set — the whole corpus
  * side of [[graft.operators.TextOps.decontaminate]] collapsed into one
  * codegen'd map.
  *
  * Why an expression and not the explode⋈broadcast⋈agg composition: the
  * declarative form materializes EVERY corpus gram as a row (×n_words
  * row burst through Generate), hashes each against the broadcast, then
  * pays a per-doc aggregation — three operators of per-gram row
  * overhead for what is, per document, a single streaming pass over its
  * words. Here the gram set (benchmarks are thousands of items, a few
  * MB — driver-collected the same way the join form broadcasts it)
  * rides inside the expression via `addReferenceObj`, and each doc is
  * scanned once with a rolling window: no Generate, no join, no
  * aggregate, no shuffle — the 100 TB corpus side stays a narrow
  * projection. Tokenization (split `\s+`, drop empties, whole-text
  * gram below k words) and DISTINCT-count semantics are identical to
  * [[graft.operators.Dedup.shingleArray]] + countDistinct
  * (spec-pinned equal output).
  */
final case class SharedGramsExpression(child: Expression,
    benchGrams: java.util.HashSet[String], k: Int)
    extends UnaryExpression with ImplicitCastInputTypes {

  override def dataType: DataType = LongType
  // total function: NULL text trivially shares nothing
  override def nullable: Boolean = false
  override def prettyName: String = "shared_grams"
  override def inputTypes = Seq(StringType)

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) 0L
    else SharedGramsExpression.count(
      v.asInstanceOf[UTF8String], benchGrams, k)
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("benchGrams", benchGrams,
      "java.util.HashSet<String>")
    val childGen = child.genCode(ctx)
    val fn = "graft.functions.SharedGramsExpression.count"
    ev.copy(
      code = code"""
        ${childGen.code}
        long ${ev.value} = ${childGen.isNull} ? 0L :
          $fn(${childGen.value}, $ref, $k);
      """,
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression)
      : SharedGramsExpression = copy(child = newChild)
}

object SharedGramsExpression {
  /** Codegen entry point: distinct k-grams of `text` present in `set`.
    * One pass; only MATCHED grams allocate into the dedup set. */
  def count(text: UTF8String, set: java.util.HashSet[String],
      k: Int): Long = {
    if (text == null) return 0L
    val words = text.toString.split("\\s+").filter(_.nonEmpty)
    // below-k (including zero-word) texts collapse to one whole-text
    // gram — shingleArray's exact rule, empty string included
    if (words.length < k) {
      return if (set.contains(words.mkString(" "))) 1L else 0L
    }
    var matched: java.util.HashSet[String] = null
    val sb = new java.lang.StringBuilder
    var i = 0
    while (i <= words.length - k) {
      sb.setLength(0)
      var j = 0
      while (j < k) {
        if (j > 0) sb.append(' ')
        sb.append(words(i + j))
        j += 1
      }
      val gram = sb.toString
      if (set.contains(gram)) {
        if (matched == null) matched = new java.util.HashSet[String]()
        matched.add(gram)
      }
      i += 1
    }
    if (matched == null) 0L else matched.size.toLong
  }

  /** Column-API form. */
  def native(c: org.apache.spark.sql.Column,
      benchGrams: java.util.HashSet[String], k: Int)
      : org.apache.spark.sql.Column =
    GraftSqlShim.column(SharedGramsExpression(
      GraftSqlShim.expression(c), benchGrams, k))
}

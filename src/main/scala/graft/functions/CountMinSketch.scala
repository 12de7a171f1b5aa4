package graft.functions

import org.apache.spark.sql.{Column, Encoder}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.GraftSqlShim

/** Count-Min frequency sketch as a typed Spark `Aggregator` — the
  * OVERCOUNT-bounded dual of the Misra-Gries heavy-hitters sketch
  * ([[HeavyHitters]], which UNDERCOUNTS by at most N/(k+1)): a CM
  * estimate is never below the true count (every occurrence lands in
  * every row's probed counter; collisions only ADD), and the expected
  * per-row excess is N/width, with the min over `depth` rows driving
  * the error to eps = e/width at probability 1 - exp(-depth)
  * (Cormode & Muthukrishnan 2005).
  *
  * Same sketch-table algebra as the KMV/bloom/quantile/priority/MG
  * family: the state is a flat depth×width counter array (constant
  * size per group — the map-side partial shuffles one array per group,
  * never item rows), states are STORABLE one row per shard/snapshot,
  * and the merge is elementwise addition — EXACT algebra, so a merged
  * state is bit-identical to a one-shot state over the union
  * (spec-pinned in InvariantSpec). Probes of known items are pure
  * column expressions over the stored state (literal indices — no UDF,
  * no raw rescan), which pairs naturally with [[HeavyHitters]]:
  * MG nominates the candidate heavy items, CM (or an exact pass)
  * prices them.
  */
object CountMinSketch {

  /** Row-r counter index for item `s`: double hashing over the shared
    * FNV+fmix64 streams ([[BloomSketch.hash1]]/[[BloomSketch.hash2]] —
    * one hash definition per repo), masked to the power-of-two width.
    * hash2 is forced odd = coprime with the width, so rows probe
    * independent positions. */
  private[functions] def index(s: String, row: Int, width: Int): Int =
    ((BloomSketch.hash1(s) + row.toLong * BloomSketch.hash2(s))
      & (width - 1).toLong).toInt

  private def requireLayout(depth: Int, width: Int): Unit = {
    require(depth >= 1 && depth <= 16,
      s"depth must be in [1, 16], got $depth")
    require(width >= 16 && (width & (width - 1)) == 0,
      s"width must be a power of two >= 16, got $width")
  }

  /** Typed aggregator building the CM state over a string column.
    * Buffer = the flat depth×width counter array, mutated in place;
    * merge is elementwise add — a proper partial aggregate. */
  final class CmStateSketch(depth: Int, width: Int)
      extends Aggregator[String, Array[Long], Seq[Long]] {
    requireLayout(depth, width)

    override def zero: Array[Long] = new Array[Long](depth * width)

    override def reduce(b: Array[Long], a: String): Array[Long] = {
      var r = 0
      while (r < depth) { b(r * width + index(a, r, width)) += 1L; r += 1 }
      b
    }

    override def merge(x: Array[Long], y: Array[Long]): Array[Long] = {
      var i = 0
      while (i < x.length) { x(i) += y(i); i += 1 }
      x
    }

    override def finish(b: Array[Long]): Seq[Long] = b.toSeq
    override def bufferEncoder: Encoder[Array[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
    override def outputEncoder: Encoder[Seq[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Long]]()
  }

  /** CM sketch state of a string column (one array per group). */
  def sketchState(c: Column, depth: Int = 4, width: Int = 256): Column = {
    requireLayout(depth, width)
    udaf(new CmStateSketch(depth, width)).apply(c)
  }

  /** Weighted twin of [[CmStateSketch]]: each (item, weight) row adds
    * `weight` to the item's probed counters in one reduce step. Because
    * CM updates are additive, the state over a (word, count) frequency
    * table is BIT-IDENTICAL to the state over the raw occurrence stream
    * — which lets a caller that already aggregates frequencies (for an
    * exact-compare column, say) derive the sketch from the tiny
    * distinct-item table instead of re-scanning the corpus (r16;
    * spec-pinned equal in CountMinSketchSpec). */
  final class CmStateSketchWeighted(depth: Int, width: Int)
      extends Aggregator[(String, Long), Array[Long], Seq[Long]] {
    requireLayout(depth, width)

    override def zero: Array[Long] = new Array[Long](depth * width)

    override def reduce(b: Array[Long], a: (String, Long)): Array[Long] = {
      var r = 0
      while (r < depth) {
        b(r * width + index(a._1, r, width)) += a._2; r += 1
      }
      b
    }

    override def merge(x: Array[Long], y: Array[Long]): Array[Long] = {
      var i = 0
      while (i < x.length) { x(i) += y(i); i += 1 }
      x
    }

    override def finish(b: Array[Long]): Seq[Long] = b.toSeq
    override def bufferEncoder: Encoder[Array[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
    override def outputEncoder: Encoder[Seq[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Long]]()
  }

  /** CM sketch state from (item, weight) rows — see
    * [[CmStateSketchWeighted]]. */
  def sketchStateWeighted(item: Column, weight: Column,
      depth: Int = 4, width: Int = 256): Column = {
    requireLayout(depth, width)
    udaf(new CmStateSketchWeighted(depth, width)).apply(item, weight)
  }

  /** Merge an array-of-states column back into one state: elementwise
    * sum — pure codegen'd array expressions, EXACT (a merged state
    * equals the one-shot state over the concatenated input). */
  def mergeStatesExpr(states: Column, depth: Int, width: Int): Column = {
    requireLayout(depth, width)
    aggregate(states,
      array_repeat(lit(0L), depth * width),
      (acc, x) => zip_with(acc, x, (a, b) => a + b))
  }

  /** Point-frequency estimate of a KNOWN item over a state column:
    * min over the depth probed counters. The item's indices fold to
    * literals at plan time, so the probe is `least(element_at ...)` —
    * no UDF, no shuffle, runs wherever the state row lives. */
  def estimateItem(state: Column, item: String,
      depth: Int, width: Int): Column = {
    requireLayout(depth, width)
    val probes = (0 until depth).map(r =>
      element_at(state, r * width + index(item, r, width) + 1))
    if (probes.size == 1) probes.head else least(probes: _*)
  }

  /** Total weight N carried by a state (sum of any single row; row 0
    * here) — the conservation read used by error-bound contracts. */
  def totalExpr(state: Column, width: Int): Column =
    aggregate(slice(state, 1, width), lit(0L), (acc, x) => acc + x)

  /** Point-frequency estimate of a COLUMN of items against a
    * driver-held state array — the native-expression probe (see
    * [[CmEstimateExpression]]): the state (depth×width longs, a few KB)
    * rides inside the generated code via `addReferenceObj`, so a corpus
    * scan scores every row's frequency estimate map-side with no UDF
    * boundary, no join and no shuffle. */
  def estimate(item: Column, state: Array[Long],
      depth: Int, width: Int): Column = {
    requireLayout(depth, width)
    require(state.length == depth * width,
      s"state length ${state.length} != depth*width ${depth * width}")
    GraftSqlShim.column(CmEstimateExpression(
      GraftSqlShim.expression(item), state, depth, width))
  }

  /** Shared probe core (aggregator, literal probes and the native
    * expression route through the same index function). */
  private[functions] def probe(state: Array[Long], s: String,
      depth: Int, width: Int): Long = {
    var best = Long.MaxValue
    var r = 0
    while (r < depth) {
      val c = state(r * width + index(s, r, width))
      if (c < best) best = c
      r += 1
    }
    best
  }
}

/** Native Catalyst expression for the Count-Min point probe — the
  * map-side frequency scorer. The counter array (depth×width longs)
  * rides via `ctx.addReferenceObj` so the probe stays inside
  * whole-stage codegen: no UDF boundary, no broadcast variable, no
  * join — a corpus scan estimates every token's frequency at
  * memory-bandwidth speed. NULL items yield 0 (a NULL token trivially
  * has no occurrences), keeping the probe a total function like
  * [[BloomMightContainExpression]]. */
final case class CmEstimateExpression(
    child: org.apache.spark.sql.catalyst.expressions.Expression,
    state: Array[Long], depth: Int, width: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.ImplicitCastInputTypes {
  import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
  import org.apache.spark.sql.catalyst.expressions.codegen.Block._
  import org.apache.spark.sql.types.{DataType, LongType, StringType}

  override def dataType: DataType = LongType
  override def nullable: Boolean = false
  override def prettyName: String = "cm_estimate"
  override def inputTypes = Seq(StringType)

  override def eval(
      input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) 0L
    else CmEstimateExpression.probe(
      v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String],
      state, depth, width)
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("cmState", state, "long[]")
    val childGen = child.genCode(ctx)
    val fn = "graft.functions.CmEstimateExpression.probe"
    ev.copy(
      code = code"""
        ${childGen.code}
        long ${ev.value} = ${childGen.isNull} ? 0L :
          $fn(${childGen.value}, $ref, $depth, $width);
      """,
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(
      newChild: org.apache.spark.sql.catalyst.expressions.Expression)
      : CmEstimateExpression = copy(child = newChild)
}

object CmEstimateExpression {
  /** Codegen entry point (static call from generated Java). */
  def probe(item: org.apache.spark.unsafe.types.UTF8String,
      state: Array[Long], depth: Int, width: Int): Long =
    if (item == null) 0L
    else CountMinSketch.probe(state, item.toString, depth, width)
}

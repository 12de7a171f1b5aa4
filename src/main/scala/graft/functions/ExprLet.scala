package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.graftshim.GraftSqlShim

/** Let-binding for Catalyst expression trees.
  *
  * Column expressions are TREES, not DAGs: referencing a sub-`Column`
  * twice duplicates its subtree, and a reference placed INSIDE a
  * higher-order-function lambda is re-evaluated once per array
  * element. For a cheap subexpression that is invisible noise; for an
  * expensive one (a sort over a fold, a merged sketch state) it turns
  * an O(cost) read into O(cost · |array|) — measured at ~100× on
  * [[HeavyHitters.mergeStatesExpr]] (1.9 s → ms on a 32-row table).
  *
  * `bindOnce` is the standard HOF let-binding idiom: wrap the value in
  * a 1-element array, `transform` over it so the body sees a BOUND
  * lambda variable (evaluated exactly once per row), and unwrap with
  * `element_at(_, 1)`. Nesting is fine — lambda variables scope
  * lexically through nested HOFs.
  */
object ExprLet {
  def bindOnce(value: Column)(body: Column => Column): Column = {
    import org.apache.spark.sql.functions._
    element_at(transform(array(value), body), 1)
  }

  /** O(n log n) replacement for `sort(array_distinct(...))` on
    * STRUCT-element arrays. Spark's ArrayDistinct takes its hash-set
    * fast path only for element types with proper equals (atomics);
    * struct elements fall back to a seen-list scan with an
    * interpreted-ordering compare per pair — O(n²) with a fat
    * constant (measured: 59 s for ONE 60k-element array; it wedged
    * the sf1 quantile-state merge for tens of minutes at 50k
    * elements, where the same merge over bigint states is
    * milliseconds). Sorting first and dropping ADJACENT duplicates
    * yields the same set in the same sorted order at O(n log n)
    * compares. The sorted array is let-bound (it is referenced inside
    * the dedup lambda); the previous-element probe clamps its index
    * to 1 so ANSI `element_at` cannot see index 0 even if an `Or`
    * operand were evaluated eagerly. */
  def sortedDedup(arr: Column): Column = {
    import org.apache.spark.sql.functions._
    bindOnce(array_sort(arr)) { sorted =>
      transform(
        filter(transform(sorted, (x, i) => struct(x.as("x"), i.as("i"))),
          e => e.getField("i") === 0 ||
            !(element_at(sorted,
              greatest(lit(1), e.getField("i"))) <=> e.getField("x"))),
        e => e.getField("x"))
    }
  }

  /** Bind only when `value` is a COMPOUND expression. Sketch readers
    * (estimate/quantile/total) reference their state argument several
    * times — free on a plain column, but a merged-state argument like
    * `estimateExpr(mergeStatesExpr(...), k)` would re-run the whole
    * merge per reference (and per array element when the reference
    * sits inside a reader's lambda). Leaf arguments skip the wrapper
    * so simple per-row reads stay inside whole-stage codegen. */
  def bindCompound(value: Column)(body: Column => Column): Column = {
    val leaf = GraftSqlShim.expression(value).children.isEmpty
    if (leaf) body(value) else bindOnce(value)(body)
  }
}

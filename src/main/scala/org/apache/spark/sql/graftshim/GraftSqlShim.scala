package org.apache.spark.sql.graftshim

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic

/** The `private[sql]` bridges the library needs: turn a custom
  * [[LogicalPlan]] into a [[org.apache.spark.sql.DataFrame]], and a
  * catalyst [[Expression]] into a [[Column]]. Spark's own extension
  * surface hands out plan-level hooks (`injectPlannerStrategy`,
  * `injectOptimizerRule`) but no public plan→DataFrame or
  * Expression→Column constructor, so every library that ships a custom
  * logical operator (the documented `LogicalPlan` + `Strategy` +
  * `SparkPlan` extension tier) hosts this same shim in an
  * `org.apache.spark.sql` subpackage. It is graft's one object in that
  * package; its callers are the `graft.plans` factories, the as-of
  * planned forms and the Column-API forms of the native expressions in
  * `graft.functions`.
  */
object GraftSqlShim {

  /** Catalyst [[Expression]] → [[Column]] (Spark 4's Column wraps a
    * ColumnNode, not an Expression; the converter is `private[sql]`).
    * Used by [[graft.plans.FloorBin]] so the DataFrame-side range-join
    * operators share ONE exact-arithmetic implementation with the
    * optimizer rule instead of a stringly `expr(...)` twin, and by every
    * native expression's Column-API form. */
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)

  /** [[Column]] → catalyst [[Expression]] (unresolved is fine — the
    * analyzer resolves it once the column lands in a plan). */
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** `Dataset.ofRows` for classic (JVM-local) sessions; Connect
    * sessions have no local plan representation, so refuse loudly. */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
      plan: LogicalPlan): org.apache.spark.sql.DataFrame = spark match {
    case c: classic.SparkSession => classic.Dataset.ofRows(c, plan)
    case other => throw new IllegalStateException(
      "GraftSqlShim.ofRows requires a classic SparkSession (got " +
        s"${other.getClass.getName}); Spark Connect sessions cannot host " +
        "library-local logical plans")
  }
}

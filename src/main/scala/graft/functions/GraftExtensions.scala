package graft.functions

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.SparkStrategy

/** Everything graft puts into a session — the Spark analogue of the
  * reference's one extension entry point (sudan_extension.cpp:21-31).
  * The companion holds the one definition: the 5 native scalar
  * functions (with catalog docs), the SQL table functions, the optimizer
  * rules and the planner strategy. Two thin injectors read it:
  *
  *  - this class, for sessions built with
  *    `.config("spark.sql.extensions", "graft.functions.GraftExtensions")`
  *    (or `withExtensions(new GraftExtensions()(_))`);
  *  - [[GraftExtensions.install]], for a live session the caller did not
  *    build (notebooks, `spark-shell`, the Verify/Bench harnesses via
  *    [[graft.GraftSession.local]]).
  *
  * Either way the session carries the same surface, so a SQL user gets
  * the codegen'd `SUDAN_GeoCode` and `minhash_signature(text, n)` on
  * both paths. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach(ext.injectFunction)
    GraftExtensions.tableFunctions.foreach(ext.injectTableFunction)
    GraftExtensions.rules.foreach(r => ext.injectOptimizerRule(_ => r))
    GraftExtensions.strategies.foreach(s => ext.injectPlannerStrategy(_ => s))
  }
}

object GraftExtensions {

  type FunctionDef = (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)
  type TableFunctionDef = (FunctionIdentifier, ExpressionInfo, Seq[Expression] => LogicalPlan)

  /** The native scalar functions, each with the catalog docs that
    * mirror the reference's per-function description/example metadata
    * (function_builder.hpp:10-41): DESCRIBE FUNCTION [EXTENDED] shows
    * them. Arguments bind through [[graft.api.Binder]], so a literal
    * parameter out of range or not integral fails at analysis. */
  private[graft] lazy val functions: Seq[FunctionDef] = {
    import graft.api.Binder.{bind, column, info, int, Args, Param}
    def fn(name: String, cls: Class[_], usage: String, examples: String,
        params: Param*)(build: Args => Expression): FunctionDef =
      (FunctionIdentifier(name), info(cls.getName, name, usage, examples),
        children => build(bind(name, params, children)))
    Seq(
      fn("SUDAN_GeoCode", classOf[GeoCodeExpression],
        "SUDAN_GeoCode(name) - Returns the ISO 3166-2:SD code for a Sudanese " +
          "state name (Arabic exact match or English case-insensitive); " +
          "returns '' when the name is unknown or NULL.",
        """      > SELECT SUDAN_GeoCode('Khartoum');
       SD-KH
      > SELECT SUDAN_GeoCode('الخرطوم');
       SD-KH""", column("name"))(a => GeoCodeExpression(a.expr("name"))),
      fn("simhash", classOf[SimHashExpression],
        "simhash(text) - Returns the 64-bit SimHash of the text's " +
          "whitespace tokens (near-duplicate signature; NULL yields 0).",
        """      > SELECT simhash('the quick brown fox');
       [64-bit signature]""", column("text"))(
        a => SimHashExpression(a.expr("text"))),
      fn("minhash_signature", classOf[MinHashExpression],
        "minhash_signature(text[, numHashes]) - Returns the MinHash " +
          "signature (array of numHashes bigints, default 64) of the " +
          "text's word 3-shingles; NULL yields the empty-set signature.",
        """      > SELECT minhash_signature('the quick brown fox', 16);
       [array of 16 signature values]""", column("text"),
        int("numHashes", 64).atLeast(1))(
        a => MinHashExpression(a.expr("text"), a.int("numHashes"))),
      fn("winnow_fingerprints", classOf[WinnowExpression],
        "winnow_fingerprints(text) - Returns the sorted winnowing " +
          "fingerprint set (Schleimer et al. SIGMOD'03; k=8 char grams, " +
          "window 4) of the text; NULL or short text yields [].",
        """      > SELECT winnow_fingerprints('the quick brown fox jumps');
       [array of rolling-hash fingerprints]""", column("text"))(
        a => WinnowExpression(a.expr("text"), 8, 4)),
      // bit i of the bucket is plane i, so at most 64 planes fit a BIGINT
      fn("hyperplane_bucket", classOf[HyperplaneBucketExpression],
        "hyperplane_bucket(embedding[, numPlanes[, dim]]) - Returns the " +
          "random-hyperplane LSH bucket id (bit i = sign of the dot " +
          "product with deterministic plane i) of an ARRAY<FLOAT> " +
          "embedding; defaults: 12 planes (at most 64), dim 64. NULL " +
          "yields NULL.",
        """      > SELECT hyperplane_bucket(embedding, 8) FROM embeddings;
       [bucket ids in 0..255]""", column("embedding"),
        int("numPlanes", 12).atLeast(1).atMost(64),
        int("dim", 64).atLeast(1))(
        a => HyperplaneBucketExpression(a.expr("embedding"),
          a.int("numPlanes"), a.int("dim"))))
  }

  /** The 11 Sudan source TVFs (`SUDAN_WorldBank(...)`, `SUDAN_States()`,
    * …) and the corpus-pipeline TVFs (`corpus_clean('/dir')`, …). */
  private[graft] lazy val tableFunctions: Seq[TableFunctionDef] =
    (graft.api.SudanTableFunctions.rows ++ graft.api.CorpusTableFunctions.rows)
      .map(_.definition)

  /** Optimizer rules, both exact: the char-bag reject ahead of raw
    * `levenshtein(a, b) <= k` predicates, and the band-join rewrite from
    * BNLJ/cartesian into a binned equi-join. Either can be switched off
    * with Spark's own `spark.sql.optimizer.excludedRules`. */
  private[graft] val rules: Seq[Rule[LogicalPlan]] =
    Seq(graft.plans.LevenshteinPruneRule, graft.plans.RangeBinJoinRule)

  /** The physical as-of join tier (custom LogicalPlan -> SparkPlan). */
  private[graft] val strategies: Seq[SparkStrategy] =
    Seq(graft.plans.AsOfJoinStrategy)

  /** Register the same definitions onto a live classic session.
    * Idempotent: functions re-register to the same instances, and a rule
    * or strategy the session already carries, from an earlier install or
    * from this class as its extension, is not added again. Does nothing on a
    * non-classic (Spark Connect) session, whose registries are not
    * reachable at runtime — build that session with
    * `spark.sql.extensions=graft.functions.GraftExtensions` instead. */
  def install(spark: SparkSession): Unit = spark match {
    case c: org.apache.spark.sql.classic.SparkSession =>
      val fns = c.sessionState.functionRegistry
      functions.foreach { case (id, info, b) => fns.registerFunction(id, info, b) }
      val tvfs = c.sessionState.tableFunctionRegistry
      tableFunctions.foreach { case (id, info, b) => tvfs.registerFunction(id, info, b) }
      val ex = c.experimental
      val carried = c.sessionState.optimizer.extendedOperatorOptimizationRules ++
        ex.extraOptimizations
      ex.extraOptimizations ++= rules.filterNot(carried.contains)
      val planned = c.sessionState.planner.extraPlanningStrategies ++
        ex.extraStrategies
      ex.extraStrategies ++= strategies.filterNot(planned.contains)
    case _ => ()
  }
}

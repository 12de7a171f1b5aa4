package graft.plans

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The levenshtein auto-prune rule: rewrite fires on filters and join
  * conditions, results are unchanged (the bag bound is implied by the
  * lev bound), the rewrite is idempotent under the fixed-point batch,
  * and the unsafe 3-arg threshold form is left untouched. */
class LevenshteinPruneRuleSpec extends SparkSpec {

  /** The shared session carries the rule; a baseline of the unrewritten
    * plan switches it off with Spark's own
    * `spark.sql.optimizer.excludedRules`. */
  private def withoutRule[A](body: => A): A = {
    spark.conf.set("spark.sql.optimizer.excludedRules", LevenshteinPruneRule.ruleName)
    try body
    finally spark.conf.unset("spark.sql.optimizer.excludedRules")
  }

  private def docs = spark.read.parquet(s"$sfDir/documents.parquet")

  test("filter rewrite fires, result rows unchanged") {
    val q = "levenshtein(substring(text, 1, 12), 'the fast key') <= 3"
    val without = withoutRule(docs.filter(expr(q)).select("doc_id").collect()).toSet
    val df = docs.filter(expr(q)).select("doc_id")
    val opt = df.queryExecution.optimizedPlan.toString
    assert(opt.contains("char_bag_within"), opt)
    assert(df.collect().toSet === without)
    assert(without.nonEmpty) // the fixture must exercise the kept path
  }

  test("join-condition rewrite fires, pair set unchanged") {
    val a = docs.select(col("doc_id").as("ida"),
      substring(col("text"), 1, 8).as("ta")).limit(40)
    val b = docs.select(col("doc_id").as("idb"),
      substring(col("text"), 1, 8).as("tb")).limit(40)
    val cond = expr("levenshtein(ta, tb) <= 1 AND ida < idb")
    val without = withoutRule(a.join(b, cond).select("ida", "idb").collect())
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val df = a.join(b, cond)
    val opt = df.queryExecution.optimizedPlan.toString
    assert(opt.contains("char_bag_within"), opt)
    assert(df.select("ida", "idb").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet === without)
    assert(without.nonEmpty)
  }

  test("idempotent under the fixed-point optimizer batch") {
    val df = docs.filter(
      expr("levenshtein(substring(text, 1, 6), 'spark') < 3"))
    val opt = df.queryExecution.optimizedPlan.toString
    assert("char_bag_within".r.findAllIn(opt).size === 1, opt)
  }

  test("3-arg threshold levenshtein is left untouched") {
    // lev(a, b, t) returns -1 past the threshold, so -1 <= k can hold
    // for pairs the bag bound rejects - the rule must not touch it
    val df = docs.filter(
      expr("levenshtein(substring(text, 1, 6), 'spark', 1) <= 2"))
    val opt = df.queryExecution.optimizedPlan.toString
    assert(!opt.contains("char_bag_within"), opt)
  }

  test("negative bounds are not rewritten") {
    val df = docs.filter(
      expr("levenshtein(substring(text, 1, 6), 'spark') < 0"))
    val opt = df.queryExecution.optimizedPlan.toString
    assert(!opt.contains("char_bag_within"), opt)
    assert(df.count() === 0)
  }

  test("GraftExtensions sessions carry the rule") {
    // the shared session is installed like the Verify/Bench sessions:
    // the rule fires with no per-test setup, and excludedRules removes it
    def plan = docs.filter(expr("levenshtein(substring(text, 1, 6), 'spark') <= 2"))
      .queryExecution.optimizedPlan.toString
    assert(plan.contains("char_bag_within"), plan)
    val off = withoutRule(plan)
    assert(!off.contains("char_bag_within"), off)
  }
}

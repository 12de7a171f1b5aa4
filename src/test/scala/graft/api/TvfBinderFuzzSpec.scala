package graft.api

import graft.SparkSpec
import org.scalacheck.{Gen, Prop}
import org.scalacheck.Test.{check, Parameters, Passed, Result}

/** Property fuzz of the TVF binder surface: for ANY randomly-shaped
  * argument list, every registered table function either binds (and
  * analysis proceeds) or throws the binder's own `SUDAN:`-prefixed
  * IllegalArgumentException — never a MatchError, NPE, or raw analyzer
  * internal error. This is the TVF twin of the reference's bind-phase
  * error contract: malformed SQL gets a named, actionable message. */
class TvfBinderFuzzSpec extends SparkSpec {

  // BOTH registries, complete: the 11 SUDAN_* source TVFs and every
  // corpus_* pipeline TVF — the corpus family's num/numSeq binders have
  // malformed-literal paths the source TVFs never exercise
  private val fns = Seq("SUDAN_Providers", "SUDAN_States",
    "SUDAN_Boundaries", "SUDAN_WB_Indicators", "SUDAN_WHO_Indicators",
    "SUDAN_Search", "SUDAN_WorldBank", "SUDAN_WHO", "SUDAN_ILO",
    "SUDAN_UNHCR", "SUDAN_FAO",
    "corpus_clean", "corpus_stats", "corpus_quality", "corpus_lang_id",
    "corpus_neardup_pairs", "corpus_dedup_keep", "corpus_keep_best",
    "corpus_soft_dedup", "corpus_mixture_schedule", "corpus_pagerank",
    "corpus_decontaminate", "corpus_eval_containment",
    "corpus_dataset_card", "corpus_mixture_plan", "corpus_ann_probe",
    "corpus_repeated_spans", "corpus_span_excise", "corpus_span_guard",
    "corpus_setsim_pairs", "corpus_sketch_sources",
    "corpus_sketch_snapshot_merge", "corpus_quantile_sources",
    "corpus_priority_totals", "corpus_bloom_guard",
    "corpus_sketch_rollup", "corpus_contrastive_pairs",
    "corpus_range_estimate", "corpus_join_estimate", "corpus_scd2",
    "corpus_apply_changes", "corpus_token_windows",
    "corpus_expectations", "corpus_heavy_hitters", "corpus_sketch_delta",
    "corpus_quantile_drift", "corpus_kanon", "corpus_noisy_hist",
    "corpus_bpe_merges", "corpus_bpe_tokens", "corpus_unigram_vocab",
    "corpus_unigram_tokens")

  // argument-VALUE generator: literals of assorted types, arrays, and
  // non-foldable expressions (rand()); keys both known and unknown;
  // malformed numerics/arrays aimed at the corpus binders' num/numSeq
  private val valueGen: Gen[String] = Gen.oneOf(
    Gen.oneOf("'SDN'", "''", "'x'", s"'$sfDir'"),
    Gen.chooseNum(-5, 50).map(_.toString),
    Gen.oneOf("0.5", "2.0", "-0.1", "'not_a_number'", "1e300", "true"),
    Gen.oneOf("array('SDN','EGY')", "array()", "array(0.5, 0.5)",
      "array('a')", "array('a', 1)", "array(array(1))", "array(NULL)"),
    Gen.oneOf("NULL", "rand()", "1 + 2", "CAST(NULL AS STRING)"))
  private val keyGen: Gen[String] = Gen.oneOf("countries", "search",
    "query", "level", "dir", "threshold", "min_words", "sources",
    "shares", "budget", "max_epochs", "k", "query_id", "eval_max_id",
    "n", "epochs", "t_start", "t_end", "window_tokens", "bogus", "WAT")
  private val argGen: Gen[String] = Gen.oneOf(
    valueGen,
    Gen.zip(keyGen, valueGen).map { case (k, v) => s"$k => $v" })

  test("any argument shape binds or fails with the SUDAN: binder error") {
    val prop = Prop.forAll(
      Gen.oneOf(fns),
      Gen.choose(0, 3).flatMap(n => Gen.listOfN(n, argGen))
    ) { (fn, args) =>
      val sql = s"SELECT * FROM $fn(${args.mkString(", ")})"
      try { spark.sql(sql); true }
      catch {
        // acceptable outcomes: our binder's named error (possibly
        // wrapped by the analyzer), the factories' own argument
        // validation, or Spark's SQL-level errors (parse, unresolved,
        // wrong TVF arity) — all user-actionable AnalysisExceptions
        case e: Throwable =>
          def chain = Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
            .take(8).toSeq
          val ok = chain.exists {
            // the binder's SUDAN:-prefixed errors plus the operators'
            // own require(...) argument validation — both named and
            // actionable; MatchError/NPE/etc. stay failures
            case ia: IllegalArgumentException => ia.getMessage != null
            case _: org.apache.spark.sql.AnalysisException => true
            case _ => false
          }
          if (!ok) println(s"UNEXPECTED for [$sql]: " +
            chain.map(_.getClass.getName).mkString(" <- ") +
            s" :: ${e.getMessage}")
          ok
      }
    }
    val res: Result = check(Parameters.default.withMinSuccessfulTests(300),
      prop)
    assert(res.status == Passed, res.status.toString)
  }
}

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

  // every table function the session carries, read off the one list
  // graft installs, so a new row is fuzzed as soon as it exists
  private val fns = graft.functions.GraftExtensions.tableFunctions
    .map(_._1.funcName)

  // argument-VALUE generator: literals of assorted types, arrays, and
  // non-foldable expressions (rand()); malformed numerics and arrays
  // aimed at the integer, numeric and list coercions
  private val valueGen: Gen[String] = Gen.oneOf(
    Gen.oneOf("'SDN'", "''", "'x'", s"'$sfDir'"),
    Gen.chooseNum(-5, 50).map(_.toString),
    Gen.oneOf("0.5", "2.0", "-0.1", "'not_a_number'", "1e300", "true"),
    Gen.oneOf("array('SDN','EGY')", "array()", "array(0.5, 0.5)",
      "array('a')", "array('a', 1)", "array(array(1))", "array(NULL)"),
    Gen.oneOf("NULL", "rand()", "1 + 2", "CAST(NULL AS STRING)"))
  // keys: every declared parameter name plus unknown ones
  private val keyGen: Gen[String] = Gen.oneOf(
    (SudanTableFunctions.rows ++ CorpusTableFunctions.rows)
      .flatMap(_.params.map(_.name)).distinct :+ "bogus" :+ "WAT")
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

package graft.api

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{CreateArray, Expression, ExpressionInfo, NamedArgumentExpression}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, StringType}
import org.apache.spark.unsafe.types.UTF8String

import graft.geo.SudanGeo

/** SQL table-valued functions — the reference's PRIMARY surface
  * (`SELECT * FROM SUDAN_WorldBank('SP.POP.TOTL', countries := [...])`,
  * wb_functions.cpp:315, sudan_extension.cpp:21-31), re-expressed as
  * Spark table-function registrations (installed with the rest of the
  * surface by [[graft.functions.GraftExtensions]]) so the SQL-only user runs
  * the documented queries verbatim modulo the named-argument spelling:
  * DuckDB's `name := value` is Spark's `name => value`, and DuckDB's
  * `['SDN','EGY']` list literal is Spark's `array('SDN','EGY')`.
  *
  * Each builder resolves its arguments at ANALYSIS time (literals only —
  * the fetch plan is built before execution, exactly like the reference's
  * bind phase) and splices in the same DataSourceV2 scan the Scala
  * factories produce, so predicate/year pushdown, per-country partitions
  * and the fixture transport all apply identically to the SQL spelling.
  *
  * Live vs recorded transport is a session conf (SQL has no room for a
  * fetcher argument, and the reference's functions are implicitly live):
  * {{{
  *   SET spark.graft.fetcher.mode = fixtures;          -- default: http
  *   SET spark.graft.fetcher.fixtures = graft/fixtures/worldbank;
  *   SELECT * FROM SUDAN_WorldBank('SP.POP.TOTL') WHERE year >= 2019;
  * }}}
  */
object SudanTableFunctions {

  /** Session-conf keys selecting the HTTP vs fixture transport. */
  val ModeKey = "spark.graft.fetcher.mode"
  val FixturesKey = "spark.graft.fetcher.fixtures"

  private def fetcher(spark: SparkSession): Sudan.Fetcher =
    Sudan.Fetcher(
      mode = spark.conf.get(ModeKey, "http"),
      fixtures = spark.conf.get(FixturesKey, ""))

  // ---------------------------------------------------------- arg binding

  /** Bind call-site arguments to parameter names: leading positional args
    * fill `positional` in order; `name => value` arguments (Spark's
    * spelling of the reference's `name := value`) may fill any declared
    * parameter. Duplicate / unknown / excess arguments fail at analysis
    * with the function name, like DuckDB's binder errors. */
  private[api] def bind(fn: String, args: Seq[Expression],
      positional: Seq[String], named: Set[String]): Map[String, Expression] = {
    val all = positional.toSet ++ named
    var out = Map.empty[String, Expression]
    var pos = 0
    var sawNamed = false
    args.foreach {
      case NamedArgumentExpression(key, value) =>
        sawNamed = true
        val k = key.toLowerCase(java.util.Locale.ROOT)
        if (!all.contains(k)) throw new IllegalArgumentException(
          s"SUDAN: $fn() has no parameter '$key' " +
            s"(expected: ${all.toSeq.sorted.mkString(", ")}).")
        if (out.contains(k)) throw new IllegalArgumentException(
          s"SUDAN: $fn() got parameter '$key' more than once.")
        out += k -> value
      case e =>
        if (sawNamed) throw new IllegalArgumentException(
          s"SUDAN: $fn() positional arguments must precede named arguments.")
        if (pos >= positional.length) throw new IllegalArgumentException(
          s"SUDAN: $fn() takes at most ${positional.length} positional " +
            "argument(s).")
        val k = positional(pos)
        out += k -> e; pos += 1
    }
    out
  }

  /** Literal string argument (the reference binds VARCHAR parameters);
    * a plain `Literal` is just the simplest foldable case. */
  private[api] def str(fn: String, what: String, e: Expression): String =
    e match {
      case f if f.foldable && f.dataType == StringType =>
        Option(f.eval(null)).map(_.asInstanceOf[UTF8String].toString)
          .getOrElse(throw new IllegalArgumentException(
            s"SUDAN: $fn() parameter '$what' must not be NULL."))
      case other => throw new IllegalArgumentException(
        s"SUDAN: $fn() parameter '$what' must be a string literal, " +
          s"got ${other.sql}.")
    }

  /** Literal string-list argument: `array('SDN','EGY')` (Spark's spelling
    * of DuckDB's `['SDN','EGY']`), or a comma-joined single string. */
  private[api] def strSeq(fn: String, what: String, e: Expression): Seq[String] =
    e match {
      case CreateArray(items, _) => items.map(str(fn, what, _))
      case f if f.foldable => (f.dataType, f.eval(null)) match {
        case (_, null) => throw new IllegalArgumentException(
          s"SUDAN: $fn() parameter '$what' must not be NULL.")
        case (ArrayType(StringType, _), arr: ArrayData) =>
          arr.toArray[UTF8String](StringType).toIndexedSeq.map(_.toString)
        case (StringType, s: UTF8String) =>
          s.toString.split(",").toIndexedSeq.map(_.trim).filter(_.nonEmpty)
        case _ => throw new IllegalArgumentException(
          s"SUDAN: $fn() parameter '$what' must be an array of strings, " +
            s"got ${f.sql}.")
      }
      case other => throw new IllegalArgumentException(
        s"SUDAN: $fn() parameter '$what' must be an array of strings, " +
          s"got ${other.sql}.")
    }

  private[api] def plan(df: DataFrame): LogicalPlan = df.queryExecution.logical

  /** (indicator [, countries]) shape shared by WorldBank/WHO/ILO. */
  private def indicatorCountries(fn: String, args: Seq[Expression],
      posName: String)(
      build: (SparkSession, String, Seq[String], Sudan.Fetcher) => DataFrame)
      : LogicalPlan = {
    val spark = SparkSession.active
    val bound = bind(fn, args, Seq(posName), Set("countries"))
    val indicator = bound.get(posName).map(str(fn, posName, _)).getOrElse(
      throw new IllegalArgumentException(
        s"SUDAN: $fn() requires the '$posName' parameter."))
    val countries = bound.get("countries")
      .map(strSeq(fn, "countries", _)).getOrElse(Seq.empty)
    plan(build(spark, indicator, countries, fetcher(spark)))
  }

  /** (search := ...) optional-search catalog shape (WB/WHO indicators). */
  private def catalog(fn: String, args: Seq[Expression])(
      build: (SparkSession, String, Sudan.Fetcher) => DataFrame): LogicalPlan = {
    val spark = SparkSession.active
    val bound = bind(fn, args, Seq("search"), Set.empty)
    val search = bound.get("search").map(str(fn, "search", _)).getOrElse("")
    plan(build(spark, search, fetcher(spark)))
  }

  private[api] def info(name: String, usage: String, examples: String) =
    new ExpressionInfo(SudanTableFunctions.getClass.getName, null, name,
      usage, s"\n    Examples:\n$examples\n  ")

  private type Builder = Seq[Expression] => LogicalPlan

  /** The 11 function definitions, built once; sessions get them through
    * [[graft.functions.GraftExtensions]]. */
  private[graft] lazy val defs: Seq[graft.functions.GraftExtensions.TableFunctionDef] = {
    val out = Seq.newBuilder[(FunctionIdentifier, ExpressionInfo, Builder)]
    def tvf(name: String, usage: String, examples: String)(
        builder: Builder): Unit =
      out += ((FunctionIdentifier(name), info(name, usage, examples), builder))

    tvf("SUDAN_Providers",
      "SUDAN_Providers() - Returns the registry of supported data " +
        "providers (provider_id, name, name_ar, description, base_url).",
      "      > SELECT provider_id FROM SUDAN_Providers();") { args =>
      bind("SUDAN_Providers", args, Seq.empty, Set.empty)
      plan(SudanGeo.providers(SparkSession.active))
    }

    tvf("SUDAN_States",
      "SUDAN_States() - Returns the 18 Sudan states with bilingual names, " +
        "ISO 3166-2 codes, centroids and MultiPolygon GeoJSON boundaries.",
      "      > SELECT state_name, iso_code FROM SUDAN_States();") { args =>
      bind("SUDAN_States", args, Seq.empty, Set.empty)
      plan(SudanGeo.states(SparkSession.active))
    }

    tvf("SUDAN_Boundaries",
      "SUDAN_Boundaries(level) - Returns administrative boundaries as " +
        "GeoJSON for level 'country', 'state' or 'locality' (schema " +
        "varies by level).",
      "      > SELECT state_name, geojson FROM SUDAN_Boundaries('state');"
    ) { args =>
      val bound = bind("SUDAN_Boundaries", args, Seq("level"), Set.empty)
      val level = bound.get("level").map(str("SUDAN_Boundaries", "level", _))
        .getOrElse(throw new IllegalArgumentException(
          "SUDAN: SUDAN_Boundaries() requires the 'level' parameter."))
      plan(SudanGeo.boundariesDf(SparkSession.active, level))
    }

    tvf("SUDAN_WB_Indicators",
      "SUDAN_WB_Indicators([search => term]) - Lists World Bank " +
        "indicators, optionally filtered by a case-insensitive keyword.",
      "      > SELECT * FROM SUDAN_WB_Indicators(search => 'population');"
    ) { args => catalog("SUDAN_WB_Indicators", args)(Sudan.wbIndicators(_, _, _)) }

    tvf("SUDAN_WHO_Indicators",
      "SUDAN_WHO_Indicators([search => term]) - Lists WHO Global Health " +
        "Observatory indicators, optionally filtered by keyword.",
      "      > SELECT * FROM SUDAN_WHO_Indicators(search => 'mortality');"
    ) { args => catalog("SUDAN_WHO_Indicators", args)(Sudan.whoIndicators(_, _, _)) }

    tvf("SUDAN_Search",
      "SUDAN_Search(query => term) - Cross-provider keyword search over " +
        "the World Bank and WHO indicator catalogs (query is required).",
      "      > SELECT * FROM SUDAN_Search(query => 'maternal mortality');"
    ) { args =>
      val spark = SparkSession.active
      val bound = bind("SUDAN_Search", args, Seq("query"), Set.empty)
      // empty/missing query raises the reference's bind error
      // (info_functions.cpp:167-169) from Sudan.search itself
      val query = bound.get("query").map(str("SUDAN_Search", "query", _))
        .getOrElse("")
      plan(Sudan.search(spark, query, fetcher(spark)))
    }

    tvf("SUDAN_WorldBank",
      "SUDAN_WorldBank(indicator[, countries => array(...)]) - Reads " +
        "World Bank indicator data; one scan partition per country, year " +
        "predicates push into the API URL. Default countries: ('SDN').",
      "      > SELECT year, value FROM SUDAN_WorldBank('SP.POP.TOTL', " +
        "countries => array('SDN','EGY')) WHERE year >= 2010;") { args =>
      indicatorCountries("SUDAN_WorldBank", args, "indicator")(
        Sudan.worldBank(_, _, _, _))
    }

    tvf("SUDAN_WHO",
      "SUDAN_WHO(indicator[, countries => array(...)]) - Reads WHO Global " +
        "Health Observatory data (server-side country filter).",
      "      > SELECT * FROM SUDAN_WHO('WHOSIS_000001');") { args =>
      indicatorCountries("SUDAN_WHO", args, "indicator")(Sudan.who(_, _, _, _))
    }

    tvf("SUDAN_ILO",
      "SUDAN_ILO(indicator[, countries => array(...)]) - Reads ILO labor " +
        "statistics (SDMX 1.0/2.0 layouts).",
      "      > SELECT * FROM SUDAN_ILO('UNE_DEAP_SEX_AGE_RT');") { args =>
      indicatorCountries("SUDAN_ILO", args, "indicator")(Sudan.ilo(_, _, _, _))
    }

    tvf("SUDAN_UNHCR",
      "SUDAN_UNHCR(population_type[, countries => array(...)]) - Reads " +
        "UNHCR displacement data; population_type in refugees, idps, " +
        "asylum_seekers, returned_refugees, stateless.",
      "      > SELECT * FROM SUDAN_UNHCR('refugees');") { args =>
      indicatorCountries("SUDAN_UNHCR", args, "population_type")(
        Sudan.unhcr(_, _, _, _))
    }

    tvf("SUDAN_FAO",
      "SUDAN_FAO(dataset, element[, countries => array(...)]) - Reads FAO " +
        "agricultural statistics for a dataset code and element filter.",
      "      > SELECT * FROM SUDAN_FAO('QCL', 'production_quantity');"
    ) { args =>
      val spark = SparkSession.active
      val bound = bind("SUDAN_FAO", args, Seq("dataset", "element"),
        Set("countries"))
      def req(k: String): String = bound.get(k).map(str("SUDAN_FAO", k, _))
        .getOrElse(throw new IllegalArgumentException(
          s"SUDAN: SUDAN_FAO() requires the '$k' parameter."))
      val countries = bound.get("countries")
        .map(strSeq("SUDAN_FAO", "countries", _)).getOrElse(Seq.empty)
      plan(Sudan.fao(spark, req("dataset"), req("element"), countries,
        fetcher(spark)))
    }
    out.result()
  }
}

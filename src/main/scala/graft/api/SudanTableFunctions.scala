package graft.api

import org.apache.spark.sql.SparkSession

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
  * Each function is one [[Binder.Tvf]] row: its parameters bind at
  * ANALYSIS time (literals only — the fetch plan is built before
  * execution, exactly like the reference's bind phase), and its builder
  * splices in the same DataSourceV2 scan the Scala factories produce, so
  * predicate/year pushdown, per-country partitions and the fixture
  * transport all apply identically to the SQL spelling.
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

  import Binder._

  /** Session-conf keys selecting the HTTP vs fixture transport. */
  val ModeKey = "spark.graft.fetcher.mode"
  val FixturesKey = "spark.graft.fetcher.fixtures"

  private def fetcher(spark: SparkSession): Sudan.Fetcher =
    Sudan.Fetcher(
      mode = spark.conf.get(ModeKey, "http"),
      fixtures = spark.conf.get(FixturesKey, ""))

  /** The reference's `countries := [...]` named parameter. */
  private val countries = strs("countries", Seq.empty).named

  /** The 11 function rows; sessions get them through
    * [[graft.functions.GraftExtensions]]. */
  private[graft] lazy val rows: Seq[Tvf] = Seq(
    Tvf("SUDAN_Providers",
      "SUDAN_Providers() - Returns the registry of supported data " +
        "providers (provider_id, name, name_ar, description, base_url).",
      "SELECT provider_id FROM SUDAN_Providers();")(
      a => SudanGeo.providers(a.spark)),

    Tvf("SUDAN_States",
      "SUDAN_States() - Returns the 18 Sudan states with bilingual names, " +
        "ISO 3166-2 codes, centroids and MultiPolygon GeoJSON boundaries.",
      "SELECT state_name, iso_code FROM SUDAN_States();")(
      a => SudanGeo.states(a.spark)),

    Tvf("SUDAN_Boundaries",
      "SUDAN_Boundaries(level) - Returns administrative boundaries as " +
        "GeoJSON for level 'country', 'state' or 'locality' (schema " +
        "varies by level).",
      "SELECT state_name, geojson FROM SUDAN_Boundaries('state');",
      str("level"))(a => SudanGeo.boundariesDf(a.spark, a.str("level"))),

    Tvf("SUDAN_WB_Indicators",
      "SUDAN_WB_Indicators([search => term]) - Lists World Bank " +
        "indicators, optionally filtered by a case-insensitive keyword.",
      "SELECT * FROM SUDAN_WB_Indicators(search => 'population');",
      str("search", ""))(
      a => Sudan.wbIndicators(a.spark, a.str("search"), fetcher(a.spark))),

    Tvf("SUDAN_WHO_Indicators",
      "SUDAN_WHO_Indicators([search => term]) - Lists WHO Global Health " +
        "Observatory indicators, optionally filtered by keyword.",
      "SELECT * FROM SUDAN_WHO_Indicators(search => 'mortality');",
      str("search", ""))(
      a => Sudan.whoIndicators(a.spark, a.str("search"), fetcher(a.spark))),

    // an empty query raises the reference's bind error
    // (info_functions.cpp:167-169) from Sudan.search itself
    Tvf("SUDAN_Search",
      "SUDAN_Search(query => term) - Cross-provider keyword search over " +
        "the World Bank and WHO indicator catalogs (query is required).",
      "SELECT * FROM SUDAN_Search(query => 'maternal mortality');",
      str("query", ""))(
      a => Sudan.search(a.spark, a.str("query"), fetcher(a.spark))),

    Tvf("SUDAN_WorldBank",
      "SUDAN_WorldBank(indicator[, countries => array(...)]) - Reads " +
        "World Bank indicator data; one scan partition per country, year " +
        "predicates push into the API URL. Default countries: ('SDN').",
      "SELECT year, value FROM SUDAN_WorldBank('SP.POP.TOTL', " +
        "countries => array('SDN','EGY')) WHERE year >= 2010;",
      str("indicator"), countries)(a => Sudan.worldBank(a.spark,
      a.str("indicator"), a.strs("countries"), fetcher(a.spark))),

    Tvf("SUDAN_WHO",
      "SUDAN_WHO(indicator[, countries => array(...)]) - Reads WHO Global " +
        "Health Observatory data (server-side country filter).",
      "SELECT * FROM SUDAN_WHO('WHOSIS_000001');",
      str("indicator"), countries)(a => Sudan.who(a.spark,
      a.str("indicator"), a.strs("countries"), fetcher(a.spark))),

    Tvf("SUDAN_ILO",
      "SUDAN_ILO(indicator[, countries => array(...)]) - Reads ILO labor " +
        "statistics (SDMX 1.0/2.0 layouts).",
      "SELECT * FROM SUDAN_ILO('UNE_DEAP_SEX_AGE_RT');",
      str("indicator"), countries)(a => Sudan.ilo(a.spark,
      a.str("indicator"), a.strs("countries"), fetcher(a.spark))),

    Tvf("SUDAN_UNHCR",
      "SUDAN_UNHCR(population_type[, countries => array(...)]) - Reads " +
        "UNHCR displacement data; population_type in refugees, idps, " +
        "asylum_seekers, returned_refugees, stateless.",
      "SELECT * FROM SUDAN_UNHCR('refugees');",
      str("population_type"), countries)(a => Sudan.unhcr(a.spark,
      a.str("population_type"), a.strs("countries"), fetcher(a.spark))),

    Tvf("SUDAN_FAO",
      "SUDAN_FAO(dataset, element[, countries => array(...)]) - Reads FAO " +
        "agricultural statistics for a dataset code and element filter.",
      "SELECT * FROM SUDAN_FAO('QCL', 'production_quantity');",
      str("dataset"), str("element"), countries)(a => Sudan.fao(a.spark,
      a.str("dataset"), a.str("element"), a.strs("countries"),
      fetcher(a.spark))))
}

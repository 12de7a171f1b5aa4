package graft.api

import graft.SparkSpec

/** SQL TVF surface: the documented reference queries (docs/functions.md)
  * run verbatim modulo the `:=`→`=>` and `[...]`→`array(...)` spellings,
  * against the same fixture transport as the Scala-factory specs, and
  * return IDENTICAL results to the Scala factories (same scan plan
  * underneath). */
class SudanTableFunctionsSpec extends SparkSpec {

  /** The fixture transport is a session conf; unset it so later suites
    * on the shared session see the default transport. */
  override def afterAll(): Unit = {
    spark.conf.unset(SudanTableFunctions.ModeKey)
    spark.conf.unset(SudanTableFunctions.FixturesKey)
    super.afterAll()
  }

  private def fixtures(dir: String): Unit = {
    spark.conf.set(SudanTableFunctions.ModeKey, "fixtures")
    spark.conf.set(SudanTableFunctions.FixturesKey, s"graft/fixtures/$dir")
  }

  test("SUDAN_States() / SUDAN_Providers() / SUDAN_Boundaries(level)") {
    assert(spark.sql("SELECT state_name, iso_code FROM SUDAN_States()")
      .count() === 18)
    assert(spark.sql("SELECT provider_id FROM SUDAN_Providers()").count() ===
      graft.geo.SudanGeo.providers(spark).count())
    val st = spark.sql(
      "SELECT state_name, geojson FROM SUDAN_Boundaries('state')")
    assert(st.count() === 18)
    assert(st.columns.toSeq === Seq("state_name", "geojson"))
    // level-dependent schema: country level has country_* columns
    assert(spark.sql("SELECT * FROM SUDAN_Boundaries('country')")
      .columns.toSeq ===
      Seq("country_name", "country_name_ar", "iso_code", "geojson"))
    // the reference's exact invalid-level error (geo_functions.cpp)
    val e = intercept[Exception](
      spark.sql("SELECT * FROM SUDAN_Boundaries('planet')").collect())
    assert(e.getMessage.contains("level"), e.getMessage)
  }

  test("SUDAN_WorldBank positional + named countries + WHERE pushdown") {
    fixtures("worldbank")
    val sqlRows = spark.sql(
      "SELECT * FROM SUDAN_WorldBank('SP.POP.TOTL') ORDER BY year").collect()
    val scalaRows = Sudan.worldBank(spark, "SP.POP.TOTL",
        fetcher = Sudan.Fetcher("fixtures", "graft/fixtures/worldbank"))
      .orderBy("year").collect()
    assert(sqlRows.toSeq === scalaRows.toSeq)
    // named-argument spelling (reference: countries := ['SDN'])
    val named = spark.sql("SELECT * FROM SUDAN_WorldBank('SP.POP.TOTL', " +
      "countries => array('SDN')) ORDER BY year").collect()
    assert(named.toSeq === scalaRows.toSeq)
    // year predicate pushes into the API URL through the SQL spelling too
    val pushed = spark.sql("SELECT year, value FROM " +
      "SUDAN_WorldBank('SP.POP.TOTL') WHERE year >= 2019 ORDER BY year")
    assert(pushed.collect().map(_.getInt(0)).toSeq === Seq(2019, 2020))
  }

  test("catalog + search TVFs with named args") {
    fixtures("worldbank")
    assert(spark.sql(
      "SELECT * FROM SUDAN_WB_Indicators(search => 'population')")
      .count() === 2)
    fixtures("who")
    assert(spark.sql("SELECT * FROM SUDAN_WHO_Indicators()").count() >= 1)
    fixtures("search")
    val r = spark.sql("SELECT provider, indicator_id FROM " +
      "SUDAN_Search(query => 'mortality')").collect()
    assert(r.map(_.getString(0)).distinct.sorted.toSeq ===
      Seq("who", "worldbank"))
    // required-arg bind error matches the reference (info_functions.cpp)
    val e = intercept[Exception](spark.sql("SELECT * FROM SUDAN_Search()"))
    assert(e.getMessage.contains(
      "The 'query' parameter is required for SUDAN_Search()"), e.getMessage)
  }

  test("SUDAN_WHO / SUDAN_UNHCR / SUDAN_ILO / SUDAN_FAO over fixtures") {
    fixtures("who")
    assert(spark.sql("SELECT * FROM SUDAN_WHO('WHOSIS_000001')").count() === 3)
    fixtures("unhcr")
    val un = spark.sql(
      "SELECT * FROM SUDAN_UNHCR('refugees', countries => array('SDN'))")
    assert(un.count() >= 1)
    assert(un.schema("value").dataType.typeName === "long") // BIGINT parity
    fixtures("ilo")
    assert(spark.sql("SELECT * FROM SUDAN_ILO('UNE_DEAP_SEX_AGE_RT')")
      .count() >= 1)
    fixtures("fao")
    val fao = spark.sql("SELECT item, year, value FROM " +
      "SUDAN_FAO('QCL', 'production')")
    assert(fao.count() >= 1)
  }

  test("binder errors: unknown / duplicate / excess / non-literal args") {
    fixtures("worldbank")
    val unknown = intercept[Exception](spark.sql(
      "SELECT * FROM SUDAN_WorldBank('X', nations => array('SDN'))"))
    assert(unknown.getMessage.contains("no parameter 'nations'"),
      unknown.getMessage)
    val excess = intercept[Exception](
      spark.sql("SELECT * FROM SUDAN_States(1)"))
    assert(excess.getMessage.contains("at most 0"), excess.getMessage)
    val dup = intercept[Exception](spark.sql(
      "SELECT * FROM SUDAN_WorldBank(indicator => 'A', indicator => 'B')"))
    assert(dup.getMessage.contains("more than once"), dup.getMessage)
    val missing = intercept[Exception](
      spark.sql("SELECT * FROM SUDAN_WorldBank(countries => array('SDN'))"))
    assert(missing.getMessage.contains("requires the 'indicator'"),
      missing.getMessage)
  }

  test("notebook workflow: CTAS over a TVF + CSV export") {
    // sudan_sql_basics.ipynb cells 18/102: CREATE TABLE ... AS SELECT
    // FROM SUDAN_States(); COPY ... TO csv — the reference's documented
    // composition runs verbatim-modulo-spelling on the TVF surface
    val tmp = java.nio.file.Files.createTempDirectory("tvf_ctas").toString
    spark.sql("DROP TABLE IF EXISTS states_tvf")
    spark.sql("CREATE TABLE states_tvf USING parquet LOCATION " +
      s"'$tmp/states' AS SELECT state_name, iso_code, centroid_lon, " +
      "centroid_lat FROM SUDAN_States()")
    try {
      assert(spark.sql("SELECT count(*) FROM states_tvf").collect()(0)
        .getLong(0) === 18)
      spark.table("states_tvf").write.mode("overwrite")
        .option("header", "true").csv(s"$tmp/export")
      val lines = spark.read.option("header", "true")
        .csv(s"$tmp/export")
      assert(lines.count() === 18)
      assert(lines.columns.toSeq ===
        Seq("state_name", "iso_code", "centroid_lon", "centroid_lat"))
    } finally spark.sql("DROP TABLE IF EXISTS states_tvf")
  }

  test("DESCRIBE FUNCTION shows catalog docs for the TVFs") {
    val desc = spark.sql("DESCRIBE FUNCTION EXTENDED SUDAN_WorldBank")
      .collect().map(_.getString(0)).mkString("\n")
    assert(desc.contains("World Bank indicator data"), desc)
    assert(desc.contains("countries => array('SDN','EGY')"), desc)
  }
}

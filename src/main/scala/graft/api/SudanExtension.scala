package graft.api

import org.apache.spark.sql.SparkSession
import graft.functions.GraftExtensions
import graft.geo.SudanGeo

/** SQL surface registration — the Spark analogue of the reference's
  * extension entry point (sudan_extension.cpp:21-31): makes the documented
  * SQL runnable verbatim-modulo-naming in `spark.sql`.
  *
  * [[registerAll]] is [[GraftExtensions.install]] — the TVF surface
  * ([[SudanTableFunctions]] / [[CorpusTableFunctions]]: the reference's
  * own call syntax, `SELECT * FROM SUDAN_WorldBank(...)`, and one
  * `corpus_*('/dir')` function per pipeline operator), the native
  * scalar functions (`SUDAN_GeoCode`, `simhash`, `minhash_signature`,
  * `winnow_fingerprints`, `hyperplane_bucket`) and the plan rules — plus
  * temp views for tools that enumerate catalog views rather than
  * functions:
  *   SUDAN_States()            → also temp view `sudan_states`
  *   SUDAN_Boundaries('x')     → also views `sudan_boundaries_{country,state,locality}`
  *   SUDAN_Providers()         → also temp view `sudan_providers`
  */
object SudanExtension {

  /** Register the offline surface: everything [[GraftExtensions]]
    * defines, plus the geo temp views. */
  def registerAll(spark: SparkSession): Unit = {
    GraftExtensions.install(spark)
    SudanGeo.states(spark).createOrReplaceTempView("sudan_states")
    SudanGeo.providers(spark).createOrReplaceTempView("sudan_providers")
    SudanGeo.boundariesDf(spark, "country")
      .createOrReplaceTempView("sudan_boundaries_country")
    SudanGeo.boundariesDf(spark, "state")
      .createOrReplaceTempView("sudan_boundaries_state")
    SudanGeo.boundariesDf(spark, "locality")
      .createOrReplaceTempView("sudan_boundaries_locality")
  }
}

package graft

import org.apache.spark.sql.functions._
import graft.api.SudanExtension
import graft.functions.GeoCode
import graft.geo.SudanGeo

/** Replicates the reference's own golden assertions
  * (test/sql/sudan_boundaries.test, sudan_providers.test, sudan.test)
  * against the Spark engine's SQL surface. */
class GeoSpec extends SparkSpec {

  test("18 states (sudan_boundaries.test:8-11)") {
    assert(SudanGeo.states(spark).count() === 18)
  }

  test("golden Khartoum row (sudan_boundaries.test:14-19)") {
    val row = SudanGeo.states(spark)
      .filter(col("state_name") === "Khartoum")
      .select("state_name", "state_name_ar", "iso_code")
      .collect()
    assert(row.length === 1)
    assert(row(0).getString(0) === "Khartoum")
    assert(row(0).getString(1) === "الخرطوم")
    assert(row(0).getString(2) === "SD-KH")
  }

  test("geometry prefix + size sanity (sudan_boundaries.test:22-31,57-61)") {
    val rows = SudanGeo.states(spark)
      .select(substring(col("geojson"), 1, 22).as("p"),
        length(col("geojson")).as("len"))
      .collect()
    assert(rows.forall(_.getString(0) === "{\"type\":\"MultiPolygon\""))
    assert(rows.forall(_.getInt(1) > 100))
    assert(rows.map(_.getInt(1)).min === 780)
    assert(rows.map(_.getInt(1)).max === 53852)
  }

  test("boundaries level schemas + country=SDN") {
    val country = SudanGeo.boundariesDf(spark, "country")
    assert(country.columns.toSeq ===
      Seq("country_name", "country_name_ar", "iso_code", "geojson"))
    assert(country.select("iso_code").collect()(0).getString(0) === "SDN")
    val state = SudanGeo.boundariesDf(spark, "state")
    assert(state.columns.toSeq ===
      Seq("state_name", "state_name_ar", "iso_code", "geojson"))
    assert(state.count() === 18)
    val locality = SudanGeo.boundariesDf(spark, "locality")
    assert(locality.columns.toSeq ===
      Seq("locality_name", "locality_name_ar", "state_name", "geojson"))
    assert(locality.count() === 0)
    // level argument is case-insensitive
    assert(SudanGeo.boundariesDf(spark, "STATE").count() === 18)
  }

  test("invalid level error message echoes original input (sudan_boundaries.test:87-91)") {
    val e = intercept[IllegalArgumentException] {
      SudanGeo.boundariesDf(spark, "District")
    }
    assert(e.getMessage ===
      "SUDAN: Invalid boundary level 'District'. Valid levels: 'country', 'state', 'locality'.")
  }

  test("GeoCode: English ci / Arabic exact / unknown '' / null '' (sudan_boundaries.test:63-85)") {
    assert(GeoCode.lookup("Khartoum") === "SD-KH")
    assert(GeoCode.lookup("khartoum") === "SD-KH")
    assert(GeoCode.lookup("KHARTOUM") === "SD-KH")
    assert(GeoCode.lookup("الخرطوم") === "SD-KH")
    assert(GeoCode.lookup("Red Sea") === "SD-RS")
    assert(GeoCode.lookup("Unknown Place") === "")
    assert(GeoCode.lookup(null) === "")
    // Arabic must be exact (no case folding concept) — partial is a miss
    assert(GeoCode.lookup("الخرطو") === "")
  }

  test("providers golden: 5 rows, worldbank Arabic name (sudan_providers.test)") {
    SudanExtension.registerAll(spark)
    assert(spark.sql("SELECT count(*) FROM sudan_providers").collect()(0).getLong(0) === 5)
    val wb = spark.sql(
      "SELECT name, name_ar FROM sudan_providers WHERE provider_id = 'worldbank'").collect()
    assert(wb(0).getString(0) === "World Bank")
    assert(wb(0).getString(1) === "البنك الدولي")
  }

  test("SQL surface: SUDAN_GeoCode registered and callable from spark.sql") {
    SudanExtension.registerAll(spark)
    val r = spark.sql(
      "SELECT SUDAN_GeoCode('الخرطوم') AS a, SUDAN_GeoCode('nowhere') AS b").collect()(0)
    assert(r.getString(0) === "SD-KH")
    assert(r.getString(1) === "")
  }

  test("SQL surface: pipeline views over a corpus dir answer plain SQL") {
    val n = spark.sql(
      s"SELECT count(*) FROM corpus_clean('$sfDir') WHERE lang = 'en'")
      .collect()(0).getLong(0)
    assert(n > 0, "cleaned corpus has English docs")
    val joined = spark.sql(
      s"SELECT count(*) FROM corpus_stats('$sfDir') s " +
        s"JOIN corpus_quality('$sfDir') q " +
        "ON q.doc_id = s.doc_id WHERE s.n_words >= 30 AND q.quality > 0")
      .collect()(0).getLong(0)
    assert(joined > 0, "stats⋈quality join over the views")
    assert(spark.sql(s"SELECT * FROM corpus_sources('$sfDir')").count() > 0)
    // multimodal codec outputs and per-language trim answer plain SQL too
    val audio = spark.sql(
      s"SELECT count(*) FROM corpus_audio_meta('$sfDir') WHERE zero_crossings > 0")
      .collect()(0).getLong(0)
    assert(audio > 0, "decoded audio features via SQL")
    val dupImages = spark.sql(
      s"SELECT count(*) FROM corpus_image_neardup('$sfDir') WHERE hamming = 0")
      .collect()(0).getLong(0)
    assert(dupImages > 0, "planted identical images via SQL")
    assert(spark.sql(s"SELECT count(*) FROM corpus_length_trim_lang('$sfDir')")
      .collect()(0).getLong(0) > 0)
    assert(spark.sql(
      s"SELECT count(DISTINCT shard) FROM corpus_packing('$sfDir')")
      .collect()(0).getLong(0) > 1, "sharded packing via SQL")
  }

  test("SQL surface: graph + ANN views answer plain SQL and agree with " +
      "the Scala API") {
    // PageRank over the k-NN graph: ranks positive, top node matches
    // the Scala call
    val topSql = spark.sql(
      s"SELECT node FROM corpus_pagerank('$sfDir') " +
        "ORDER BY pr DESC, node ASC LIMIT 1").collect()(0).getLong(0)
    val topScala = graft.operators.GraphOps.knnPageRank(spark, sfDir)
      .orderBy(org.apache.spark.sql.functions.col("pr").desc,
        org.apache.spark.sql.functions.col("node").asc)
      .limit(1).collect()(0).getLong(0)
    assert(topSql === topScala)
    // seeded rank keeps its mass near the seed cohort
    val seeded = spark.sql(
      s"SELECT count(*) FROM corpus_graph_ppr('$sfDir') WHERE is_seed AND pr > 0")
      .collect()(0).getLong(0)
    assert(seeded > 0, "seed nodes carry rank via SQL")
    assert(spark.sql(
      s"SELECT count(*) FROM corpus_graph_triangles('$sfDir') WHERE n_tri > 0")
      .collect()(0).getLong(0) > 0, "triangle counts via SQL")
    // the ANN probe serves the two-stage IVF-PQ top-k for query id 0
    val probe = spark.sql(
      s"SELECT vec_id, cosine FROM corpus_ann_probe('$sfDir', 0)").collect()
    assert(probe.length === 10)
    val cos = probe.map(_.getDouble(1)).toSeq
    assert(cos === cos.sorted.reverse, "re-ranked order via SQL")
    assert(spark.sql(
      s"SELECT count(DISTINCT cluster_id) FROM corpus_embed_clusters('$sfDir')")
      .collect()(0).getLong(0) > 0)
  }
}

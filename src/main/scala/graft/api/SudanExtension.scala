package graft.api

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.functions.GraftExtensions
import graft.geo.SudanGeo

/** SQL surface registration — the Spark analogue of the reference's
  * extension entry point (sudan_extension.cpp:21-31): makes the documented
  * SQL runnable verbatim-modulo-naming in `spark.sql`.
  *
  * [[registerAll]] is [[GraftExtensions.install]] — the TVF surface
  * ([[SudanTableFunctions]] / [[CorpusTableFunctions]]: the reference's
  * own call syntax, `SELECT * FROM SUDAN_WorldBank(...)`), the native
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

  /** Scala-facing factories (the idiomatic API, SURVEY §7.3). */
  def states(spark: SparkSession): DataFrame = SudanGeo.states(spark)
  def boundaries(spark: SparkSession, level: String): DataFrame =
    SudanGeo.boundariesDf(spark, level)
  def providers(spark: SparkSession): DataFrame = SudanGeo.providers(spark)

  /** Register the LLM-pipeline surface over a corpus directory as SQL
    * temp views, so a SQL-only user can run the cleaning/analysis stack
    * (`SELECT * FROM corpus_clean WHERE lang = 'en'`, join
    * `corpus_quality` to `corpus_stats`, …) without touching the Scala
    * API. Most views are lazy plans, but the four build-once views are
    * NOT: `corpus_clean` and `corpus_neardup_pairs` (MinHash pair
    * table), `corpus_dedup_clusters` (CC label table) and
    * `corpus_image_neardup` (dHash index) build their artifact AT
    * registration, once per corpus snapshot, and `corpus_quality_model`
    * trains its weights there; re-registration reuses them. */
  def registerPipeline(spark: SparkSession, dir: String): Unit = {
    import graft.operators.{Dedup, Multimodal, Pipeline, TextOps}
    Seq(
      "corpus_clean" -> Pipeline.cleanCorpus(spark, dir),
      "corpus_split" -> Pipeline.trainValSplit(spark, dir),
      "corpus_sources" -> Pipeline.sourceReport(spark, dir),
      "corpus_stats" -> TextOps.textStats(spark, dir),
      "corpus_quality" -> TextOps.qualityScore(spark, dir),
      "corpus_lang_id" -> TextOps.langId(spark, dir),
      "corpus_neardup_pairs" -> Dedup.minHashPairs(spark, dir),
      "corpus_dedup_clusters" -> Dedup.minHashClusters(spark, dir),
      "corpus_entropy" -> TextOps.charEntropy(spark, dir),
      "corpus_bm25" -> TextOps.bm25(spark, dir),
      "corpus_length_trim" -> Pipeline.lengthTrim(spark, dir),
      "corpus_length_trim_lang" -> Pipeline.lengthTrimByLang(spark, dir),
      "corpus_packing" -> Pipeline.packSequences(spark, dir),
      "corpus_image_meta" -> Multimodal.imageMeta(spark, dir),
      "corpus_image_dhash" -> Multimodal.imageDHash(spark, dir),
      "corpus_image_neardup" -> Multimodal.imageNearDupPairs(spark, dir),
      "corpus_audio_meta" -> Multimodal.audioMeta(spark, dir),
      "corpus_video_frames" -> Multimodal.videoFrameStats(spark, dir),
      "corpus_weighted_sample" -> Pipeline.weightedSample(spark, dir),
      "corpus_shuffle" -> Pipeline.corpusShuffle(spark, dir),
      "corpus_inverted_index" ->
        TextOps.invertedIndex(spark, dir, maxDf = 5000),
      "corpus_zorder" -> graft.operators.Zorder.docZValues(spark, dir),
      "corpus_dataset_card" -> Pipeline.datasetCard(spark, dir),
      "corpus_quality_model" ->
        graft.operators.QualityModel.qualityClassifier(spark, dir))
      .foreach { case (name, df) => df.createOrReplaceTempView(name) }
  }

  /** Register the graph-analytics / ANN surface as SQL temp views, so
    * the SQL-only user reaches the same results as the Scala API
    * (`SELECT node, pr FROM corpus_graph_pagerank ORDER BY pr DESC`,
    * `SELECT * FROM corpus_ann_probe`, …). UNLIKE most of
    * [[registerPipeline]]'s views these are NOT lazy plans: the
    * PageRank/PPR power loop and the IVF-PQ index build run AT
    * registration (both bounded — fixed iterations over the k-NN graph,
    * build-once session-cached index), as do the build-once edge and
    * embedding-cluster tables behind the graph and cluster views — the
    * right trade for a session that will query the views repeatedly;
    * re-registration reuses every build-once artifact. */
  def registerAnalytics(spark: SparkSession, dir: String,
      queryId: Long = 0L): Unit = {
    import graft.operators.{GraphOps, Pq, Similarity}
    Seq(
      "corpus_knn_graph" -> Similarity.knnJoin(spark, dir),
      // the three graph views share the build-once edge table — the
      // LSH pair pipeline runs once at registration, not once per view
      "corpus_graph_triangles" -> GraphOps.knnTriangles(spark, dir),
      "corpus_graph_pagerank" -> GraphOps.knnPageRank(spark, dir),
      "corpus_graph_ppr" -> GraphOps.knnSeededRank(spark, dir),
      // two-stage IVF-PQ probe for `queryId` over the materialized index
      "corpus_ann_probe" -> Pq.topKIvfPq(spark, dir, queryId),
      "corpus_embed_clusters" -> Similarity.embedClusters(spark, dir))
      .foreach { case (name, df) => df.createOrReplaceTempView(name) }
  }
}

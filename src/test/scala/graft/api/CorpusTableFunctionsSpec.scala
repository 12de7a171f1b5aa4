package graft.api

import graft.SparkSpec
import graft.operators.{Dedup, Pipeline, TextOps}

/** Corpus TVFs: same results as the Scala factories over the same dir,
  * transparent to Catalyst (outer predicates reach the parquet scan),
  * binder errors at analysis. Installed at RUNTIME on the shared spec
  * session ([[graft.functions.GraftExtensions.install]]) — the path
  * Verify/Bench and notebook users take. */
class CorpusTableFunctionsSpec extends SparkSpec {

  test("corpus_clean / corpus_stats / corpus_lang_id match Scala factories") {
    val sqlClean = spark.sql(s"SELECT * FROM corpus_clean('$sfDir')")
    val scalaClean = Pipeline.cleanCorpus(spark, sfDir)
    assert(sqlClean.count() === scalaClean.count())
    assert(sqlClean.columns.toSeq === scalaClean.columns.toSeq)
    val sqlStats = spark.sql(
      s"SELECT * FROM corpus_stats('$sfDir') WHERE n_words > 100")
    assert(sqlStats.count() ===
      TextOps.textStats(spark, sfDir).filter("n_words > 100").count())
    assert(spark.sql(s"SELECT * FROM corpus_lang_id('$sfDir')").count() ===
      TextOps.langId(spark, sfDir).count())
  }

  test("outer predicates push through the TVF into the parquet scan") {
    val plan = spark.sql(
      s"SELECT doc_id FROM corpus_stats('$sfDir') WHERE doc_id = 7")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(doc_id), EqualTo(doc_id,7)]"),
      plan)
  }

  test("corpus_neardup_pairs threshold arg binds (positional and named)") {
    val sqlPairs = spark.sql(
      s"SELECT * FROM corpus_neardup_pairs('$sfDir', 0.8)").collect()
    val scalaPairs = Dedup.minHashPairs(spark, sfDir, threshold = 0.8).collect()
    assert(sqlPairs.toSet === scalaPairs.toSet)
    val named = spark.sql("SELECT * FROM corpus_neardup_pairs(" +
      s"'$sfDir', threshold => 0.8)").collect()
    assert(named.toSet === scalaPairs.toSet)
  }

  test("corpus_ann_probe returns k neighbours of the query vector") {
    val r = spark.sql(
      s"SELECT * FROM corpus_ann_probe('$sfDir', 3, k => 5)").collect()
    assert(r.length === 5)
    // same result as the Scala two-stage search
    val scala = graft.operators.Pq.topKIvfPq(spark, sfDir, 3L, kNn = 5)
      .collect()
    assert(r.map(_.getLong(0)).toSeq === scala.map(_.getLong(0)).toSeq)
  }

  test("corpus_dataset_card and corpus_mixture_plan bind and match Scala") {
    val card = spark.sql(s"SELECT * FROM corpus_dataset_card('$sfDir')")
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(card("n_docs") ===
      Pipeline.datasetCard(spark, sfDir).collect()
        .find(_.getString(0) == "n_docs").get.getDouble(1))
    val sqlPlan = spark.sql("SELECT * FROM corpus_mixture_plan(" +
      s"'$sfDir', sources => array('src0','src1'), " +
      "shares => array(0.7, 0.3), budget => 1000, max_epochs => 3.0)")
      .collect()
    val scalaPlan = Pipeline.mixturePlan(spark, sfDir,
      Map("src0" -> 0.7, "src1" -> 0.3), 1000L, 3.0).collect()
    assert(sqlPlan.toSet === scalaPlan.toSet)
    val lenErr = intercept[Exception](spark.sql(
      s"SELECT * FROM corpus_mixture_plan('$sfDir', " +
        "sources => array('a'), shares => array(0.5, 0.5), budget => 10)"))
    assert(lenErr.getMessage.contains("equal length"), lenErr.getMessage)
  }

  test("corpus_keep_best / corpus_soft_dedup / corpus_mixture_schedule " +
      "bind and match the Scala factories") {
    val bestSql = spark.sql(
      s"SELECT doc_id FROM corpus_keep_best('$sfDir')")
      .collect().map(_.getLong(0)).toSet
    assert(bestSql ===
      graft.operators.Dedup.clusterKeepBest(spark, sfDir)
        .select("doc_id").collect().map(_.getLong(0)).toSet)
    val softSql = spark.sql("SELECT doc_id, sample_weight FROM " +
      s"corpus_soft_dedup('$sfDir')")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(softSql ===
      graft.operators.Dedup.softDedupWeights(spark, sfDir)
        .select("doc_id", "sample_weight").collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap)
    val schedSql = spark.sql("SELECT * FROM corpus_mixture_schedule(" +
      s"'$sfDir', array('src0','src1'), array(0.7, 0.3), 1000, " +
      "epochs => 2, t_start => 1.5)").collect()
    val schedScala = Pipeline.mixtureSchedule(spark, sfDir,
      Map("src0" -> 0.7, "src1" -> 0.3), 1000L, epochs = 2,
      tStart = 1.5).collect()
    assert(schedSql.toSet === schedScala.toSet)
    val dupErr = intercept[Exception](spark.sql(
      s"SELECT * FROM corpus_mixture_schedule('$sfDir', " +
        "array('a','a'), array(0.5, 0.5), budget => 10)"))
    assert(dupErr.getMessage.contains("duplicates"), dupErr.getMessage)
  }

  test("corpus_repeated_spans / corpus_span_excise bind, match the Scala " +
      "factories, and reject degenerate k") {
    val spansSql = spark.sql(
      s"SELECT * FROM corpus_repeated_spans('$sfDir', 6)").collect()
    val spansScala = graft.operators.Dedup
      .repeatedSpans(spark, sfDir, k = 6).collect()
    assert(spansSql.toSet === spansScala.toSet)
    val excSql = spark.sql("SELECT doc_id, n_dropped_words FROM " +
      s"corpus_span_excise('$sfDir', k => 6)")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(excSql ===
      graft.operators.Dedup.repeatedSpanExcise(spark, sfDir, k = 6)
        .select("doc_id", "n_dropped_words").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap)
    val badK = intercept[Exception](spark.sql(
      s"SELECT * FROM corpus_repeated_spans('$sfDir', 1)"))
    assert(badK.getMessage.contains("'k' must be >= 2"), badK.getMessage)
    val badM = intercept[Exception](spark.sql(
      s"SELECT * FROM corpus_span_excise('$sfDir', min_docs => 0)"))
    assert(badM.getMessage.contains("'min_docs' must be >= 2"),
      badM.getMessage)
  }

  test("decontamination TVFs bind and match the Scala factories") {
    assert(spark.sql(
      s"SELECT * FROM corpus_decontaminate('$sfDir', eval_max_id => 10)")
      .count() ===
      graft.operators.TextOps.decontaminate(spark, sfDir, 10L).count())
    assert(spark.sql(
      s"SELECT * FROM corpus_eval_containment('$sfDir', 10, 0.1)")
      .count() ===
      graft.operators.TextOps.evalContainment(spark, sfDir, 10L, 0.1)
        .count())
  }

  test("corpus_sketch_sources / corpus_sketch_snapshot_merge bind, " +
      "match Scala, and validate k") {
    val sqlSrc = spark.sql(
      s"SELECT * FROM corpus_sketch_sources('$sfDir')").collect()
    val scalaSrc = graft.operators.SketchOps
      .sourceDistinctTexts(spark, sfDir).collect()
    assert(sqlSrc.toSet === scalaSrc.toSet)
    val sqlMerge = spark.sql(
      s"SELECT * FROM corpus_sketch_snapshot_merge('$sfDir', k => 65536)")
      .collect()
    val scalaMerge = graft.operators.SketchOps
      .snapshotSketchMerge(spark, sfDir).collect()
    assert(sqlMerge.toSet === scalaMerge.toSet)
    // merging persisted snapshots == sketching the whole corpus (exact
    // below k on this fixture)
    assert(sqlMerge.toSet === sqlSrc.toSet)
    val e = intercept[Exception](spark.sql(
      s"SELECT * FROM corpus_sketch_sources('$sfDir', 0)"))
    assert(e.getMessage.contains("'k' must be >= 2"), e.getMessage)
    // k = 1 would estimate 0 distinct texts for every non-empty source
    val one = intercept[Exception](spark.sql(
      s"SELECT * FROM corpus_sketch_sources('$sfDir', 1)"))
    assert(one.getMessage.contains("'k' must be >= 2, got 1."), one.getMessage)
    // an integer parameter rejects a fractional literal, never truncates it
    val frac = intercept[Exception](spark.sql(
      s"SELECT * FROM corpus_sketch_sources('$sfDir', 1.9)"))
    assert(frac.getMessage.contains("'k' must be an integer literal, got 1.9."),
      frac.getMessage)
  }

  test("corpus_sketch_delta binds, matches Scala, and validates k") {
    val sql = spark.sql(
      s"SELECT * FROM corpus_sketch_delta('$sfDir', k => 65536)").collect()
    val scala = graft.operators.SketchOps.snapshotDelta(spark, sfDir)
      .collect()
    assert(sql.toSet === scala.toSet)
    // the Venn identity that always holds in the exact regime:
    // |union| = prev + added = new + removed = prev + new - overlap
    sql.foreach { r =>
      val (prev, nw, added, removed, overlap) = (r.getLong(1),
        r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
      assert(added >= 0 && removed >= 0 && overlap >= 0)
      assert(prev + added === nw + removed,
        s"union identity broken for ${r.getString(0)}")
      assert(prev + nw - overlap === prev + added,
        s"inclusion-exclusion broken for ${r.getString(0)}")
    }
    val e = intercept[Exception](spark.sql(
      s"SELECT * FROM corpus_sketch_delta('$sfDir', 0)"))
    assert(e.getMessage.contains("'k' must be >= 2"), e.getMessage)
  }

  test("corpus_quantile_drift binds, matches Scala, and validates " +
      "threshold") {
    val sql = spark.sql(
      s"SELECT * FROM corpus_quantile_drift('$sfDir', threshold => 0.5)")
      .collect()
    val scala = graft.operators.SketchOps.quantileDrift(spark, sfDir)
      .collect()
    assert(sql.toSet === scala.toSet)
    sql.foreach { r =>
      val ks = r.getDouble(3)
      assert(ks >= 0.0 && ks <= 1.0, s"${r.getString(0)}: ks $ks")
    }
    val e = intercept[Exception](spark.sql(
      s"SELECT * FROM corpus_quantile_drift('$sfDir', threshold => 1.5)"))
    assert(e.getMessage.contains("'threshold' must be in (0, 1]"),
      e.getMessage)
  }

  test("corpus_heavy_hitters binds, matches Scala, and validates params") {
    val sql = spark.sql(
      s"SELECT * FROM corpus_heavy_hitters('$sfDir', top => 5)").collect()
    val scala = graft.operators.SketchOps
      .heavyHitterSources(spark, sfDir, top = 5).collect()
    assert(sql.toSet === scala.toSet)
    assert(sql.length === 5)
    // exact regime on this fixture: merged MG counters == GROUP BY counts
    val exact = spark.read.parquet(s"$sfDir/documents.parquet")
      .groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    sql.foreach(r => assert(exact(r.getString(0)) === r.getLong(1)))
    val e = intercept[Exception](spark.sql(
      s"SELECT * FROM corpus_heavy_hitters('$sfDir', top => 0)"))
    assert(e.getMessage.contains("'top' must be >= 1"), e.getMessage)
  }

  test("corpus_priority_totals / corpus_bloom_guard bind, match Scala, " +
      "and validate params") {
    val sqlPri = spark.sql(
      s"SELECT * FROM corpus_priority_totals('$sfDir')").collect()
    val scalaPri = graft.operators.SketchOps
      .sourceCharTotals(spark, sfDir).collect()
    assert(sqlPri.toSet === scalaPri.toSet)
    val sqlBloom = spark.sql(
      s"SELECT * FROM corpus_bloom_guard('$sfDir', nbits => 65536)")
      .collect()
    val scalaBloom = graft.operators.SketchOps
      .bloomBlocklistAdmit(spark, sfDir).collect()
    assert(sqlBloom.toSet === scalaBloom.toSet)
    val e1 = intercept[Exception](spark.sql(
      s"SELECT * FROM corpus_priority_totals('$sfDir', 0)"))
    assert(e1.getMessage.contains("'n' must be >= 1"), e1.getMessage)
    val e2 = intercept[Exception](spark.sql(
      s"SELECT * FROM corpus_bloom_guard('$sfDir', nbits => 1000)"))
    assert(e2.getMessage.contains("power of two"), e2.getMessage)
    val e3 = intercept[Exception](spark.sql(
      s"SELECT * FROM corpus_bloom_guard('$sfDir', nhashes => 99)"))
    assert(e3.getMessage.contains("'nhashes' must be in [1, 16]"),
      e3.getMessage)
    val sqlRoll = spark.sql(
      s"SELECT * FROM corpus_sketch_rollup('$sfDir')").collect()
    val scalaRoll = graft.operators.SketchOps
      .sourceLangDistinctRollup(spark, sfDir).collect()
    assert(sqlRoll.toSet === scalaRoll.toSet)
    val sqlCp = spark.sql(
      s"SELECT * FROM corpus_contrastive_pairs('$sfDir')").collect()
    val scalaCp = graft.operators.Dedup.contrastivePairs(spark, sfDir)
      .collect()
    assert(sqlCp.toSet === scalaCp.toSet)
    val sqlRe = spark.sql(
      s"SELECT * FROM corpus_range_estimate('$sfDir')").collect()
    val scalaRe = graft.operators.SketchOps
      .sourceLengthSelectivity(spark, sfDir).collect()
    assert(sqlRe.toSet === scalaRe.toSet)
    val e4 = intercept[Exception](spark.sql(
      s"SELECT * FROM corpus_range_estimate('$sfDir', 9, 1)"))
    assert(e4.getMessage.contains("lo <= hi"), e4.getMessage)
  }

  test("r10-family TVFs (scd2 / apply_changes / token_windows / " +
      "join_estimate / expectations) bind, match Scala, validate params") {
    assert(spark.sql(s"SELECT * FROM corpus_scd2('$sfDir')").collect()
      .toSet === graft.operators.Pipeline.scd2Demo(spark, sfDir)
      .collect().toSet)
    assert(spark.sql(s"SELECT * FROM corpus_apply_changes('$sfDir')")
      .collect().toSet ===
      graft.operators.Pipeline.cdcMergeDemo(spark, sfDir).collect().toSet)
    assert(spark.sql(
      s"SELECT * FROM corpus_token_windows('$sfDir', " +
        "window_tokens => 4096)").collect().toSet ===
      graft.operators.Pipeline.tokenWindows(spark, sfDir, 4096L)
        .collect().toSet)
    assert(spark.sql(s"SELECT * FROM corpus_join_estimate('$sfDir')")
      .collect().toSet ===
      graft.operators.SketchOps.ordersCustomerJoinEstimate(spark, sfDir)
        .collect().toSet)
    assert(spark.sql(s"SELECT * FROM corpus_expectations('$sfDir')")
      .collect().toSet ===
      graft.operators.Pipeline.expectations(spark, sfDir).collect().toSet)
    val e1 = intercept[Exception](spark.sql(
      s"SELECT * FROM corpus_token_windows('$sfDir', 0)"))
    assert(e1.getMessage.contains("'window_tokens' must be >= 1"),
      e1.getMessage)
    val half = intercept[Exception](spark.sql(
      s"SELECT * FROM corpus_token_windows('$sfDir', 0.5)"))
    assert(half.getMessage.contains(
      "'window_tokens' must be an integer literal, got 0.5."), half.getMessage)
    val e2 = intercept[Exception](spark.sql(
      s"SELECT * FROM corpus_join_estimate('$sfDir', k => 0)"))
    assert(e2.getMessage.contains("'k' must be >= 2"), e2.getMessage)
  }

  test("corpus_kanon / corpus_noisy_hist match Scala factories + binders") {
    val sqlRel = spark.sql(
      s"SELECT * FROM corpus_kanon('$sfDir', 5, l => 3)").collect()
    val scalaRel = graft.operators.Privacy
      .kAnonymize(spark, sfDir, k = 5, l = 3).collect()
    assert(sqlRel.toSet === scalaRel.toSet)
    assert(spark.sql(s"SELECT * FROM corpus_noisy_hist('$sfDir')")
      .collect().toSet ===
      graft.operators.Privacy.noisyHistogram(spark, sfDir).collect().toSet)
    val bad = intercept[Exception](spark.sql(
      s"SELECT * FROM corpus_kanon('$sfDir', k => 0)"))
    assert(bad.getMessage.contains("'k' must be >= 1"), bad.getMessage)
  }

  test("as-of TVFs match Scala factories (custom SparkPlan behind SQL)") {
    assert(spark.sql(s"SELECT * FROM corpus_asof_purchase('$sfDir')")
      .collect().toSet ===
      graft.operators.AsOf.eventsAsOfLastPurchaseExec(spark, sfDir)
        .collect().toSet)
    assert(spark.sql(s"SELECT * FROM corpus_asof_rates('$sfDir')")
      .collect().toSet ===
      graft.streaming.EventStream.asOfDailyRateBatch(
        graft.operators.Relational.events(spark, sfDir)).collect().toSet)
    // the ts-range-split form must return the SAME rows as the merge
    // exec it decomposes (and as its own Scala factory)
    assert(spark.sql(s"SELECT * FROM corpus_asof_bucketed('$sfDir')")
      .collect().toSet ===
      spark.sql(s"SELECT * FROM corpus_asof_purchase('$sfDir')")
        .collect().toSet)
    // every skew path is reachable from SQL and returns the same rows:
    // the salted form and the measured router against the merge exec
    assert(spark.sql(s"SELECT * FROM corpus_asof_salted('$sfDir')")
      .collect().toSet ===
      spark.sql(s"SELECT * FROM corpus_asof_purchase('$sfDir')")
        .collect().toSet)
    assert(spark.sql(s"SELECT * FROM corpus_asof_auto('$sfDir')")
      .collect().toSet ===
      spark.sql(s"SELECT * FROM corpus_asof_purchase('$sfDir')")
        .collect().toSet)
  }

  test("tokenizer TVFs match Scala factories + binders") {
    assert(spark.sql(s"SELECT * FROM corpus_bpe_merges('$sfDir', 5)")
      .collect().toSeq ===
      TextOps.learnBpeMerges(spark, sfDir, numMerges = 5).collect().toSeq)
    assert(spark.sql(s"SELECT * FROM corpus_unigram_vocab('$sfDir')")
      .collect().toSeq ===
      graft.operators.UnigramLm.learnVocab(spark, sfDir).collect().toSeq)
    assert(spark.sql(
      s"SELECT * FROM corpus_unigram_tokens('$sfDir', vocab_size => 30)")
      .collect().toSeq ===
      graft.operators.UnigramLm.tokenize(spark, sfDir, vocabSize = 30)
        .collect().toSeq)
    val bad = intercept[Exception](spark.sql(
      s"SELECT * FROM corpus_bpe_merges('$sfDir', n => 0)"))
    assert(bad.getMessage.contains("'n' must be >= 1"), bad.getMessage)
  }

  test("binder errors: missing dir / unknown param") {
    val missing = intercept[Exception](spark.sql(
      "SELECT * FROM corpus_ann_probe(query_id => 3)"))
    assert(missing.getMessage.contains("requires the corpus 'dir'"),
      missing.getMessage)
    val frac = intercept[Exception](spark.sql(
      s"SELECT * FROM corpus_ann_probe('$sfDir', 42.9)"))
    assert(frac.getMessage.contains(
      "'query_id' must be an integer literal, got 42.9."), frac.getMessage)
    val unknown = intercept[Exception](spark.sql(
      s"SELECT * FROM corpus_clean('$sfDir', wat => 1)"))
    assert(unknown.getMessage.contains("no parameter 'wat'"),
      unknown.getMessage)
  }

  test("each directory-only operator TVF returns its factory's rows") {
    import graft.operators.{GraphOps, Multimodal, QualityModel, Similarity,
      Zorder}
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().toSeq
      .map(_.toSeq.map { case b: Array[Byte] => b.toSeq; case v => v })
      .groupBy(identity).map { case (r, n) => r -> n.size }
    val factories = Seq[(String, String => org.apache.spark.sql.DataFrame)](
      "corpus_split" -> (Pipeline.trainValSplit(spark, _)),
      "corpus_sources" -> (Pipeline.sourceReport(spark, _)),
      "corpus_dedup_clusters" -> (Dedup.minHashClusters(spark, _)),
      "corpus_entropy" -> (TextOps.charEntropy(spark, _)),
      "corpus_bm25" -> (TextOps.bm25(spark, _)),
      "corpus_length_trim" -> (Pipeline.lengthTrim(spark, _)),
      "corpus_length_trim_lang" -> (Pipeline.lengthTrimByLang(spark, _)),
      "corpus_packing" -> (Pipeline.packSequences(spark, _)),
      "corpus_image_meta" -> (Multimodal.imageMeta(spark, _)),
      "corpus_image_dhash" -> (Multimodal.imageDHash(spark, _)),
      "corpus_image_neardup" -> (Multimodal.imageNearDupPairs(spark, _)),
      "corpus_audio_meta" -> (Multimodal.audioMeta(spark, _)),
      "corpus_video_frames" -> (Multimodal.videoFrameStats(spark, _)),
      "corpus_weighted_sample" -> (Pipeline.weightedSample(spark, _)),
      "corpus_shuffle" -> (Pipeline.corpusShuffle(spark, _)),
      "corpus_inverted_index" ->
        (TextOps.invertedIndex(spark, _, maxDf = 5000)),
      "corpus_zorder" -> (Zorder.docZValues(spark, _)),
      "corpus_quality_model" -> (QualityModel.qualityClassifier(spark, _)),
      "corpus_knn_graph" -> (Similarity.knnJoin(spark, _)),
      "corpus_graph_triangles" -> (GraphOps.knnTriangles(spark, _)),
      "corpus_graph_ppr" -> (GraphOps.knnSeededRank(spark, _)),
      "corpus_embed_clusters" -> (Similarity.embedClusters(spark, _)))
    factories.foreach { case (fn, factory) =>
      val viaSql = rows(spark.sql(s"SELECT * FROM $fn('$sfDir')"))
      assert(viaSql.nonEmpty, fn)
      assert(viaSql === rows(factory(sfDir)), fn)
    }
  }
}

package graft.operators

import java.nio.file.{Files, Paths}

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Build-once artifacts never outlive their input: a corpus file
  * rewritten in place is a new [[Artifacts]] key, so every operator
  * served from an artifact answers what its private reference function
  * (the `*Recompute` form) answers over the new contents.
  * And an unchanged input is a hit: warm calls return the artifact the
  * first call built. */
class StaleInputSpec extends SparkSpec {

  private def copyCorpus(files: String*): String = {
    val dir = Files.createTempDirectory("stale_input")
    files.foreach(f =>
      Files.copy(Paths.get(sfDir, f), dir.resolve(f)))
    dir.toString
  }

  /** Rewrite `<dir>/<file>` in place with only the rows `keep` selects. */
  private def rewrite(dir: String, file: String,
      keep: org.apache.spark.sql.Column): Unit = {
    val path = s"$dir/$file"
    val old = spark.read.parquet(path)
    val rows = old.filter(keep).collect()
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), old.schema)
      .write.mode("overwrite").parquet(path)
  }

  private def pairs(df: org.apache.spark.sql.DataFrame) =
    df.select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(_.toSeq).toSet

  test("setSimPairs and minHashPairs rebuild after documents.parquet " +
      "is rewritten in place") {
    val dir = copyCorpus("documents.parquet")
    try {
      val setSimBefore = pairs(Dedup.setSimPairs(spark, dir))
      val minHashBefore = pairs(Dedup.minHashPairs(spark, dir))
      assert(setSimBefore.nonEmpty && minHashBefore.nonEmpty)
      rewrite(dir, "documents.parquet", col("doc_id") % 2 === 0)
      val setSim = pairs(Dedup.setSimPairs(spark, dir))
      assert(setSim === pairs(Dedup.setSimPairsRecompute(spark, dir)))
      val minHash = pairs(Dedup.minHashPairs(spark, dir))
      assert(minHash === pairs(Dedup.minHashPairsRecompute(spark, dir)))
      assert(setSim != setSimBefore && minHash != minHashBefore,
        "the rewrite must change the answer for the check to mean anything")
    } finally Artifacts.deleteRecursively(new java.io.File(dir))
  }

  test("clusters, pruned fingerprints and the dHash index rebuild after " +
      "documents.parquet is rewritten in place") {
    val dir = copyCorpus("documents.parquet")
    def clusters() = rows(Dedup.minHashClusters(spark, dir))
    def containment() = rows(TextOps.containmentPairs(spark, dir))
    def images() = rows(Multimodal.imageNearDupPairs(spark, dir))
    try {
      val before = (clusters(), containment(), images())
      assert(before._1.nonEmpty && before._2.nonEmpty && before._3.nonEmpty)
      rewrite(dir, "documents.parquet", col("doc_id") % 2 === 0)
      val after = (clusters(), containment(), images())
      assert(after._1 === rows(Dedup.minHashClustersRecompute(spark, dir)))
      assert(after._2 === rows(TextOps.containmentPairsRecompute(spark, dir)))
      assert(after._3 ===
        rows(Multimodal.imageNearDupPairsRecompute(spark, dir)))
      assert(after._1 != before._1 && after._2 != before._2 &&
        after._3 != before._3,
        "the rewrite must change the answer for the check to mean anything")
    } finally Artifacts.deleteRecursively(new java.io.File(dir))
  }

  test("k-NN edges and embedding clusters rebuild after " +
      "embeddings.parquet is rewritten in place") {
    val dir = copyCorpus("embeddings.parquet")
    def triangles() = rows(GraphOps.knnTriangles(spark, dir))
    def embed() = rows(Similarity.embedClusters(spark, dir)
      .select("vec_id", "cluster_id"))
    try {
      val before = (triangles(), embed())
      assert(before._1.nonEmpty && before._2.nonEmpty)
      rewrite(dir, "embeddings.parquet", col("vec_id") % 2 === 0)
      val after = (triangles(), embed())
      assert(after._1 ===
        rows(GraphOps.triangles(GraphOps.knnEdgesRecompute(spark, dir))))
      assert(after._2 === rows(Similarity.embedLabelsRecompute(spark, dir)))
      assert(after._1 != before._1 && after._2 != before._2,
        "the rewrite must change the answer for the check to mean anything")
    } finally Artifacts.deleteRecursively(new java.io.File(dir))
  }

  test("a value memo (editCandidateEstimate) is priced again after the " +
      "rewrite") {
    val dir = copyCorpus("documents.parquet")
    val fresh = copyCorpus("documents.parquet")
    try {
      val before = Dedup.editCandidateEstimate(spark, dir, 8)
      rewrite(dir, "documents.parquet", col("doc_id") % 2 === 0)
      rewrite(fresh, "documents.parquet", col("doc_id") % 2 === 0)
      val after = Dedup.editCandidateEstimate(spark, dir, 8)
      // `fresh` holds the same rewritten rows and was never priced
      assert(after === Dedup.editCandidateEstimate(spark, fresh, 8))
      assert(after < before)
    } finally {
      Artifacts.deleteRecursively(new java.io.File(dir))
      Artifacts.deleteRecursively(new java.io.File(fresh))
    }
  }

  test("sketchIngestBatchDemo answers over a rewritten events.parquet") {
    val dir = copyCorpus("events.parquet")
    def exact() = Relational.events(spark, dir).groupBy("event_type")
      .agg(countDistinct("user_id").as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    def demo() = graft.streaming.EventStream
      .sketchIngestBatchDemo(spark, Relational.events(spark, dir)).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    try {
      val before = demo()
      assert(before === exact())
      rewrite(dir, "events.parquet", col("user_id") % 2 === 0)
      val after = demo()
      assert(after === exact())
      assert(after !== before)
    } finally Artifacts.deleteRecursively(new java.io.File(dir))
  }

  test("an unchanged input is a hit: repeated calls return the first " +
      "call's artifact") {
    def twice[A](build: => A): Unit = {
      val first = build
      assert(build == first)
    }
    twice(Dedup.materializeSetSimTables(spark, sfDir))
    twice(Dedup.materializePairs(spark, sfDir))
    twice(Dedup.materializeBagTable(spark, sfDir))
    twice(TextOps.materializePrunedFingerprints(spark, sfDir, 100))
    twice(Multimodal.materializeDHashIndex(spark, sfDir))
    twice(GraphOps.materializeKnnEdges(spark, sfDir))
    twice(Similarity.materializeEmbedClusters(spark, sfDir))
    twice(Pq.materializeIvfPqIndex(spark, sfDir)._1)
    twice(SketchOps.snapshotTables(spark, sfDir, 64))
    twice(SketchOps.quantileSnapshotTables(spark, sfDir, 64))
    val w = QualityModel.trainWeights(spark, sfDir)
    assert(QualityModel.trainWeights(spark, sfDir) eq w)
  }
}

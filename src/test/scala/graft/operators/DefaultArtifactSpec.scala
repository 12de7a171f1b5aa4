package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.DataFrame

/** Every operator with a build-once artifact serves it from its default
  * call: there is no switch that selects a recomputing form, so the
  * plan a caller gets is the plan the gate entries run. Checked through
  * the files the returned frame reads: they lie under the directory of
  * the matching `materialize*` artifact (for the k-NN graph queries,
  * whose result sits behind a lineage cut: that artifact was written
  * before the call returned). */
class DefaultArtifactSpec extends SparkSpec {

  private def under(dir: String)(file: String): Boolean =
    file.contains(dir.stripSuffix("/") + "/")

  /** `df` reads only files of `dir` (`only`), or at least one. */
  private def serves(df: DataFrame, dir: => String,
      only: Boolean = true): Unit = {
    val files = df.inputFiles.toSeq
    val d = dir
    assert(files.exists(under(d)), s"no input under $d: $files")
    if (only) assert(files.forall(under(d)), s"inputs outside $d: $files")
  }

  /** For operators whose result sits behind a lineage cut (its scans
    * leave `inputFiles` empty): the artifact was already written when
    * the default call returned. */
  private def builtBy(call: => DataFrame, dir: => String): Unit = {
    Artifacts.clear()
    call
    val returned = System.currentTimeMillis()
    val success = new java.io.File(dir, "_SUCCESS")
    assert(success.isFile && success.lastModified() <= returned,
      s"$success was not written by the call")
  }

  test("Dedup.minHashPairs reads the pair table") {
    serves(Dedup.minHashPairs(spark, sfDir),
      Dedup.materializePairs(spark, sfDir))
  }

  test("Dedup.minHashKeep reads the pair table") {
    serves(Dedup.minHashKeep(spark, sfDir),
      Dedup.materializePairs(spark, sfDir), only = false)
  }

  test("Dedup.minHashClusters reads the cluster table") {
    serves(Dedup.minHashClusters(spark, sfDir),
      Dedup.materializeClusters(spark, sfDir))
  }

  test("Dedup.minHashClusterKeep reads the cluster table") {
    serves(Dedup.minHashClusterKeep(spark, sfDir),
      Dedup.materializeClusters(spark, sfDir), only = false)
  }

  test("Dedup.setSimPairs reads the set-similarity tables") {
    serves(Dedup.setSimPairs(spark, sfDir),
      Dedup.materializeSetSimTables(spark, sfDir))
  }

  test("Pipeline.cleanCorpus and cleanCorpusAudit read the pair table") {
    serves(Pipeline.cleanCorpus(spark, sfDir),
      Dedup.materializePairs(spark, sfDir), only = false)
    serves(Pipeline.cleanCorpusAudit(spark, sfDir),
      Dedup.materializePairs(spark, sfDir), only = false)
  }

  test("Pipeline.leakFreeSplit reads the cluster table") {
    serves(Pipeline.leakFreeSplit(spark, sfDir),
      Dedup.materializeClusters(spark, sfDir), only = false)
  }

  test("Similarity.embedClusters and embedClusterKeep read the " +
      "embedding-cluster table") {
    serves(Similarity.embedClusters(spark, sfDir),
      Similarity.materializeEmbedClusters(spark, sfDir))
    serves(Similarity.embedClusterKeep(spark, sfDir),
      Similarity.materializeEmbedClusters(spark, sfDir), only = false)
  }

  test("TextOps.containmentPairs reads the pruned fingerprint index") {
    serves(TextOps.containmentPairs(spark, sfDir),
      TextOps.materializePrunedFingerprints(spark, sfDir, 100))
  }

  test("TextOps.evalContainment reads the fingerprint table") {
    serves(TextOps.evalContainment(spark, sfDir),
      TextOps.materializeFingerprints(spark, sfDir))
  }

  test("GraphOps.knnTriangles, knnPageRank and knnSeededRank build the " +
      "k-NN edge table") {
    builtBy(GraphOps.knnTriangles(spark, sfDir),
      GraphOps.materializeKnnEdges(spark, sfDir))
    builtBy(GraphOps.knnPageRank(spark, sfDir),
      GraphOps.materializeKnnEdges(spark, sfDir))
    builtBy(GraphOps.knnSeededRank(spark, sfDir),
      GraphOps.materializeKnnEdges(spark, sfDir))
  }

  test("Multimodal.imageNearDupPairs and imageNearDupKeep read the dHash " +
      "index") {
    serves(Multimodal.imageNearDupPairs(spark, sfDir),
      Multimodal.materializeDHashIndex(spark, sfDir))
    serves(Multimodal.imageNearDupKeep(spark, sfDir),
      Multimodal.materializeDHashIndex(spark, sfDir), only = false)
  }
}

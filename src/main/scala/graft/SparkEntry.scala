package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.api.Sudan
import graft.operators.{AsOf, Dedup, Ivf, Multimodal,
  RangeJoin, Relational, Similarity, TextOps}
import graft.functions.GeoCode
import graft.geo.SudanGeo

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` is the engine's demonstrated capability surface: one entry per
  * operator from SURVEY.md §2B (host relational ops), the embedded geo
  * sources + GeoCode scalar (§2A S8/S10/S11/F1), and the LLM-data-pipeline
  * operator families (dedup / similarity / text analysis / multimodal).
  * Every SQL-expressible entry has a DuckDB oracle in `oracleSql` with
  * IDENTICAL column names and engine-independent values (exact decimal
  * sums, per-row-deterministic doubles, or rounded outputs).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The end-to-end corpus clean (exact dedup ∘ MinHash near-dedup ∘
    * quality filter ∘ token accounting) — the composition this engine
    * exists for; oracle-checked as `q_clean_corpus`. */
  def entry(spark: SparkSession): DataFrame =
    graft.operators.Pipeline.cleanCorpus(spark, "/root/testdata/sf0.001")

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    entries.RelationalEntries.queries ++
    entries.PipelineEntries.queries ++
    entries.DedupEntries.queries ++
    entries.TextEntries.queries ++
    entries.SketchEntries.queries ++
    entries.SimilarityEntries.queries ++
    entries.MultimodalEntries.queries ++
    entries.SudanEntries.queries ++
    entries.StreamEntries.queries ++
    entries.PrivacyEntries.queries

  def oracleSql: Map[String, String] =
    entries.RelationalEntries.oracleSql ++
    entries.PipelineEntries.oracleSql ++
    entries.DedupEntries.oracleSql ++
    entries.TextEntries.oracleSql ++
    entries.SketchEntries.oracleSql ++
    entries.SimilarityEntries.oracleSql ++
    entries.MultimodalEntries.oracleSql ++
    entries.SudanEntries.oracleSql ++
    entries.StreamEntries.oracleSql ++
    entries.PrivacyEntries.oracleSql
}

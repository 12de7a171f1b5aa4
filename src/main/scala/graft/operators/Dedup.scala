package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deduplication operators over the `documents` table — the core of a
  * pretraining-data pipeline: exact (hash group-by), MinHash+LSH near-dup,
  * SimHash, and exact n-gram Jaccard verification.
  *
  * Scale design (the part that must survive 100 TB):
  *  - NOTHING here is all-pairs. Candidate generation is grouped-bucket
  *    LSH ([[bucketPairs]]): ONE keyed shuffle collects each (band,
  *    band_key) bucket, and within-bucket pairs are emitted by an array
  *    expression — linear in data size, pairs only inside buckets.
  *  - Signatures are computed in one narrow codegen pass (no shuffle)
  *    into a build-once parquet table ([[materializeSignatures]]) that
  *    both sides of the banded join scan.
  *  - Sorted bucket ids give `doc_a < doc_b` for free; `dropDuplicates`
  *    collapses multi-band hits.
  *  - Hot buckets (e.g. boilerplate/empty docs) are the classic skew killer
  *    at scale: one degenerate band shared by H documents is one bucket
  *    doing O(H²) comparisons. `maxBucket` filters buckets above that size
  *    on the grouped array — which also bounds per-bucket executor memory
  *    by construction: a band shared by thousands of documents
  *    carries no near-dup signal boilerplate/exact-dedup wouldn't catch,
  *    and mass-identical clusters belong to [[exact]] dedup anyway.
  */
object Dedup extends DedupCore with DedupMinHash with DedupClusters
  with DedupSpans with DedupSetSim with DedupSpanGuard

package graft.functions

import graft.SparkSpec
import graft.operators.Dedup
import org.apache.spark.sql.functions.col

class MinHashExpressionSpec extends SparkSpec {

  test("native expression equals the Scala signature on the real corpus") {
    val out = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"),
        MinHashExpression.native(col("text"), 64).as("sig"))
      .collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getSeq[Long](2) ===
        Dedup.minHashSignature(Dedup.shingles(r.getString(1)), 64).toSeq,
        s"mismatch for doc ${r.getLong(0)}")
    }
  }

  test("null-safety: NULL text yields the empty-set signature, not NULL") {
    import spark.implicits._
    val out = Seq(Some("a b c d"), None).toDF("text")
      .select(MinHashExpression.native(col("text"), 8).as("sig")).collect()
    assert(!out(0).isNullAt(0) && out(0).getSeq[Long](0).length === 8)
    assert(out(1).getSeq[Long](0) === Seq.fill(8)(Long.MaxValue))
  }

  test("expression participates in WholeStageCodegen") {
    val df = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(MinHashExpression.native(col("text"), 64).as("sig"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project [minhash_signature"), plan)
    assert(df.count() === 500)
  }

  test("extension-registered SQL function with optional numHashes") {
    val v = spark.sql("SELECT minhash_signature('the quick brown fox', 16) AS s")
      .collect()(0).getSeq[Long](0)
    assert(v === Dedup.minHashSignature(
      Dedup.shingles("the quick brown fox"), 16).toSeq)
    val v64 = spark.sql("SELECT minhash_signature('a b c') AS s")
      .collect()(0).getSeq[Long](0)
    assert(v64.length === 64)
    val desc = spark.sql("DESCRIBE FUNCTION minhash_signature")
      .collect().map(_.getString(0)).mkString("\n")
    assert(desc.contains("MinHash"), desc)
  }
}

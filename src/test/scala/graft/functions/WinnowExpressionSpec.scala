package graft.functions

import graft.SparkSpec
import graft.operators.TextOps
import org.apache.spark.sql.functions.col

class WinnowExpressionSpec extends SparkSpec {

  test("native expression equals the Scala fingerprint set on the corpus") {
    val out = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"),
        WinnowExpression.native(col("text")).as("fp"))
      .collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getSeq[Long](2) ===
        TextOps.fingerprintSet(r.getString(1)).sorted,
        s"mismatch for doc ${r.getLong(0)}")
    }
  }

  test("null-safety and short text yield the empty array, not NULL") {
    import spark.implicits._
    val out = Seq(Some("tiny"), None).toDF("text")
      .select(WinnowExpression.native(col("text")).as("fp")).collect()
    assert(!out(0).isNullAt(0) && out(0).getSeq[Long](0).isEmpty)
    assert(!out(1).isNullAt(0) && out(1).getSeq[Long](0).isEmpty)
  }

  test("expression participates in WholeStageCodegen") {
    val df = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(WinnowExpression.native(col("text")).as("fp"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project [winnow_fingerprints"), plan)
    assert(df.count() === 500)
  }

  test("extension-registered SQL function winnow_fingerprints with docs") {
    val v = spark.sql(
        "SELECT winnow_fingerprints('the quick brown fox jumps') AS f")
      .collect()(0).getSeq[Long](0)
    assert(v === TextOps.fingerprintSet("the quick brown fox jumps").sorted)
    val desc = spark.sql("DESCRIBE FUNCTION winnow_fingerprints")
      .collect().map(_.getString(0)).mkString("\n")
    assert(desc.contains("winnowing") || desc.contains("fingerprint"), desc)
  }
}

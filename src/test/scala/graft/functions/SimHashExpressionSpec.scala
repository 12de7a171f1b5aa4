package graft.functions

import graft.SparkSpec
import graft.operators.Dedup
import org.apache.spark.sql.functions.col

class SimHashExpressionSpec extends SparkSpec {

  test("native expression equals the Scala simHash64 on the real corpus") {
    val out = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"),
        SimHashExpression.native(col("text")).as("sh"))
      .collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getLong(2) === Dedup.simHash64(r.getString(1)),
        s"mismatch for doc ${r.getLong(0)}")
    }
  }

  test("null-safety: NULL text yields 0L, not NULL") {
    import spark.implicits._
    val out = Seq(Some("a b c"), None).toDF("text")
      .select(SimHashExpression.native(col("text")).as("sh")).collect()
    assert(!out(0).isNullAt(0))
    assert(out(1).getLong(0) === 0L)
  }

  test("expression participates in WholeStageCodegen") {
    val df = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(SimHashExpression.native(col("text")).as("sh"))
    val plan = df.queryExecution.executedPlan.toString
    // WholeStageCodegen stages render as "*(n)" in the plan string
    assert(plan.contains("*(1) Project [simhash"), plan)
    assert(df.count() === 500)
  }

  test("extension-registered SQL function simhash(...) with catalog docs") {
    val v = spark.sql("SELECT simhash('the quick brown fox') AS h")
      .collect()(0).getLong(0)
    assert(v === Dedup.simHash64("the quick brown fox"))
    val desc = spark.sql("DESCRIBE FUNCTION simhash")
      .collect().map(_.getString(0)).mkString("\n")
    assert(desc.contains("SimHash"), desc)
  }
}

package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.col

class GeoCodeExpressionSpec extends SparkSpec {

  private def geocode(c: Column): Column = GeoCodeExpression.native(c)

  test("native expression matches UDF semantics incl. '' on null/miss") {
    import spark.implicits._
    val df = Seq(Some("Khartoum"), Some("الخرطوم"), Some("khartoum"),
      Some("nowhere"), None).toDF("name")
    val out = df.select(geocode(col("name")).as("iso")).collect().map(_.getString(0))
    assert(out.toSeq === Seq("SD-KH", "SD-KH", "SD-KH", "", ""))
  }

  test("expression participates in WholeStageCodegen") {
    // literal DFs collapse to LocalTableScan; a parquet scan forces codegen
    val df = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(geocode(col("lang")).as("iso"))
    val plan = df.queryExecution.executedPlan.toString
    // WholeStageCodegen stages render as "*(n)" in the plan string
    assert(plan.contains("*(1) Project [sudan_geocode"), plan)
    assert(df.count() === 500) // executes the generated code path
  }

  test("SparkSessionExtensions registers SUDAN_GeoCode as native SQL function") {
    val r = spark.sql("SELECT SUDAN_GeoCode('الخرطوم') AS a, SUDAN_GeoCode('x') AS b")
      .collect()(0)
    assert(r.getString(0) === "SD-KH")
    assert(r.getString(1) === "")
    // native registration: the plan contains the expression, not a UDF
    val plan = spark.sql("SELECT SUDAN_GeoCode('x')").queryExecution
      .analyzed.toString
    assert(plan.contains("sudan_geocode(") && !plan.contains("UDF"), plan)
    // catalog docs parity (function_builder.hpp): usage visible in SQL
    val desc = spark.sql("DESCRIBE FUNCTION EXTENDED SUDAN_GeoCode")
      .collect().map(_.getString(0)).mkString("\n")
    assert(desc.contains("ISO 3166-2:SD"), desc)
    assert(desc.contains("SUDAN_GeoCode('Khartoum')"), desc)
    // analysis-time implicit cast: non-string input coerces, not crashes
    assert(spark.sql("SELECT SUDAN_GeoCode(123) AS c").collect()(0)
      .getString(0) === "")
  }
}

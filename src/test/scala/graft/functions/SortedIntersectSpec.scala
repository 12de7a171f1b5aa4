package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._
import scala.util.Random

/** [[SortedIntersectExpression]] vs the generic `array_intersect` it
  * replaces in the setsim bulk verify: distinct-count parity on random
  * sorted arrays (duplicates included — the hash-collision case), null
  * totality, and codegen execution. */
class SortedIntersectSpec extends SparkSpec {

  test("merge-scan count equals size(array_intersect) on random sorted arrays") {
    import spark.implicits._
    val rnd = new Random(29)
    // duplicates on purpose: collisions must count once, like intersect
    val rows = Seq.fill(300) {
      def arr() = Seq.fill(rnd.nextInt(40))(rnd.nextInt(30).toLong)
        .sorted
      (arr(), arr())
    }
    val got = rows.toDF("a", "b")
      .select(
        SortedIntersectExpression.countCol(col("a"), col("b")).as("n"),
        size(array_intersect(col("a"), col("b"))).as("ref"))
      .collect()
    got.foreach(r => assert(r.getLong(0) === r.getInt(1).toLong))
  }

  test("null arrays yield 0 (total function)") {
    import spark.implicits._
    val df = Seq((Some(Seq(1L, 2L)), Option.empty[Seq[Long]]))
      .toDF("a", "b")
    val r = df.select(SortedIntersectExpression.countCol(col("a"),
      col("b"))).collect()(0)
    assert(r.getLong(0) === 0L)
  }

  test("runs inside WholeStageCodegen (no fallback eval)") {
    // non-foldable input (a literal frame constant-folds to a
    // LocalTableScan and hides the expression from the plan)
    val df = spark.range(0L, 10L)
      .select(sequence(col("id"), col("id") + 3).as("a"),
        sequence(col("id") + 2, col("id") + 5).as("b"))
      .select(SortedIntersectExpression.countCol(col("a"), col("b"))
        .as("n"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("sorted_intersect_n"), plan)
    assert(plan.contains("*(1)"), plan)
    assert(df.collect().forall(_.getLong(0) === 2L))
  }

  test("null elements match size(array_intersect) on nullable arrays read " +
      "back from parquet, in codegen and interpreted mode") {
    import spark.implicits._
    val rnd = new Random(31)
    // ascending non-null values with nulls at random slots: the parquet
    // read-back types both columns ARRAY<BIGINT> with containsNull = true
    def arr(): Seq[Option[Long]] = {
      val vals = Seq.fill(rnd.nextInt(20))(rnd.nextInt(15).toLong).sorted
        .map(Option(_))
      (0 until rnd.nextInt(3)).foldLeft(vals) { (acc, _) =>
        val at = rnd.nextInt(acc.size + 1)
        acc.patch(at, Seq(None), 0)
      }
    }
    val dir = java.nio.file.Files.createTempDirectory("sorted_null")
      .toString
    Seq.fill(400)((arr(), arr())).toDF("a", "b")
      .write.mode("overwrite").parquet(dir)
    val read = spark.read.parquet(dir)
    assert(read.schema("a").dataType ===
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.LongType, containsNull = true))
    val wholeStage = "spark.sql.codegen.wholeStage"
    val factory = "spark.sql.codegen.factoryMode"
    try Seq("CODEGEN_ONLY" -> "true", "NO_CODEGEN" -> "false").foreach {
      case (mode, ws) =>
      spark.conf.set(factory, mode)
      spark.conf.set(wholeStage, ws)
      val got = read.select(
          SortedIntersectExpression.countCol(col("a"), col("b")).as("n"),
          size(array_intersect(col("a"), col("b"))).as("ref"))
        .collect()
      assert(got.length === 400)
      got.foreach(r => assert(r.getLong(0) === r.getInt(1).toLong,
        s"$mode: $r"))
    } finally {
      spark.conf.unset(factory)
      spark.conf.unset(wholeStage)
      graft.operators.Artifacts.deleteRecursively(new java.io.File(dir))
    }
  }
}

package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.local(cpus)
    new java.io.File(outDir).mkdirs()
    // fail the WHOLE verify run loudly if the embeddings file carries
    // float64 values that the ARRAY<FLOAT> canonicalization would
    // corrupt — every downstream oracle compare would silently drift
    graft.operators.Tables.assertLosslessEmbeddingDrift(spark, sfDir)
    // optional focus filter for local diagnosis (same contract as Bench):
    // SPARK_GRAFT_ONLY=q_a,q_b; absent → dump everything (driver path)
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    // A throwing query must leave an explicit record, not silently drop
    // out of the correctness file (round-6 lesson: 3 analysis-time
    // failures were invisible in CORRECTNESS because only emitted dirs
    // get diffed). Collect failures and dump them as errors.json.
    val failed = scala.collection.mutable.LinkedHashMap.empty[String, String]
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        failed(name) = Option(e.getMessage).getOrElse(e.getClass.getName)
      }
    }
    // every string goes through Json.quote: a raw tab or CR in an oracle
    // SQL string would make the oracle compare's JSON load fail
    import graft.core.Json.{quote => q}
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // one row per failed query — truncated messages, first line only
    val errJson = failed
      .map { case (k, v) =>
        s"${q(k)}: ${q(v.linesIterator.nextOption().getOrElse("").take(500))}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/errors.json"), errJson)
    spark.stop()
  }
}

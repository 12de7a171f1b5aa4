package graft.tools

import org.apache.spark.sql.functions._
import graft.operators.ParquetInput

/** Stage decomposition of [[graft.operators.Dedup.repeatedSpans]] (r16
  * optimization evidence): times the anchor-hash pass alone, the
  * repeated-hash aggregate, the candidate semi-join + string regroup,
  * and the full query, so the round's notes can attribute the warm
  * cost. Median of 3 after one untimed pass.
  *
  *   sbt "runMain graft.tools.RepeatedSpansStageProbe [dir]"
  */
object RepeatedSpansStageProbe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.GraftSession.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    def timed(tag: String)(body: => Long): Unit = {
      val xs = (0 to 3).flatMap { i =>
        val t0 = System.nanoTime()
        val n = body
        val dt = (System.nanoTime() - t0) / 1e9
        if (i > 0) Some((dt, n)) else None
      }
      val med = xs.map(_._1).sorted.apply(xs.size / 2)
      println(f"[rspans-probe] $tag%-12s med=$med%.3f s rows=${xs.head._2}")
    }
    val docs = ParquetInput.read(spark, s"$dir/documents.parquet")
      .select(col("doc_id"), col("text"))
    val k = 8
    // inline mirror of the operator's anchor-hash pass (private there)
    def anchors = docs
      .select(col("doc_id"),
        filter(split(col("text"), "\\s+"), t => length(t) > 0).as("w"))
      .filter(size(col("w")) >= k)
      .select(col("doc_id"), col("w"),
        explode(sequence(lit(0), size(col("w")) - k)).as("p"))
      .select(col("doc_id"), col("p"), col("w"),
        xxhash64(slice(col("w"), col("p") + 1, lit(k))).as("gh"))
    timed("anchors") { anchors.select("gh").count() }
    // the operator's minDocs=2 fast path (min != max); the pre-r16
    // countDistinct form is kept as a contrast stage
    def repHashDistinct = anchors.select(col("gh"), col("doc_id"))
      .groupBy("gh").agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= 2).select("gh")
    timed("rep-hash-cd") { repHashDistinct.count() }
    def repHash = anchors.select(col("gh"), col("doc_id"))
      .groupBy("gh")
      .agg(min(col("doc_id")).as("_d0"), max(col("doc_id")).as("_d1"))
      .filter(col("_d0") =!= col("_d1")).select("gh")
    timed("rep-hash") { repHash.count() }
    def cand = anchors.join(repHash.hint("broadcast"), Seq("gh"),
        "left_semi")
      .select(col("doc_id"), col("p"),
        concat_ws(" ", slice(col("w"), col("p") + 1, lit(k))).as("gram"))
    timed("candidates") { cand.count() }
    timed("full") {
      graft.operators.Dedup.repeatedSpans(spark, dir).count()
    }
    spark.stop()
  }
}

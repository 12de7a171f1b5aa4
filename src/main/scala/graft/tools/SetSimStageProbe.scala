package graft.tools

import org.apache.spark.sql.functions._
import graft.operators.ParquetInput

/** Stage decomposition of [[graft.operators.Dedup.setSimPairs]] — the
  * top gate query by median (r16 optimization evidence): times, on the
  * warm build-once tables, (a) a bare scan of the three materialized
  * inputs, (b) the two prefix candidate joins + union + distinct,
  * (c) + the long-hash bulk verify, (d) the full query — so the round's
  * notes can attribute the warm cost to the join, the verify or the
  * string confirm instead of guessing. Median of 3 after one untimed
  * pass, same miniature protocol as [[AsOfSkewProbe]].
  *
  *   sbt "runMain graft.tools.SetSimStageProbe [dir]"
  */
object SetSimStageProbe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.GraftSession.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    val p = graft.operators.Dedup.materializeSetSimTables(spark, dir)
    def timed(tag: String)(body: => Long): Unit = {
      val xs = (0 to 3).map { i =>
        val t0 = System.nanoTime()
        val n = body
        val dt = (System.nanoTime() - t0) / 1e9
        if (i > 0) Some((dt, n)) else None
      }.flatten
      val med = xs.map(_._1).sorted.apply(xs.size / 2)
      println(f"[setsim-probe] $tag%-12s med=$med%.3f s rows=${xs.head._2}")
    }
    val sets = ParquetInput.read(spark, s"$p/sets")
    val prefix = ParquetInput.read(spark, s"$p/prefix")
    val prefix2 = ParquetInput.read(spark, s"$p/prefix2")
    timed("scan") {
      sets.count() + prefix.count() + prefix2.count()
    }
    val tSlack = 0.5 - 0.001
    val alpha = tSlack / (1.0 + tSlack)
    def joinCands(rows: org.apache.spark.sql.DataFrame, key: String) =
      rows.select(col(key), col("doc_id").as("doc_a"), col("n").as("na"),
          col("pos").as("pa"))
        .join(rows.select(col(key), col("doc_id").as("doc_b"),
          col("n").as("nb"), col("pos").as("pb")), Seq(key))
        .filter(col("doc_a") < col("doc_b"))
        .filter(col("na") * tSlack <= col("nb") &&
          col("nb") * tSlack <= col("na"))
        .filter(least(col("na") - col("pa"), col("nb") - col("pb")) >=
          lit(alpha) * (col("na") + col("nb")) - lit(1.0) - lit(1e-9))
        .select("doc_a", "doc_b")
    def cand = joinCands(prefix, "tok")
      .unionByName(joinCands(prefix2, "key")).distinct()
    timed("candidates") { cand.count() }
    def bulk = cand
      .join(sets.select(col("doc_id").as("doc_a"), col("wh").as("wh_a")),
        Seq("doc_a"))
      .join(sets.select(col("doc_id").as("doc_b"), col("wh").as("wh_b")),
        Seq("doc_b"))
      .withColumn("ih", size(array_intersect(col("wh_a"), col("wh_b"))))
      .filter(col("ih").cast("double") /
        (size(col("wh_a")) + size(col("wh_b")) - col("ih"))
          .cast("double") >= 0.5 - 0.05)
      .select("doc_a", "doc_b")
    timed("bulk-verify") { bulk.count() }
    timed("full") { graft.operators.Dedup.setSimPairs(spark, dir).count() }
    spark.stop()
  }
}

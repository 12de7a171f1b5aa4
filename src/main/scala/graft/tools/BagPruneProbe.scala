package graft.tools

import org.apache.spark.sql.functions._
import graft.operators.ParquetInput

/** Measures the char-bag prune's survivor rate on a fixture dir
  * (round-14): replicates [[graft.operators.DedupSpans
  * .editDistancePairs]]'s banded enumeration on a deterministic 10%
  * doc sample (1% of pairs) and reports how many banded candidates
  * pass the packed-bag L1 filter — the number the bag-table scaladoc
  * cites from `BENCH_sf10_r14.json` (scaladoc claims must resolve to
  * committed artifacts; round 13's 3.2% lived only in prose).
  *
  * Usage: `runMain graft.tools.BagPruneProbe <dir> [maxLenDiff] [maxDist]` */
object BagPruneProbe {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: BagPruneProbe <dir> [maxLenDiff] [maxDist]")
    val dir = args(0)
    val maxLenDiff = if (args.length > 1) args(1).toInt else 8
    val maxDist = if (args.length > 2) args(2).toInt else 16
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.GraftSession.local(cpus)
    val slim = ParquetInput.read(spark,
      graft.operators.Dedup.materializeBagTable(spark, dir))
      .filter(pmod(xxhash64(col("doc_id")), lit(10)) === 0)
      .select(col("doc_id"), col("n_chars"), col("bag"))
    def side(suffix: String) = slim.select(
      col("doc_id").as(s"doc_$suffix"),
      col("n_chars").as(s"len_$suffix"),
      col("bag").as(s"bag_$suffix"))
    val bktA = floor(col("len_a") / lit(maxLenDiff)).cast("long")
    val a = side("a").withColumn("bkt",
      explode(array(bktA - 1, bktA, bktA + 1)))
    val b = side("b").withColumn("bkt",
      floor(col("len_b") / lit(maxLenDiff)).cast("long"))
    val banded = a.join(b, Seq("bkt"))
      .filter(col("doc_a") < col("doc_b") &&
        abs(col("len_a") - col("len_b")) <= maxLenDiff)
    val bagOk = graft.functions.CharBagExpression
      .withinCol(col("bag_a"), col("bag_b"), maxDist)
    val r = banded.agg(
      count(lit(1)).as("candidates"),
      sum(when(bagOk, 1L).otherwise(0L)).as("survivors")).collect()(0)
    val cand = r.getLong(0)
    val surv = r.getLong(1)
    println(f"""{"probe":"bag_prune","dir":"$dir","sample":"10pct_docs","banded_candidates":$cand,"bag_survivors":$surv,"survivor_rate":${surv.toDouble / math.max(1L, cand)}%.4f}""")
    spark.stop()
  }
}

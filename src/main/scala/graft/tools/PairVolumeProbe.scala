package graft.tools

import graft.operators.ParquetInput

/** Pre-flight pair-join economics at a given fixture dir (round-14):
  * prints the SAME candidate-volume estimates [[graft.operators
  * .PairGuard]] checks — edit-distance banded enumeration (Σ_band
  * n_b², from the length histogram) and set-similarity prefix
  * collisions (Σ_key df², single + hot-pair streams) — as one JSON
  * line per dir. Run at 1×/10×/100× twins to see the decade growth of
  * the enumeration terms themselves, independent of wall clock; these
  * are the committed numbers the guard's DefaultBudget is calibrated
  * against (`BENCH_sf10_r14.json`).
  *
  * Usage: `runMain graft.tools.PairVolumeProbe <dir> [<dir> ...]`
  * (guard disabled inside the probe — it prices, never refuses). */
object PairVolumeProbe {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: PairVolumeProbe <dir> [<dir> ...]")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.GraftSession.local(cpus)
    spark.conf.set(graft.operators.PairGuard.BudgetConf, "-1")
    args.foreach { dir =>
      val edit = graft.operators.Dedup.editCandidateEstimate(spark, dir, 8)
      val p = graft.operators.Dedup.materializeSetSimTables(spark, dir)
      val setsim = graft.operators.Dedup.setSimCandidateEstimate(
        ParquetInput.read(spark, s"$p/prefix"),
        ParquetInput.read(spark, s"$p/prefix2"))
      println(f"""{"probe":"pair_volume","dir":"$dir","edit_candidates":$edit%.0f,"setsim_candidates":$setsim%.0f}""")
    }
    spark.stop()
  }
}

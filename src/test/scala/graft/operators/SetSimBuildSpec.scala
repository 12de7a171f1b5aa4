package graft.operators

import java.nio.file.{Files, Paths}

import graft.SparkSpec

/** The job budget of the set-similarity cold build: one
  * [[Dedup.materializeSetSimTables]] call on a fixture copy no earlier
  * read has seen. The first committed job budget: every job this build
  * adds shows here as a failure, not as a wall-time drift inside the
  * benchmark's bounds. */
class SetSimBuildSpec extends SparkSpec {

  /** Jobs of one build at sf0.001 on 4 cores, as measured: AQE submits
    * each shuffle stage as a job of its own. The `sets` write, the local
    * checkpoint of the rarity sort (the document-frequency aggregate,
    * its join and the per-doc sort) and the `prefix` and `prefix2`
    * writes, which both read the checkpoint; reading `sets` back runs
    * none. */
  private val BuildJobBudget = 7

  test(s"materializeSetSimTables on a fresh corpus runs at most " +
      s"$BuildJobBudget jobs") {
    val dir = Files.createTempDirectory("setsim_budget")
    Files.copy(Paths.get(sfDir, "documents.parquet"),
      dir.resolve("documents.parquet"))
    val (path, jobs) = jobsDuring(
      Dedup.materializeSetSimTables(spark, dir.toString))
    assert(jobs <= BuildJobBudget, s"$jobs jobs")
    Seq("sets", "prefix", "prefix2").foreach { t =>
      assert(Files.exists(Paths.get(path, t, "_SUCCESS")), t)
    }
  }
}

package graft.operators

import graft.SparkSpec

/** Pre-flight candidate-volume guard (round-14 verdict task #2): the
  * exact pair joins must refuse a saturated corpus BEFORE enumerating
  * its quadratic candidate set, and must stay silent on the gate
  * fixtures at the default budget (all 208 oracles unchanged). */
class PairGuardSpec extends SparkSpec {

  private def withBudget[T](b: Long)(body: => T): T = {
    spark.conf.set(PairGuard.BudgetConf, b.toString)
    try body finally spark.conf.unset(PairGuard.BudgetConf)
  }

  test("gate fixtures pass silently at the default budget — both " +
      "operators run end-to-end, estimates orders of magnitude under") {
    val est = Dedup.editCandidateEstimate(spark, sfDir, 8)
    assert(est > 0.0 && est < PairGuard.DefaultBudget / 100.0,
      s"sf0.001 edit estimate $est must be far under the default budget")
    assert(Dedup.editDistancePairs(spark, sfDir).count() >= 0L)
    assert(Dedup.setSimPairs(spark, sfDir).count() >= 0L)
  }

  test("editDistancePairs: guard FIRES on a saturated corpus (tight " +
      "budget stands in for the sf10 twin) with the regime diagnosis " +
      "and the scale-safe alternative in the message") {
    val e = withBudget(10L) {
      intercept[IllegalStateException] {
        Dedup.editDistancePairs(spark, sfDir)
      }
    }
    assert(e.getMessage.contains("editDistancePairs"), e.getMessage)
    assert(e.getMessage.contains(PairGuard.BudgetConf), e.getMessage)
    assert(e.getMessage.contains("simHashPairs"), e.getMessage)
  }

  test("setSimPairs: guard FIRES above budget, names minHashPairs as " +
      "the saturated-regime alternative") {
    val e = withBudget(10L) {
      intercept[IllegalStateException] {
        Dedup.setSimPairs(spark, sfDir)
      }
    }
    assert(e.getMessage.contains("setSimPairs"), e.getMessage)
    assert(e.getMessage.contains("minHashPairs"), e.getMessage)
  }

  test("imageNearDupPairs: guard FIRES above budget (output-bound " +
      "regime), names the keep form; silent at the default") {
    val e = withBudget(10L) {
      intercept[IllegalStateException] {
        Multimodal.imageNearDupPairs(spark, sfDir)
      }
    }
    assert(e.getMessage.contains("imageNearDupPairs"), e.getMessage)
    assert(e.getMessage.contains("imageNearDupKeep"), e.getMessage)
    assert(Multimodal.imageNearDupPairs(spark, sfDir).count() >= 0L)
  }

  test("estimate soundness: setsim estimate equals the prefix " +
      "equi-joins' enumerated row counts (Σ df² per stream)") {
    import org.apache.spark.sql.functions.col
    val p = Dedup.materializeSetSimTables(spark, sfDir)
    val prefix = spark.read.parquet(s"$p/prefix")
    val prefix2 = spark.read.parquet(s"$p/prefix2")
    def directRows(df: org.apache.spark.sql.DataFrame, key: String) =
      df.select(col(key)).join(df.select(col(key)), Seq(key)).count()
    val direct = directRows(prefix, "tok") + directRows(prefix2, "key")
    val est = Dedup.setSimCandidateEstimate(prefix, prefix2)
    assert(est === direct.toDouble,
      s"estimate $est must equal the joins' enumerated rows $direct")
  }

  test("estimate soundness: edit estimate equals the banded join's " +
      "enumerated row count (ordered pairs incl. self) on a hand-sized " +
      "frame, and budget <= 0 disables the guard") {
    import spark.implicits._
    // 4 docs of length 5, 1 of length 20, maxLenDiff 8 → lengths 5 sit
    // in bucket 0, length 20 in bucket 2: bucket0 enumerates vs
    // buckets {-1,0,1} = 4·4 = 16; bucket2 vs {1,2,3} = 1·1 = 1 → 17.
    val tmp = java.nio.file.Files.createTempDirectory("pairguard").toString
    import org.apache.spark.sql.functions.{length, lit, col}
    Seq((1L, "aaaaa"), (2L, "bbbbb"), (3L, "ccccc"), (4L, "ddddd"),
      (5L, "e" * 20))
      .toDF("doc_id", "text")
      .withColumn("source", lit("t"))
      .withColumn("lang", lit("en"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val est = Dedup.editCandidateEstimate(spark, tmp, 8)
    assert(est === 17.0, s"estimate $est must price the join exactly")
    // disabled guard lets even a 1-row budget-equivalent corpus through
    withBudget(0L) {
      assert(Dedup.editDistancePairs(spark, tmp).count() >= 0L)
    }
  }
}

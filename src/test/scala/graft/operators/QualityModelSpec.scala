package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class QualityModelSpec extends SparkSpec {

  test("training is deterministic and build-once cached") {
    Artifacts.clear()
    val w1 = QualityModel.trainWeights(spark, sfDir)
    assert(QualityModel.trainWeights(spark, sfDir) eq w1, "cache hit")
    Artifacts.clear()
    val w2 = QualityModel.trainWeights(spark, sfDir)
    // exact-decimal gradient sums → bit-identical weights on retrain
    assert(w1.toSeq === w2.toSeq)
    info(s"weights = ${w1.map(_.toString).mkString(", ")}")
  }

  test("gradient descent reduces log-loss vs the zero model") {
    val w = QualityModel.trainWeights(spark, sfDir)
    val l0 = QualityModel.logLoss(spark, sfDir, Array.fill(w.length)(0.0))
    val lt = QualityModel.logLoss(spark, sfDir, w)
    assert(lt < l0, s"trained loss $lt must beat zero-model loss $l0")
  }

  test("scores are probabilities and distillation beats chance") {
    val out = QualityModel.qualityClassifier(spark, sfDir)
    val rows = out.collect()
    assert(rows.length === 500)
    rows.foreach { r =>
      val score = r.getDouble(2)
      // rounded to 4 places, so a well-separated doc saturates to 0/1
      assert(score >= 0.0 && score <= 1.0)
      assert((r.getLong(3) == 1L) === (score >= 0.5))
    }
    val acc = out.filter(col("teacher") === col("pred")).count().toDouble /
      rows.length
    val base = math.max(
      rows.count(_.getLong(1) == 1L), rows.count(_.getLong(1) == 0L))
      .toDouble / rows.length
    info(s"accuracy $acc vs majority baseline $base")
    assert(acc >= base,
      s"linear distillation must at least match the majority class ($acc < $base)")
  }
}

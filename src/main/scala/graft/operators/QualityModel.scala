package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Model-based document quality filtering — the fastText/CCNet-style
  * second stage of a pretraining pipeline: distill the heuristic quality
  * rule into a tiny linear model over cheap text features, then score
  * every document with one narrow codegen'd pass. (The heuristic is the
  * teacher here because this sandbox ships no labeled data; in production
  * the same harness trains against human/LLM labels.)
  *
  * Training is full-batch logistic regression by Newton–IRLS, expressed
  * Spark-first: each iteration is ONE partial-aggregable `agg()` over
  * the corpus computing the exact gradient AND the 4×4 Hessian (14
  * sums), and the driver solves the tiny ridge-damped normal system.
  * Newton's quadratic convergence is why 8 scans suffice where plain GD
  * needs thousands on this near-separable teacher. No MLlib, no RDDs,
  * no per-partition state.
  *
  * Determinism is load-bearing (the oracle pins the trained weights as
  * literals): per-row gradient/Hessian terms are IEEE doubles computed
  * identically everywhere, the cross-row SUMs are taken in
  * DECIMAL(38,18) — exact, therefore ORDER-INDEPENDENT — and the
  * driver-side 4×4 solve is fixed-order Gaussian elimination. The
  * weights cannot drift with partitioning or scheduling; a plain double
  * sum would make the model nondeterministic run-to-run.
  *
  * Scale: T iterations = T scans (each map-side combined into 14 decimal
  * sums — bytes of shuffle). At 100 TB you train on a [[Pipeline]]-style
  * hash-gated sample instead of the full corpus and score everything;
  * scoring is embarrassingly parallel column arithmetic.
  */
object QualityModel {

  /** Feature vector: bias, scaled length L, L², stopword ratio. The
    * square matters: the teacher label is a length BAND, which no
    * monotone feature set separates linearly — with L² the decision
    * boundary is a parabola and the band is learnable. Every feature is
    * exactly re-derivable in ANSI SQL (the oracle twin requirement — see
    * `q_quality_classifier`); none is transcendental, so the only
    * cross-engine float surface is the final sigmoid. */
  private def features: Seq[Column] = {
    // center L on the teacher band's midpoint (fixed constant, NOT a
    // corpus statistic — the oracle pins weights as literals, so every
    // feature constant must be corpus-independent): decorrelates L and
    // L², which is what lets plain GD reach the concave (w2 < 0) band
    // solution in tens of iterations instead of thousands
    val len = col("n_chars").cast("double") / lit(1000.0) - lit(0.5)
    Seq(
      lit(1.0),
      len,
      len * len,
      TextOps.stopHitsExpr.cast("double") /
        greatest(TextOps.nWords.cast("double"), lit(1.0)))
  }

  /** Teacher label: the [[TextOps.qualityScore]] 'ok' band (30 ≤ words
    * ≤ 150). */
  private def label: Column =
    (TextOps.nWords >= 30 && TextOps.nWords <= 150).cast("double")

  /** Trained weights (bias-first). `iters` Newton–IRLS steps from w = 0;
    * `ridge` damps the Hessian so near-separable data cannot blow the
    * step up (and keeps the 4×4 system nonsingular). Trained once per
    * (corpus, iters, ridge), scored many times. */
  def trainWeights(spark: SparkSession, dir: String, iters: Int = 8,
      ridge: Double = 1e-3): Array[Double] = {
    val d = Tables.documents(spark, dir)
    Artifacts("quality_weights", (iters, ridge), d) {
      val fs = features
      val p = fs.length
      val base = d
        .select(fs.zipWithIndex.map { case (f, j) => f.as(s"f$j") } :+
          label.as("y"): _*)
        .persist()
      try {
        val w = Array.fill(p)(0.0)
        for (_ <- 0 until iters) {
          val z = w.zipWithIndex.map { case (wj, j) =>
            col(s"f$j") * lit(wj)
          }.reduce(_ + _)
          val prob = lit(1.0) / (lit(1.0) + exp(-z))
          val r = prob * (lit(1.0) - prob) // IRLS weight p(1-p)
          val grad = (0 until p).map(j =>
            sum((col(s"f$j") * (col("y") - prob)).cast("decimal(38,18)"))
              .as(s"g$j"))
          val hess = for (j <- 0 until p; k <- j until p) yield
            sum((col(s"f$j") * col(s"f$k") * r).cast("decimal(38,18)"))
              .as(s"h${j}_$k")
          val aggs = grad ++ hess
          val row = base.agg(aggs.head, aggs.tail: _*).head()
          val g = Array.tabulate(p)(j => row.getDecimal(j).doubleValue())
          val h = Array.ofDim[Double](p, p)
          var idx = p
          for (j <- 0 until p; k <- j until p) {
            h(j)(k) = row.getDecimal(idx).doubleValue(); h(k)(j) = h(j)(k)
            idx += 1
          }
          var j = 0
          while (j < p) { h(j)(j) += ridge; j += 1 }
          val step = solve(h, g)
          j = 0
          while (j < p) { w(j) += step(j); j += 1 }
        }
        w
      } finally base.unpersist()
    }
  }

  /** Fixed-order Gaussian elimination with partial pivoting for the tiny
    * SPD Newton system — deterministic double arithmetic on the driver. */
  private def solve(a0: Array[Array[Double]],
      b0: Array[Double]): Array[Double] = {
    val p = b0.length
    val a = a0.map(_.clone()); val b = b0.clone()
    for (c <- 0 until p) {
      var piv = c
      for (r2 <- c + 1 until p)
        if (math.abs(a(r2)(c)) > math.abs(a(piv)(c))) piv = r2
      val tr = a(c); a(c) = a(piv); a(piv) = tr
      val tb = b(c); b(c) = b(piv); b(piv) = tb
      for (r2 <- c + 1 until p) {
        val f = a(r2)(c) / a(c)(c)
        for (c2 <- c until p) a(r2)(c2) -= f * a(c)(c2)
        b(r2) -= f * b(c)
      }
    }
    val x = new Array[Double](p)
    for (c <- p - 1 to 0 by -1) {
      var s = b(c)
      for (c2 <- c + 1 until p) s -= a(c)(c2) * x(c2)
      x(c) = s / a(c)(c)
    }
    x
  }

  /** Score every document with the trained model: sigmoid(w·x), rounded
    * to 4 places, plus the teacher label and the 0.5-threshold decision.
    * One narrow pass — the 100 TB-facing half of the operator. */
  def qualityClassifier(spark: SparkSession, dir: String,
      iters: Int = 8): DataFrame = {
    val w = trainWeights(spark, dir, iters)
    val fs = features
    val z = fs.zip(w).map { case (f, wj) => f * lit(wj) }.reduce(_ + _)
    val score = lit(1.0) / (lit(1.0) + exp(-z))
    Tables.documents(spark, dir)
      .select(col("doc_id"), label.cast("long").as("teacher"),
        round(score, 4).as("score"),
        (score >= 0.5).cast("long").as("pred"))
  }

  /** Training-loss curve (mean log-loss after each epoch's weights) —
    * the convergence audit `QualityModelSpec` asserts is decreasing. */
  def logLoss(spark: SparkSession, dir: String, w: Array[Double]): Double = {
    val fs = features
    val z = fs.zip(w).map { case (f, wj) => f * lit(wj) }.reduce(_ + _)
    val p = lit(1.0) / (lit(1.0) + exp(-z))
    val y = label
    Tables.documents(spark, dir)
      .agg(avg(-(y * log(greatest(p, lit(1e-12))) +
        (lit(1.0) - y) * log(greatest(lit(1.0) - p, lit(1e-12))))))
      .head().getDouble(0)
  }
}

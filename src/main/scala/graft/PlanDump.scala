package graft

/** Dev diagnostic (the one tool left of three): dumps formatted physical
  * plans — and, with `--time`, per-query wall times — for selected queries.
  *   sbt "runMain graft.PlanDump [--time] [query ...]"
  * Defaults to the most expensive bench queries (PLANS.md's inputs). */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val time = args.contains("--time")
    val names = args.filterNot(_.startsWith("--")).toSeq match {
      case Seq() => Seq("q_minhash_keep", "q_knn_join", "q_agg_q1",
        "q_join_inner", "q_sessionize")
      case qs => qs
    }
    val cpus = if (time) "32" else "8"
    // the session Verify, Bench and the benchmark run, plan rules included
    val spark = GraftSession.local(cpus)
    spark.sparkContext.setLogLevel("ERROR")
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      if (time) "/root/testdata/sf0.1" else "/root/testdata/sf0.01")
    for (n <- names) {
      println(s"##### $n")
      if (time) {
        for (round <- 1 to 2) {
          val t0 = System.nanoTime()
          SparkEntry.queries(n)(spark, dir).count()
          println(f"round$round $n ${(System.nanoTime() - t0) / 1e9}%.2f s")
        }
      } else SparkEntry.queries(n)(spark, dir).explain("formatted")
    }
    spark.stop()
  }
}

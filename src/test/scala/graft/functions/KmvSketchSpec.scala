package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

class KmvSketchSpec extends SparkSpec {

  test("exact below k: small domains count exactly") {
    import spark.implicits._
    val df = (1 to 1000).map(i => s"v${i % 37}").toDF("s")
    val est = df.agg(KmvSketch.approxDistinct(col("s"), k = 256)).collect()(0).getLong(0)
    assert(est === 37L)
  }

  test("k = 1 is refused: its estimate (k-1)/h_k would read 0 for any input") {
    val agg = intercept[IllegalArgumentException](KmvSketch.approxDistinct(col("s"), k = 1))
    assert(agg.getMessage.contains("k must be >= 2, got 1"), agg.getMessage)
    val state = intercept[IllegalArgumentException](KmvSketch.sketchState(col("s"), k = 1))
    assert(state.getMessage.contains("k must be >= 2, got 1"), state.getMessage)
    val est = intercept[IllegalArgumentException](KmvSketch.estimateExpr(col("s"), 1))
    assert(est.getMessage.contains("k must be >= 2, got 1"), est.getMessage)
  }

  test("estimate within 15% above k; deterministic across runs") {
    import spark.implicits._
    val df = (1 to 20000).map(i => s"user-${i % 5000}").toDF("s").repartition(8)
    def run() = df.agg(KmvSketch.approxDistinct(col("s"), k = 256)).collect()(0).getLong(0)
    val e1 = run(); val e2 = run()
    assert(e1 === e2, "sketch must be deterministic")
    assert(math.abs(e1 - 5000.0) / 5000.0 < 0.15, s"estimate $e1 vs 5000")
  }

  test("estimator is unbiased on sequential NUMERIC-string keys (the " +
      "fmix64 regression: raw FNV-1a measured -24% here at n=15k/k=256 " +
      "and +85% at n=150k/k=1024)") {
    import spark.implicits._
    val small = (0 until 15000).map(_.toString).toDF("s").repartition(8)
    val e1 = small.agg(KmvSketch.approxDistinct(col("s"), k = 256))
      .collect()(0).getLong(0)
    assert(math.abs(e1 - 15000.0) / 15000.0 < 0.15, s"estimate $e1 vs 15000")
    val big = (0 until 150000).map(_.toString).toDF("s").repartition(8)
    val e2 = big.agg(KmvSketch.approxDistinct(col("s"), k = 1024))
      .collect()(0).getLong(0)
    assert(math.abs(e2 - 150000.0) / 150000.0 < 0.10, s"estimate $e2 vs 150000")
  }

  test("grouped sketch: per-event-type distinct users on the real table") {
    val events = graft.operators.Relational.events(spark, sfDir)
    val out = events.groupBy("event_type")
      .agg(KmvSketch.approxDistinct(col("user_id").cast("string")).as("approx_users"),
        countDistinct("user_id").as("exact_users"))
      .collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val (approx, exact) = (r.getLong(1), r.getLong(2))
      assert(math.abs(approx - exact.toDouble) / exact < 0.15,
        s"${r.getString(0)}: approx=$approx exact=$exact")
    }
  }

  test("state merge law: merging per-group stored states estimates the " +
      "union like one sketch over all data (estimator regime)") {
    import spark.implicits._
    val k = 256
    // 3 groups, ~3500 distinct values with planted cross-group overlap
    val rows = (0 until 6000).map { i =>
      (s"g${i % 3}", s"v${i / 3 * 2}") // values shared across groups
    } ++ (0 until 1500).map(i => (s"g${i % 3}", s"only_${i}"))
    val df = rows.toDF("g", "s")
    val perGroup = df.groupBy("g")
      .agg(KmvSketch.sketchState(col("s"), k).as("sketch"))
    val merged = perGroup.agg(collect_list(col("sketch")).as("states"))
      .select(KmvSketch.estimateExpr(
        KmvSketch.mergeStatesExpr(col("states"), k), k).as("est"))
      .collect()(0).getLong(0)
    val oneShot = df.agg(KmvSketch.approxDistinct(col("s"), k))
      .collect()(0).getLong(0)
    assert(merged === oneShot,
      s"row-level state merge ($merged) must equal the one-shot sketch " +
        s"($oneShot) — KMV union is lossless at equal k")
    val exact = df.select("s").distinct().count()
    assert(math.abs(merged - exact.toDouble) / exact < 0.25,
      s"merged estimate $merged vs exact $exact")
  }

  test("snapshotSketchMerge reads ONLY the stored sketch tables — the " +
      "raw corpus is never rescanned — and equals the one-shot sketch") {
    import graft.operators.SketchOps
    val merged = SketchOps.snapshotSketchMerge(spark, sfDir)
    // the plan's file scans must all point at the snapshot tables, not
    // documents.parquet (the incremental-maintenance contract)
    def scans(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.FileSourceScanExec] = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        scans(a.executedPlan)
      case s: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        scans(s.plan)
      case f: org.apache.spark.sql.execution.FileSourceScanExec => Seq(f)
      case other => other.children.flatMap(scans) ++
        other.subqueries.flatMap(scans)
    }
    val scanned = scans(merged.queryExecution.executedPlan)
      .flatMap(_.relation.location.rootPaths.map(_.toString))
    assert(scanned.nonEmpty && scanned.forall(p =>
      p.contains("sketch_snapshots")),
      s"merge must scan only stored sketch tables, scanned: $scanned")
    assert(!scanned.exists(_.contains("documents.parquet")))
    // snapshot-merged estimates == direct whole-corpus sketch (KMV
    // union is lossless at equal k)
    val direct = SketchOps.sourceDistinctTexts(spark, sfDir).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val got = merged.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got === direct, s"merged $got vs direct $direct")
    graft.operators.Artifacts.clear()
  }

  test("snapshotDelta: set-difference/overlap reads are exact below k, " +
      "agree with the raw parity split, and never rescan the corpus") {
    import graft.operators.SketchOps
    val delta = SketchOps.snapshotDelta(spark, sfDir)
    // same no-rescan contract as snapshotSketchMerge
    def scans(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.FileSourceScanExec] = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        scans(a.executedPlan)
      case s: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        scans(s.plan)
      case f: org.apache.spark.sql.execution.FileSourceScanExec => Seq(f)
      case other => other.children.flatMap(scans) ++
        other.subqueries.flatMap(scans)
    }
    val scanned = scans(delta.queryExecution.executedPlan)
      .flatMap(_.relation.location.rootPaths.map(_.toString))
    assert(scanned.nonEmpty &&
      scanned.forall(_.contains("sketch_snapshots")),
      s"delta must scan only stored sketch tables, scanned: $scanned")
    // exact-below-k oracle: recompute the parity split's true distincts
    val d = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("source"), col("text"), (col("doc_id") % 2 === 0).as("p"))
      .collect()
    def truth(rows: Seq[(String, String, Boolean)]) = {
      val prev = rows.filter(_._3).map(_._2).toSet
      val nw = rows.filter(!_._3).map(_._2).toSet
      (prev.size.toLong, nw.size.toLong, (nw -- prev).size.toLong,
        (prev -- nw).size.toLong, (nw & prev).size.toLong)
    }
    val rows = d.map(r => (r.getString(0), r.getString(1), r.getBoolean(2)))
    val want = rows.groupBy(_._1).map { case (s, rs) =>
      s -> truth(rs.toSeq) } + ("__ALL__" -> truth(rows.toSeq))
    val got = delta.collect().map(r => r.getString(0) ->
      ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getLong(5)))).toMap
    assert(got === want, s"delta $got vs raw truth $want")
    graft.operators.Artifacts.clear()
  }

  test("snapshotDelta estimator regime (k far below distincts): derived " +
      "reads stay in the feasible region — no negative overlap, no " +
      "added > new") {
    import graft.operators.SketchOps
    // k=32 << distinct texts per scope forces the estimator; raw
    // inclusion-exclusion noise would report negative overlaps here
    val delta = SketchOps.snapshotDelta(spark, sfDir, k = 32).collect()
    assert(delta.nonEmpty)
    delta.foreach { r =>
      val (prev, nw, added, removed, overlap) = (r.getLong(1),
        r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
      assert(added >= 0 && added <= nw,
        s"${r.getString(0)}: added $added outside [0, $nw]")
      assert(removed >= 0 && removed <= prev,
        s"${r.getString(0)}: removed $removed outside [0, $prev]")
      assert(overlap >= 0 && overlap <= math.min(prev, nw),
        s"${r.getString(0)}: overlap $overlap outside [0, " +
          s"${math.min(prev, nw)}]")
    }
    graft.operators.Artifacts.clear()
  }

  test("sketch rollup: every level exact below k, one raw scan") {
    import graft.operators.SketchOps
    val got = SketchOps.sourceLangDistinctRollup(spark, sfDir)
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val d = spark.read.parquet(s"$sfDir/documents.parquet")
    val cells = d.groupBy("source", "lang")
      .agg(countDistinct("text").as("n")).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val bySource = d.groupBy("source").agg(countDistinct("text")).collect()
      .map(r => (r.getString(0), "__ALL__") -> r.getLong(1)).toMap
    val byLang = d.groupBy("lang").agg(countDistinct("text")).collect()
      .map(r => ("__ALL__", r.getString(0)) -> r.getLong(1)).toMap
    val total = Map(("__ALL__", "__ALL__") ->
      d.agg(countDistinct("text")).collect()(0).getLong(0))
    assert(got === cells ++ bySource ++ byLang ++ total)
  }

  test("join pre-flight: estimate within 15% of the true join size on " +
      "the FK fixture, exact key stats below k") {
    import graft.operators.SketchOps
    val row = SketchOps.ordersCustomerJoinEstimate(spark, sfDir)
      .collect()(0)
    val orders = spark.read.parquet(s"$sfDir/orders.parquet")
    val customer = spark.read.parquet(s"$sfDir/customer.parquet")
    assert(row.getAs[Long]("n_a") === orders.count())
    assert(row.getAs[Long]("est_keys_a") ===
      orders.select("o_custkey").distinct().count())
    assert(row.getAs[Long]("est_keys_b") ===
      customer.select("c_custkey").distinct().count())
    val trueRows = orders.join(customer,
      col("o_custkey") === col("c_custkey")).count()
    val est = row.getAs[Double]("est_rows")
    assert(math.abs(est - trueRows) / trueRows < 0.15,
      s"est $est vs true $trueRows")
  }

  test("estimateExpr matches the aggregator's finish in both regimes") {
    import spark.implicits._
    val k = 32
    // below k: exact size; above k: same round-half-up arithmetic
    for (n <- Seq(10, 500)) {
      val df = (1 to n).map(i => s"item$i").toDF("s")
      val viaExpr = df.agg(KmvSketch.sketchState(col("s"), k).as("st"))
        .select(KmvSketch.estimateExpr(col("st"), k))
        .collect()(0).getLong(0)
      val viaFinish = df.agg(KmvSketch.approxDistinct(col("s"), k))
        .collect()(0).getLong(0)
      assert(viaExpr === viaFinish, s"n=$n: $viaExpr vs $viaFinish")
    }
  }

  test("overlapMatrix maxGroups guard: fails loudly above the bound, " +
      "identical rows below it") {
    import spark.implicits._
    val df = (1L to 100L).map(i => (s"g${i % 10}", s"v$i")).toDF("g", "v")
    val ok = graft.operators.SketchOps
      .overlapMatrix(df, "g", col("v"), k = 1024, maxGroups = 10)
      .collect()
    val loose = graft.operators.SketchOps
      .overlapMatrix(df, "g", col("v"), k = 1024, maxGroups = 10000)
      .collect()
    assert(ok.toSeq === loose.toSeq,
      "the guard must not change results below the bound")
    val e = intercept[IllegalArgumentException] {
      graft.operators.SketchOps
        .overlapMatrix(df, "g", col("v"), k = 1024, maxGroups = 9)
    }
    assert(e.getMessage.contains("more than 9 groups") &&
      e.getMessage.contains("maxGroups"), e.getMessage)
  }

  test("overlapMatrix: the raw input is aggregated exactly ONCE per call " +
      "— the guard reads the persisted sketch table, and so do both " +
      "sides of the pairwise join (r11 verdict: the unpersisted guard " +
      "probe doubled the corpus pass)") {
    import spark.implicits._
    val acc = spark.sparkContext.longAccumulator("om_input_rows")
    val bump = udf { (s: String) => acc.add(1); s }.asNondeterministic()
    // i%7 values over i%5 groups: every group shares values with every
    // other, so the overlap filter keeps pairs and collect() is non-empty
    val df = (1 to 100).map(i => (s"g${i % 5}", s"v${i % 7}")).toDF("g", "v0")
      .select(col("g"), bump(col("v0")).as("v"))
    try {
      val m = graft.operators.SketchOps
        .overlapMatrix(df, "g", col("v"), k = 1024, maxGroups = 10)
      assert(m.collect().nonEmpty)
      assert(acc.value === 100L,
        s"raw input must be scanned exactly once (guard + matrix share " +
          s"the cached sketch table) - scanned ${acc.value / 100.0} times")
    } finally spark.catalog.clearCache()
  }

  test("overlapMatrix builds its plan with the limit guard's jobs alone: " +
      "the guard already caches every partition of the sketch table, so " +
      "no second count runs (a full count added 2 jobs, 6 in all)") {
    import spark.implicits._
    val df = (1 to 100).map(i => (s"g${i % 5}", s"v${i % 7}")).toDF("g", "v")
    try {
      val (m, jobs) = jobsDuring(graft.operators.SketchOps
        .overlapMatrix(df, "g", col("v"), k = 1024, maxGroups = 10))
      assert(jobs === 4, s"building the plan ran $jobs jobs")
      assert(m.collect().nonEmpty)
    } finally spark.catalog.clearCache()
  }
}

package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.operators.AsOf

/** Pins [[AsOf.asOfJoinAuto]]'s measured routing (r15 verdict task #3):
  * the pure regime → path mapping ([[AsOf.asOfRouteOf]], thresholds
  * encoding the committed `BENCH_sf10_r15.json` asof_skew crossover),
  * the probe statistics ([[AsOf.asOfRouteDecision]]), and the
  * end-to-end dispatch on the three probe-shaped fixtures — uniform,
  * hot-key-small-right (the salted regime), hot-key-big-right (the
  * bucketed regime) — each checked for BOTH the picked path and exact
  * row parity with the pinned sort-merge exec. */
class AsOfRouteSpec extends SparkSpec {

  import spark.implicits._

  test("asOfRouteOf: regime → path mapping encodes the committed crossovers") {
    // broadcast: stats fit + probed rows under the cap — even with a
    // hot key (the broadcast form has no key shuffle to skew)
    val b = AsOf.asOfRouteOf(leftRows = 10000000L, maxKeyRows = 9000000L,
      rightRows = 500000L, tsSpan = 1000000L, broadcastFits = true,
      bucketable = true, partitions = 200)
    assert(b.path === "broadcast", b)
    // the row cap guards the stats-UNDERestimate failure mode: fits by
    // estimate but 5M probed rows → never broadcast
    val notB = AsOf.asOfRouteOf(10000000L, 9000000L, 5000000L, 1000000L,
      broadcastFits = true, bucketable = true, partitions = 200)
    assert(notB.path !== "broadcast", notB)
    // uniform: hottest key 60k of 10M × 200 partitions = straggler 1.2
    // → the flat merge has no skew to fix
    val u = AsOf.asOfRouteOf(10000000L, 60000L, 5000000L, 1000000L,
      broadcastFits = false, bucketable = true, partitions = 200)
    assert(u.path === "exec", u)
    // enrichment shape (right = left/50, 90% hot): replication is cheap
    // → salted, salts sized from the straggler factor and capped at 64
    val s = AsOf.asOfRouteOf(10000000L, 9000000L, 200000L, 1000000L,
      broadcastFits = false, bucketable = true, partitions = 200)
    assert(s.path === "salted" && s.salts === 64, s)
    // moderate straggler sizes salts to ceil(straggler), floored at 4
    val s2 = AsOf.asOfRouteOf(1000000L, 900000L, 20000L, 1000L,
      broadcastFits = false, bucketable = true, partitions = 8)
    assert(s2.path === "salted" && s2.salts === 8, s2)
    // heavy right (right = left/5): salting's (L+R)/R cap binds
    // (measured ×4.48 vs bucketed ×2.85) → split the time axis, width
    // sized to span/partitions
    val k = AsOf.asOfRouteOf(10000000L, 9000000L, 2000000L, 1000000L,
      broadcastFits = false, bucketable = true, partitions = 200)
    assert(k.path === "bucketed" && k.bucketWidth === 5000L, k)
    // same shape on a non-integral ts: the bucketed split cannot bin
    // it, so the capped salted path is still better than the straggler
    val nb = AsOf.asOfRouteOf(10000000L, 9000000L, 2000000L, 0L,
      broadcastFits = false, bucketable = false, partitions = 200)
    assert(nb.path === "salted", nb)
    // degenerate probes stay safe
    assert(AsOf.asOfRouteOf(0L, 0L, 0L, 0L, broadcastFits = false,
      bucketable = true, partitions = 200).path === "exec")
    val z = AsOf.asOfRouteOf(10000000L, 9000000L, 2000000L, 0L,
      broadcastFits = false, bucketable = true, partitions = 200)
    assert(z.path === "bucketed" && z.bucketWidth === 1L,
      s"zero ts span must still size a positive width: $z")
  }

  // ---- probe fixtures (probeFraction = 1.0 so the statistics are exact)

  /** keyShare0 of the rows on key 0, the rest spread over keys 1..49;
    * ts cycles 0..999 so the span (and bucket widths) are known. */
  private def corpus(n: Int, share0: Double): DataFrame =
    (0 until n).map { i =>
      val k = if (i < (n * share0).toInt) 0 else 1 + i % 49
      (k, (i % 1000).toLong, i.toLong)
    }.toDF("k", "ts", "pay")

  private def dedupRight(df: DataFrame): DataFrame =
    df.groupBy("k", "ts").agg(max("pay").as("pay"))

  private def executed(df: DataFrame): SparkPlan = {
    df.collect()
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
  }

  private def sortedRows(df: DataFrame) =
    df.orderBy(df.columns.toSeq.map(col): _*).collect().toSeq

  /** Route + dispatch + parity for one fixture under a 32-partition
    * session (the straggler factor is share × partitions, so the spec
    * pins the production partition count, not the suite's 4). */
  private def checkAuto(left: DataFrame, right: DataFrame,
      wantPath: String): Unit = {
    val route = AsOf.asOfRouteDecision(left, right, Seq("k"), "ts",
      probeFraction = 1.0)
    assert(route.path === wantPath, route)
    val auto = AsOf.asOfJoinAuto(left, right, Seq("k"), "ts",
      payload = Seq("pay"), rename = p => s"r_$p", probeFraction = 1.0)
    val pinned = AsOf.asOfJoinExec(left, right, Seq("k"), "ts",
      payload = Seq("pay"), rename = p => s"r_$p")
    assert(auto.columns.toSeq === pinned.columns.toSeq)
    assert(sortedRows(auto) === sortedRows(pinned),
      s"path $wantPath must stay exact")
  }

  test("asOfJoinAuto: the three probe regimes each pick their measured-best path, exactly") {
    val pBefore = spark.conf.get("spark.sql.shuffle.partitions")
    val tBefore = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.shuffle.partitions", "32")
    // fixtures are tiny, so Spark's stats always "fit" — disable the
    // broadcast tier to expose the skew tiers it would otherwise mask
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      // uniform: no key above ~2% → straggler under the ×4 trigger
      checkAuto(corpus(5000, 0.0), dedupRight(corpus(1000, 0.0)), "exec")
      // 90% hot key, right = left/50 → replication is cheap → salted
      checkAuto(corpus(5000, 0.9), dedupRight(corpus(100, 0.9)), "salted")
      // 90% hot key, right = left/5 → salting's (L+R)/R cap binds →
      // ts-range-split bucketed
      checkAuto(corpus(5000, 0.9), dedupRight(corpus(1000, 0.9)), "bucketed")
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", pBefore)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", tBefore)
    }
  }

  test("asOfJoinAuto: small probed right under the row cap takes the broadcast exec") {
    val left = corpus(2000, 0.9)
    val right = dedupRight(corpus(50, 0.0))
    val route = AsOf.asOfRouteDecision(left, right, Seq("k"), "ts",
      probeFraction = 1.0)
    assert(route.path === "broadcast", route)
    val before = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val auto = AsOf.asOfJoinAuto(left, right, Seq("k"), "ts",
        payload = Seq("pay"), rename = p => s"r_$p", probeFraction = 1.0)
      assert(executed(auto).collect {
        case b: BroadcastAsOfJoinExec => b }.size === 1)
      val pinned = AsOf.asOfJoinExec(left, right, Seq("k"), "ts",
        payload = Seq("pay"), rename = p => s"r_$p")
      assert(sortedRows(auto) === sortedRows(pinned))
    } finally spark.conf.set("spark.sql.adaptive.enabled", before)
  }

  test("asOfRouteDecision: probe statistics are exact at fraction 1.0 and scale up a sample") {
    val left = corpus(4000, 0.75) // 3000 rows on key 0, ts span 0..999
    val right = dedupRight(corpus(400, 0.0))
    val rightRows = right.count()
    val r = AsOf.asOfRouteDecision(left, right, Seq("k"), "ts",
      probeFraction = 1.0)
    assert(r.leftRows === 4000L && r.maxKeyRows === 3000L &&
      r.rightRows === rightRows && r.tsSpan === 999L, r)
    // a half sample scales back to ~the exact counts (seeded, so the
    // tolerance is just sampling noise, not flake)
    val h = AsOf.asOfRouteDecision(left, right, Seq("k"), "ts",
      probeFraction = 0.5)
    assert(math.abs(h.leftRows - 4000L) < 800 &&
      math.abs(h.maxKeyRows - 3000L) < 800, h)
    intercept[IllegalArgumentException] {
      AsOf.asOfRouteDecision(left, right, Seq("k"), "ts", probeFraction = 0.0)
    }
  }

  test("asOfJoinAuto: keyless as-of routes to the broadcast form; streaming inputs are refused") {
    val left = Seq((1L, 10L), (2L, 25L)).toDF("id", "ts")
    val right = Seq((9L, "a"), (20L, "b")).toDF("ts", "state")
    val out = AsOf.asOfJoinAuto(left, right, keys = Nil, ts = "ts",
      payload = Seq("state"), rename = s => s"r_$s")
      .orderBy("id").collect().map(r => Option(r.getString(2)))
    assert(out.toSeq === Seq(Some("a"), Some("b")))
    val stream = spark.readStream.format("rate")
      .option("rowsPerSecond", "1").load()
      .select(col("value").as("k"), col("value").as("ts"),
        col("value").as("pay"))
    intercept[IllegalArgumentException] {
      AsOf.asOfJoinAuto(stream, right, Seq("k"), "ts",
        payload = Seq("state"), rename = s => s"r_$s")
    }
  }
}

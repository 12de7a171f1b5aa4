package graft.plans

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.operators.AsOf

/** Pins the physical as-of join ([[AsOfJoinExec]]) — the extension
  * ladder's whole-operator tier — against the compose form
  * ([[AsOf.asOfJoin]], oracle-checked vs DuckDB ASOF JOIN since round
  * 5) and against hand-computed fixtures for the null/tie edges, plus
  * the plan-shape contracts the 100 TB story rests on (one exchange
  * per side, zero when pre-partitioned). */
class AsOfJoinExecSpec extends SparkSpec {

  import spark.implicits._

  private def sorted(df: DataFrame): Seq[Row] = {
    val cols = df.columns.toSeq
    df.orderBy(cols.map(col): _*).collect().toSeq
  }

  /** Both implementations on the same inputs must agree row-for-row. */
  private def assertParity(left: DataFrame, right: DataFrame,
      keys: Seq[String], ts: String, payload: Seq[String],
      rename: String => String, direction: String): Unit = {
    val compose = AsOf.asOfJoin(left, right, keys, ts, payload, rename, direction)
    val exec = AsOf.asOfJoinExec(left, right, keys, ts, payload, rename, direction)
    assert(exec.columns.toSeq == compose.columns.toSeq)
    assert(sorted(exec) == sorted(compose))
  }

  private def trades = Seq(
    ("AA", 1L, "t1"), ("AA", 3L, "t2"), ("AA", 7L, "t3"),
    ("BB", 2L, "t4"), ("CC", 5L, "t5")
  ).toDF("sym", "ts", "trade_id")

  private def quotes = Seq(
    ("AA", 1L, 10.0), ("AA", 3L, 11.0), ("AA", 5L, 12.0),
    ("BB", 4L, 20.0), ("DD", 1L, 30.0)
  ).toDF("sym", "ts", "px")

  test("backward: greatest right ts <= left ts, ties match, no-match is null") {
    val out = AsOf.asOfJoinExec(trades, quotes, Seq("sym"), "ts",
      payload = Seq("ts", "px"),
      rename = { case "ts" => "q_ts"; case other => other })
    val got = out.select("trade_id", "q_ts", "px").collect()
      .map(r => r.getString(0) -> ((
        if (r.isNullAt(1)) null else r.getLong(1),
        if (r.isNullAt(2)) null else r.getDouble(2)))).toMap
    assert(got("t1") == ((1L, 10.0))) // tie: ts=1 matches quote ts=1
    assert(got("t2") == ((3L, 11.0)))
    assert(got("t3") == ((5L, 12.0))) // latest quote <= 7
    assert(got("t4") == ((null, null))) // BB quote is at 4 > 2
    assert(got("t5") == ((null, null))) // CC has no quotes
  }

  test("forward: smallest right ts >= left ts") {
    val out = AsOf.asOfJoinExec(trades, quotes, Seq("sym"), "ts",
      payload = Seq("ts", "px"),
      rename = { case "ts" => "q_ts"; case other => other },
      direction = "forward")
    val got = out.select("trade_id", "q_ts").collect()
      .map(r => r.getString(0) ->
        (if (r.isNullAt(1)) null else Long.box(r.getLong(1)))).toMap
    assert(got("t1") == 1L)
    assert(got("t2") == 3L)
    assert(got("t3") == null) // no AA quote at ts >= 7
    assert(got("t4") == 4L)
    assert(got("t5") == null)
  }

  test("parity with the compose form on the events fixture, both directions") {
    val dir = sfDir
    val events = graft.operators.Relational.events(spark, dir)
      .select("event_id", "user_id", "ts", "event_type", "value")
    val purchases = events.filter(col("event_type") === "purchase")
      .groupBy("user_id", "ts").agg(max("value").as("value"))
      .select(col("user_id"), col("ts"), col("ts").as("p_ts"), col("value"))
    for (d <- Seq("backward", "forward")) {
      assertParity(events, purchases, Seq("user_id"), "ts",
        payload = Seq("p_ts", "value"),
        rename = { case "p_ts" => "m_ts"; case v => "m_" + v }, direction = d)
    }
  }

  test("parity on adversarial random data: null keys, null ts, dense ties") {
    val rnd = new scala.util.Random(42)
    def side(n: Int) = (0 until n).map { i =>
      val key: java.lang.Integer =
        if (rnd.nextInt(10) == 0) null else Int.box(rnd.nextInt(5))
      val ts: java.lang.Long =
        if (rnd.nextInt(12) == 0) null else Long.box(rnd.nextInt(8).toLong)
      (key, ts, i.toLong)
    }
    // right side unique per (key, ts) — the documented determinism contract
    val left = side(300).toDF("k", "ts", "pay")
    val right = side(300).toDF("k", "ts", "pay")
      .groupBy("k", "ts").agg(max("pay").as("pay"))
    for (d <- Seq("backward", "forward")) {
      assertParity(left, right, Seq("k"), "ts", payload = Seq("pay"),
        rename = _ => "r_pay", direction = d)
    }
  }

  test("two-key join and string timestamps") {
    val left = Seq(("a", 1, "2024-01-05", 1L), ("a", 1, "2024-03-01", 2L),
      ("a", 2, "2024-02-01", 3L), ("b", 1, "2024-01-01", 4L))
      .toDF("k1", "k2", "day", "id")
    val right = Seq(("a", 1, "2024-01-01", 10.0), ("a", 1, "2024-02-01", 20.0),
      ("a", 2, "2024-09-09", 30.0)).toDF("k1", "k2", "day", "v")
    for (d <- Seq("backward", "forward")) {
      assertParity(left, right, Seq("k1", "k2"), "day", payload = Seq("v"),
        rename = _ => "r_v", direction = d)
    }
  }

  test("empty right side: every left row emitted with null payload") {
    val out = AsOf.asOfJoinExec(trades, quotes.filter(lit(false)),
      Seq("sym"), "ts", payload = Seq("px"), rename = _ => "r_px")
    assert(out.count() == trades.count())
    assert(out.filter(col("r_px").isNotNull).count() == 0)
  }

  test("self-as-of-join (same Dataset both sides) plans without ambiguity") {
    val df = trades
    val out = AsOf.asOfJoinExec(df, df, Seq("sym"), "ts",
      payload = Seq("trade_id"), rename = _ => "prev_id")
    // backward, ts ties inclusive → every row at least matches itself
    assert(out.filter(col("prev_id").isNull).count() == 0)
  }

  /** Plan-shape assertions run with AQE off: query stages are
    * LeafExecNodes, so `plan.collect` can't see through them — the
    * static plan is the contract being pinned anyway (EnsureRequirements
    * runs identically under AQE, as the printouts in the AQE-on parity
    * tests above show). */
  private def withStaticPlans[A](body: => A): A = {
    val before = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try body
    finally spark.conf.set("spark.sql.adaptive.enabled", before)
  }

  private def executed(df: DataFrame): SparkPlan = {
    df.collect()
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
  }

  test("plan shape: AsOfJoinExec node, one shuffle per side") {
    withStaticPlans {
      val out = AsOf.asOfJoinExec(trades, quotes, Seq("sym"), "ts",
        payload = Seq("px"), rename = _ => "r_px")
      val plan = executed(out)
      assert(plan.collect { case e: AsOfJoinExec => e }.size == 1)
      val shuffles = plan.collect { case s: ShuffleExchangeLike => s }
      assert(shuffles.size == 2, s"expected 2 exchanges, got:\n$plan")
    }
  }

  test("plan shape: pre-partitioned sides skip the exchanges entirely") {
    withStaticPlans {
      val lp = trades.repartition(8, col("sym"))
      val rp = quotes.repartition(8, col("sym"))
      val out = AsOf.asOfJoinExec(lp, rp, Seq("sym"), "ts",
        payload = Seq("px"), rename = _ => "r_px")
      val plan = executed(out)
      assert(plan.collect { case e: AsOfJoinExec => e }.size == 1)
      val shuffles = plan.collect { case s: ShuffleExchangeLike => s }
      // the two REPARTITION_BY_COL shuffles only — EnsureRequirements
      // must recognize hashpartitioning(sym, 8) on both sides and add
      // no ENSURE_REQUIREMENTS exchange on top of either
      assert(shuffles.size == 2, s"unexpected extra exchange:\n$plan")
      assert(sorted(out) == sorted(AsOf.asOfJoin(lp, rp, Seq("sym"), "ts",
        Seq("px"), _ => "r_px")))
    }
  }

  test("left output ordering and partitioning are preserved upward (no re-shuffle for a downstream window over the same key)") {
    withStaticPlans {
      val out = AsOf.asOfJoinExec(trades, quotes, Seq("sym"), "ts",
        payload = Seq("px"), rename = _ => "r_px")
      import org.apache.spark.sql.expressions.Window
      val windowed = out.withColumn("rn",
        row_number().over(Window.partitionBy("sym").orderBy("ts")))
      val plan = executed(windowed)
      val shuffles = plan.collect { case s: ShuffleExchangeLike => s }
      // window reuses the as-of join's partitioning+ordering: still 2 total
      assert(shuffles.size == 2, s"window added a shuffle:\n$plan")
      // and no sort either: output ordering (sym, ts) satisfies the window
      val sorts = plan.collect {
        case s: org.apache.spark.sql.execution.SortExec => s }
      assert(sorts.size == 2, s"window added a sort:\n$plan")
    }
  }

  test("heavy key skew: one key holding ~90% of both sides stays exact under AQE") {
    // AQE's skew-split applies only to SMJ/SHJ, but its COALESCING must
    // keep the custom node's two exchanges aligned — zipPartitions pairs
    // partition i with partition i, so misaligned coalescing would be a
    // silent wrong-rows bug, not a crash. Parity over a skewed corpus
    // exercises exactly that path.
    val rnd = new scala.util.Random(5)
    def side(n: Int) = (0 until n).map { i =>
      val key = if (rnd.nextInt(10) == 0) rnd.nextInt(40) + 1 else 0 // 90% key 0
      (key, rnd.nextInt(1000).toLong, i.toLong)
    }
    val left = side(20000).toDF("k", "ts", "pay")
    val right = side(4000).toDF("k", "ts", "pay")
      .groupBy("k", "ts").agg(max("pay").as("pay"))
    for (d <- Seq("backward", "forward")) {
      assertParity(left, right, Seq("k"), "ts", payload = Seq("pay"),
        rename = _ => "r_pay", direction = d)
    }
  }

  test("AQE partition coalescing keeps the two sides aligned (tiny targets force coalescing)") {
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "97")
    try {
      val rnd = new scala.util.Random(11)
      def side(n: Int) = (0 until n).map { i =>
        (rnd.nextInt(50), rnd.nextInt(100).toLong, i.toLong)
      }
      val left = side(5000).toDF("k", "ts", "pay")
      val right = side(1000).toDF("k", "ts", "pay")
        .groupBy("k", "ts").agg(max("pay").as("pay"))
      // 97 partitions over ~100 KB forces AQE to coalesce aggressively;
      // rows must still match the compose form exactly
      assertParity(left, right, Seq("k"), "ts", payload = Seq("pay"),
        rename = _ => "r_pay", direction = "backward")
    } finally spark.conf.set("spark.sql.shuffle.partitions", before)
  }

  test("broadcast variant: parity on fixture and adversarial random data") {
    // fixture, both directions, vs BOTH other implementations
    for (d <- Seq("backward", "forward")) {
      val b = AsOf.asOfJoinBroadcast(trades, quotes, Seq("sym"), "ts",
        payload = Seq("ts", "px"),
        rename = { case "ts" => "q_ts"; case o => o }, direction = d)
      val c = AsOf.asOfJoin(trades, quotes, Seq("sym"), "ts",
        payload = Seq("ts", "px"),
        rename = { case "ts" => "q_ts"; case o => o }, direction = d)
      assert(sorted(b) == sorted(c), s"direction=$d")
    }
    // adversarial: null keys, null ts, dense ties (same generator as the
    // sort-merge parity test, different seed)
    val rnd = new scala.util.Random(7)
    def side(n: Int) = (0 until n).map { i =>
      val key: java.lang.Integer =
        if (rnd.nextInt(10) == 0) null else Int.box(rnd.nextInt(5))
      val ts: java.lang.Long =
        if (rnd.nextInt(12) == 0) null else Long.box(rnd.nextInt(8).toLong)
      (key, ts, i.toLong)
    }
    val left = side(300).toDF("k", "ts", "pay")
    val right = side(300).toDF("k", "ts", "pay")
      .groupBy("k", "ts").agg(max("pay").as("pay"))
    for (d <- Seq("backward", "forward")) {
      val b = AsOf.asOfJoinBroadcast(left, right, Seq("k"), "ts",
        payload = Seq("pay"), rename = _ => "r_pay", direction = d)
      val c = AsOf.asOfJoin(left, right, Seq("k"), "ts",
        payload = Seq("pay"), rename = _ => "r_pay", direction = d)
      assert(sorted(b) == sorted(c), s"direction=$d")
    }
  }

  test("broadcast plan shape: ZERO shuffles, one broadcast exchange, no sorts") {
    withStaticPlans {
      val out = AsOf.asOfJoinBroadcast(trades, quotes, Seq("sym"), "ts",
        payload = Seq("px"), rename = _ => "r_px")
      val plan = executed(out)
      assert(plan.collect { case e: BroadcastAsOfJoinExec => e }.size == 1)
      assert(plan.collect { case s: ShuffleExchangeLike => s }.isEmpty,
        s"broadcast as-of must not shuffle either side:\n$plan")
      assert(plan.collect {
        case b: org.apache.spark.sql.execution.exchange.BroadcastExchangeLike => b
      }.size == 1, s"expected one broadcast exchange:\n$plan")
      assert(plan.collect {
        case s: org.apache.spark.sql.execution.SortExec => s }.isEmpty,
        s"broadcast as-of must not sort either side:\n$plan")
    }
  }

  test("tolerance: nearest candidate beyond the bound becomes a no-match NULL") {
    // AA trades at ts 1,3,7; quotes at 1,3,5 → t3's nearest is 5 (diff 2)
    for (mk <- Seq(
      (tol: Option[Long]) => AsOf.asOfJoinExec(trades, quotes, Seq("sym"),
        "ts", Seq("px"), _ => "r_px", tolerance = tol),
      (tol: Option[Long]) => AsOf.asOfJoinBroadcast(trades, quotes, Seq("sym"),
        "ts", Seq("px"), _ => "r_px", tolerance = tol))) {
      def byId(tol: Option[Long]) = mk(tol).collect()
        .map(r => r.getString(2) -> !r.isNullAt(3)).toMap
      val loose = byId(Some(2L))
      assert(loose("t1") && loose("t2") && loose("t3"))
      assert(!loose("t4") && !loose("t5"))
      val tight = byId(Some(1L))
      assert(tight("t1") && tight("t2"))
      assert(!tight("t3"), "diff 2 > tolerance 1 must null the match")
      val zero = byId(Some(0L))
      assert(zero("t1") && zero("t2") && !zero("t3"), "0 = exact ties only")
    }
  }

  test("argument validation fails loudly") {
    intercept[IllegalArgumentException] {
      AsOf.asOfJoinExec(trades, quotes, Seq("sym"), "ts",
        payload = Seq("px"), rename = _ => "r", direction = "sideways")
    }
    intercept[IllegalArgumentException] { // collision with left column
      AsOf.asOfJoinExec(trades, quotes, Seq("sym"), "ts",
        payload = Seq("px"), rename = _ => "trade_id")
    }
    intercept[Exception] { // missing column (right side fails at analysis
      // inside the factory's projection; left-side misses raise
      // IllegalArgumentException from the attribute lookup)
      AsOf.asOfJoinExec(trades, quotes, Seq("nope"), "ts",
        payload = Seq("px"), rename = _ => "r_px")
    }
    intercept[IllegalArgumentException] { // two payloads, one name
      AsOf.asOfJoinExec(trades, quotes, Seq("sym"), "ts",
        payload = Seq("px", "ts"), rename = _ => "same")
    }
    intercept[IllegalArgumentException] { // negative tolerance
      AsOf.asOfJoinExec(trades, quotes, Seq("sym"), "ts",
        payload = Seq("px"), rename = _ => "r_px", tolerance = Some(-1L))
    }
    intercept[IllegalArgumentException] { // tolerance on a string ts
      val l = Seq(("a", "2024-01-01", 1)).toDF("k", "day", "v")
      AsOf.asOfJoinExec(l, l.select(col("k"), col("day"), col("v").as("w")),
        Seq("k"), "day", payload = Seq("w"), rename = _ => "r_w",
        tolerance = Some(5L))
    }
  }

  test("salted as-of: exact parity on a 90%-hot-key corpus, both directions, with tolerance") {
    // the skew path for a LARGE right side AQE can't split on a custom
    // node: left salted, right replicated ×salts, join key (key, salt)
    val rnd = new scala.util.Random(13)
    def side(n: Int) = (0 until n).map { i =>
      val key = if (rnd.nextInt(10) == 0) rnd.nextInt(40) + 1 else 0 // 90% key 0
      (key, rnd.nextInt(1000).toLong, i.toLong)
    }
    val left = side(20000).toDF("k", "ts", "pay")
    val right = side(4000).toDF("k", "ts", "pay")
      .groupBy("k", "ts").agg(max("pay").as("pay"))
    for (d <- Seq("backward", "forward"); tol <- Seq(None, Some(50L))) {
      val salted = AsOf.asOfJoinSalted(left, right, Seq("k"), "ts",
        payload = Seq("pay"), rename = _ => "r_pay", direction = d,
        tolerance = tol, salts = 8, saltBy = Some("pay"))
      val compose0 = AsOf.asOfJoinExec(left, right, Seq("k"), "ts",
        payload = Seq("pay"), rename = _ => "r_pay", direction = d,
        tolerance = tol)
      assert(salted.columns.toSeq == compose0.columns.toSeq,
        "salt column must not leak into the output")
      assert(sorted(salted) == sorted(compose0), s"direction=$d tol=$tol")
    }
  }

  test("salted as-of: plan spreads the hot key over the salt buckets") {
    withStaticPlans {
      val left = (0 until 5000).map(i => (0, (i % 977).toLong, i.toLong))
        .toDF("k", "ts", "pay") // ONE key: the unsalted merge is 1 task
      val right = (0 until 500).map(i => (0, i.toLong * 2, i.toLong))
        .toDF("k", "ts", "pay")
      val out = AsOf.asOfJoinSalted(left, right, Seq("k"), "ts",
        payload = Seq("pay"), rename = _ => "r_pay", salts = 4,
        saltBy = Some("pay"))
      val plan = executed(out)
      assert(plan.collect { case e: AsOfJoinExec => e }.size == 1)
      // the left exchange partitions on (k, salt): rows of the single
      // hot key land in multiple partitions — observable as >1 distinct
      // salt value actually produced
      val salts = left.select(org.apache.spark.sql.functions.pmod(
        org.apache.spark.sql.functions.hash(col("pay")),
        lit(4)).as("s")).distinct().count()
      assert(salts > 1, "content salt must spread the hot key")
      assert(out.count() == left.count())
    }
  }

  test("bucketed (ts-range-split) as-of: exact parity across bucket widths, directions, tolerance") {
    // the skew path for hot keys whose RIGHT side is also huge: both
    // sides split on floor(ts/W) with one carry row per bucket; must
    // be row-identical to the merge exec for EVERY width, including
    // W=1 (every ts its own bucket — all matches via carries) and a
    // width larger than the whole range (single bucket — degenerates
    // to the plain merge)
    val rnd = new scala.util.Random(29)
    def side(n: Int) = (0 until n).map { i =>
      val key = if (rnd.nextInt(10) == 0) rnd.nextInt(40) + 1 else 0 // hot key
      val ts: java.lang.Long =
        if (rnd.nextInt(15) == 0) null else Long.box(rnd.nextInt(1000).toLong)
      (key, ts, i.toLong)
    }
    val left = side(4000).toDF("k", "ts", "pay")
    val right = side(3000).toDF("k", "ts", "pay")
      .groupBy("k", "ts").agg(max("pay").as("pay"))
    for (d <- Seq("backward", "forward"); w <- Seq(1L, 7L, 64L, 100000L);
         tol <- Seq(None, Some(25L))) {
      val bucketed = AsOf.asOfJoinBucketed(left, right, Seq("k"), "ts",
        payload = Seq("pay"), rename = _ => "r_pay", direction = d,
        tolerance = tol, bucketWidth = w)
      val exec = AsOf.asOfJoinExec(left, right, Seq("k"), "ts",
        payload = Seq("pay"), rename = _ => "r_pay", direction = d,
        tolerance = tol)
      assert(bucketed.columns.toSeq == exec.columns.toSeq,
        "bucket column must not leak into the output")
      assert(sorted(bucketed) == sorted(exec), s"d=$d w=$w tol=$tol")
    }
  }

  test("bucketed as-of: timestamp ts buckets on internal micros; sparse right buckets carry across gaps") {
    // quotes only in the FIRST minute; trades hours later — every
    // later bucket must still see the carry (spine includes left-only
    // buckets, the carry window crosses arbitrarily many empty ones)
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def at(s: Int) = new java.sql.Timestamp(t0.getTime + s * 1000L)
    val trades = Seq(("AA", at(3600), "t1"), ("AA", at(7200), "t2"),
      ("BB", at(3600), "t3")).toDF("sym", "ts", "trade_id")
    val quotes = Seq(("AA", at(10), 1.0), ("AA", at(20), 2.0))
      .toDF("sym", "ts", "px")
    val out = AsOf.asOfJoinBucketed(trades, quotes, Seq("sym"), "ts",
      payload = Seq("px"), rename = _ => "r_px",
      bucketWidth = 60L * 1000000L) // one-minute buckets in micros
    val got = out.select("trade_id", "r_px").collect()
      .map(r => r.getString(0) ->
        (if (r.isNullAt(1)) null else Double.box(r.getDouble(1)))).toMap
    assert(got === Map("t1" -> 2.0, "t2" -> 2.0, "t3" -> null))
    // parity with the exec on the same data
    assert(sorted(out) == sorted(AsOf.asOfJoinExec(trades, quotes,
      Seq("sym"), "ts", payload = Seq("px"), rename = _ => "r_px")))
  }

  test("bucketed as-of: DATE ts buckets on the day number") {
    val left = Seq(("a", java.sql.Date.valueOf("2024-03-01"), 1L),
      ("a", java.sql.Date.valueOf("2024-06-01"), 2L),
      ("b", java.sql.Date.valueOf("2024-03-01"), 3L))
      .toDF("k", "day", "id")
    val right = Seq(("a", java.sql.Date.valueOf("2024-01-10"), 10.0),
      ("a", java.sql.Date.valueOf("2024-04-01"), 40.0))
      .toDF("k", "day", "v")
    val out = AsOf.asOfJoinBucketed(left, right, Seq("k"), "day",
      payload = Seq("v"), rename = _ => "r_v", bucketWidth = 30L)
    val got = out.collect().map(r => r.getLong(2) ->
      (if (r.isNullAt(3)) null else Double.box(r.getDouble(3)))).toMap
    assert(got === Map(1L -> 10.0, 2L -> 40.0, 3L -> null))
    assert(sorted(out) == sorted(AsOf.asOfJoinExec(left, right, Seq("k"),
      "day", payload = Seq("v"), rename = _ => "r_v")))
  }

  test("bucketed as-of: argument guards") {
    intercept[IllegalArgumentException] { // non-positive width
      AsOf.asOfJoinBucketed(trades, quotes, Seq("sym"), "ts",
        payload = Seq("px"), rename = _ => "r_px", bucketWidth = 0L)
    }
    intercept[IllegalArgumentException] { // payload repeats ts
      AsOf.asOfJoinBucketed(trades, quotes, Seq("sym"), "ts",
        payload = Seq("ts", "px"), rename = _ => "r", bucketWidth = 10L)
    }
    intercept[IllegalArgumentException] { // non-integral ts
      val l = Seq(("a", "2024-01-01", 1)).toDF("k", "day", "v")
      AsOf.asOfJoinBucketed(l, l.select(col("k"), col("day"),
        col("v").as("w")), Seq("k"), "day", payload = Seq("w"),
        rename = _ => "r_w", bucketWidth = 10L)
    }
  }

  test("salted as-of: argument guards") {
    intercept[IllegalArgumentException] {
      AsOf.asOfJoinSalted(trades, quotes, Seq("sym"), "ts",
        payload = Seq("px"), rename = _ => "r_px", salts = 1)
    }
    intercept[IllegalArgumentException] { // keyless
      AsOf.asOfJoinSalted(trades, quotes, Nil, "ts",
        payload = Seq("px"), rename = _ => "r_px")
    }
    intercept[IllegalArgumentException] { // reserved column
      AsOf.asOfJoinSalted(
        trades.withColumn("__graft_asof_salt", lit(1)), quotes,
        Seq("sym"), "ts", payload = Seq("px"), rename = _ => "r_px")
    }
  }
}

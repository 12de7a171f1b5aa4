package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Plan-shape and semantics checks for the §2B workload. Value-level
  * correctness is pinned by the driver's DuckDB oracle (SparkEntry.oracleSql)
  * — these specs guard the *physical plan* properties that matter at scale. */
class RelationalSpec extends SparkSpec {

  test("filters are pushed into the parquet scan") {
    val plan = Relational.filterBetween(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters"), plan)
    assert(plan.contains("GreaterThanOrEqual(l_quantity,10.0)") ||
      plan.contains("l_quantity"), plan)
  }

  test("projection prunes columns at the scan (ReadSchema)") {
    val plan = Relational.filterBetween(spark, sfDir)
      .queryExecution.executedPlan.toString
    // only the 5 referenced columns should be read, not all 11
    assert(!plan.contains("l_extendedprice"), plan)
    assert(!plan.contains("l_shipmode"), plan)
  }

  test("small-dimension join broadcasts (no shuffle of nation)") {
    val plan = Relational.joinLeft(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"),
      s"nation (25 rows) should broadcast:\n$plan")
  }

  test("sort+limit uses TakeOrderedAndProject (no global sort at scale)") {
    val plan = Relational.sortLimit(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("aggregation is partial before shuffle (map-side combine)") {
    val plan = Relational.aggQ1(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("partial"), s"expected partial_ aggregates:\n$plan")
  }

  test("full outer join coalesces both sides: 25 nation keys") {
    assert(Relational.joinFull(spark, sfDir).count() === 25)
  }

  test("union distinct ≤ union all group count") {
    val d = Relational.unionDistinct(spark, sfDir).count()
    val a = Relational.unionAll(spark, sfDir).count()
    assert(d === a) // both are the distinct nation-key set here
  }

  test("window top-n emits ≤3 rows per segment") {
    val rows = Relational.windowTopN(spark, sfDir).collect()
    val bySeg = rows.groupBy(_.getString(0))
    assert(bySeg.values.forall(_.length <= 3))
    assert(bySeg.values.forall(v => v.map(_.getInt(3)).sorted.toSeq == (1 to v.length)))
  }

  test("events nanos timestamp normalizes to usable timestamp") {
    val df = Relational.events(spark, sfDir)
    assert(df.schema("ts").dataType ===
      org.apache.spark.sql.types.TimestampType)
    val days = Relational.datetimeAgg(spark, sfDir)
      .select("day").distinct().collect().map(_.getString(0))
    assert(days.forall(_.startsWith("2024-01")))
  }

  test("events NTZ timestamp + props schema normalizes (testdata drift guard)") {
    // The driver's events.parquet has drifted across generations (nanos →
    // TIMESTAMP_NTZ + props). Pin the CURRENT shape so the suite — not the
    // driver — catches the next drift: a file with a TIMESTAMP_NTZ ts and a
    // props column must normalize to TimestampType with UTC wall-clock
    // semantics, and gap arithmetic (unix_micros) must analyze.
    val tmp = java.nio.file.Files.createTempDirectory("ntz_events").toString
    spark.sql(
      """SELECT * FROM VALUES
        |  (1L, TIMESTAMP_NTZ'2024-01-01 12:00:00', 10L, 'click', 1.5D, '{"k": 3}'),
        |  (2L, TIMESTAMP_NTZ'2024-01-01 12:00:30', 10L, 'error', 2.5D, '{"k": 7}')
        |  AS t(event_id, ts, user_id, event_type, value, props)""".stripMargin)
      .write.mode("overwrite").parquet(s"$tmp/events.parquet")
    // written file must round-trip as NTZ (the drifted physical encoding)
    val raw = spark.read.parquet(s"$tmp/events.parquet")
    assert(raw.schema("ts").dataType ===
      org.apache.spark.sql.types.TimestampNTZType)
    val df = Relational.events(spark, tmp)
    assert(df.schema("ts").dataType ===
      org.apache.spark.sql.types.TimestampType)
    assert(df.columns.contains("props"))
    // UTC session zone: naive wall-clock reinterpreted as UTC, exactly as
    // DuckDB reads the same file — epoch check pins the zone handling
    val us = df.orderBy("event_id")
      .select(unix_micros(col("ts"))).collect().map(_.getLong(0))
    assert(us(0) === 1704110400000000L) // 2024-01-01T12:00:00Z
    assert(us(1) - us(0) === 30000000L) // 30 s gap, µs-exact
    // the downstream consumers that broke on NTZ must analyze + run
    // 30 s apart < default 30 min gap → ONE session spanning both events
    assert(graft.streaming.EventStream.sessionizeBatch(df).count() === 1)
    assert(graft.streaming.EventStream.attributionJoin(
      df.filter(col("event_type") === "click"),
      df.filter(col("event_type") === "error")).columns.contains("gap_us"))
  }

  test("eventProps: typed props stats partition the events table") {
    val total = Relational.events(spark, sfDir).count()
    val rows = Relational.eventProps(spark, sfDir).collect()
    // (event_type, day) groups partition the table exactly
    assert(rows.map(_.getLong(2)).sum === total)
    rows.foreach { r =>
      assert(r.getInt(4) <= r.getInt(5), "min_k <= max_k")
      assert(r.getLong(6) >= 1L, "every group has >= 1 distinct k")
      assert(r.getString(1).matches("\\d{4}-\\d{2}-\\d{2}"))
    }
    // the parse stays codegen'd: no ScalaUDF, one agg exchange
    val plan = Relational.eventProps(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("ScalaUDF"), plan.take(1500))
  }

  test("retention cohorts: day-0 row is the cohort census, offsets bounded") {
    val rows = Relational.retentionCohorts(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    val cohorts = rows.keys.map(_._1).toSet
    assert(cohorts.nonEmpty)
    cohorts.foreach { c =>
      val day0 = rows((c, 0L)) // every cohort member is active on day 0
      assert(day0 > 0)
      // no later offset can exceed the cohort census
      rows.filter(_._1._1 == c).values.foreach(n => assert(n <= day0))
    }
    assert(rows.keys.forall { case (_, off) => off >= 0 && off <= 7 })
  }

  test("event transitions: n-1 steps per user, rows of the matrix sum to 1") {
    val ev = Relational.events(spark, sfDir)
    val totalSteps = ev.count() - ev.select("user_id").distinct().count()
    val rows = Relational.eventTransitions(spark, sfDir).collect()
    assert(rows.map(_.getLong(2)).sum === totalSteps)
    rows.groupBy(_.getString(0)).values.foreach { perFrom =>
      assert(math.abs(perFrom.map(_.getDouble(3)).sum - 1.0) < 0.01,
        "row-normalized probabilities sum to ~1 (round-4 residue)")
    }
  }

  test("userRfm: every user segmented, recency non-negative, census exact") {
    val ev = Relational.events(spark, sfDir)
    val rows = Relational.userRfm(spark, sfDir).collect()
    assert(rows.length === ev.select("user_id").distinct().count())
    val segs = Set("core", "active", "cooling", "dormant")
    rows.foreach { r =>
      assert(r.getLong(1) >= 0, "recency")
      assert(segs.contains(r.getString(4)), r.getString(4))
    }
    assert(rows.map(_.getLong(2)).sum === ev.count(), "frequencies partition")
  }

  test("funnel: stages monotone non-increasing, strict-after semantics") {
    val rows = Relational.funnel(spark, sfDir).collect()
      .map(r => r.getInt(0) -> r.getLong(2)).toMap
    assert(rows.keySet.subsetOf(Set(1, 2, 3)))
    assert(rows(1) > 0)
    // each stage requires the previous one, so counts can only shrink
    assert(rows.getOrElse(2, 0L) <= rows(1))
    assert(rows.getOrElse(3, 0L) <= rows.getOrElse(2, 0L))
  }

  test("lateral subquery plans as a ranked join, not row-at-a-time") {
    val plan = Relational.sqlLateral(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
    val rows = Relational.sqlLateral(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getString(1)))
    assert(rows.length === 10, "5 regions × top-2 nations")
  }

  test("column pruning reaches the parquet scans of the narrow operators") {
    // a 2-column report over a 5-column table must not scan the text-heavy
    // columns it doesn't use
    val hist = graft.operators.TextOps.lengthHistogram(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(hist.contains("ReadSchema: struct<text:string>"), hist)
    val quant = Similarity.quantizeEmbeddings(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!quant.contains("label"), "quantization must not scan label")
  }

  test("json extract: typed parse partitions all events, corrupt rows → NULL") {
    val total = Relational.events(spark, sfDir).count()
    val rows = Relational.jsonExtract(spark, sfDir).collect()
    // the group-by partitions the table exactly: every event lands in a
    // prop_k group (the generator always emits {"k": int})
    assert(rows.map(_.getLong(1)).sum === total)
    assert(rows.forall(!_.isNullAt(0)), "well-formed props must parse")
    // corrupt / schema-mismatched JSON degrades to the NULL group
    import spark.implicits._
    val bad = Seq("""{"k": 1}""", "not json at all", """{"other": 2}""")
      .toDF("props").withColumn("value", lit(1.0))
    val parsed = bad.select(
      from_json(col("props"),
        org.apache.spark.sql.types.StructType.fromDDL("k INT"))
        .getField("k").as("k")).collect().map(r =>
      if (r.isNullAt(0)) None else Some(r.getInt(0)))
    assert(parsed === Array(Some(1), None, None))
    // the parse is a codegen'd expression fused into the scan stage — the
    // only exchange in the plan is the group-by's
    val plan = Relational.jsonExtract(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.split("Exchange").length <= 3, plan.take(1500)) // ≤2 (AQE reuse)
    assert(!plan.contains("ScalaUDF"), plan.take(1500))
  }

  test("summarize profiles every column: nulls, distincts, min/max") {
    import spark.implicits._
    val df = Seq(
      (Some(3L), Some("b")), (None, Some("a")), (Some(1L), None),
      (Some(3L), Some("c"))).toDF("num", "str")
    val got = Relational.summarize(df).collect()
      .map(r => r.getString(0) -> (r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getString(5), r.getString(6))).toMap
    assert(got("num") === (("bigint", 4L, 1L, 2L, "1", "3")))
    assert(got("str") === (("string", 4L, 1L, 3L, "a", "c")))
  }

  test("summarize over orders: one row per column, zero extra scans") {
    val prof = Relational.summarizeOrders(spark, sfDir)
    val rows = prof.collect()
    assert(rows.length === 6, "orders has 6 columns")
    val byName = rows.map(r => r.getString(0) -> r).toMap
    assert(byName("o_orderkey").getLong(4) === byName("o_orderkey").getLong(2),
      "o_orderkey is unique")
    assert(byName.values.forall(_.getLong(3) === 0L), "no nulls in orders")
    // one aggregate over one scan — no self-join-per-column anti-pattern
    // (take the final plan only: AQE's toString repeats an "Initial Plan")
    val plan = prof.queryExecution.executedPlan.toString
      .split("Initial Plan").head
    assert(!plan.contains("Join"), "profile must not join")
    assert("FileScan".r.findAllIn(plan).length <= 1, "single scan")
    assert("Expand".r.findAllIn(plan).length <= 1,
      "multi-distinct resolves to one Expand pass")
  }

  test("resampleLocf: dense hourly grid, last-in-hour wins, gaps carry " +
      "forward and are marked filled") {
    import spark.implicits._
    val h0 = 1704067200L // 2024-01-01 00:00:00 UTC, hour-aligned
    def ts(hour: Long, sec: Long) =
      new java.sql.Timestamp((h0 + hour * 3600 + sec) * 1000)
    // user 1: hours 0 (two events — later one wins), 3; user 2: hour 1
    val rows = Seq(
      (1L, 10L, 1.0, ts(0, 100)),
      (1L, 11L, 2.0, ts(0, 200)), // same hour, later ts → wins
      (1L, 12L, 9.0, ts(3, 50)),
      (2L, 20L, 5.0, ts(1, 10)))
    val tmp = java.nio.file.Files.createTempDirectory("locf").toString
    rows.toDF("user_id", "event_id", "value", "ts")
      .write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val out = Relational.resampleLocf(spark, tmp)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getDouble(2), r.getBoolean(3))).toMap
    val base = h0 / 3600
    assert(out === Map(
      (1L, base + 0) -> (2.0, false), // last-in-hour rule
      (1L, base + 1) -> (2.0, true),  // gap: carried + filled
      (1L, base + 2) -> (2.0, true),
      (1L, base + 3) -> (9.0, false),
      (2L, base + 1) -> (5.0, false)), s"got $out")
  }

  test("resampleLocf maxGridHours: a decade-spanning user is clamped to " +
      "the recent window, pre-window observations still seed the carry, " +
      "and the clamp is observable; in-contract users are untouched") {
    import spark.implicits._
    val h0 = 1704067200L // 2024-01-01 00:00:00 UTC, hour-aligned
    def ts(hour: Long) = new java.sql.Timestamp((h0 + hour * 3600) * 1000)
    val rows = Seq(
      (1L, 10L, 5.0, ts(0)),       // ancient observation (pre-window)
      (1L, 11L, 7.0, ts(100000L)), // ~11 years later
      (2L, 20L, 3.0, ts(50)),      // in-contract user: 3-hour span
      (2L, 21L, 4.0, ts(52)))
    val df = rows.toDF("user_id", "event_id", "value", "ts")
    val out = Relational.resampleLocfFrom(df, maxGridHours = 100)
    val got = out.collect().map(r => (r.getLong(0), r.getLong(1)) ->
      (r.getDouble(2), r.getBoolean(3))).toMap
    val base = h0 / 3600
    // user 1: exactly 100 grid hours ending at the last event, NOT
    // a 100k-row explosion
    val u1 = got.keys.filter(_._1 == 1L).map(_._2).toSeq.sorted
    assert(u1.size === 100 && u1.head === base + 99901 &&
      u1.last === base + 100000, s"clamped window wrong: $u1")
    // the ancient value CARRIES into the clamped window's left edge
    assert(got((1L, base + 99901)) === ((5.0, true)),
      s"pre-window observation must seed LOCF: ${got((1L, base + 99901))}")
    assert(got((1L, base + 100000)) === ((7.0, false)))
    // user 2 (span 3 <= 100) is bit-identical to the unclamped run
    val un = Relational.resampleLocfFrom(df, maxGridHours = 1000000)
      .filter(col("user_id") === 2L).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getDouble(2), r.getBoolean(3))).toMap
    assert(got.filter(_._1._1 == 2L) === un, "in-contract user changed")
    // the clamp surfaced through the (async) observe-metric listener
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    def clamps = Observations.last.values()
      .toArray(Array.empty[(Long, Long)])
    while (!clamps.contains((1L, 99901L)) &&
      System.nanoTime() < deadline) Thread.sleep(50)
    assert(clamps.contains((1L, 99901L)),
      s"expected (1 user, 99901 dropped hours) in ${clamps.toSeq}")
    intercept[IllegalArgumentException] {
      Relational.resampleLocfFrom(df, maxGridHours = 0)
    }
  }

  test("userAnomalies: planted outlier flagged, constant-value and " +
      "single-event users emit nothing") {
    import spark.implicits._
    val ts = java.sql.Timestamp.valueOf("2024-01-01 10:00:00")
    // user 1: 20 values of 10.0 plus one 500.0 outlier; user 2:
    // constant (std 0); user 3: single event
    val rows = (1 to 20).map(i => (i.toLong, 1L, 10.0, ts)) ++
      Seq((21L, 1L, 500.0, ts)) ++
      (30 to 35).map(i => (i.toLong, 2L, 7.0, ts)) ++
      Seq((40L, 3L, 99.0, ts))
    val tmp = java.nio.file.Files.createTempDirectory("anom").toString
    rows.toDF("event_id", "user_id", "value", "ts")
      .write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val got = Relational.userAnomalies(spark, tmp).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.map(_._1).toSet === Set(21L), s"got ${got.toSeq}")
    assert(got.head._3 > 4.0, s"outlier z ${got.head._3}")
    intercept[IllegalArgumentException](
      Relational.userAnomalies(spark, tmp, zThreshold = 0.0))
  }

  test("multi-join battery: broadcast dims, pushed scan filters, " +
      "TakeOrdered top-k, no cartesian") {
    for ((name, df) <- Seq(
        "q3" -> Relational.tpchQ3(spark, sfDir),
        "q5" -> Relational.tpchQ5(spark, sfDir),
        "q10" -> Relational.tpchQ10(spark, sfDir))) {
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("BroadcastHashJoin"),
        s"$name: dims must broadcast\n$plan")
      assert(!plan.contains("CartesianProduct") &&
        !plan.contains("BroadcastNestedLoopJoin"),
        s"$name: no nested-loop/cartesian\n$plan")
      assert(df.collect().nonEmpty, s"$name returned no rows")
    }
    // Q3/Q10's top-k never globally sorts; date filters reach the scan
    val q3 = Relational.tpchQ3(spark, sfDir).queryExecution
      .executedPlan.toString
    assert(q3.contains("TakeOrderedAndProject"), q3)
    assert(q3.contains("PushedFilters: [IsNotNull(l_shipdate), " +
        "GreaterThan(l_shipdate") ||
      q3.matches("(?s).*PushedFilters.*GreaterThan\\(l_shipdate.*"),
      s"l_shipdate filter must push to the parquet scan\n$q3")
  }

  test("a plain join runs its build-side lineage exactly ONCE") {
    import spark.implicits._
    val acc = spark.sparkContext.longAccumulator("join_build_lineage_rows")
    val bump = udf { (k: Long) => acc.add(1); k }.asNondeterministic()
    // the build side carries an accumulator-bumping stage standing in
    // for an expensive lineage (corpusDiff / touched-key distinct)
    val dim = (1L to 20L).toDF("k0").select(bump(col("k0")).as("k"))
    val fact = (1L to 200L).map(i => (i % 20 + 1, i)).toDF("k", "v")
    // no static broadcast: the join is planned as a shuffle join and
    // AQE alone turns it into a broadcast at run time
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val joined = fact.join(dim, Seq("k"))
      assert(joined.count() === 200L)
      assert(acc.value === 20L,
        s"build-side lineage must run exactly once - ran " +
          s"${acc.value / 20.0} times")
    }
  }

  private def bloomJoin =
    graft.entries.RelationalEntries.queries("q_bloom_join")

  test("q_bloom_join: Spark's runtime Bloom filter prunes the lineitem " +
      "scan of the plain join, same rows") {
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    val plain = rows(bloomJoin(spark, sfDir))
    // a shuffle join over a scan above the (lowered) size threshold: the
    // shape InjectRuntimeFilter targets at scale
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.optimizer.runtime.bloomFilter." +
        "applicationSideScanSizeThreshold" -> "1") {
      val df = bloomJoin(spark, sfDir)
      val optimized = df.queryExecution.optimizedPlan.toString
      assert(optimized.contains("might_contain") &&
        optimized.contains("bloom_filter_agg"), optimized)
      assert(rows(df) === plain)
      // AQE's final plan keeps the filter on the lineitem scan
      val executed = df.queryExecution.executedPlan.toString
      assert(executed.contains("might_contain"), executed)
    }
  }

  test("q_bloom_join builds its plan without running a job") {
    val (_, jobs) = jobsDuring(bloomJoin(spark, sfDir))
    assert(jobs === 0, s"$jobs jobs")
  }
}

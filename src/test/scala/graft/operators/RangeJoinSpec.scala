package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class RangeJoinSpec extends SparkSpec {

  test("binned interval join equals the naive inequality join") {
    import spark.implicits._
    val probe = Seq((1L, 0L, 10L), (2L, 95L, 115L), (3L, 196L, 196L))
      .toDF("pid", "plo", "phi")
    val build = (0L to 300L by 7L).map(v => (v, v)).toDF("bid", "bv")
    val got = RangeJoin.intervalJoin(probe, col("plo"), col("phi"),
        build, col("bv"), binWidth = 16L)
      .select("pid", "bid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = probe.crossJoin(build)
      .filter(col("bv").between(col("plo"), col("phi")))
      .select("pid", "bid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === want)
    assert(want.nonEmpty && want.contains((3L, 196L)),
      "point interval (lo == hi) must match")
  }

  test("rewrite is exact (no duplicate pairs) and never nested-loops") {
    val df = RangeJoin.errorClickProximity(spark, sfDir)
    val n = df.count()
    assert(n === df.dropDuplicates("error_id", "click_id").count(),
      "each (probe, build) pair must appear exactly once")
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"))
    assert(!plan.contains("BroadcastNestedLoop"))
    // the ±60 s tolerance must actually bound the gap (microsecond-exact)
    assert(df.filter(abs(col("gap_us")) > 60000000L).count() === 0)
  }

  test("fan-out guard: a pathological interval/binWidth ratio refuses before the explode") {
    import spark.implicits._
    // one interval 10^12 bins wide: the pre-r15 behavior was a
    // trillion-row generate discovered only when the job ran
    val probe = Seq((1L, 0L, 1000000000000L)).toDF("pid", "plo", "phi")
    val build = Seq((1L, 5L)).toDF("bid", "bv")
    val e = intercept[IllegalStateException] {
      RangeJoin.intervalJoin(probe, col("plo"), col("phi"),
        build, col("bv"), binWidth = 1L)
    }
    assert(e.getMessage.contains("intervalJoin"))
    assert(e.getMessage.contains("binWidth"))
    // overlapJoin guards BOTH sides — the b side fires too
    val e2 = intercept[IllegalStateException] {
      RangeJoin.overlapJoin(
        Seq((1L, 0L, 10L)).toDF("a_id", "alo", "ahi"), col("alo"), col("ahi"),
        probe.toDF("b_id", "blo", "bhi"), col("blo"), col("bhi"),
        binWidth = 1L)
    }
    assert(e2.getMessage.contains("overlapJoin(b)"))
    // disabled budget waives the guard (deliberate opt-out) — lazy
    // construction succeeds; we don't execute the trillion-row plan
    spark.conf.set(graft.operators.PairGuard.BudgetConf, "0")
    try {
      val df = RangeJoin.intervalJoin(probe, col("plo"), col("phi"),
        build, col("bv"), binWidth = 1L)
      assert(df.columns.nonEmpty)
    } finally spark.conf.unset(graft.operators.PairGuard.BudgetConf)
    // and the sane-width call on the same data passes silently
    assert(RangeJoin.intervalJoin(probe, col("plo"), col("phi"),
      build, col("bv"), binWidth = 500000000000L).count() === 1)
  }

  test("fan-out guard: a wrapped Long span saturates to huge instead of disarming") {
    import spark.implicits._
    // r15 advice fixture: floorDiv(hi,1) - floorDiv(lo,1) + 1 wraps the
    // plain Long subtraction NEGATIVE for a near-full-domain span, and a
    // greatest(0, ·) clamp then read the most pathological interval as
    // zero fan-out — guard disarmed exactly where it matters. The
    // saturating form must refuse.
    val probe = Seq((1L, Long.MinValue + 10L, Long.MaxValue - 10L))
      .toDF("pid", "plo", "phi")
    val build = Seq((1L, 5L)).toDF("bid", "bv")
    val e = intercept[IllegalStateException] {
      RangeJoin.intervalJoin(probe, col("plo"), col("phi"),
        build, col("bv"), binWidth = 1L)
    }
    assert(e.getMessage.contains("intervalJoin"))
    // inverted intervals (hi < lo) still price as zero — no-rows semantics
    val inv = Seq((1L, 100L, 0L)).toDF("pid", "plo", "phi")
    assert(RangeJoin.intervalJoin(inv, col("plo"), col("phi"),
      build, col("bv"), binWidth = 1L).count() === 0)
  }

  test("fan-out guard: overlapJoin prices both sides in ONE action") {
    import spark.implicits._
    // r16 (verdict task #5): the r15 guard ran one eager aggregate per
    // side — two extra pre-flight actions before the join's own scans,
    // the whole q_overlap_join gate move. The combined guard must price
    // both sides of one overlapJoin call in a single SQL execution
    // (jobs-per-execution varies under AQE; executions don't).
    val a = Seq((1L, 0L, 10L)).toDF("a_id", "alo", "ahi")
    val b = Seq((2L, 5L, 15L)).toDF("b_id", "blo", "bhi")
    val execs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onOtherEvent(e: org.apache.spark.scheduler.SparkListenerEvent): Unit =
        e match {
          case _: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
            execs.incrementAndGet()
          case _ => ()
        }
    }
    spark.sparkContext.addSparkListener(listener)
    Artifacts.clear() // count this call's own pricing action
    try {
      // construction runs ONLY the guard (the join itself is lazy)
      RangeJoin.overlapJoin(a, col("alo"), col("ahi"),
        b, col("blo"), col("bhi"), binWidth = 10L)
      // listener events post asynchronously, but every guard action was
      // SUBMITTED synchronously before the constructor returned — poll
      // until the first event lands, then give any second one a beat
      val deadline = System.nanoTime() + 5000000000L
      while (execs.get() < 1 && System.nanoTime() < deadline)
        Thread.sleep(20)
      Thread.sleep(300)
      assert(execs.get() === 1,
        s"guard must price both sides in one action, saw ${execs.get()}")
      // r16: a REPEAT of the semantically identical call hits the
      // plan-keyed memo — zero further pricing actions (the steady-state
      // TVF/scheduled-job shape pays the pre-flight once per session)
      RangeJoin.overlapJoin(a, col("alo"), col("ahi"),
        b, col("blo"), col("bhi"), binWidth = 10L)
      Thread.sleep(300)
      assert(execs.get() === 1,
        s"repeat call must reuse the memoized sums, saw ${execs.get()}")
      // ...while the same shape at a DIFFERENT binWidth re-prices (the
      // width is part of the span expressions, hence of the key)
      RangeJoin.overlapJoin(a, col("alo"), col("ahi"),
        b, col("blo"), col("bhi"), binWidth = 5L)
      val d2 = System.nanoTime() + 5000000000L
      while (execs.get() < 2 && System.nanoTime() < d2) Thread.sleep(20)
      assert(execs.get() === 2,
        s"different binWidth must re-price, saw ${execs.get()}")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("exact bins above 2^53: nanosecond-epoch intervals keep their true matches") {
    // r14 verdict headline regression fixture: LONGs above 2^53 are not
    // exactly representable in a double, so the pre-r15 double-floor
    // bins could round a probe's lo/hi and a build value ACROSS a bin
    // boundary independently and silently drop a true match. Oracle is
    // the naive crossJoin + BETWEEN (exact Long comparison).
    import spark.implicits._
    val ns = 1700000000000000000L // ~2023 in nanoseconds, ulp(double)=256
    val p53 = 9007199254740992L   // 2^53
    val probe = Seq(
      (1L, ns + 896L - 500L, ns + 896L + 500L),  // the verified mis-floor value
      (2L, ns - 104L, ns + 1896L),
      (3L, p53 - 2L, p53 + 2L),
      (4L, Long.MaxValue - 1500L, Long.MaxValue - 100L))
      .toDF("pid", "plo", "phi")
    val build = Seq((10L, ns + 896L), (11L, ns + 1000L), (12L, ns - 104L),
      (13L, p53 + 1L), (14L, p53 - 1L), (15L, Long.MaxValue - 1000L),
      (16L, ns + 1397L))
      .toDF("bid", "bv")
    val got = RangeJoin.intervalJoin(probe, col("plo"), col("phi"),
        build, col("bv"), binWidth = 1000L)
      .select("pid", "bid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = probe.crossJoin(build)
      .filter(col("bv").between(col("plo"), col("phi")))
      .select("pid", "bid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === want)
    // every probe interval must have found at least one build point
    assert(want.map(_._1) === Set(1L, 2L, 3L, 4L))
  }

  test("exact bins above 2^53: overlap join on nanosecond-epoch windows") {
    import spark.implicits._
    val ns = 1700000000000000000L
    val a = Seq((1L, ns + 896L, ns + 1896L), (2L, ns - 2500L, ns - 1500L))
      .toDF("a_id", "alo", "ahi")
    val b = Seq((10L, ns + 1800L, ns + 2800L), (11L, ns - 1600L, ns - 600L),
      (12L, ns + 5000L, ns + 6000L))
      .toDF("b_id", "blo", "bhi")
    val got = RangeJoin.overlapJoin(a, col("alo"), col("ahi"),
        b, col("blo"), col("bhi"), binWidth = 1000L)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = a.crossJoin(b)
      .filter(col("alo") <= col("bhi") && col("blo") <= col("ahi"))
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === want)
    assert(want === Set((1L, 10L), (2L, 11L)))
  }
}

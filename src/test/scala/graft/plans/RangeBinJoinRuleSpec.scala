package graft.plans

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The band-join auto-bin rule: fires on pure range (band) join
  * conditions, turns the BNLJ/cartesian plan into a binned equi-join
  * with identical rows, adds the explicit equality for zero-width
  * bands, and leaves every gated shape untouched. */
class RangeBinJoinRuleSpec extends SparkSpec {

  /** The shared session carries the rule; a baseline of the unrewritten
    * (nested-loop) plan switches it off with Spark's own
    * `spark.sql.optimizer.excludedRules`. */
  private def withoutRule[A](body: => A): A = {
    spark.conf.set("spark.sql.optimizer.excludedRules", RangeBinJoinRule.ruleName)
    try body
    finally spark.conf.unset("spark.sql.optimizer.excludedRules")
  }

  private def optimized(df: DataFrame): String =
    df.queryExecution.optimizedPlan.toString

  private lazy val events =
    graft.operators.Relational.events(spark, sfDir)

  test("timestamp band join: rewrite fires, rows identical to the unrewritten plan") {
    events.createOrReplaceTempView("ev_rule_test")
    val sql =
      """SELECT e.event_id AS error_id, c.event_id AS click_id
        |FROM ev_rule_test e JOIN ev_rule_test c
        |  ON e.event_type = 'error' AND c.event_type = 'click'
        | AND c.ts BETWEEN e.ts - INTERVAL 30 MINUTE
        |                AND e.ts + INTERVAL 30 MINUTE""".stripMargin
    val without = withoutRule(spark.sql(sql).collect()).map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(without.nonEmpty, "fixture must produce matches")
    val df = spark.sql(sql)
    val opt = optimized(df)
    assert(opt.contains("__graft_range_bin"), opt)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoop") && !plan.contains("Cartesian"),
      s"rewritten plan must not nested-loop:\n$plan")
    val got = df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === without)
  }

  test("integral band join (long columns, asymmetric band, strict bounds)") {
    import spark.implicits._
    val a = Seq((1L, 100L), (2L, 250L), (3L, 999L)).toDF("a_id", "a_v")
    val b = Seq((10L, 90L), (11L, 260L), (12L, 5000L)).toDF("b_id", "b_v")
    a.createOrReplaceTempView("rb_a"); b.createOrReplaceTempView("rb_b")
    for (cond <- Seq(
      "a_v >= b_v - 15 AND a_v <= b_v + 20",   // inclusive asymmetric
      "a_v > b_v - 16 AND a_v < b_v + 21")) {  // strict, same band
      val sql = s"SELECT a_id, b_id FROM rb_a JOIN rb_b ON $cond"
      val without = withoutRule(spark.sql(sql).collect()).map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(without === Set((1L, 10L), (2L, 11L)))
      val df = spark.sql(sql)
      assert(optimized(df).contains("__graft_range_bin"), optimized(df))
      assert(df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet === without)
    }
  }

  test("zero-width band becomes an explicit equi-join (no generate)") {
    import spark.implicits._
    Seq((1L, 5L)).toDF("a_id", "a_v").createOrReplaceTempView("rb_z1")
    Seq((2L, 8L)).toDF("b_id", "b_v").createOrReplaceTempView("rb_z2")
    val df = spark.sql(
      "SELECT a_id, b_id FROM rb_z1 JOIN rb_z2 ON a_v >= b_v - 3 AND a_v <= b_v - 3")
    val opt = optimized(df)
    assert(!opt.contains("__graft_range_bin"), opt)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoop") && !plan.contains("Cartesian"),
      s"zero-width band must plan as a hash/merge join:\n$plan")
    assert(df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq === Seq((1L, 2L)))
  }

  test("gates: equi-conjunct present, outer join, non-foldable bound — all untouched") {
    import spark.implicits._
    val a = Seq((1L, 5L, 1L)).toDF("a_id", "a_v", "a_k")
    val b = Seq((2L, 6L, 1L, 2L)).toDF("b_id", "b_v", "b_k", "b_w")
    a.createOrReplaceTempView("rb_g1"); b.createOrReplaceTempView("rb_g2")
    // equi-conjunct already extractable → no rewrite
    val equi = spark.sql("SELECT a_id FROM rb_g1 JOIN rb_g2 ON a_k = b_k " +
      "AND a_v BETWEEN b_v - 5 AND b_v + 5")
    assert(!optimized(equi).contains("__graft_range_bin"), optimized(equi))
    assert(equi.count() == 1)
    // every outer type rewrites since r16 — see the dedicated
    // parity tests below for RIGHT and FULL
    // non-foldable bound (column width) → untouched
    val dyn = spark.sql("SELECT a_id FROM rb_g1 JOIN rb_g2 " +
      "ON a_v BETWEEN b_v - b_w AND b_v + b_w")
    assert(!optimized(dyn).contains("__graft_range_bin"), optimized(dyn))
    assert(dyn.count() == 1)
    // Spark's excludedRules switches the rule off, and only while set
    val band = "SELECT a_id FROM rb_g1 JOIN rb_g2 " +
      "ON a_v BETWEEN b_v - 5 AND b_v + 5"
    val off = withoutRule(optimized(spark.sql(band)))
    assert(!off.contains("__graft_range_bin"), off)
    assert(optimized(spark.sql(band)).contains("__graft_range_bin"))
  }

  test("LEFT OUTER band join: rewrite fires, null-extension exact vs the BNLJ plan on the adversarial fixture") {
    import spark.implicits._
    // adversarial: unmatched lefts (null-extension), a left with TWO
    // matches (multiset preserved), a null right point (dropped under
    // the generate, still no match), duplicate left values, and
    // nanosecond-epoch magnitudes where a double floor would mis-bin
    val ns = 1700000000000000000L
    val a = Seq((1L, 100L), (2L, 250L), (3L, 999L), (4L, 250L),
      (5L, ns + 896L)).toDF("a_id", "a_v")
    val b = Seq((10L, 90L), (11L, 260L), (12L, 5000L), (13L, 245L),
      (14L, ns + 900L))
      .toDF("b_id", "b_v")
      .unionByName(Seq((15L, Option.empty[Long])).toDF("b_id", "b_v"))
    a.createOrReplaceTempView("rb_lo_a"); b.createOrReplaceTempView("rb_lo_b")
    for (jt <- Seq("LEFT JOIN", "LEFT OUTER JOIN")) {
      val sql = s"SELECT a_id, b_id FROM rb_lo_a $jt rb_lo_b " +
        "ON a_v >= b_v - 15 AND a_v <= b_v + 20"
      val without = withoutRule(spark.sql(sql).collect())
        .map(r => (r.getLong(0), if (r.isNullAt(1)) null else r.getLong(1)))
        .groupBy(identity).view.mapValues(_.length).toMap
      // the fixture must exercise every adversarial shape
      assert(without.keySet.exists(_._2 == null), "needs unmatched lefts")
      assert(without.keySet.count(_._1 == 2L) == 2, "left 2 has two matches")
      val df = spark.sql(sql)
      assert(optimized(df).contains("__graft_range_bin"), optimized(df))
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoop") && !plan.contains("Cartesian"),
        s"rewritten LEFT OUTER band join must not nested-loop:\n$plan")
      val got = df.collect()
        .map(r => (r.getLong(0), if (r.isNullAt(1)) null else r.getLong(1)))
        .groupBy(identity).view.mapValues(_.length).toMap
      assert(got === without)
    }
  }

  test("RIGHT and FULL OUTER band joins: mirrored/unioned rewrites exact vs the BNLJ plan on the adversarial fixture") {
    import spark.implicits._
    // the same adversarial shapes as the LEFT OUTER test, but now the
    // UNMATCHED rows on BOTH sides matter: unmatched lefts (null-extend
    // under FULL only), unmatched rights (null-extend under RIGHT and
    // FULL, exactly once despite the two bin copies), a multi-match
    // left, null points on both sides, and 2^53-straddling magnitudes
    val ns = 1700000000000000000L
    val a = Seq((1L, Some(100L)), (2L, Some(250L)), (3L, Some(999L)),
      (4L, Some(250L)), (5L, Some(ns + 896L)), (6L, Option.empty[Long]))
      .toDF("a_id", "a_v")
    val b = Seq((10L, Some(90L)), (11L, Some(260L)), (12L, Some(5000L)),
      (13L, Some(245L)), (14L, Some(ns + 900L)), (15L, Option.empty[Long]))
      .toDF("b_id", "b_v")
    a.createOrReplaceTempView("rb_rf_a"); b.createOrReplaceTempView("rb_rf_b")
    for (jt <- Seq("RIGHT JOIN", "FULL JOIN")) {
      val sql = s"SELECT a_id, b_id FROM rb_rf_a $jt rb_rf_b " +
        "ON a_v >= b_v - 15 AND a_v <= b_v + 20"
      def bag(rows: Array[org.apache.spark.sql.Row]) = rows
        .map(r => (if (r.isNullAt(0)) null else r.getLong(0),
          if (r.isNullAt(1)) null else r.getLong(1)))
        .groupBy(identity).view.mapValues(_.length).toMap
      val without = bag(withoutRule(spark.sql(sql).collect()))
      assert(without.keySet.exists(_._1 == null), "needs unmatched rights")
      val df = spark.sql(sql)
      assert(optimized(df).contains("__graft_range_bin"), optimized(df))
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoop") && !plan.contains("Cartesian"),
        s"rewritten $jt band join must not nested-loop:\n$plan")
      assert(bag(df.collect()) === without, jt)
    }
  }

  test("LEFT SEMI / LEFT ANTI band joins: existence preserved under the rewrite") {
    import spark.implicits._
    val a = Seq((1L, 100L), (2L, 250L), (3L, 999L)).toDF("a_id", "a_v")
    val b = Seq((10L, 90L), (11L, 260L), (13L, 245L)).toDF("b_id", "b_v")
    a.createOrReplaceTempView("rb_sa_a"); b.createOrReplaceTempView("rb_sa_b")
    for ((jt, want) <- Seq(
      ("LEFT SEMI JOIN", Set(1L, 2L)),
      ("LEFT ANTI JOIN", Set(3L)))) {
      val sql = s"SELECT a_id FROM rb_sa_a $jt rb_sa_b " +
        "ON a_v >= b_v - 15 AND a_v <= b_v + 20"
      assert(withoutRule(spark.sql(sql).collect()).map(_.getLong(0)).toSet === want)
      val df = spark.sql(sql)
      assert(optimized(df).contains("__graft_range_bin"), optimized(df))
      // semi/anti emit each left AT MOST ONCE even though left 2
      // matches two right rows across bin copies
      assert(df.collect().map(_.getLong(0)).toSet === want)
      assert(df.count() === want.size)
    }
  }

  test("idempotent under repeated application; GraftExtensions sessions carry the rule") {
    events.createOrReplaceTempView("ev_rule_test2")
    val df = spark.sql("SELECT e.event_id FROM ev_rule_test2 e JOIN " +
      "ev_rule_test2 c ON c.ts BETWEEN e.ts - INTERVAL 60 SECOND " +
      "AND e.ts + INTERVAL 60 SECOND AND e.event_type = 'error' " +
      "AND c.event_type = 'click'")
    val opt = df.queryExecution.optimizedPlan
    // exactly ONE generated bin attribute even though the optimizer
    // batch runs to fixed point
    val bins = opt.collect {
      case g: org.apache.spark.sql.catalyst.plans.logical.Generate
        if g.generatorOutput.exists(_.name == "__graft_range_bin") => g
    }
    assert(bins.size == 1, opt.toString)
  }

  test("comma-join + WHERE clause shape: pushdown delivers the band to the join and the rule fires") {
    import spark.implicits._
    Seq((1L, 100L), (2L, 500L)).toDF("a_id", "a_v")
      .createOrReplaceTempView("rb_w1")
    Seq((10L, 103L), (11L, 900L)).toDF("b_id", "b_v")
      .createOrReplaceTempView("rb_w2")
    val df = spark.sql("SELECT a_id, b_id FROM rb_w1, rb_w2 " +
      "WHERE a_v BETWEEN b_v - 5 AND b_v + 5")
    assert(optimized(df).contains("__graft_range_bin"), optimized(df))
    assert(df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq ===
      Seq((1L, 10L)))
  }

  test("INT/SHORT column band join: rewrite resolves (Long-domain widening) and rows match") {
    // r15 advice fix: the rewrite used to build Add(er, Literal(k: Long))
    // against an INT point, leaving the plan UNRESOLVED and failing
    // previously-working BNLJ queries with PLAN_VALIDATION_FAILED
    import spark.implicits._
    Seq((1, 100), (2, 250), (3, 999)).toDF("a_id", "a_v")
      .createOrReplaceTempView("rb_i1")
    Seq((10, 90), (11, 260), (12, 5000)).toDF("b_id", "b_v")
      .createOrReplaceTempView("rb_i2")
    val sql = "SELECT a_id, b_id FROM rb_i1 JOIN rb_i2 " +
      "ON a_v >= b_v - 15 AND a_v <= b_v + 20"
    val without = withoutRule(spark.sql(sql).collect()).map(r => (r.getInt(0), r.getInt(1))).toSet
    assert(without === Set((1, 10), (2, 11)))
    val df = spark.sql(sql)
    assert(optimized(df).contains("__graft_range_bin"), optimized(df))
    assert(df.collect().map(r => (r.getInt(0), r.getInt(1))).toSet === without)
    // SHORT columns + the zero-width (equality) path also resolve
    Seq((1, 5.toShort)).toDF("s_id", "s_v").createOrReplaceTempView("rb_s1")
    Seq((2, 8.toShort)).toDF("t_id", "t_v").createOrReplaceTempView("rb_s2")
    val zw = spark.sql("SELECT s_id, t_id FROM rb_s1 JOIN rb_s2 " +
      "ON s_v >= t_v - 3 AND s_v <= t_v - 3")
    assert(zw.collect().map(r => (r.getInt(0), r.getInt(1))).toSeq === Seq((1, 2)))
  }

  test("exact bins above 2^53: values a double floor would mis-bin keep their true matches") {
    // r14 verdict headline: floor(cast(x as double)/w) rounds above
    // 2^53, the two sides round INDEPENDENTLY, and a true match whose
    // bins rounded across a boundary was silently dropped. Fixture:
    // nanosecond-epoch values around 1.7e18 (the verdict's verified
    // mis-floor: 1700000000000000896/1000 floors to …001 in double vs
    // …000 exact) plus pairs straddling 2^53 itself, joined on a ±1000
    // band and compared against the unrewritten (BNLJ) rows.
    import spark.implicits._
    val p53 = 9007199254740992L // 2^53
    val ns = 1700000000000000000L
    val aVals = Seq(ns + 896L, ns + 1000L, p53 - 2L, p53 + 2L, 4L)
    val bVals = Seq(ns + 896L, ns - 104L, ns + 1896L, p53 + 1L, p53 - 1L, 1004L)
    aVals.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("a_id", "a_v").createOrReplaceTempView("rb_53a")
    bVals.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("b_id", "b_v").createOrReplaceTempView("rb_53b")
    val sql = "SELECT a_id, b_id FROM rb_53a JOIN rb_53b " +
      "ON a_v BETWEEN b_v - 1000 AND b_v + 1000"
    val without = withoutRule(spark.sql(sql).collect()).map(r => (r.getLong(0), r.getLong(1))).toSet
    // every a value has at least one in-band b partner by construction
    assert(without.map(_._1) === aVals.indices.map(_.toLong).toSet)
    val df = spark.sql(sql)
    assert(optimized(df).contains("__graft_range_bin"), optimized(df))
    assert(df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet === without)
  }

  test("negative domain + null points: exact floor handles both sides of zero; null right rows drop") {
    import spark.implicits._
    val a = Seq((1L, Long.box(-1000L)), (2L, Long.box(-1L)), (3L, Long.box(0L)),
      (4L, null.asInstanceOf[java.lang.Long])).toDF("a_id", "a_v")
    val b = Seq((10L, Long.box(-995L)), (11L, Long.box(3L)),
      (12L, null.asInstanceOf[java.lang.Long])).toDF("b_id", "b_v")
    a.createOrReplaceTempView("rb_n1"); b.createOrReplaceTempView("rb_n2")
    val sql = "SELECT a_id, b_id FROM rb_n1 JOIN rb_n2 " +
      "ON a_v BETWEEN b_v - 7 AND b_v + 7"
    val without = withoutRule(spark.sql(sql).collect()).map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(without === Set((1L, 10L), (2L, 11L), (3L, 11L)))
    val df = spark.sql(sql)
    assert(optimized(df).contains("__graft_range_bin"), optimized(df))
    assert(df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet === without)
  }

  test("randomized parity: binned rows equal nested-loop rows on adversarial data") {
    import spark.implicits._
    val rnd = new scala.util.Random(99)
    def mk(p: String) = (0 until 150).map { i =>
      val v: java.lang.Long =
        if (rnd.nextInt(10) == 0) null else Long.box(rnd.nextInt(400).toLong - 200)
      (i.toLong, v)
    }.toDF(s"${p}_id", s"${p}_v")
    mk("a").createOrReplaceTempView("rb_r1")
    mk("b").createOrReplaceTempView("rb_r2")
    val sql = "SELECT a_id, b_id FROM rb_r1 JOIN rb_r2 " +
      "ON a_v BETWEEN b_v - 17 AND b_v + 4"
    val without = withoutRule(spark.sql(sql).collect()).map(r => (r.getLong(0), r.getLong(1))).toSet
    val df = spark.sql(sql)
    assert(optimized(df).contains("__graft_range_bin"), optimized(df))
    assert(df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet === without)
    assert(without.nonEmpty)
  }
}

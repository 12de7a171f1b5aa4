package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** The host-operator capability surface (SURVEY.md §2B): every relational
  * construct the reference's documented workload exercises — projection,
  * filters, equi-joins (all four kinds, incl. 2-key), aggregation with
  * computed keys + HAVING, multi-key sort/limit, set ops, conditional and
  * string scalar expressions (incl. Arabic literals), and datetime bucketing
  * — expressed as declarative DataFrame plans over the parquet test tables.
  *
  * Scale notes (100 TB design intent, verified via .explain on each query):
  *  - Filters/projections sit directly on the scan → Catalyst pushes
  *    predicates + prunes columns into the parquet reader.
  *  - Dimension-side joins (nation: 25 rows, customer: 0.15M×sf) are
  *    broadcast; Spark's AQE picks broadcast automatically under the
  *    10 MB threshold, and small dims here are always under it.
  *  - Aggregations are partial (map-side combine) before the shuffle; the
  *    shuffle key is the group key, so the plan scales linearly with
  *    executors and has no driver-side collection anywhere.
  *  - Top-N (sort+limit) uses TakeOrderedAndProject — no global sort.
  */
object Relational {

  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    ParquetInput.read(spark, s"$dir/$name.parquet")

  /** Money-sum with deterministic, engine-independent result: cast each
    * value to DECIMAL(18,2) (cents), sum exactly, cast back to double.
    * A plain double sum depends on accumulation order, which differs
    * between partitions/engines at the ULP level — this removes that. */
  private def moneySum(c: Column): Column =
    sum(c.cast("decimal(18,2)")).cast("double")

  /** Projection with aliasing + scalar expressions (SURVEY §2B projection). */
  def projection(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "part").select(
      col("p_partkey"),
      upper(col("p_brand")).as("brand_u"),
      (col("p_retailprice") * lit(0.9)).as("discounted"),
      concat_ws("-", col("p_brand"), col("p_type")).as("brand_type"),
      (col("p_size") + lit(100)).as("size_adj"))

  /** Filter battery: BETWEEN, equality, IS NOT NULL (SURVEY §2B filter). */
  def filterBetween(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "lineitem")
      .filter(col("l_quantity").between(10, 20) &&
        col("l_returnflag") === "R" && col("l_shipdate").isNotNull)
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")

  /** Filter battery: LIKE + IN + comparison. */
  def filterLikeIn(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "part")
      .filter(col("p_name").like("%gear%") &&
        col("p_brand").isin("Brand#1", "Brand#9", "Brand#13") &&
        col("p_size") >= 10)
      .select("p_partkey", "p_name", "p_brand", "p_size")

  /** Inner equi-join orders⋈customer + aggregation by market segment.
    * customer is the small side → broadcastable on a cluster. */
  def joinInner(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "orders")
      .join(table(spark, dir, "customer"),
        col("o_custkey") === col("c_custkey"), "inner")
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_orders"),
        moneySum(col("o_totalprice")).as("total_revenue"))

  /** LEFT join keeps all 25 nations, incl. ones with no customers. */
  def joinLeft(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "nation").as("n")
      .join(table(spark, dir, "customer").as("c"),
        col("n.n_nationkey") === col("c.c_nationkey"), "left")
      .groupBy("n_nationkey", "n_name")
      .agg(count(col("c.c_custkey")).as("n_customers"))

  /** RIGHT join: same semantics from the other side. */
  def joinRight(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "supplier").as("s")
      .join(table(spark, dir, "nation").as("n"),
        col("s.s_nationkey") === col("n.n_nationkey"), "right")
      .groupBy("n_nationkey", "n_name")
      .agg(count(col("s.s_suppkey")).as("n_suppliers"))

  /** FULL OUTER join of per-nation customer and supplier aggregates;
    * COALESCE fills the unmatched side. */
  def joinFull(spark: SparkSession, dir: String): DataFrame = {
    val cust = table(spark, dir, "customer")
      .groupBy(col("c_nationkey").as("nk_c")).agg(count(lit(1)).as("n_cust"))
    val supp = table(spark, dir, "supplier")
      .groupBy(col("s_nationkey").as("nk_s")).agg(count(lit(1)).as("n_supp"))
    cust.join(supp, col("nk_c") === col("nk_s"), "full")
      .select(coalesce(col("nk_c"), col("nk_s")).as("nationkey"),
        coalesce(col("n_cust"), lit(0L)).as("n_cust"),
        coalesce(col("n_supp"), lit(0L)).as("n_supp"))
  }

  /** 2-key equi-join, the reference's (country, year) join pattern
    * (notebooks/sudan_sql_basics.ipynb cells 72-78) re-expressed over
    * orders: per-(custkey, year) order count ⋈ revenue on both keys. */
  def join2Key(spark: SparkSession, dir: String): DataFrame = {
    val o = table(spark, dir, "orders")
    val counts = o.groupBy(col("o_custkey").as("custkey"),
        year(col("o_orderdate")).as("yr"))
      .agg(count(lit(1)).as("n_orders"))
    val revenue = o.groupBy(col("o_custkey").as("custkey"),
        year(col("o_orderdate")).as("yr"))
      .agg(moneySum(col("o_totalprice")).as("revenue"))
    counts.join(revenue, Seq("custkey", "yr"), "inner")
      .filter(col("n_orders") >= 2)
  }

  /** Exact decimal discounted price — price and discount are 2-decimal
    * values, so decimal×decimal is exact in both engines (the
    * [[aggQ1]] convention, shared by the multi-join battery). */
  private def discPrice: Column =
    col("l_extendedprice").cast("decimal(18,2)") *
      (lit(1).cast("decimal(4,2)") - col("l_discount").cast("decimal(4,2)"))

  /** TPC-H Q3-shaped 3-table analytics: two filtered fact tables joined
    * on the order key, a broadcast-pruned dim (segment-filtered
    * customers), revenue top-10. The join-order story at 100 TB: both
    * fact scans carry their date filter into the parquet read (NTZ
    * timestamp pushdown), the dim is `broadcast()`-hinted so the
    * fact⋈fact shuffle never carries customer rows, and the top-10 is
    * TakeOrderedAndProject (per-partition heap, k-row driver merge),
    * never a global sort. */
  def tpchQ3(spark: SparkSession, dir: String): DataFrame = {
    val cust = table(spark, dir, "customer")
      .filter(col("c_mktsegment") === "BUILDING").select("c_custkey")
    val ord = table(spark, dir, "orders")
      .filter(col("o_orderdate") < lit("1998-06-01"))
      .select("o_orderkey", "o_custkey", "o_orderdate")
    val li = table(spark, dir, "lineitem")
      .filter(col("l_shipdate") > lit("1998-06-01"))
      .select(col("l_orderkey"), discPrice.as("rev"))
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .groupBy(col("l_orderkey").as("orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("orderdate"))
      .agg(sum("rev").cast("double").as("revenue"))
      .orderBy(col("revenue").desc, col("orderkey").asc)
      .limit(10)
  }

  /** TPC-H Q5-shaped 6-table join: local-supplier volume per nation in
    * one region-year slice — lineitem ⋈ orders ⋈ customer ⋈ supplier
    * (with the customer-nation = supplier-nation "local" condition
    * folded into the supplier join) ⋈ nation ⋈ region. The dims chain
    * region→nation BEFORE touching facts (5-row broadcast prunes
    * nation, which broadcasts into the fact pipeline), so the only
    * shuffles are the fact-side equi-joins; Catalyst reorders freely
    * because everything is declarative equi-join + filter. */
  def tpchQ5(spark: SparkSession, dir: String): DataFrame = {
    val nat = table(spark, dir, "nation")
      .join(broadcast(table(spark, dir, "region")
          .filter(col("r_name") === "ASIA").select("r_regionkey")),
        col("n_regionkey") === col("r_regionkey"))
      .select("n_nationkey", "n_name")
    val ord = table(spark, dir, "orders")
      .filter(col("o_orderdate") >= lit("1997-01-01") &&
        col("o_orderdate") < lit("1998-01-01"))
      .select("o_orderkey", "o_custkey")
    val cust = table(spark, dir, "customer")
      .select("c_custkey", "c_nationkey")
    val sup = table(spark, dir, "supplier")
      .select("s_suppkey", "s_nationkey")
    table(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_suppkey"), discPrice.as("rev"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .join(sup, col("l_suppkey") === col("s_suppkey") &&
        col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name").as("nation"))
      .agg(sum("rev").cast("double").as("revenue"))
      .orderBy(col("revenue").desc, col("nation").asc)
  }

  /** TPC-H Q10-shaped returned-item report: revenue lost to returns per
    * customer in one quarter, top-20 — lineitem(returnflag R) ⋈
    * orders(quarter) ⋈ customer ⋈ nation. Same physical discipline as
    * [[tpchQ3]]: date + flag filters at the scans, nation broadcast,
    * top-k without a global sort. */
  def tpchQ10(spark: SparkSession, dir: String): DataFrame = {
    val ord = table(spark, dir, "orders")
      .filter(col("o_orderdate") >= lit("1997-01-01") &&
        col("o_orderdate") < lit("1997-04-01"))
      .select("o_orderkey", "o_custkey")
    val li = table(spark, dir, "lineitem")
      .filter(col("l_returnflag") === "R")
      .select(col("l_orderkey"), discPrice.as("rev"))
    val cust = table(spark, dir, "customer")
      .select("c_custkey", "c_name", "c_nationkey")
    val nat = table(spark, dir, "nation").select("n_nationkey", "n_name")
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("c_custkey").as("custkey"), col("c_name").as("name"),
        col("n_name").as("nation"))
      .agg(sum("rev").cast("double").as("revenue"))
      .orderBy(col("revenue").desc, col("custkey").asc)
      .limit(20)
  }

  /** TPC-H Q1-shaped aggregation: SUM/AVG/MIN/MAX/COUNT/COUNT DISTINCT
    * over a 2-column group key (SURVEY §2B aggregation). */
  def aggQ1(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "lineitem")
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        moneySum(col("l_quantity")).as("sum_qty"),
        moneySum(col("l_extendedprice")).as("sum_base_price"),
        // exact decimal product: price and discount are 2-decimal values, so
        // decimal×decimal is exact — no double-rounding divergence
        sum(col("l_extendedprice").cast("decimal(18,2)") *
            (lit(1).cast("decimal(4,2)") - col("l_discount").cast("decimal(4,2)")))
          .cast("double").as("sum_disc_price"),
        round(avg("l_quantity"), 4).as("avg_qty"),
        min("l_quantity").as("min_qty"),
        max("l_quantity").as("max_qty"),
        count(lit(1)).as("count_order"),
        countDistinct(col("l_orderkey")).as("n_orders"))

  /** Computed GROUP BY key (decade bucket) + HAVING (post-agg filter). */
  def aggHaving(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "lineitem")
      .groupBy((floor(year(col("l_shipdate")) / lit(10.0)) * lit(10))
        .cast("int").as("decade"))
      .agg(count(lit(1)).as("n_items"),
        round(avg("l_extendedprice"), 2).as("avg_price"))
      .filter(col("n_items") > 100)

  /** COUNT(DISTINCT) over multiple columns per group. */
  def aggDistinct(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "lineitem")
      .groupBy("l_returnflag")
      .agg(countDistinct(col("l_suppkey")).as("n_suppliers"),
        countDistinct(col("l_partkey")).as("n_parts"),
        countDistinct(col("l_orderkey")).as("n_orders"))

  /** Multi-key ORDER BY … DESC + LIMIT with a total tie-break →
    * deterministic top-N; physically TakeOrderedAndProject (no full sort). */
  def sortLimit(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "orders")
      .select("o_orderkey", "o_totalprice", "o_orderpriority")
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      .limit(15)

  /** UNION (distinct) of customer and supplier nation keys. */
  def unionDistinct(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "customer").select(col("c_nationkey").as("nk"))
      .union(table(spark, dir, "supplier").select(col("s_nationkey").as("nk")))
      .distinct()

  /** UNION ALL + re-aggregation (bag semantics preserved). */
  def unionAll(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "customer").select(col("c_nationkey").as("nk"))
      .unionAll(table(spark, dir, "supplier").select(col("s_nationkey").as("nk")))
      .groupBy("nk").agg(count(lit(1)).as("n_rows"))

  /** CASE WHEN / COALESCE+NULLIF / ROUND / division (SURVEY §2B conditional). */
  def conditional(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "orders").select(
      col("o_orderkey"),
      when(col("o_totalprice") > 200000, "big")
        .when(col("o_totalprice") > 100000, "mid")
        .otherwise("small").as("bucket"),
      coalesce(nullif(col("o_orderstatus"), lit("O")), lit("OPEN")).as("status_adj"),
      round(col("o_totalprice") / lit(1000.0), 1).as("k_price"))

  /** String scalars: LEFT (substring), LENGTH, Arabic literal in CASE —
    * the reference's bilingual output convention (SURVEY §2B scalar row). */
  def stringFns(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "customer").select(
      col("c_custkey"),
      substring(col("c_name"), 1, 8).as("name_prefix"),
      length(col("c_mktsegment")).as("seg_len"),
      when(col("c_mktsegment") === "BUILDING", "بناء")
        .when(col("c_mktsegment") === "AUTOMOBILE", "سيارات")
        .otherwise(col("c_mktsegment")).as("segment_ar"),
      when(col("c_acctbal") < 0, lit("مدين")).otherwise(lit("دائن")).as("balance_ar"))

  /** The events table's `ts` column has drifted across testdata
    * generations — TIMESTAMP(NANOS) (read as epoch-nanos LongType under
    * spark.sql.legacy.parquet.nanosAsLong=true), plain TIMESTAMP_NTZ
    * (timestamp[us] with no timezone — the current generator's output,
    * and what any real lakehouse parquet commonly carries), or a
    * session-zoned TIMESTAMP. Normalize every representation to
    * TimestampType here, once, so downstream operators (`unix_micros`
    * gap arithmetic, watermarks, window()) are agnostic to the file's
    * physical encoding. Sessions run with spark.sql.session.timeZone=UTC,
    * so the NTZ→timestamp cast reinterprets the naive wall-clock as UTC —
    * byte-identical to DuckDB's naive reading of the same file. */
  def events(spark: SparkSession, dir: String): DataFrame = {
    val df = table(spark, dir, "events")
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        // integer DIV: double division would lose precision on epoch-nanos
        df.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn("ts", col("ts").cast("timestamp"))
      case _ => df
    }
  }

  /** Datetime bucketing over the events table (day × type). */
  def datetimeAgg(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .groupBy(col("event_type"), date_format(col("ts"), "yyyy-MM-dd").as("day"))
      .agg(count(lit(1)).as("n_events"),
        moneySum(col("value")).as("sum_value"))

  /** Per-user conversion funnel view → click → purchase: each stage is
    * the earliest qualifying event AFTER the previous stage's timestamp
    * (strict ordering, min-after semantics), reported as per-stage user
    * counts. Three keyed aggregations on user_id + two joins that reuse
    * the same partitioning — the canonical sequential-pattern analysis
    * without a serial scan: every stage is a parallel min-aggregate, so
    * the funnel over 100 TB of events is three shuffles, not a
    * per-user event sort. */
  def funnel(spark: SparkSession, dir: String): DataFrame = {
    val ev = events(spark, dir)
    val views = ev.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min("ts").as("view_ts"))
    val clicks = ev.filter(col("event_type") === "click")
      .join(views, Seq("user_id"))
      .filter(col("ts") > col("view_ts"))
      .groupBy("user_id").agg(min("ts").as("click_ts"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .join(clicks, Seq("user_id"))
      .filter(col("ts") > col("click_ts"))
      .groupBy("user_id").agg(min("ts").as("purchase_ts"))
    views.select(lit(1).as("stage"), lit("view").as("event"),
        col("user_id"))
      .union(clicks.select(lit(2), lit("click"), col("user_id")))
      .union(purchases.select(lit(3), lit("purchase"), col("user_id")))
      .groupBy("stage", "event")
      .agg(countDistinct("user_id").as("n_users"))
  }

  /** ROLLUP: per-(returnflag, linestatus) with subtotals and grand total —
    * beyond the reference's surface, standard in Spark and DuckDB. */
  def rollupAgg(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "lineitem")
      .rollup("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("n_items"),
        moneySum(col("l_quantity")).as("sum_qty"))

  /** Exact interpolated percentiles per group (corpus profiling shape). */
  def percentiles(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .groupBy("lang")
      .agg(
        round(expr("percentile(n_chars, 0.5)"), 2).as("p50_chars"),
        round(expr("percentile(n_chars, 0.9)"), 2).as("p90_chars"),
        round(expr("percentile(n_chars, 0.99)"), 2).as("p99_chars"))

  /** Approximate-quantile CONTRACT query (the [[approxDistinct]] pattern
    * for percentiles): per language, the exact median doc length plus
    * whether this engine's own approximate-quantile sketch lands within
    * 5% of the group's value spread. Each engine runs its OWN sketch
    * (Spark: approx_percentile/KLL-family; DuckDB: approx_quantile/
    * t-digest) — the boolean tolerance, not the estimate, is the
    * cross-engine oracle. At 100 TB the sketch is constant-size mergeable
    * state per group vs the exact form's full-sort. */
  def approxQuantileContract(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .groupBy("lang")
      .agg(
        round(expr("percentile(n_chars, 0.5)"), 2).as("exact_p50"),
        ((abs(expr("approx_percentile(n_chars, 0.5)").cast("double") -
          expr("percentile(n_chars, 0.5)")) /
          (max("n_chars") - min("n_chars")).cast("double")) <= 0.05)
          .as("within_tol"))

  /** LEFT SEMI / LEFT ANTI joins: customers with vs without orders. */
  def semiAnti(spark: SparkSession, dir: String): DataFrame = {
    val c = table(spark, dir, "customer")
    val o = table(spark, dir, "orders")
    val withOrders = c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
      .select(lit("with_orders").as("kind"), col("c_custkey"))
    val without = c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
      .select(lit("no_orders").as("kind"), col("c_custkey"))
    withOrders.unionAll(without)
  }

  /** PIVOT: events day × event_type count matrix (explicit value list so
    * output columns are deterministic and oracle-matchable). */
  def pivotEvents(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("day"))
      .pivot("event_type", Seq("click", "view", "purchase", "signup", "error"))
      .agg(count(lit(1)))
      // empty (day, type) cells: Spark pivots to NULL, a filtered count is 0
      .na.fill(0L, Seq("click", "view", "purchase", "signup", "error"))

  /** UNPIVOT (melt): part metrics to long form. */
  def unpivotPart(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "part")
      .select(col("p_partkey"), col("p_retailprice").cast("double").as("p_retailprice"),
        col("p_size").cast("double").as("p_size"))
      .unpivot(Array(col("p_partkey")),
        Array(col("p_retailprice"), col("p_size")), "metric", "value")

  /** Ordered string aggregation (deterministic collect): distinct line
    * statuses per return flag, sorted and joined. */
  def collectAgg(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "lineitem")
      .groupBy("l_returnflag")
      .agg(array_join(sort_array(collect_set(col("l_linestatus"))), ",")
        .as("statuses"),
        countDistinct("l_linestatus").as("n_statuses"))

  /** SQL-text surface: the same engine through spark.sql — CTE + join +
    * aggregation, written once and runnable verbatim on DuckDB (the oracle
    * IS this string). Demonstrates the parser/analyzer path the reference's
    * users actually exercise. */
  val cteSql: String =
    "WITH big_orders AS (" +
      "SELECT o_custkey, count(*) AS n_big FROM orders " +
      "WHERE o_totalprice > 150000 GROUP BY o_custkey) " +
      "SELECT c_mktsegment, CAST(sum(n_big) AS BIGINT) AS total_big_orders, " +
      "count(*) AS n_customers " +
      "FROM customer JOIN big_orders ON c_custkey = o_custkey " +
      "GROUP BY c_mktsegment"

  def sqlCte(spark: SparkSession, dir: String): DataFrame = {
    table(spark, dir, "orders").createOrReplaceTempView("orders")
    table(spark, dir, "customer").createOrReplaceTempView("customer")
    spark.sql(cteSql)
  }

  /** SQL-text surface: correlated EXISTS subquery. */
  val existsSql: String =
    "SELECT s_suppkey, s_name FROM supplier WHERE EXISTS (" +
      "SELECT 1 FROM lineitem WHERE l_suppkey = s_suppkey AND l_quantity > 49)"

  def sqlExists(spark: SparkSession, dir: String): DataFrame = {
    table(spark, dir, "supplier").createOrReplaceTempView("supplier")
    table(spark, dir, "lineitem").createOrReplaceTempView("lineitem")
    spark.sql(existsSql)
  }

  /** SQL-text surface: explicit GROUPING SETS (the general form ROLLUP and
    * CUBE specialize) — per-flag, per-status, and grand-total rows in one
    * aggregate, verbatim on both engines. */
  val groupingSetsSql: String =
    "SELECT l_returnflag, l_linestatus, count(*) AS n_items, " +
      "CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty " +
      "FROM lineitem GROUP BY GROUPING SETS " +
      "((l_returnflag), (l_linestatus), ())"

  def sqlGroupingSets(spark: SparkSession, dir: String): DataFrame = {
    table(spark, dir, "lineitem").createOrReplaceTempView("lineitem")
    spark.sql(groupingSetsSql)
  }

  /** SQL-text surface: event-time rolling window with a RANGE frame over
    * an INTERVAL — per user, the peak 1-hour trailing spend. Verbatim on
    * both engines (Spark and DuckDB both bound RANGE frames by calendar
    * intervals over a timestamp ORDER BY). Unlike a ROWS frame, RANGE
    * bounds by event TIME, so irregular event spacing is handled
    * correctly. Plan: one shuffle on user_id, in-partition sort, then a
    * sliding frame — state is O(events inside the hour), the batch twin
    * of a watermarked sliding-window stream aggregate. */
  val rollingWindowSql: String =
    "SELECT user_id, CAST(max(r) AS DOUBLE) AS peak_1h FROM (" +
      "SELECT user_id, sum(CAST(value AS DECIMAL(18,2))) OVER (" +
      "PARTITION BY user_id ORDER BY ts " +
      "RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW) AS r " +
      "FROM events) t GROUP BY user_id"

  def sqlRollingWindow(spark: SparkSession, dir: String): DataFrame = {
    events(spark, dir).createOrReplaceTempView("events")
    spark.sql(rollingWindowSql)
  }

  /** SQL-text surface: correlated LATERAL subquery — per-region top-2
    * nations by name, verbatim on both engines (Spark ≥3.2 and DuckDB
    * both bind the outer column inside the LATERAL body; the ORDER BY +
    * LIMIT makes the correlation non-trivial, i.e. not just a rewritten
    * join). Spark plans it as a window-ranked join — same shuffle class
    * as `windowTopN`, no per-row re-execution. */
  val lateralSql: String =
    "SELECT r.r_name, t.n_name FROM region r, LATERAL (" +
      "SELECT n_name FROM nation WHERE n_regionkey = r.r_regionkey " +
      "ORDER BY n_name LIMIT 2) t"

  def sqlLateral(spark: SparkSession, dir: String): DataFrame = {
    table(spark, dir, "region").createOrReplaceTempView("region")
    table(spark, dir, "nation").createOrReplaceTempView("nation")
    spark.sql(lateralSql)
  }

  /** Approximate distinct-count CONTRACT query: per event type, the exact
    * user count plus whether this engine's own approximate counter
    * (HLL-family) lands within 5% of it. The boolean contract — not the
    * raw estimate, which legitimately differs per engine/sketch — is the
    * cross-engine oracle, the same pattern as the KMV exactness regime.
    * At 100 TB the approximate form is one constant-size mergeable state
    * per group vs the exact form's distinct shuffle. */
  def approxDistinct(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir).groupBy("event_type")
      .agg(countDistinct("user_id").as("exact_users"),
        // rsd pinned to 0.01, NOT the 0.05 default: the contract below
        // asserts within-5%, and a 5%-rsd sketch lands outside 5% about
        // a third of the time (1 sigma) — at sf1 one such draw failed
        // all 5 groups at once (same user set -> same estimate). At
        // rsd=0.01 the 5% bound is 5 sigma: robust at every scale.
        (abs(approx_count_distinct(col("user_id"), 0.01).cast("double") -
          countDistinct("user_id").cast("double")) /
          countDistinct("user_id").cast("double") <= 0.05)
          .as("within_tol"))

  /** Window function: top-3 customers per market segment by balance.
    * Beyond the reference's surface (no OVER anywhere in its corpus) but a
    * first-class capability of this engine. */
  def windowTopN(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("c_mktsegment")
      .orderBy(col("c_acctbal").desc, col("c_custkey").asc)
    table(spark, dir, "customer")
      .select(col("c_mktsegment"), col("c_custkey"), col("c_acctbal"),
        row_number().over(w).as("rn"))
      .filter(col("rn") <= 3)
  }

  /** EXCEPT / INTERSECT (distinct semantics, as in SQL): nation keys with
    * customers but no suppliers, and with both — completing the set-op
    * family next to UNION/UNION ALL. Both plan as aggregates over a
    * single shuffle (Spark rewrites them to left-anti/left-semi joins). */
  def exceptIntersect(spark: SparkSession, dir: String): DataFrame = {
    val custNations = table(spark, dir, "customer")
      .select(col("c_nationkey").as("nk"))
    val suppNations = table(spark, dir, "supplier")
      .select(col("s_nationkey").as("nk"))
    custNations.except(suppNations)
      .select(lit("cust_only").as("kind"), col("nk"))
      .unionAll(custNations.intersect(suppNations)
        .select(lit("both").as("kind"), col("nk")))
  }

  /** CUBE: all grouping-set combinations of (returnflag, linestatus) —
    * completes the grouping-set family next to [[rollupAgg]]. Plans as one
    * Expand + the usual partial/final aggregate pair. */
  def cubeAgg(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "lineitem")
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n_items"),
        moneySum(col("l_quantity")).as("sum_qty"))

  /** Window offset/distribution battery: lag/lead/ntile/cume_dist per
    * market segment ordered by custkey — one shuffle on the partition key,
    * one in-partition sort shared by all four functions. */
  def windowOffsets(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("c_mktsegment").orderBy(col("c_custkey").asc)
    table(spark, dir, "customer")
      .select(col("c_mktsegment"), col("c_custkey"), col("c_acctbal"),
        lag(col("c_acctbal"), 1).over(w).as("prev_bal"),
        lead(col("c_acctbal"), 1).over(w).as("next_bal"),
        ntile(4).over(w).as("quartile"),
        round(cume_dist().over(w), 6).as("cdist"))
  }

  /** Semi-structured extraction: parse the JSON `props` column with a
    * declared schema (`from_json` — typed, codegen'd, corrupt records
    * become NULL instead of throwing) and aggregate on the extracted
    * field. The universal log-analytics shape: at 100 TB the parse is a
    * narrow map fused into the scan, and the only shuffle is the
    * low-cardinality group-by on the extracted key. Sum is exact decimal
    * (see [[moneySum]]) so the result is engine-independent. */
  /** Retention cohorts over the events table — the fourth member of the
    * standard behavioral quartet (funnel / sessionize / attribution /
    * retention): users grouped by first-seen day, then distinct-user
    * counts per (cohort day, day offset) for offsets 0..`maxDays`.
    * Reading the matrix row-wise gives each cohort's survival curve.
    *
    * Scale shape: first-seen is ONE keyed agg on user_id; the activity
    * join reuses the same user_id partitioning (no extra exchange
    * before it under AQE); the final distinct-count agg runs on the
    * (cohort, offset) matrix key — tiny by construction. Nothing scans
    * events twice at full width: both branches read (user_id, ts)
    * only. */
  def retentionCohorts(spark: SparkSession, dir: String,
      maxDays: Int = 7): DataFrame = {
    val activity = events(spark, dir)
      .select(col("user_id"), to_date(col("ts")).as("day"))
      .distinct()
    val first = activity.groupBy("user_id")
      .agg(min("day").as("cohort_day"))
    activity.join(first, Seq("user_id"))
      .withColumn("day_offset",
        datediff(col("day"), col("cohort_day")).cast("long"))
      .filter(col("day_offset").between(0, maxDays))
      .groupBy(date_format(col("cohort_day"), "yyyy-MM-dd").as("cohort_day"),
        col("day_offset"))
      .agg(countDistinct("user_id").as("n_users"))
  }

  /** First-order behavior transition matrix: counts and row-normalized
    * probabilities of consecutive (event_type → event_type) steps within
    * each user's timeline — the Markov-chain view of the event stream
    * (what follows a click?). Ordering ties on `ts` break by `event_id`,
    * so the lead() is total-ordered and engine-deterministic.
    *
    * Scale shape: ONE shuffle on user_id for the ordered window (lead
    * is a streaming frame — no buffering beyond a row), then a
    * partial-agg on the tiny (from, to) matrix key; the share
    * normalization is a window over that matrix, |types|² rows. */
  def eventTransitions(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val counts = events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("to_type", lead("event_type", 1).over(w))
      .filter(col("to_type").isNotNull)
      .groupBy(col("event_type").as("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n"))
    counts.withColumn("p",
      round(col("n").cast("double") /
        sum("n").over(Window.partitionBy("from_type")).cast("double"), 4))
  }

  /** RFM user segmentation — recency (days since the user's last event,
    * measured from the corpus's last day), frequency (event count), and
    * monetary (decimal-exact value sum), plus a fixed-threshold segment
    * label: the standard behavioral-cohort cut of an event lake.
    *
    * Scale shape: ONE keyed agg on user_id; the corpus max-day is a
    * 1-row aggregate broadcast into the projection. Fixed thresholds
    * (not per-corpus quantiles) keep the labels stable across
    * reprocessing windows — the production choice for downstream
    * joins. */
  /** Per-user event-value anomaly flags — the outlier monitor of an
    * event pipeline: each user's values get a z-score against THEIR OWN
    * history (personal baselines, not a global one — a whale's normal
    * is another user's anomaly), and |z| > `zThreshold` rows surface
    * with their score. Engine-exactness discipline: mean and variance
    * derive from EXACT decimal sums (Σv, Σv² as DECIMAL — `value` is a
    * 2-dp money-like column, so v² has ≤4 dp and both sums are exact),
    * then one division/sqrt each in IEEE double — bit-identical across
    * engines, so the oracle pins z to 4 dp with no stddev-
    * implementation drift. Population variance (÷n); users with <2
    * events or zero variance emit nothing (no division-by-zero NULLs).
    * Plan: one map-side-combined per-user agg + a join back keyed the
    * same — two passes over events, no per-user window sort. */
  def userAnomalies(spark: SparkSession, dir: String,
      zThreshold: Double = 3.0): DataFrame = {
    require(zThreshold > 0, "zThreshold must be positive")
    val ev = events(spark, dir)
      .select(col("event_id"), col("user_id"), col("value"))
    val mean = col("s1").cast("double") / col("n").cast("double")
    val stats = ev.groupBy("user_id")
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).as("s1"),
        sum(col("value").cast("decimal(18,2)") *
          col("value").cast("decimal(18,2)")).as("s2"))
      .filter(col("n") >= 2)
      .select(col("user_id"), mean.as("mean"),
        sqrt(col("s2").cast("double") / col("n").cast("double") -
          mean * mean).as("std"))
      .filter(col("std") > 0)
    ev.join(stats, Seq("user_id"))
      .select(col("event_id"), col("user_id"),
        round((col("value") - col("mean")) / col("std"), 4).as("z"))
      .filter(abs(col("z")) > zThreshold)
  }

  def userRfm(spark: SparkSession, dir: String): DataFrame = {
    val ev = events(spark, dir)
    val lastDay = ev.agg(max(to_date(col("ts"))).as("corpus_last"))
    val perUser = ev.groupBy("user_id")
      .agg(max(to_date(col("ts"))).as("user_last"),
        count(lit(1)).as("frequency"),
        moneySum(col("value")).as("monetary"))
    perUser.crossJoin(broadcast(lastDay))
      .select(col("user_id"),
        datediff(col("corpus_last"), col("user_last")).cast("long")
          .as("recency_days"),
        col("frequency"), col("monetary"))
      .withColumn("segment",
        when(col("recency_days") <= 3 && col("frequency") >= 20, "core")
          .when(col("recency_days") <= 7, "active")
          .when(col("recency_days") <= 14, "cooling")
          .otherwise("dormant"))
  }

  /** First-class typed view of the events table's `props` JSON payload:
    * per (event_type, day) statistics of the extracted `k` field — the
    * "semi-structured column → typed analytics" operator every event
    * lake needs. The parse is a codegen'd `from_json` fused into the
    * scan (no UDF, no second pass); the aggregate is ONE partial-agg
    * shuffle on a low-cardinality composite key, linear at 100 TB.
    * Exercises BOTH drifted event columns at once: the normalized
    * timestamp (day bucket) and the props payload (typed k). */
  def eventProps(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .select(col("event_type"),
        date_format(col("ts"), "yyyy-MM-dd").as("day"),
        from_json(col("props"),
          org.apache.spark.sql.types.StructType.fromDDL("k INT"))
          .getField("k").as("k"))
      .groupBy("event_type", "day")
      .agg(count(lit(1)).as("n_events"),
        sum(col("k")).cast("long").as("sum_k"),
        min(col("k")).as("min_k"),
        max(col("k")).as("max_k"),
        countDistinct(col("k")).as("n_distinct_k"))

  def jsonExtract(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .select(from_json(col("props"),
          org.apache.spark.sql.types.StructType.fromDDL("k INT"))
          .getField("k").as("prop_k"),
        col("value"))
      .groupBy("prop_k")
      .agg(count(lit(1)).as("n_events"),
        moneySum(col("value")).as("sum_value"))

  /** Table profiling — the engine-side twin of DuckDB's `SUMMARIZE`: one
    * row per column with count / nulls / exact distinct / min / max. The
    * column list is derived from the schema, so this profiles ANY table;
    * min/max are emitted as strings (numerics via plain cast, timestamps
    * formatted) so the output schema is column-type-independent.
    *
    * Scale shape: ONE aggregate pass over the scan computes every
    * column's stats as parallel agg expressions (count/min/max are
    * partial-aggregable; count(distinct) over multiple columns becomes
    * Spark's expand-based multi-distinct — d exchanges' worth of work in
    * one job, each map-side combined), then one tiny unpivot of the
    * 1-row result. At 100 TB swap `countDistinct` for
    * `approx_count_distinct` — the plan shape is otherwise identical. */
  def summarize(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val cols = df.schema.fields
    def asStr(f: org.apache.spark.sql.types.StructField, c: Column): Column =
      f.dataType match {
        case _: org.apache.spark.sql.types.TimestampType |
             _: org.apache.spark.sql.types.TimestampNTZType =>
          date_format(c, "yyyy-MM-dd HH:mm:ss")
        case _ => c.cast("string")
      }
    val aggs = count(lit(1)).as("__total") +: cols.flatMap { f =>
      val c = col(f.name)
      Seq(count(c).as(s"${f.name}__cnt"),
        countDistinct(c).as(s"${f.name}__dst"),
        asStr(f, min(c)).as(s"${f.name}__min"),
        asStr(f, max(c)).as(s"${f.name}__max"))
    }
    val onerow = df.agg(aggs.head, aggs.tail: _*)
    val rows = cols.map { f =>
      struct(lit(f.name).as("column_name"),
        lit(f.dataType.simpleString).as("column_type"),
        col("__total").as("n_rows"),
        (col("__total") - col(s"${f.name}__cnt")).as("n_null"),
        col(s"${f.name}__dst").as("n_distinct"),
        col(s"${f.name}__min").as("min_value"),
        col(s"${f.name}__max").as("max_value"))
    }
    onerow.select(explode(array(rows: _*)).as("s")).select(col("s.*"))
  }

  /** [[summarize]] over the orders table — the oracle-checked entry. */
  def summarizeOrders(spark: SparkSession, dir: String): DataFrame =
    summarize(ParquetInput.read(spark, s"$dir/orders.parquet"))

  /** Time-series gap-fill: resample each user's event stream onto a
    * dense hourly grid with last-observation-carried-forward (LOCF) —
    * the standard irregular→regular series prep (feature snapshots,
    * "state as of hour H" joins). Per (user, hour) the LAST observation
    * wins ((ts, event_id) descending — deterministic under same-second
    * ties); hours with no event carry the previous value and are marked
    * `filled`.
    *
    * Scale shape: one keyed window per (user, hour) for the last
    * observation, one tiny per-user min/max aggregate, a grid explode
    * bounded by users × span-hours (NOT events — the grid is the
    * output's own size), and one per-user ordered window for the fill.
    * All shuffles key on user_id and reuse the partitioning; nothing is
    * corpus-quadratic. Epoch-hour LONG buckets keep the arithmetic
    * engine-exact (same trick as the windowed-stats oracle). */
  def resampleLocf(spark: SparkSession, dir: String,
      maxGridHours: Int = 8784): DataFrame =
    resampleLocfFrom(events(spark, dir), maxGridHours)

  /** [[resampleLocf]] over an arbitrary (user_id, event_id, value, ts)
    * frame. `maxGridHours` bounds the per-user grid (default one leap
    * year of hours): a single user whose history spans a decade would
    * otherwise explode an unbounded `sequence(lo, hi)` inside ONE task
    * at production depth. Out-of-contract users are CLAMPED to their
    * most recent `maxGridHours` hours (their old observations still
    * seed the LOCF carry at the clamped window's left edge), and the
    * clamp is observable inline — an `observe` metric + WARN listener,
    * the same convention as the LSH `maxBucket` cap — so a silent
    * semantics change cannot hide. */
  private[operators] def resampleLocfFrom(eventsDf: DataFrame,
      maxGridHours: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(maxGridHours > 0, "maxGridHours must be positive")
    val e = eventsDf
      .select(col("user_id"), col("event_id"), col("value"), col("ts"),
        floor(unix_timestamp(col("ts")) / 3600).cast("long").as("hb"))
    val wlast = Window.partitionBy("user_id", "hb")
      .orderBy(col("ts").desc, col("event_id").desc)
    val hourly = e.withColumn("rn", row_number().over(wlast))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("hb"), col("value").as("v"))
    val spans = e.groupBy("user_id")
      .agg(min("hb").as("lo"), max("hb").as("hi"))
      .withColumn("clamped_lo",
        greatest(col("lo"), col("hi") - lit(maxGridHours.toLong) + 1))
    val observed = Observations.observe(spans, Observations.GridClamp,
      coalesce(sum(when(col("clamped_lo") > col("lo"), 1L)
        .otherwise(0L)), lit(0L)),
      coalesce(sum(col("clamped_lo") - col("lo")), lit(0L)))
    val grid = observed.select(col("user_id"),
      explode(sequence(col("clamped_lo"), col("hi"))).as("hb"))
      .join(hourly, Seq("user_id", "hb"), "left")
      .select(col("user_id"), col("hb"), col("v"),
        lit(true).as("in_grid"))
    // clamped users' PRE-window observations ride along (event-sized,
    // never exploded) so the LOCF carry at the window's left edge sees
    // them, then drop out of the emitted grid
    val pre = hourly
      .join(spans.select(col("user_id"), col("clamped_lo")),
        Seq("user_id"))
      .filter(col("hb") < col("clamped_lo"))
      .select(col("user_id"), col("hb"), col("v"),
        lit(false).as("in_grid"))
    val wfill = Window.partitionBy("user_id").orderBy("hb")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid.unionByName(pre)
      .select(col("user_id"), col("hb").as("hour_bucket"),
        last(col("v"), ignoreNulls = true).over(wfill).as("value"),
        col("v").isNull.as("filled"), col("in_grid"))
      .filter(col("in_grid"))
      .drop("in_grid")
  }
}

package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** As-of (temporal) join: each left row picks the single right row with
  * the same key and the nearest right timestamp — backward (greatest
  * right ts <= left ts, the default) or forward (smallest right ts >=
  * left ts) — the "state as of this moment" lookup every event-enrichment
  * pipeline needs (latest price at trade time, last purchase before this
  * event, next maintenance after a failure).
  *
  * Spark-first plan — the UNION + WINDOW trick, not a range join:
  * tag both sides, union them, and run ONE window over (key) ordered by
  * (ts, side) where right rows sort before left rows at equal ts (>= ties
  * match); `last(payload, ignoreNulls)` over the unbounded-preceding frame
  * carries each right row's payload forward to every later left row.
  *
  * Scale: a single shuffle on the key (the union is shuffle-free), then a
  * linear sorted pass — the same cost class as one sort-merge join, with
  * no range explosion and no per-left-row probe. At 100 TB the shuffle is
  * keyed by the join key, so AQE skew handling applies as usual; state per
  * task is one row of carried payload (constant memory).
  *
  * The right side must be unique per (key, ts) — dedup it first (e.g.
  * aggregate by (key, ts)) or ties make the carried payload
  * order-dependent. Asserted cheap here via the caller's contract; the
  * oracle twin is DuckDB's native ASOF LEFT JOIN.
  */
object AsOf {

  /** Left-as-of-join `right` onto `left`.
    * @param keys      equality key columns (present in both sides)
    * @param ts        event-time column name (present in both sides,
    *                  same orderable type)
    * @param payload   right-side columns to carry (renamed via `rename`)
    * @param rename    output name for each carried payload column
    *                  (right's `ts` may itself be carried, e.g. "asof_ts")
    * @param direction "backward" (default): greatest right ts <= left ts;
    *                  "forward": smallest right ts >= left ts. Forward
    *                  reverses the window order (ts desc, right rows
    *                  still first), so the carried row is the nearest
    *                  LATER one — same single shuffle, same state. */
  def asOfJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
      ts: String, payload: Seq[String], rename: String => String,
      direction: String = "backward"): DataFrame = {
    require(direction == "backward" || direction == "forward",
      s"direction must be 'backward' or 'forward', got '$direction'")
    val leftCols = left.columns.toSeq
    val carried = payload.map(rename)
    require(carried.intersect(leftCols).isEmpty,
      s"renamed payload collides with left columns: ${carried.intersect(leftCols)}")
    // The carried payload is ONE struct, not per-column lasts: a NULL
    // FIELD inside the matched right row must be carried as NULL (as the
    // native ASOF join would), not skipped in favor of an older row's
    // value — per-column last(ignoreNulls) would mix fields from
    // different right rows. The struct itself is non-null exactly on
    // right rows, so ignoreNulls skips only the left rows interleaved in
    // the union, never a legitimate all-NULL payload.
    val payloadStruct = struct(payload.map(p => col(p).as(rename(p))): _*)
    // right rows sort first (side 0) at equal ts → `>=` ties semantics.
    // Null-ts RIGHT rows are dropped: they'd sort at the partition front
    // (nulls first) and `last(..., ignoreNulls)` would carry their
    // payload into every left row with no earlier real match — but a
    // NULL timestamp compares false against everything, so under SQL /
    // DuckDB-ASOF semantics such rows can never match (round-14 fix,
    // caught by the physical operator's parity spec).
    val l = left.withColumn("_side", lit(1))
    val r = right.filter(col(ts).isNotNull)
      .select(((keys :+ ts).map(col) :+ lit(0).as("_side")) :+
        payloadStruct.as("_payload"): _*)
    // align schemas: right contributes nulls for left-only columns
    val rAligned = leftCols.foldLeft(r) { (df, c) =>
      if (df.columns.contains(c)) df
      else df.withColumn(c, lit(null).cast(left.schema(c).dataType))
    }.select((leftCols.map(col) :+ col("_side")) :+ col("_payload"): _*)
    val lAligned = l.select((leftCols.map(col) :+ col("_side")) :+
      lit(null).cast(r.schema("_payload").dataType).as("_payload"): _*)

    // NULLS FIRST in both directions: backward's asc defaults to it, but
    // desc defaults to NULLS LAST — which would put a null-ts left row at
    // the frame END, handing it every right row's carry instead of the
    // no-match NULL that null-comparison semantics require
    val tsOrder =
      if (direction == "backward") col(ts).asc else col(ts).desc_nulls_first
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(tsOrder, col("_side").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val filled = lAligned.unionByName(rAligned)
      .withColumn("_carried", last(col("_payload"), ignoreNulls = true).over(w))
    filled.filter(col("_side") === 1)
      .select(leftCols.map(col) ++
        carried.map(c => col(s"_carried.$c").as(c)): _*)
  }

  /** Left-as-of-join via the physical operator
    * ([[graft.plans.AsOfJoinExec]]) — same semantics and parameters as
    * [[asOfJoin]] (spec-pinned equivalence), different execution: one
    * hash shuffle per side on the keys + an in-partition two-pointer
    * merge with O(1) state, instead of the union's single window pass
    * over BOTH sides. Prefer this form when the right side is large
    * (the union form sorts left+right together; the merge form sorts
    * each side independently and never materializes the union), or when
    * either side is already hash-partitioned on the keys (the planner
    * then skips that side's exchange entirely — spec-pinned).
    *
    * The strategy comes with [[graft.functions.GraftExtensions]],
    * installed idempotently here so stock sessions work.
    *
    * For measured routing across ALL skew paths (broadcast / merge /
    * salted / bucketed) use [[asOfJoinAuto]]; for a LARGE right side
    * with a known hot key, [[asOfJoinSalted]]. */
  def asOfJoinExec(left: DataFrame, right: DataFrame, keys: Seq[String],
      ts: String, payload: Seq[String], rename: String => String,
      direction: String = "backward",
      tolerance: Option[Long] = None): DataFrame =
    asOfJoinPlanned(left, right, keys, ts, payload, rename, direction,
      broadcast = false, tolerance)

  /** Broadcast as-of join ([[graft.plans.BroadcastAsOfJoinExec]]) — the
    * 100 TB enrichment shape: the SMALL right side (reference prices,
    * config snapshots, rollout versions) is broadcast once and the huge
    * left side is enriched MAP-SIDE — no left shuffle, no left sort,
    * the scan's partitioning/ordering/pruning all pass through. Probe
    * cost per left row: one hash lookup + one binary search over that
    * key's ts array. Same semantics as [[asOfJoin]]/[[asOfJoinExec]]
    * (parity spec); Spark's own broadcast limits guard the right side's
    * size at the BroadcastExchange. */
  def asOfJoinBroadcast(left: DataFrame, right: DataFrame, keys: Seq[String],
      ts: String, payload: Seq[String], rename: String => String,
      direction: String = "backward",
      tolerance: Option[Long] = None): DataFrame =
    asOfJoinPlanned(left, right, keys, ts, payload, rename, direction,
      broadcast = true, tolerance)

  /** @param tolerance max allowed |left ts - matched right ts| in the
    *        ts type's INTERNAL units (microseconds for TIMESTAMP /
    *        TIMESTAMP_NTZ, days for DATE, raw value for integral
    *        columns); the nearest candidate beyond it becomes a
    *        no-match NULL — pandas merge_asof semantics. */
  private def asOfJoinPlanned(left: DataFrame, right: DataFrame,
      keys: Seq[String], ts: String, payload: Seq[String],
      rename: String => String, direction: String,
      broadcast: Boolean, tolerance: Option[Long] = None): DataFrame = {
    require(direction == "backward" || direction == "forward",
      s"direction must be 'backward' or 'forward', got '$direction'")
    tolerance.foreach(t => require(t >= 0, s"tolerance must be >= 0, got $t"))
    // keyless (global-timeline) as-of: the broadcast form supports it
    // (one index group); the sort-merge form would need an all-to-one
    // ClusteredDistribution - refuse rather than silently single-task
    require(keys.nonEmpty || broadcast,
      "keyless as-of requires the broadcast form (asOfJoinBroadcast)")
    val leftCols = left.columns.toSeq
    val carriedNames = payload.map(rename)
    require(carriedNames.intersect(leftCols).isEmpty,
      s"renamed payload collides with left columns: ${carriedNames.intersect(leftCols)}")
    require(carriedNames.distinct.size == carriedNames.size,
      s"rename maps two payload columns to the same name: $carriedNames")
    val spark = left.sparkSession
    graft.functions.GraftExtensions.install(spark)
    // fresh right-side projection: aliasing keys/ts/payload mints new
    // exprIds, so a self-join (left and right from the same Dataset)
    // cannot produce ambiguous attributes inside the custom node
    import org.apache.spark.sql.functions.col
    val keyAliases = keys.zipWithIndex.map { case (k, i) => s"__graft_rk_$i" }
    val rightProj = right.select(
      keys.zip(keyAliases).map { case (k, a) => col(k).as(a) } ++
        Seq(col(ts).as("__graft_rts")) ++
        payload.zip(carriedNames).map { case (p, c) => col(p).as(c) }: _*)
    val lPlan = left.queryExecution.analyzed
    val rPlan = rightProj.queryExecution.analyzed
    def attr(plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
        name: String) = plan.output.filter(_.name == name) match {
      case Seq(one) => one
      case Seq() => throw new IllegalArgumentException(
        s"column '$name' not found in ${plan.output.map(_.name)}")
      case many => throw new IllegalArgumentException(
        // match the DataFrame API's ambiguity contract instead of
        // silently binding the first occurrence (r15 advice fix)
        s"as-of column '$name' is ambiguous: ${many.size} attributes " +
          s"share the name in ${plan.output.map(_.name)}")
    }
    val lKeys = keys.map(attr(lPlan, _))
    val rKeys = keyAliases.map(attr(rPlan, _))
    val lTs = attr(lPlan, ts)
    val rTs = attr(rPlan, "__graft_rts")
    require(lTs.dataType == rTs.dataType,
      s"ts type mismatch: left $ts is ${lTs.dataType}, right is ${rTs.dataType}")
    if (tolerance.isDefined) {
      import org.apache.spark.sql.types._
      val integralBacked = lTs.dataType match {
        case TimestampType | TimestampNTZType | DateType |
             LongType | IntegerType | ShortType | ByteType => true
        case _ => false
      }
      require(integralBacked, "tolerance requires an integral-backed ts " +
        s"type (timestamp/date/integer); got ${lTs.dataType}")
    }
    (lKeys ++ rKeys :+ lTs).foreach { a =>
      require(org.apache.spark.sql.catalyst.expressions.RowOrdering
        .isOrderable(a.dataType),
        s"as-of key/ts column '${a.name}' has unorderable type ${a.dataType}")
    }
    lKeys.zip(rKeys).foreach { case (l, r) =>
      require(l.dataType == r.dataType,
        s"key type mismatch: ${l.name} ${l.dataType} vs ${r.dataType}")
    }
    val carried = carriedNames.map(attr(rPlan, _))
    org.apache.spark.sql.graftshim.GraftSqlShim.ofRows(spark,
      graft.plans.AsOfJoinPlan(lPlan, rPlan, lKeys, rKeys, lTs, rTs,
        carried, forward = direction == "forward",
        broadcast = broadcast, tolerance = tolerance))
  }

  /** The ts column as an exact Long in its internal unit (micros for
    * timestamps, days for DATE, the raw value for integrals) — the unit
    * the `tolerance`/`bucketWidth` contracts document. None when the ts
    * type is not integral-backed. */
  private def tsLongColOpt(df: DataFrame,
      ts: String): Option[org.apache.spark.sql.Column] = {
    import org.apache.spark.sql.types._
    df.schema(ts).dataType match {
      case TimestampType | TimestampNTZType => Some(unix_micros(col(ts)))
      // DATE does not cast to INT; unix_date gives the internal
      // day number (the same unit the tolerance contract documents)
      case DateType => Some(unix_date(col(ts)).cast("long"))
      case ByteType | ShortType | IntegerType | LongType =>
        Some(col(ts).cast("long"))
      case _ => None
    }
  }

  /** SALTED sort-merge as-of join — the skew path for the case the
    * broadcast route can't take: a LARGE right side with hot keys.
    * AQE cannot split a custom exec node, so on the plain sort-merge
    * form a key holding 90% of an event log becomes one straggler
    * task. Here the left side is salted `pmod(hash(saltBy), salts)`
    * and the right side is REPLICATED across all `salts` buckets, so
    * the join keys become (keys, salt) and the hot key's left rows
    * spread over `salts` reducers — EXACT by construction, because the
    * as-of merge is per-key independent and every (key, salt) bucket
    * sees the key's complete right-side run.
    *
    * Cost model at 100 TB: right shuffle volume × `salts` buys hot-key
    * parallelism `salts` — the classic salted-join trade; per hot key
    * the task cost goes from (hotLeft + hotRight) serialized to
    * (hotLeft/salts + hotRight), so the achievable speedup is CAPPED at
    * (L+R)/R by the replicated right run. Measured on the 90%-hot-key
    * probe (`tools/AsOfSkewProbe`, 2M left rows, 32 salts, Spark 4.1.2,
    * `local[4]`, two runs each), as multiples of the uniform layout's
    * time: the event-enrichment shape (right = left/50, too big to
    * broadcast, far smaller than the left) brings a ×2.5–2.8 straggler
    * back to ×1.5–1.7, ahead of [[asOfJoinBucketed]]'s ×1.7–1.9 (its
    * bucket-spine pass over the left outweighs the saved replication
    * there). At right = left/5 salting is SLOWER than leaving the skew
    * alone: ×5.4–5.8 against the unsalted exec's ×2.4–2.9, while the
    * ts-range split holds ×1.3–1.6. Keep this form for the enrichment
    * shape; a hot key whose RIGHT side is also large needs
    * [[asOfJoinBucketed]].
    * Salt determinism: `saltBy` must be a unique left column
    * (primary key / event id) — a content hash of all columns is the
    * fallback (logged), and fully-duplicate rows of a hot key then
    * share one salt bucket.
    *
    * Parity with [[asOfJoin]]/[[asOfJoinExec]] is spec-pinned on a
    * 90%-hot-key fixture ([[graft.plans.AsOfJoinExecSpec]]). */
  def asOfJoinSalted(left: DataFrame, right: DataFrame, keys: Seq[String],
      ts: String, payload: Seq[String], rename: String => String,
      direction: String = "backward", tolerance: Option[Long] = None,
      salts: Int = 16, saltBy: Option[String] = None): DataFrame = {
    require(salts > 1, s"salts must be > 1, got $salts")
    require(keys.nonEmpty,
      "keyless as-of has a single global group - salting cannot help; " +
        "use asOfJoinBroadcast")
    val saltCol = "__graft_asof_salt"
    require(!left.columns.contains(saltCol) && !right.columns.contains(saltCol),
      s"column name $saltCol is reserved by asOfJoinSalted")
    // named imports only: functions.{left, right} would shadow the params
    import org.apache.spark.sql.functions.{col, explode, hash, lit, pmod, sequence}
    val src = saltBy match {
      case Some(c) => Seq(col(c))
      case None =>
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          "asOfJoinSalted: no saltBy column passed - salting by content " +
            "hash of all left columns; fully-duplicate rows of a hot key " +
            "will share one salt bucket. Pass any unique column.")
        left.columns.toSeq.map(col)
    }
    val l = left.withColumn(saltCol, pmod(hash(src: _*), lit(salts)))
    val r = right.withColumn(saltCol,
      explode(sequence(lit(0), lit(salts - 1))))
    asOfJoinPlanned(l, r, keys :+ saltCol, ts, payload, rename, direction,
      broadcast = false, tolerance)
      .drop(saltCol)
  }

  /** TS-RANGE-SPLIT (bucketed) as-of join — the skew path for the case
    * NEITHER broadcast nor salting covers: a hot key whose RIGHT side
    * is also huge. [[asOfJoinSalted]] replicates each hot key's whole
    * right run ×salts, capping its speedup at (L+R)/R (at right =
    * left/5 it measured ×5.4–5.8 of the uniform time, slower than the
    * unsalted exec's ×2.4–2.9, where this split held ×1.3–1.6 —
    * `AsOfSkewProbe` on Spark 4.1.2); here the
    * time axis itself is the split: both sides bucket by
    * `floor(ts / bucketWidth)`, the join key becomes (keys, bucket),
    * and each bucket receives ONE carry row — the latest right at or
    * before its start (backward; earliest-after for forward) — so the
    * per-key merge parallelism is the number of time buckets the key's
    * rows span, with right-side duplication O(#buckets), not
    * O(salts × |right run|).
    *
    * Exactness: for a left row in bucket b, the as-of candidates are
    * (rights in b with ts ≤ lts) ∪ {latest right in buckets < b} —
    * and the carry row IS that latest (computed on bucket-level
    * aggregates: one row per (key, bucket), kilobytes at any volume,
    * so its window pass never touches raw rows). The merge inside
    * (keys, bucket) then picks the true maximum. Ties, null-ts,
    * tolerance and direction semantics are the exec family's,
    * parity-pinned on hot-key and adversarial fixtures.
    *
    * Plan shape at 100 TB: one map-side-combinable aggregate of the
    * right side to bucket grain, one small window over that grain,
    * one distinct of the left's (keys, bucket) spine (map-side
    * combinable), then the standard two-exchange merge on
    * (keys, bucket). Choose `bucketWidth` ≈ hot-key time span /
    * desired parallelism.
    *
    * Requires an integral-backed ts (timestamp/date/integer — the
    * same contract as `tolerance`); timestamps bucket on their
    * internal micros. Spark's CacheManager owns the persisted bucket
    * grain: a repeated call on the same plan reuses its one cache entry,
    * and `spark.catalog.clearCache()` releases it. */
  def asOfJoinBucketed(left: DataFrame, right: DataFrame,
      keys: Seq[String], ts: String, payload: Seq[String],
      rename: String => String, direction: String = "backward",
      tolerance: Option[Long] = None, bucketWidth: Long): DataFrame = {
    // named imports only: functions.{left, right} would shadow the params
    import org.apache.spark.sql.functions.{col, first, last, max, min, struct, unix_date, unix_micros}
    import org.apache.spark.sql.types._
    require(bucketWidth > 0, s"bucketWidth must be positive, got $bucketWidth")
    require(direction == "backward" || direction == "forward",
      s"direction must be 'backward' or 'forward', got '$direction'")
    val bucketCol = "__graft_asof_bucket"
    require(!left.columns.contains(bucketCol) &&
      !right.columns.contains(bucketCol),
      s"column name $bucketCol is reserved by asOfJoinBucketed")
    // the carry row is rebuilt from a struct keyed by field name, so a
    // payload column named like the ts column would be ambiguous there
    // (the compose/exec forms allow it; alias the right side first)
    require(!payload.contains(ts),
      s"asOfJoinBucketed payload may not repeat the ts column '$ts' - " +
        "alias it on the right side first")
    val forward = direction == "forward"
    def tsLong(df: DataFrame): org.apache.spark.sql.Column =
      tsLongColOpt(df, ts).getOrElse(throw new IllegalArgumentException(
        s"asOfJoinBucketed requires an integral-backed ts, " +
          s"got ${df.schema(ts).dataType}"))
    def withBucket(df: DataFrame) = df.withColumn(bucketCol,
      graft.plans.FloorBin.floorDivCol(tsLong(df), bucketWidth))

    val lb = withBucket(left)
    // null right ts never matches — drop before bucketing so a null
    // bucket group cannot swallow the carry chain
    val rb = withBucket(right.filter(col(ts).isNotNull))
    // bucket-grain extreme per (keys, bucket): max/min over a struct
    // ordered by ts first — one row per occupied right bucket. The
    // grain feeds the spine AND the carry join; it is SMALL by
    // construction (bucket grain, not rows), so persist it rather than
    // re-running the right-side pipeline per consumer (the two consumers
    // shuffle it differently, so AQE has no exchange to reuse)
    val rowStruct = struct((col(ts) +: payload.map(col)): _*)
    val grainAgg = if (forward) min(rowStruct) else max(rowStruct)
    val grain = rb.groupBy((keys :+ bucketCol).map(col): _*)
      .agg(grainAgg.as("_extreme")).persist()
    // bucket spine: every (keys, bucket) either side occupies, so a
    // left bucket with no in-bucket rights still receives its carry.
    // ONE distinct over the union (a distinct per side would add a
    // whole extra shuffle for rows the union-distinct dedups anyway)
    val spine = lb.select((keys :+ bucketCol).map(col): _*)
      .unionByName(grain.select((keys :+ bucketCol).map(col): _*))
      .distinct()
    // carry per spine bucket: the last (first, forward) extreme among
    // strictly earlier (later) buckets — a window over BUCKET-GRAIN
    // rows only
    val w0 = org.apache.spark.sql.expressions.Window
      .partitionBy(keys.map(col): _*)
    val w =
      if (forward) w0.orderBy(col(bucketCol).asc)
        .rowsBetween(1, org.apache.spark.sql.expressions.Window.unboundedFollowing)
      else w0.orderBy(col(bucketCol).asc)
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val carryFn = if (forward) first(col("_extreme"), ignoreNulls = true)
      else last(col("_extreme"), ignoreNulls = true)
    val carries = spine.join(grain, keys :+ bucketCol, "left")
      .withColumn("_carry", carryFn.over(w))
      .filter(col("_carry").isNotNull)
      .select((keys :+ bucketCol).map(col) ++
        (col(s"_carry.$ts").as(ts) +:
          payload.map(p => col(s"_carry.$p").as(p))): _*)
    val rightSplit = rb
      .select((keys :+ bucketCol).map(col) ++ (ts +: payload).map(col): _*)
      .unionByName(carries)
    asOfJoinExec(lb, rightSplit, keys :+ bucketCol, ts, payload, rename,
      direction, tolerance)
      .drop(bucketCol)
  }

  /** One measured-route decision of [[asOfJoinAuto]]: the chosen path,
    * its sized parameters, and the probe statistics that chose it. */
  final case class AsOfRoute(path: String, salts: Int, bucketWidth: Long,
      leftRows: Long, maxKeyRows: Long, rightRows: Long, tsSpan: Long,
      reason: String)

  /** The PURE routing function behind [[asOfJoinAuto]] — separated so
    * the regime → path mapping is unit-testable without Spark jobs.
    * Thresholds encode the skew probe (`tools/AsOfSkewProbe`, re-run
    * on Spark 4.1.2, `local[4]`):
    *  - broadcast: stats fit AND the probed row count is under
    *    `broadcastRowCap` — the row cap guards the stats
    *    UNDERestimate failure mode (the r14 probe measured a forced
    *    2M-row broadcast at ×2.7 the merge path, plus OOM exposure);
    *  - skew trigger: the hottest key's share of the left, times the
    *    shuffle partition count, is the straggler factor of the merge
    *    exec's hot task vs the average — above `skewTaskFactor` the
    *    flat merge is the wrong plan;
    *  - salted vs bucketed: salting replicates each hot key's right
    *    run ×salts, capping its win at (L+R)/R — ×1.5–1.7 of the
    *    uniform time against bucketed's ×1.7–1.9 at right=left/50, but
    *    ×5.4–5.8 against bucketed's ×1.3–1.6 at right=left/5, where
    *    salting is slower than the unsalted exec (×2.4–2.9);
    *    `saltCrossover` = 16 sits at the geometric middle of those two
    *    regimes, so each routes to its faster form: smaller rights salt
    *    and bigger rights split the time axis. */
  def asOfRouteOf(leftRows: Long, maxKeyRows: Long, rightRows: Long,
      tsSpan: Long, broadcastFits: Boolean, bucketable: Boolean,
      partitions: Int, broadcastRowCap: Long = 1000000L,
      skewTaskFactor: Double = 4.0,
      saltCrossover: Long = 16L): AsOfRoute = {
    def route(path: String, salts: Int = 0, width: Long = 0L,
        reason: String) = AsOfRoute(path, salts, width, leftRows,
      maxKeyRows, rightRows, tsSpan, reason)
    if (broadcastFits && rightRows <= broadcastRowCap)
      route("broadcast", reason = s"right fits the broadcast threshold " +
        s"and its probed $rightRows rows are under the $broadcastRowCap cap")
    else if (leftRows <= 0L)
      route("exec", reason = "empty left probe - any path is fine")
    else {
      val straggler = maxKeyRows.toDouble / leftRows * partitions
      if (straggler <= skewTaskFactor)
        route("exec", reason = f"hottest key's straggler factor " +
          f"$straggler%.1f <= $skewTaskFactor%.1f - the flat merge has no skew to fix")
      else if (rightRows * saltCrossover <= leftRows || !bucketable) {
        val salts = math.min(64L, math.max(4L,
          math.ceil(maxKeyRows.toDouble / leftRows * partitions).toLong)).toInt
        val why = if (rightRows * saltCrossover <= leftRows)
          s"right ($rightRows rows) is under left/$saltCrossover - replication is cheap"
        else "ts is not integral-backed, the bucketed split cannot bin it"
        route("salted", salts = salts,
          reason = f"straggler $straggler%.1f; $why")
      } else
        route("bucketed",
          width = math.max(1L, tsSpan / math.max(1, partitions)),
          reason = f"straggler $straggler%.1f and right ($rightRows rows) " +
            f"is too large to replicate - splitting the time axis")
    }
  }

  /** Probe the inputs and return the measured [[AsOfRoute]] in ONE
    * Spark job: both sampled sides union under a side tag (the
    * fan-out-guard trick from [[RangeJoin]]), the left keyed by a
    * 64-bit hash of its join keys, then a two-level aggregate — per
    * (side, keyHash) counts + ts min/max, map-side combined so the
    * shuffle carries distinct keys, not rows, folded to left-rows /
    * hottest-key / ts-span / right-rows with conditional aggregates.
    * A keyHash collision can only MERGE two keys' counts, so the
    * hottest-key share errs conservative (may over-trigger the skew
    * path, never under). Exposed so callers (and the route spec) can
    * inspect the decision [[asOfJoinAuto]] would take without running
    * the join. */
  def asOfRouteDecision(left: DataFrame, right: DataFrame,
      keys: Seq[String], ts: String,
      probeFraction: Double = 0.05): AsOfRoute = {
    require(probeFraction > 0 && probeFraction <= 1.0,
      s"probeFraction must be in (0, 1], got $probeFraction")
    val spark = left.sparkSession
    val tsL = tsLongColOpt(left, ts)
    def sampled(df: DataFrame) =
      if (probeFraction >= 1.0) df
      else df.sample(withReplacement = false, probeFraction, seed = 7L)
    val lPart = sampled(left).select(lit(0).as("_side"),
      xxhash64(keys.map(col): _*).as("_kh"),
      tsL.getOrElse(lit(null).cast("long")).as("_t"))
    val rPart = sampled(right).select(lit(1).as("_side"),
      lit(null).cast("long").as("_kh"), lit(null).cast("long").as("_t"))
    val isLeft = col("_side") === 0
    val union = lPart.unionByName(rPart)
    // built once per probe union (r16, same contract as the range-join
    // fan-out sums): the sampled statistics are a pure, seeded function
    // of the two input plans, so a session re-running the same as-of
    // (the TVF steady state) prices the route once. broadcastFits and
    // the partition count are re-read per call — conf changes re-route.
    val row = Artifacts("asof_route_probe", (), union) {
      val r = union
        .groupBy(col("_side"), col("_kh"))
        .agg(count(lit(1)).as("_n"), min(col("_t")).as("_tn"),
          max(col("_t")).as("_tx"))
        .agg(sum(when(isLeft, col("_n"))), max(when(isLeft, col("_n"))),
          min(when(isLeft, col("_tn"))), max(when(isLeft, col("_tx"))),
          sum(when(!isLeft, col("_n"))))
        .head
      (if (r.isNullAt(0)) None else Some((r.getLong(0), r.getLong(1))),
        if (r.isNullAt(2) || r.isNullAt(3)) None
        else Some((r.getLong(2), r.getLong(3))),
        if (r.isNullAt(4)) None else Some(r.getLong(4)))
    }
    def scaled(v: Long) = math.round(v / probeFraction)
    val (leftRows, maxKey) = row._1 match {
      case Some((n, mx)) => (scaled(n), scaled(mx))
      case None => (0L, 0L)
    }
    val tsSpan = (tsL, row._2) match {
      case (Some(_), Some((lo, hi))) =>
        if (hi - lo < 0) Long.MaxValue else hi - lo // saturate, don't wrap
      case _ => 0L
    }
    val rightRows = row._3.map(scaled).getOrElse(0L)
    val threshold =
      org.apache.spark.sql.internal.SQLConf.get.autoBroadcastJoinThreshold
    val broadcastFits = threshold > 0 &&
      right.queryExecution.optimizedPlan.stats.sizeInBytes <= threshold
    asOfRouteOf(leftRows, maxKey, rightRows, tsSpan, broadcastFits,
      bucketable = tsL.isDefined,
      partitions = spark.conf.get("spark.sql.shuffle.partitions").toInt)
  }

  /** AUTO-ROUTED as-of join (r15 verdict task — encode the measured
    * crossover): probes the inputs ([[asOfRouteDecision]]) and
    * dispatches to the measured-best path — broadcast exec under the
    * threshold, flat sort-merge exec when no key is hot, salted when a
    * hot key's right side is small enough to replicate, ts-range-split
    * bucketed when it is not — with `salts`/`bucketWidth` sized from
    * the probed key histogram. The decision and its statistics are
    * logged; semantics are identical on every path (all four are
    * oracle-checked against the same DuckDB ASOF oracle).
    *
    * Batch-only: the pre-flight probe is an eager aggregate a
    * streaming frame cannot run — streaming callers pick
    * [[graft.streaming.EventStream.asOfJoinStreamRows]] (stream-stream)
    * or [[graft.streaming.EventStream.asOfEnrichStream]] (broadcast).
    * Probe cost: ONE sampled tagged-union aggregate job over both
    * sides ([[asOfRouteDecision]]) — the PairGuard economics: know
    * the regime before the cluster pays for the wrong plan. */
  def asOfJoinAuto(left: DataFrame, right: DataFrame, keys: Seq[String],
      ts: String, payload: Seq[String], rename: String => String,
      direction: String = "backward", tolerance: Option[Long] = None,
      saltBy: Option[String] = None,
      probeFraction: Double = 0.05): DataFrame = {
    require(!left.isStreaming && !right.isStreaming,
      "asOfJoinAuto's pre-flight probe is batch-only - streaming callers " +
        "pick a path explicitly (asOfJoinStreamRows / asOfEnrichStream)")
    if (keys.isEmpty)
      // keyless as-of has no key histogram to route on and only the
      // broadcast form supports it
      return asOfJoinBroadcast(left, right, keys, ts, payload, rename,
        direction, tolerance)
    val route = asOfRouteDecision(left, right, keys, ts, probeFraction)
    org.slf4j.LoggerFactory.getLogger(getClass).info(
      s"asOfJoinAuto: path=${route.path} (${route.reason}); probed " +
        s"left=${route.leftRows} maxKey=${route.maxKeyRows} " +
        s"right=${route.rightRows} tsSpan=${route.tsSpan}" +
        (if (route.salts > 0) s" salts=${route.salts}" else "") +
        (if (route.bucketWidth > 0) s" bucketWidth=${route.bucketWidth}" else ""))
    route.path match {
      case "broadcast" =>
        asOfJoinBroadcast(left, right, keys, ts, payload, rename,
          direction, tolerance)
      case "salted" =>
        asOfJoinSalted(left, right, keys, ts, payload, rename, direction,
          tolerance, salts = route.salts, saltBy = saltBy)
      case "bucketed" =>
        asOfJoinBucketed(left, right, keys, ts, payload, rename, direction,
          tolerance, bucketWidth = route.bucketWidth)
      case _ =>
        asOfJoinExec(left, right, keys, ts, payload, rename, direction,
          tolerance)
    }
  }

  /** Demo entry: every event enriched with the user's most recent purchase
    * (value + time) as of the event's timestamp — purchases tie-broken
    * to one row per (user_id, ts) so the as-of match is unique. */
  def eventsAsOfLastPurchase(spark: SparkSession, dir: String): DataFrame =
    eventsAsOfVia(spark, dir, asOfJoin(_, _, _, _, _, _))

  /** Same workload through the PHYSICAL operator ([[asOfJoinExec]]) —
    * a second gate entry against the identical DuckDB ASOF oracle, so
    * the custom `SparkPlan`'s merge is oracle-checked end-to-end, not
    * just spec-pinned against the compose form. [[asOfJoinExec]] always
    * plans the SORT-MERGE exec; [[asOfJoinAuto]] is the routed form. */
  def eventsAsOfLastPurchaseExec(spark: SparkSession, dir: String): DataFrame =
    eventsAsOfVia(spark, dir, asOfJoinExec(_, _, _, _, _, _))

  /** The ROUTED workload (q_asof_auto): [[asOfJoinAuto]] — the full
    * measured router (r16; r15 routed only broadcast-vs-merge inside
    * asOfJoinExec). At gate scale the probe picks the broadcast exec
    * (the deduped purchases side fits threshold and row cap),
    * oracle-checked end-to-end, so the auto-route path has its own
    * gate row rather than riding on the spec pins. */
  def eventsAsOfLastPurchaseAuto(spark: SparkSession, dir: String): DataFrame =
    eventsAsOfVia(spark, dir, (l, r, k, t, p, rn) =>
      asOfJoinAuto(l, r, k, t, p, rn))

  /** Same workload through the BROADCAST physical operator — the
    * deduped purchases side is small (one row per (user, ts)), exactly
    * the broadcast contract; third gate entry on the same oracle. */
  def eventsAsOfLastPurchaseBroadcast(spark: SparkSession, dir: String): DataFrame =
    eventsAsOfVia(spark, dir, asOfJoinBroadcast(_, _, _, _, _, _))

  /** Bucketed (ts-range-split) demo entry (q_asof_bucketed): the same
    * last-purchase workload through [[asOfJoinBucketed]] with one-hour
    * buckets — fourth gate row on the identical DuckDB ASOF oracle, so
    * the carry construction is oracle-checked end-to-end on real
    * event-time data, not just parity-pinned. */
  def eventsAsOfLastPurchaseBucketed(spark: SparkSession, dir: String): DataFrame =
    eventsAsOfVia(spark, dir, (l, r, k, t, p, rn) =>
      asOfJoinBucketed(l, r, k, t, p, rn, bucketWidth = 3600000000L))

  /** Salted demo entry (q_asof_salted): the same workload through
    * [[asOfJoinSalted]] (8 salts, event_id as the salt source) — fifth
    * gate row on the identical DuckDB ASOF oracle, so the salt/replicate
    * construction is oracle-checked end-to-end, completing oracle
    * coverage of every skew path (router, salt, ts-range split). */
  def eventsAsOfLastPurchaseSalted(spark: SparkSession, dir: String): DataFrame =
    eventsAsOfVia(spark, dir, (l, r, k, t, p, rn) =>
      asOfJoinSalted(l, r, k, t, p, rn, salts = 8, saltBy = Some("event_id")))

  /** FORWARD-direction demo entry (q_asof_forward): each event enriched
    * with the user's NEXT purchase at or after its timestamp — closes
    * the oracle gap on the forward merge (everything else pins forward
    * only spec-side); runs through the physical operator. */
  def eventsAsOfNextPurchase(spark: SparkSession, dir: String): DataFrame =
    eventsAsOfVia(spark, dir, (l, r, k, t, p, rn) =>
      asOfJoinExec(l, r, k, t, p, rn, direction = "forward"))

  /** Tolerance demo entry: purchases older than ONE HOUR are stale —
    * the nearest candidate beyond 3.6e9 microseconds becomes a NULL
    * (pandas merge_asof `tolerance` semantics); oracled via DuckDB ASOF
    * + an interval CASE. */
  def eventsAsOfRecentPurchase(spark: SparkSession, dir: String): DataFrame =
    eventsAsOfVia(spark, dir, (l, r, k, t, p, rn) =>
      asOfJoinExec(l, r, k, t, p, rn, tolerance = Some(3600000000L)))

  private def eventsAsOfVia(spark: SparkSession, dir: String,
      join: (DataFrame, DataFrame, Seq[String], String, Seq[String],
        String => String) => DataFrame): DataFrame = {
    val events = Relational.events(spark, dir)
      .select("event_id", "user_id", "ts", "event_type", "value")
    val purchases = events.filter(col("event_type") === "purchase")
      .groupBy("user_id", "ts").agg(max("value").as("value"))
      .select(col("user_id"), col("ts"), col("ts").as("p_ts"), col("value"))
    join(events, purchases, Seq("user_id"), "ts",
      Seq("p_ts", "value"),
      { case "p_ts" => "purchase_ts"; case "value" => "purchase_value"
        case other => other })
      .select(col("event_id"), col("user_id"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("ts"),
        col("event_type"),
        date_format(col("purchase_ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS")
          .as("purchase_ts"),
        col("purchase_value"))
  }
}

package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.operators.{Artifacts, ParquetInput}

/** Structured Streaming operators over the `events` stream shape
  * (event_id, ts, user_id, event_type, value) — beyond the reference's
  * surface (it has no streaming), but a first-class capability of this
  * engine for the training-data-pipeline use case (live ingest → windowed
  * stats → sessionized examples).
  *
  * Scale notes: windowed aggregation state is bounded by the watermark
  * (late data beyond it is dropped, state evicted); sessionization state is
  * one small struct per active user key, evicted on timeout. Both shuffle
  * once on their grouping key — the standard streaming topology.
  */
// Serializable: asOfJoinStreamRows' stateful update closure calls object
// methods (asOfRowDrain/mergeByTs), so the task closure captures the
// module reference
object EventStream extends Serializable {

  final case class Event(event_id: Long, ts: Timestamp, user_id: Long,
      event_type: String, value: Double)

  final case class SessionState(startMs: Long, lastMs: Long, n: Int, sum: Double)

  final case class Session(user_id: Long, session_start: Timestamp,
      session_end: Timestamp, n_events: Int, total_value: Double)

  /** STREAM-STATIC AS-OF enrichment — the operator Structured Streaming
    * is missing natively: every streaming event picks the latest
    * reference row (rates, config snapshots, model rollouts) at or
    * before its event time, via [[graft.operators.AsOf.asOfJoinBroadcast]].
    * The reference is broadcast once per (re)plan; each micro-batch is
    * enriched MAP-SIDE — stateless, no watermark, no stream-side
    * shuffle, so the streaming plan stays the scan→project shape and
    * output mode Append works untouched. The reference side must be
    * BOUNDED (the broadcast contract): at 100 TB/day of events the
    * right side is still the handful of reference rows.
    *
    * Replays deterministically: the same events through the same
    * reference give the same rows, so the batch twin
    * ([[asOfDailyRateBatch]]) is the oracle surface and the streaming
    * form is spec-pinned equal (EventStreamSpec). */
  def asOfEnrichStream(stream: DataFrame, ref: DataFrame,
      keys: Seq[String], ts: String, payload: Seq[String],
      rename: String => String, direction: String = "backward",
      tolerance: Option[Long] = None): DataFrame =
    graft.operators.AsOf.asOfJoinBroadcast(stream, ref, keys, ts,
      payload, rename, direction, tolerance)

  /** Per-key state of the stream-stream as-of ([[asOfJoinStreamRows]]):
    * right rows as (event-time micros, carried-payload Row) kept sorted
    * by ts (retention: everything the watermark has not finalized plus —
    * backward only — the single LATEST row at or below it, the
    * steady-state carry), and left rows as (event-time micros, full left
    * Row) pending until the watermark certifies their match is final.
    * Kryo-encoded: the rows are schema-dynamic (the whole point of the
    * generic form), and per-key state stays small — the watermark bounds
    * it, so the encoding is never the scale term. */
  final case class AsOfRowState(rights: List[(Long, Row)],
      pending: List[(Long, Row)])

  /** One enriched left row: the left event plus the matched right row's
    * (timestamp, value), both NULL when no right row qualifies. */
  final case class AsOfEnriched(event_id: Long, user_id: Long,
      ts: Timestamp, event_type: String, value: Double,
      matched_ts: Timestamp, matched_value: java.lang.Double)

  /** Exact event-time micros of a Timestamp (getTime is millis; the
    * sub-millisecond digits live in getNanos). */
  private[streaming] def tsMicros(t: Timestamp): Long =
    Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L

  /** STREAM-STREAM AS-OF join — the shape the broadcast form
    * ([[asOfEnrichStream]]) can't cover: the right side is itself a
    * LIVE stream (late-arriving features, rolling model scores,
    * streaming reference updates), so no static snapshot exists to
    * broadcast. Built on `flatMapGroupsWithState` over the UNION of
    * both streams keyed by user: Structured Streaming's native
    * stream-stream join cannot express "latest right ≤ left ts" (that
    * needs a per-left argmax, a second stateful stage), while one
    * custom state pass gives it exactly.
    *
    * Correctness contract (backward direction, ties inclusive —
    * matching [[graft.operators.AsOf.asOfJoinExec]], batch-parity
    * spec-pinned):
    *  - a left row is emitted ONLY once the watermark passes its event
    *    time: until then a right row with a smaller-but-closer
    *    timestamp could still arrive (both inputs carry `watermark`,
    *    and the union's watermark is their MIN — the multi-watermark
    *    policy default — so the gate holds for the slower stream);
    *  - the match is the LAST buffered right row with ts ≤ left ts,
    *    within `toleranceUs` when given (merge_asof semantics);
    *  - right rows arriving later than the watermark horizon are
    *    dropped by Spark upstream, which is exactly what makes the
    *    emit gate sound.
    *
    * State bound (the 100 TB property): per key, pending lefts ≤ left
    * rate × watermark delay, buffered rights ≤ right rate × watermark
    * delay + ONE — the retained latest-at-or-below-watermark row. That
    * floor row is irreducible: as-of lookback is unbounded (a key
    * whose reference updated once, years ago, still matches), so the
    * steady state is ONE row per key — the same O(keys) a snapshot
    * table would cost, but live. Eviction is pinned by the
    * [[asOfStreamDrain]] unit spec; end-to-end behavior by the
    * MemoryStream parity spec. */
  def asOfJoinStream(left: Dataset[Event], right: Dataset[Event],
      toleranceUs: Option[Long] = None, watermark: String = "1 hour")(
      implicit spark: SparkSession): Dataset[AsOfEnriched] = {
    import spark.implicits._
    asOfJoinStreamRows(left.toDF(), right.toDF(),
      keys = Seq("user_id"), ts = "ts",
      payload = Seq("ts", "value"),
      rename = { case "ts" => "matched_ts"; case "value" => "matched_value"
        case other => other },
      toleranceUs = toleranceUs, watermark = watermark)
      .select(col("event_id"), col("user_id"), col("ts"), col("event_type"),
        col("value"), col("matched_ts"), col("matched_value"))
      .as[AsOfEnriched]
  }

  /** Reserved column names of [[asOfJoinStreamRows]]'s internal union
    * frame (the user's own columns travel inside structs, so only the
    * ts column's name can collide). */
  private val AsOfReserved =
    Set("_side", "_ts_us", "_k", "_left", "_payload")

  /** GENERIC stream-stream as-of join — the streaming twin of
    * [[graft.operators.AsOf.asOfJoinExec]] (r15 verdict task #1: the
    * original form hard-coded `Dataset[Event]` with key `user_id` and
    * payload `value`; that signature now delegates here). Arbitrary key
    * columns, ts column, payload list + rename, both directions,
    * tolerance — same `flatMapGroupsWithState` core, same pure drain
    * ([[asOfRowDrain]]), Row-encoder based so any caller schema works.
    *
    * Contract (spec-pinned):
    *  - `ts` must be a TIMESTAMP column named identically on both sides
    *    (the event-time watermark contract); keys must exist on both
    *    sides with equal types; tolerance is in MICROSECONDS (the
    *    timestamp's internal unit, matching the batch family).
    *  - backward: each left row matches the LAST right with ts ≤ its
    *    own (within tolerance), emitted once the watermark passes its
    *    event time — until then an earlier-but-closer right could still
    *    arrive. Both inputs carry the watermark; the union's watermark
    *    is their MIN (the multi-watermark policy default), so the gate
    *    holds for the slower stream.
    *  - forward: each left row matches the FIRST right with ts ≥ its
    *    own within tolerance — and tolerance is REQUIRED: without a
    *    bound on how far ahead the match may be, an unmatched left
    *    could never finalize (its nearest-later right may arrive years
    *    on; no watermark certifies "no right is coming"). A left
    *    finalizes MATCHED once the watermark reaches its candidate (no
    *    earlier-ts right can arrive past the watermark), or UNMATCHED
    *    once the watermark passes its tolerance horizon.
    *  - null-ts right rows are dropped (a NULL timestamp compares false
    *    against everything — SQL/ASOF semantics); null-ts left rows
    *    emit immediately with a NULL match, as the batch forms do.
    *
    * State bound (the 100 TB property): per key, pending lefts ≤ left
    * rate × watermark delay; buffered rights ≤ right rate × watermark
    * delay + (backward) ONE retained carry row — the steady state is
    * one row per key, the same O(keys) a snapshot table would cost,
    * but live. Forward keeps no carry (a right below both the
    * watermark and every pending left can never win again). The right
    * buffer is merged, not re-sorted, per micro-batch (r15 verdict
    * task #7): state rights stay sorted, only the new batch pays a
    * sort — O(buffer + batch·log batch) per batch instead of
    * O(buffer·log buffer). */
  def asOfJoinStreamRows(left: DataFrame, right: DataFrame,
      keys: Seq[String], ts: String, payload: Seq[String],
      rename: String => String, direction: String = "backward",
      toleranceUs: Option[Long] = None,
      watermark: String = "1 hour"): DataFrame = {
    import org.apache.spark.sql.types._
    require(direction == "backward" || direction == "forward",
      s"direction must be 'backward' or 'forward', got '$direction'")
    toleranceUs.foreach(t => require(t >= 0, s"tolerance must be >= 0, got $t"))
    val forward = direction == "forward"
    require(!forward || toleranceUs.isDefined,
      "forward stream-stream as-of requires a tolerance: without a bound " +
        "on how far ahead the match may be, an unmatched left row could " +
        "never finalize (its nearest-later right may arrive arbitrarily " +
        "late, and no watermark certifies that no right is coming)")
    require(keys.nonEmpty,
      "stream-stream as-of requires key columns - a keyless as-of has one " +
        "global state group (a single-task hotspot); for a bounded " +
        "reference side use asOfEnrichStream (broadcast, stateless)")
    require(!AsOfReserved.contains(ts),
      s"ts column name '$ts' is reserved by asOfJoinStreamRows")
    val leftCols = left.columns.toSeq
    val carried = payload.map(rename)
    require(carried.intersect(leftCols).isEmpty,
      s"renamed payload collides with left columns: ${carried.intersect(leftCols)}")
    require(carried.distinct.size == carried.size,
      s"rename maps two payload columns to the same name: $carried")
    (keys :+ ts).foreach { c =>
      require(left.columns.contains(c) && right.columns.contains(c),
        s"as-of column '$c' must exist on both sides")
    }
    require(left.schema(ts).dataType == TimestampType &&
      right.schema(ts).dataType == TimestampType,
      s"streaming as-of requires a TIMESTAMP ts column on both sides " +
        s"(the watermark contract); got left ${left.schema(ts).dataType}, " +
        s"right ${right.schema(ts).dataType}")
    keys.foreach { k =>
      require(left.schema(k).dataType == right.schema(k).dataType,
        s"key type mismatch: $k is ${left.schema(k).dataType} on the " +
          s"left, ${right.schema(k).dataType} on the right")
    }

    // metadata-free schemas: the key encoder must not drag the
    // event-time watermark tag (or any source metadata) into state keys
    val keySchema = StructType(keys.map(k =>
      StructField(k, left.schema(k).dataType, nullable = true)))
    val payloadSchema = StructType(payload.zip(carried).map { case (p, c) =>
      StructField(c, right.schema(p).dataType, nullable = true) })
    val leftStructSchema = StructType(left.schema.fields.map(f =>
      StructField(f.name, f.dataType, nullable = f.nullable)))
    val outSchema = StructType(leftStructSchema.fields ++ payloadSchema.fields)

    // tag with COLUMN ops, not a typed map: the event-time watermark is
    // column metadata, and a map through objects mints fresh attributes
    // that lose it (the stateful op would then reject EventTimeTimeout).
    // The watermarked ts column itself stays in the frame (unrenamed) so
    // the stateful operator finds the event-time attribute.
    val lf = left.withWatermark(ts, watermark).select(
      lit(1).as("_side"), col(ts), unix_micros(col(ts)).as("_ts_us"),
      struct(keys.map(col): _*).as("_k"),
      struct(leftCols.map(col): _*).as("_left"),
      lit(null).cast(payloadSchema).as("_payload"))
    val rf = right.withWatermark(ts, watermark).select(
      lit(0).as("_side"), col(ts), unix_micros(col(ts)).as("_ts_us"),
      struct(keys.map(col): _*).as("_k"),
      lit(null).cast(leftStructSchema).as("_left"),
      struct(payload.zip(carried).map { case (p, c) => col(p).as(c) }: _*)
        .as("_payload"))
    val unioned = lf.unionByName(rf)
    // column positions in the union frame (fixed by the selects above)
    val (iSide, iTsUs, iKey, iLeft, iPayload) = (0, 2, 3, 4, 5)

    val tol = toleranceUs
    val nPay = carried.size

    def update(key: Row, rows: Iterator[Row],
        state: GroupState[AsOfRowState]): Iterator[Row] = {
      val wmUs = msToUsClamped(state.getCurrentWatermarkMs())
      var s = state.getOption.getOrElse(AsOfRowState(Nil, Nil))
      var nullTsLefts: Seq[Row] = Nil
      if (!state.hasTimedOut) {
        val batch = rows.toSeq
        // null-ts rights can never match (NULL compares false against
        // everything); null-ts lefts emit immediately unmatched — the
        // batch forms' semantics
        val newRights = batch
          .filter(r => r.getInt(iSide) == 0 && !r.isNullAt(iTsUs))
          .map(r => (r.getLong(iTsUs), r.getStruct(iPayload)))
        val newLefts = batch
          .filter(r => r.getInt(iSide) == 1 && !r.isNullAt(iTsUs))
          .map(r => (r.getLong(iTsUs), r.getStruct(iLeft)))
        nullTsLefts = batch
          .filter(r => r.getInt(iSide) == 1 && r.isNullAt(iTsUs))
          .map(_.getStruct(iLeft))
        // merge, don't re-sort: equal-ts rights keep arrival order
        // (old before new), and the backward match picks the LAST —
        // the exec family's tie rule under the documented
        // unique-(key, ts) contract
        s = AsOfRowState(
          mergeByTs(s.rights, newRights.sortBy(_._1).toList),
          s.pending ++ newLefts)
      }
      val (s2, emits) = asOfRowDrain(s, wmUs, tol, forward)
      if (s2.rights.isEmpty && s2.pending.isEmpty) state.remove()
      else {
        state.update(s2)
        // wake up when the watermark can next finalize a pending left:
        // backward — passes the left's own ts; forward — reaches its
        // in-tolerance candidate (or passes the tolerance horizon).
        // A rights-only state needs no wakeup (backward's retained row
        // is the steady-state carry, consulted when the key's next
        // left arrives).
        if (s2.pending.nonEmpty) {
          val wakeUs = s2.pending.map { case (lUs, _) =>
            if (!forward) lUs
            else {
              val h = satAddUs(lUs, tol.get)
              s2.rights.find(_._1 >= lUs).map(_._1)
                .filter(_ <= h).getOrElse(h)
            }
          }.min
          // EventTimeTimeout fires when wm(ms) EXCEEDS the set value;
          // floor(wakeUs/1000) guarantees wmUs > / >= wakeUs on fire
          state.setTimeoutTimestamp(math.max(Math.floorDiv(wakeUs, 1000L),
            state.getCurrentWatermarkMs() + 1))
        }
      }
      val matchedOut = emits.map { case (_, lrow, m) =>
        Row.fromSeq(lrow.toSeq ++ (m match {
          case Some(p) => p.toSeq
          case None => Seq.fill[Any](nPay)(null)
        }))
      }
      val nullOut = nullTsLefts.map(lrow =>
        Row.fromSeq(lrow.toSeq ++ Seq.fill[Any](nPay)(null)))
      (nullOut ++ matchedOut).iterator
    }

    unioned
      .groupByKey((r: Row) => r.getStruct(iKey))(Encoders.row(keySchema))
      .flatMapGroupsWithState[AsOfRowState, Row](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout())(update)(
        Encoders.kryo[AsOfRowState], Encoders.row(outSchema))
  }

  /** ms → µs with a clamp: a pathological watermark near Long.MaxValue
    * must evict everything below, not wrap negative. */
  private[streaming] def msToUsClamped(wmMs: Long): Long =
    if (wmMs > Long.MaxValue / 1000L) Long.MaxValue else wmMs * 1000L

  /** Saturating `lUs + tolUs` (the forward horizon must cap at the
    * domain edge, not wrap). */
  private[streaming] def satAddUs(lUs: Long, tolUs: Long): Long =
    if (lUs > Long.MaxValue - tolUs) Long.MaxValue else lUs + tolUs

  /** Merge two ts-sorted right buffers in one linear pass (r15 verdict
    * task #7: the previous form re-sorted the WHOLE buffer every
    * micro-batch — bounded by rate × watermark delay, so not a
    * scale-killer, but O(n log n) where a merge is O(n)). Ties keep
    * `old` rows first — arrival order, the stable-sort tie rule the
    * drain's last-match contract relies on. */
  private[streaming] def mergeByTs(old: List[(Long, Row)],
      fresh: List[(Long, Row)]): List[(Long, Row)] = {
    val out = List.newBuilder[(Long, Row)]
    @annotation.tailrec
    def loop(a: List[(Long, Row)], b: List[(Long, Row)]): Unit = (a, b) match {
      case (Nil, r) => out ++= r
      case (l, Nil) => out ++= l
      case (x :: at, y :: bt) =>
        if (x._1 <= y._1) { out += x; loop(at, b) }
        else { out += y; loop(a, bt) }
    }
    loop(old, fresh)
    out.result()
  }

  /** The pure drain step of [[asOfJoinStreamRows]] — separated so the
    * retention/eviction contract is unit-testable without a streaming
    * harness. Emissions are (left ts µs, left Row, matched payload).
    *
    * Backward: emit every pending left the watermark has passed
    * (strictly `lUs < wmUs`, so a sub-microsecond-later right cannot be
    * outrun), match each against the last right ≤ its ts (within
    * tolerance), then evict every right that can no longer win ANY
    * future left — all but the latest at or below the watermark (a
    * future left has ts ≥ wm, and its as-of match is either that
    * latest row or one still above the watermark).
    *
    * Forward (tolerance REQUIRED — see [[asOfJoinStreamRows]]): a left
    * finalizes MATCHED on its first right in [lUs, lUs+tol] once
    * `wmUs ≥` that right's ts (no earlier-ts right can arrive past the
    * watermark), or UNMATCHED once `wmUs >` its horizon (every future
    * right lands beyond tolerance). Eviction keeps a right iff a
    * pending or future left could still pick it: ts ≥ min(watermark,
    * earliest pending left) — no steady-state carry exists in this
    * direction. */
  private[streaming] def asOfRowDrain(s: AsOfRowState, wmUs: Long,
      tolUs: Option[Long], forward: Boolean)
      : (AsOfRowState, Seq[(Long, Row, Option[Row])]) =
    if (!forward) {
      val (ready, stillPending) = s.pending.partition(_._1 < wmUs)
      val out = ready.sortBy(_._1).map { case (lUs, lrow) =>
        val cand = s.rights.foldLeft(Option.empty[(Long, Row)]) { (acc, r) =>
          if (r._1 <= lUs) Some(r) else acc
        }
        val m = cand.filter(r => tolUs.forall(t => lUs - r._1 <= t))
        (lUs, lrow, m.map(_._2))
      }
      val (below, above) = s.rights.partition(_._1 < wmUs)
      (AsOfRowState(below.takeRight(1) ++ above, stillPending), out)
    } else {
      val t = tolUs.get
      def candidate(lUs: Long): Option[(Long, Row)] =
        s.rights.find(_._1 >= lUs).filter(_._1 <= satAddUs(lUs, t))
      val (ready, stillPending) = s.pending.partition { case (lUs, _) =>
        candidate(lUs) match {
          case Some((bUs, _)) => wmUs >= bUs
          case None => wmUs > satAddUs(lUs, t)
        }
      }
      val out = ready.sortBy(_._1).map { case (lUs, lrow) =>
        (lUs, lrow, candidate(lUs).map(_._2))
      }
      val minPending = stillPending.map(_._1).minOption.getOrElse(Long.MaxValue)
      val keepFrom = math.min(wmUs, minPending)
      (AsOfRowState(s.rights.filter(_._1 >= keepFrom), stillPending), out)
    }

  /** Bounded reference table for the as-of demos: one row per day with
    * that day's MAX purchase value (max, not avg — bit-stable across
    * engines). Day grain keeps the table O(days), the proper broadcast
    * shape. */
  def dailyRateRef(events: DataFrame): DataFrame =
    events.filter(col("event_type") === "purchase")
      .groupBy(date_trunc("day", col("ts")).as("ts"))
      .agg(max(col("value")).as("day_rate"))

  /** Batch twin of the stream-static as-of enrichment (gate entry
    * q_stream_asof; streaming form spec-pinned equal): keyless global
    * as-of against the daily-rate reference. */
  def asOfDailyRateBatch(events: DataFrame): DataFrame =
    asOfEnrichStream(
      events.select("event_id", "user_id", "ts", "event_type"),
      dailyRateRef(events),
      keys = Nil, ts = "ts", payload = Seq("ts", "day_rate"),
      rename = { case "ts" => "rate_ts"; case o => o })
      .select(col("event_id"), col("user_id"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("ts"),
        col("event_type"),
        date_format(col("rate_ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS")
          .as("rate_ts"),
        col("day_rate"))

  /** Tumbling-window counts/sums per event type with a watermark: the
    * canonical `readStream → withWatermark → groupBy(window) → agg` shape. */
  def windowedStats(events: DataFrame, windowLength: String = "1 hour",
      watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLength), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum("value").as("sum_value"),
        approx_count_distinct("user_id").as("approx_users"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        col("event_type"), col("n_events"), col("sum_value"), col("approx_users"))

  /** Batch twin of [[windowedStats]] — the oracle anchor for the tumbling
    * window bucketing: same `window()` buckets and decimal-exact sums on
    * the static events table, with EXACT `countDistinct` in place of the
    * streaming `approx_count_distinct` (sketches aren't engine-comparable;
    * the bucket arithmetic and sums are what the twin pins). Window
    * bounds are formatted so the output is timezone-representation-
    * independent. One partial-agg shuffle on (window, event_type);
    * `window()` is a codegen'd projection, not a blowup. */
  def windowedStatsBatch(events: DataFrame,
      windowLength: String = "1 hour"): DataFrame =
    events
      .groupBy(window(col("ts"), windowLength).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"),
        countDistinct("user_id").as("n_users"))
      .select(
        date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
        date_format(col("w.end"), "yyyy-MM-dd HH:mm:ss").as("window_end"),
        col("event_type"), col("n_events"), col("sum_value"), col("n_users"))

  /** Stream-stream interval join (click→purchase attribution): each click
    * joined to the same user's purchases landing within `[click_ts,
    * click_ts + maxDelayMin]` — the canonical watermarked two-stream join.
    * Both sides carry a watermark and the join condition bounds event time
    * on BOTH ends, so Spark's symmetric hash join can evict buffered rows
    * once the watermark passes `ts + maxDelay` — state is bounded by
    * (watermark delay + attribution window) × arrival rate, never the
    * whole stream. Works unchanged on batch frames (watermarks are
    * streaming-only and skipped), which is what the `q_attribution`
    * oracle checks.
    *
    * Shuffle topology: one exchange per side on `user_id` — identical to
    * a batch equi-join; the interval predicate is evaluated post-match. */
  def attributionJoin(clicks: DataFrame, purchases: DataFrame,
      maxDelayMin: Int = 30, watermark: String = "1 hour"): DataFrame = {
    val c0 = clicks.select(col("event_id").as("click_id"), col("user_id"),
      col("ts").as("click_ts"))
    val p0 = purchases.select(col("event_id").as("purchase_id"),
      col("user_id").as("p_user"), col("ts").as("purchase_ts"),
      col("value").as("purchase_value"))
    val c = if (c0.isStreaming) c0.withWatermark("click_ts", watermark) else c0
    val p = if (p0.isStreaming) p0.withWatermark("purchase_ts", watermark)
      else p0
    c.join(p, col("user_id") === col("p_user") &&
        col("purchase_ts") >= col("click_ts") &&
        col("purchase_ts") <=
          col("click_ts") + expr(s"INTERVAL $maxDelayMin MINUTES"))
      .select(col("click_id"), col("purchase_id"), col("user_id"),
        (unix_micros(col("purchase_ts")) - unix_micros(col("click_ts")))
          .as("gap_us"),
        col("purchase_value"))
  }

  /** Gap-based sessionization per user via flatMapGroupsWithState — the
    * custom-state path the DataFrame API can't express. A session closes
    * when the next event arrives more than `gapMs` after the previous one,
    * or when the event-time watermark passes the gap (EventTimeTimeout —
    * ProcessingTimeTimeout would schedule perpetual empty micro-batches). */
  def sessionize(events: Dataset[Event], gapMs: Long = 30 * 60 * 1000L,
      watermark: String = "30 minutes")
      (implicit spark: SparkSession): Dataset[Session] = {
    import spark.implicits._

    def update(userId: Long, rows: Iterator[Event],
        state: GroupState[SessionState]): Iterator[Session] = {
      var out = List.empty[Session]
      if (state.hasTimedOut) {
        state.getOption.foreach { s =>
          out ::= Session(userId, new Timestamp(s.startMs), new Timestamp(s.lastMs), s.n, s.sum)
        }
        state.remove()
        return out.iterator
      }
      val sorted = rows.toSeq.sortBy(_.ts.getTime)
      var cur = state.getOption
      sorted.foreach { e =>
        val t = e.ts.getTime
        cur match {
          case Some(s) if t - s.lastMs > gapMs =>
            out ::= Session(userId, new Timestamp(s.startMs), new Timestamp(s.lastMs), s.n, s.sum)
            cur = Some(SessionState(t, t, 1, e.value))
          case Some(s) =>
            // monotone bounds: a late-but-within-watermark event from a
            // later micro-batch (t < s.lastMs) must not move the session
            // end backwards (would split sessions / fire timeouts early)
            cur = Some(SessionState(math.min(s.startMs, t),
              math.max(s.lastMs, t), s.n + 1, s.sum + e.value))
          case None =>
            cur = Some(SessionState(t, t, 1, e.value))
        }
      }
      cur.foreach { s =>
        state.update(s)
        // close via watermark once the gap has passed in event time; must
        // stay ahead of the current watermark or Spark rejects it
        state.setTimeoutTimestamp(
          math.max(s.lastMs + gapMs, state.getCurrentWatermarkMs() + 1))
      }
      out.reverse.iterator
    }

    events.withWatermark("ts", watermark)
      .as[Event]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, Session](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout())(update)
  }

  /** In-flight exact dedup of an at-least-once stream: duplicate
    * deliveries of the same `event_id` are dropped as long as they arrive
    * within the watermark of the first copy —
    * `dropDuplicatesWithinWatermark`, the streaming twin of
    * [[graft.operators.Dedup.exactKeep]]. State is one compact key per
    * in-watermark event, evicted as event time advances: bounded by
    * (ingest rate × watermark), not by stream length — the property that
    * makes it safe at 100 TB/day. Dedup keys can equally be a content
    * hash (`md5(text)`) for document streams; `keyCols` chooses. */
  def dedupStream(events: DataFrame, watermark: String = "2 hours",
      keyCols: Seq[String] = Seq("event_id"),
      tsCol: String = "ts"): DataFrame =
    events.withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(keyCols.head, keyCols.tail: _*)

  /** Batch twin of [[dedupStream]] over a CONTENT key (the ingest-dedup
    * contract: an upstream producer that retries delivers the same
    * logical event under a fresh event_id, so dedup must key on content,
    * not id). Keeps the first occurrence per key in event-time order —
    * exactly what `dropDuplicatesWithinWatermark(content key)` keeps on
    * an event-time-ordered replay (the streaming form's arrival-order
    * semantics under unordered arrival are pinned in EventStreamSpec).
    * One keyed shuffle + a rank window whose partitions are the
    * per-key duplicate groups — tiny by definition; ties on ts break by
    * event_id so the choice is engine-independent. */
  def ingestDedupBatch(events: DataFrame,
      keyCols: Seq[String] = Seq("user_id", "event_type", "value")): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keyCols.map(col): _*)
      .orderBy(col("ts").asc, col("event_id").asc)
    events
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("value"))
  }

  /** Batch-mode sessionization of the static events table via window functions —
    * the offline twin of [[sessionize]] (same session definition), used to
    * backfill or verify streaming output. */
  def sessionizeBatch(events: DataFrame, gapMs: Long = 30 * 60 * 1000L): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("ts")
    events
      .withColumn("prev_ts", lag(col("ts"), 1).over(w))
      // millisecond-exact integer gap (unix_millis), engine-independent
      .withColumn("new_session",
        (col("prev_ts").isNull ||
          (unix_millis(col("ts")) - unix_millis(col("prev_ts"))) > gapMs)
          .cast("int"))
      .withColumn("session_no",
        sum("new_session").over(w.rowsBetween(Long.MinValue, 0)))
      .groupBy("user_id", "session_no")
      .agg(min("ts").as("session_start"), max("ts").as("session_end"),
        count(lit(1)).as("n_events"),
        // decimal-exact sum: engine/accumulation-order independent
        sum(col("value").cast("decimal(18,2)")).cast("double").as("total_value"))
      .drop("session_no")
  }

  /** Idempotent micro-batch parquet sink: Structured Streaming's
    * foreachBatch is AT-LEAST-ONCE (a batch replays after a crash
    * between sink success and checkpoint commit); writing each batch to
    * its own `batch=<id>` directory and skipping directories that
    * already hold a _SUCCESS marker upgrades the pipeline to effective
    * exactly-once for any downstream reader of the output root. A
    * directory without _SUCCESS is a torn write from a mid-write crash —
    * rewritten (overwrite) on replay. This is the standard idempotent-
    * sink recipe for sinks without native transactions; at 100 TB the
    * same pattern targets a transactional table format instead.
    * Paths resolve through Hadoop's FileSystem API, so `outDir` may be
    * any supported scheme (hdfs://, s3a://, file:, bare local path) —
    * a java.io.File check would silently see "not written" on every
    * remote URI and degrade the upgrade back to at-least-once overwrite.
    * Returns true if the batch was written, false if skipped. */
  def idempotentBatchSink(outDir: String,
      partitionBy: Seq[String] = Nil)(df: DataFrame,
      batchId: Long): Boolean = {
    val dir = new org.apache.hadoop.fs.Path(outDir, s"batch=$batchId")
    val fs = dir.getFileSystem(
      df.sparkSession.sparkContext.hadoopConfiguration)
    if (fs.exists(new org.apache.hadoop.fs.Path(dir, "_SUCCESS"))) false
    else {
      val w = df.write.mode("overwrite")
      (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w)
        .parquet(dir.toString)
      true
    }
  }

  /** Wire a stream into [[idempotentBatchSink]] with checkpointing —
    * the ingest tail of a streaming curation pipeline. */
  def startIngest(stream: DataFrame, outDir: String,
      checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (df: DataFrame, id: Long) =>
        idempotentBatchSink(outDir)(df, id); ()
      }
      .start()

  /** Streaming SKETCH ingest — the mergeable-state answer to "how many
    * distinct users has each event type EVER seen" on an unbounded
    * stream. The naive answers both fail at scale: `dropDuplicates`
    * state grows with lifetime distinct count (unbounded, no watermark
    * can evict it — lifetime means forever), and a nightly batch
    * recount rescans all history. Here each micro-batch lands ONE
    * bounded KMV state row per event type (k longs, map-side combined)
    * through the `_SUCCESS`-gated [[idempotentBatchSink]] — replay
    * cannot double-write — and the lifetime answer is a row-level merge
    * over the committed sketch rows ([[sketchIngestTotals]]): #batches ×
    * #types tiny arrays, NEVER the event history. The stream itself
    * carries zero state-store entries beyond checkpoint offsets. */
  def sketchIngest(events: DataFrame, outDir: String,
      checkpointDir: String, k: Int = 65536)
      : org.apache.spark.sql.streaming.StreamingQuery =
    events.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (df: DataFrame, id: Long) =>
        idempotentBatchSink(outDir)(batchSketchRows(df, k), id)
        // version-stamp the state table (idempotent tiny-file write):
        // stored sketch states embed the hash function, and a reader
        // from a different hash generation must fail loudly, not
        // estimate wrongly (see SketchMeta)
        graft.functions.SketchMeta.write(df.sparkSession, outDir); ()
      }
      .start()

  /** One micro-batch's sketch rows: (event_type, sketch) with a
    * k-bounded KMV state per type. */
  private[streaming] def batchSketchRows(events: DataFrame,
      k: Int): DataFrame =
    events.groupBy(col("event_type"))
      .agg(graft.functions.KmvSketch.sketchState(
        col("user_id").cast("string"), k).as("sketch"))

  /** Lifetime distinct-user estimate per event type from the COMMITTED
    * sketch rows alone (exact below k): the serving-side read of
    * [[sketchIngest]]'s table. */
  def sketchIngestTotals(spark: SparkSession, outDir: String,
      k: Int = 65536): DataFrame = {
    import graft.functions.KmvSketch
    graft.functions.SketchMeta.check(spark, outDir)
    ParquetInput.read(spark, outDir)
      .groupBy(col("event_type"))
      .agg(KmvSketch.estimateExpr(
        KmvSketch.mergeStatesExpr(collect_list(col("sketch")), k), k)
        .as("est_users"))
  }

  /** Batch-twin demo of the sketch-ingest loop (the oracle-able entry):
    * the events table split into 4 deterministic "micro-batches"
    * (event_id mod 4), each batch's sketch rows written through the
    * SAME idempotent sink, totals derived from the stored rows only.
    * Exact below k ⇒ the DuckDB oracle pins per-type distinct users.
    * The demo table is written once per (events frame, k). */
  def sketchIngestBatchDemo(spark: SparkSession, events: DataFrame,
      k: Int = 65536): DataFrame = {
    val root = Artifacts.dir("sketch_ingest", k, events) { out =>
      (0L until 4L).foreach { b =>
        idempotentBatchSink(out)(
          batchSketchRows(events.filter(
            org.apache.spark.sql.functions.pmod(col("event_id"),
              lit(4L)) === b), k), b)
      }
      graft.functions.SketchMeta.write(spark, out)
    }
    sketchIngestTotals(spark, root, k)
  }

  /** Streaming HEAVY-HITTERS ingest — the frequent-items twin of
    * [[sketchIngest]]: "who are the top users each event type has EVER
    * seen" on an unbounded stream. Same shape, same guarantees: each
    * micro-batch lands one bounded Misra–Gries state row per type (≤ k
    * (item, count) pairs, map-side combined) through the
    * `_SUCCESS`-gated [[idempotentBatchSink]], and the lifetime top-k
    * is a pure-expression merge over the committed rows — #batches ×
    * #types k-entry arrays, never the event history. Counts are exact
    * while lifetime distinct items stay below k; above it the MG
    * N/(k+1) under-count theorem holds across the merge
    * (`HeavyHittersSpec`, `q_hh_error_bound`). */
  def hhIngest(events: DataFrame, outDir: String,
      checkpointDir: String, k: Int = 256,
      item: Column = col("user_id").cast("string"))
      : org.apache.spark.sql.streaming.StreamingQuery =
    events.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (df: DataFrame, id: Long) =>
        idempotentBatchSink(outDir)(batchHhRows(df, k, item), id)
        // same state-format stamp as sketchIngest (uniform across the
        // sketch families, MG included)
        graft.functions.SketchMeta.write(df.sparkSession, outDir); ()
      }
      .start()

  /** One micro-batch's heavy-hitter rows: (event_type, state). */
  private[streaming] def batchHhRows(events: DataFrame, k: Int,
      item: Column = col("user_id").cast("string")): DataFrame =
    events.groupBy(col("event_type"))
      .agg(graft.functions.HeavyHitters.sketchState(item, k).as("state"))

  /** Lifetime top-`top` items per event type from the COMMITTED state
    * rows alone: the serving-side read of [[hhIngest]]'s table. */
  def hhIngestTotals(spark: SparkSession, outDir: String,
      k: Int = 256, top: Int = 5,
      itemName: String = "user_id"): DataFrame = {
    import graft.functions.HeavyHitters
    graft.functions.SketchMeta.check(spark, outDir)
    ParquetInput.read(spark, outDir)
      .groupBy(col("event_type"))
      .agg(collect_list(col("state")).as("sts"))
      .select(col("event_type"), explode(HeavyHitters.topKExpr(
        HeavyHitters.mergeStatesExpr(col("sts"), k), top)).as("e"))
      .select(col("event_type"), col("e.item").as(itemName),
        col("e.n").as("n_events"))
  }

  /** Batch-twin demo of the heavy-hitters ingest loop (the oracle-able
    * entry): the events table split into 4 deterministic
    * "micro-batches" (event_id mod 4), each batch's MG state rows
    * written through the SAME idempotent sink, lifetime per-type top
    * items derived from the stored rows only. Exact below k ⇒ the
    * driver's oracle pins per-(type, item) event counts; the
    * `q_stream_hh` entry streams the 100-value `props.k` tag so the
    * exact regime holds at EVERY scale factor (the item vocabulary,
    * unlike user ids, does not grow with the data). */
  def hhIngestBatchDemo(spark: SparkSession, events: DataFrame,
      k: Int = 256, top: Int = 5,
      item: Column = col("user_id").cast("string"),
      itemName: String = "user_id"): DataFrame = {
    // the item expression is part of the key: two calls binding a
    // different item column over one events frame must land separate
    // demo tables, not silently read the first call's stored states
    val root = Artifacts.dir("hh_ingest", (k, itemName, item.toString),
        events) { out =>
      (0L until 4L).foreach { b =>
        idempotentBatchSink(out)(
          batchHhRows(events.filter(
            org.apache.spark.sql.functions.pmod(col("event_id"),
              lit(4L)) === b), k, item), b)
      }
      graft.functions.SketchMeta.write(spark, out)
    }
    hhIngestTotals(spark, root, k, top, itemName)
  }

  /** Per-window distribution-drift monitor (batch form): KL divergence of
    * each tumbling window's event-type mix against the corpus-global mix,
    * add-λ smoothed over the global type support so every term is finite.
    * The ingest-monitoring primitive of a data pipeline — a drifted
    * window means the upstream mix changed (a source went down, a crawler
    * loop, a bot burst) and downstream mixture weights are stale.
    *
    * Scale shape: ONE corpus-scale keyed agg on (window, type), partial-
    * agg combined; the global histogram and totals are type-cardinality
    * aggregates, broadcast back; the densified window×type grid and the
    * KL reduction are mixture-sized (windows × |types|), never
    * event-scale. */
  def typeDriftBatch(events: DataFrame, windowLength: String = "1 hour",
      lambda: Double = 0.5, threshold: Double = 0.2): DataFrame = {
    val g = events.groupBy("event_type").agg(count(lit(1)).as("n_g"))
    val tot = g.agg(sum("n_g").cast("double").as("n"),
      count(lit(1)).cast("double").as("t"))
    val w = events
      .groupBy(window(col("ts"), windowLength).getField("start").as("ws"),
        col("event_type"))
      .agg(count(lit(1)).as("n_w"))
    val wins = w.groupBy("ws").agg(sum("n_w").cast("double").as("n_tot"))
    wins.crossJoin(broadcast(g))
      .join(w, Seq("ws", "event_type"), "left")
      .crossJoin(broadcast(tot))
      .select(col("ws"), col("n_tot"),
        ((coalesce(col("n_w"), lit(0L)).cast("double") + lambda) /
          (col("n_tot") + lit(lambda) * col("t"))).as("pw"),
        ((col("n_g").cast("double") + lambda) /
          (col("n") + lit(lambda) * col("t"))).as("pg"))
      .groupBy("ws", "n_tot")
      .agg(sum(col("pw") * log(col("pw") / col("pg"))).as("kl"))
      .select(
        date_format(col("ws"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
        col("n_tot").cast("long").as("n_events"),
        round(col("kl"), 6).as("kl"),
        (col("kl") > threshold).as("drifted"))
  }

  /** Streaming form of [[typeDriftBatch]] against a FIXED reference
    * histogram (the production semantics: drift is measured against the
    * distribution the mixture weights were planned on, not against the
    * drifting stream itself). The reference's type set is pinned at query
    * start, so the whole drift arithmetic folds into ONE watermarked
    * windowed aggregation — per-type conditional counts as columns, KL as
    * a closed-form projection — valid in append mode with state bounded
    * by the watermark. Equivalence with the batch twin (when the
    * reference IS the batch global histogram) is spec-pinned. */
  def typeDriftStream(events: DataFrame, reference: Map[String, Long],
      windowLength: String = "1 hour", watermark: String = "2 hours",
      lambda: Double = 0.5, threshold: Double = 0.2): DataFrame = {
    val types = reference.keys.toSeq.sorted
    val t = types.size.toDouble
    val n = reference.values.sum.toDouble
    val counts = types.zipWithIndex.map { case (ty, i) =>
      sum(when(col("event_type") === ty, 1L).otherwise(0L)).as(s"c_$i")
    }
    val nTot = types.indices.map(i => col(s"c_$i")).reduce(_ + _)
      .cast("double")
    val kl = types.zipWithIndex.map { case (ty, i) =>
      val pw = (col(s"c_$i").cast("double") + lambda) /
        (col("n_tot") + lambda * t)
      val pg = (reference(ty).toDouble + lambda) / (n + lambda * t)
      pw * log(pw / lit(pg))
    }.reduce(_ + _)
    events.withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLength).getField("start").as("ws"))
      .agg(counts.head, counts.tail: _*)
      .withColumn("n_tot", nTot)
      .withColumn("kl_raw", kl)
      .select(
        date_format(col("ws"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
        col("n_tot").cast("long").as("n_events"),
        round(col("kl_raw"), 6).as("kl"),
        (col("kl_raw") > threshold).as("drifted"))
  }
}

package graft.streaming

import java.sql.Timestamp
import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.functions._

class EventStreamSpec extends SparkSpec {

  import EventStream._

  private def ts(minute: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-01 10:$minute%02d:00")

  test("windowed stats with watermark over a memory stream") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Event]
    val query = windowedStats(input.toDF(), windowLength = "10 minutes",
      watermark = "20 minutes")
      .writeStream.format("memory").queryName("win_stats")
      .outputMode(OutputMode.Update()).start()
    try {
      input.addData(
        Event(1, ts(1), 100, "click", 1.0),
        Event(2, ts(2), 100, "click", 2.0),
        Event(3, ts(11), 101, "view", 5.0))
      query.processAllAvailable()
      val rows = spark.table("win_stats")
        .select("event_type", "n_events", "sum_value").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
      assert(rows === Set(("click", 2L, 3.0), ("view", 1L, 5.0)))
    } finally query.stop()
  }

  test("stream-static as-of enrichment: custom broadcast operator inside a streaming plan, equal to the batch form") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // static bounded reference: rate valid FROM its timestamp onward
    // (ts column shares the stream's name — the as-of API contract)
    val ref = Seq((ts(0), 1.0), (ts(10), 2.0), (ts(20), 3.0))
      .toDF("ts", "rate")
    val events = Seq(
      Event(1, ts(5), 100, "click", 0.0),   // rate 1.0
      Event(2, ts(10), 100, "click", 0.0),  // tie → rate 2.0
      Event(3, ts(25), 101, "view", 0.0),   // rate 3.0
      Event(4, ts(59), 101, "view", 0.0))   // rate 3.0
    val input = MemoryStream[Event]
    val query = asOfEnrichStream(input.toDF(), ref, keys = Nil, ts = "ts",
        payload = Seq("rate"), rename = _ => "asof_rate")
      .writeStream.format("memory").queryName("asof_stream")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(events.take(2): _*)
      query.processAllAvailable()
      input.addData(events.drop(2): _*) // second micro-batch, same ref
      query.processAllAvailable()
      val got = spark.table("asof_stream").select("event_id", "asof_rate")
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(got === Map(1L -> 1.0, 2L -> 2.0, 3L -> 3.0, 4L -> 3.0))
      // and the batch form on the same rows gives identical output
      val batch = graft.operators.AsOf.asOfJoinBroadcast(events.toDF(), ref,
          keys = Nil, ts = "ts", payload = Seq("rate"), rename = _ => "asof_rate")
        .select("event_id", "asof_rate")
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(batch === got)
    } finally query.stop()
  }

  test("asOfRowDrain (backward): watermark emit gate, last-right-≤ match, tolerance, and right eviction to the steady-state carry") {
    import EventStream.{AsOfRowState, asOfRowDrain, msToUsClamped, tsMicros}
    import org.apache.spark.sql.Row
    def us(m: Int) = tsMicros(ts(m))
    def l(id: Long, m: Int) = (us(m), Row(id))
    def r(m: Int, v: Double) = (us(m), Row(v))
    val s = AsOfRowState(
      rights = List(r(1, 1.0), r(5, 5.0), r(9, 9.0), r(40, 40.0)),
      pending = List(l(1, 6), l(2, 30), l(3, 50)))
    // watermark at minute 35: lefts at 6 and 30 emit, 50 stays pending
    val wm35 = msToUsClamped(ts(35).getTime)
    val (s2, out) = asOfRowDrain(s, wm35, None, forward = false)
    assert(out.map(e => e._2.getLong(0) -> e._3.map(_.getDouble(0))) ===
      Seq(1L -> Some(5.0), 2L -> Some(9.0)))
    assert(s2.pending.map(_._2.getLong(0)) === List(3L))
    // eviction: below-watermark rights collapse to the LATEST (minute 9
    // — the steady-state carry a future left still needs); 40 is above
    assert(s2.rights === List(r(9, 9.0), r(40, 40.0)))
    // strict gate: a left AT the watermark does not emit (a right at
    // the same microsecond could still arrive)
    val atWm = AsOfRowState(Nil, List(l(4, 35)))
    assert(asOfRowDrain(atWm, wm35, None, forward = false)._2.isEmpty)
    // tolerance: minute-30 left vs minute-9 right is 21 min apart
    val (_, tout) = asOfRowDrain(s, wm35,
      Some(10L * 60L * 1000000L), forward = false)
    assert(tout.map(e => e._2.getLong(0) -> e._3.map(_.getDouble(0))) ===
      Seq(1L -> Some(5.0), 2L -> None))
    // no right at all → null match, state fully drains to empty
    val (s3, nout) = asOfRowDrain(AsOfRowState(Nil,
      List(l(5, 1))), wm35, None, forward = false)
    assert(nout.head._3.isEmpty)
    assert(s3.rights.isEmpty && s3.pending.isEmpty)
  }

  test("asOfRowDrain (forward): candidate finalization, horizon unmatched, eviction without a carry") {
    import EventStream.{AsOfRowState, asOfRowDrain, msToUsClamped, tsMicros}
    import org.apache.spark.sql.Row
    def us(m: Int) = tsMicros(ts(m))
    def l(id: Long, m: Int) = (us(m), Row(id))
    def r(m: Int, v: Double) = (us(m), Row(v))
    val tol = Some(15L * 60L * 1000000L) // 15 minutes
    val s = AsOfRowState(
      rights = List(r(10, 10.0), r(20, 20.0), r(55, 55.0)),
      pending = List(l(1, 5), l(2, 12), l(3, 50), l(4, 30)))
    // wm 25: left@5 → right@10 final (wm ≥ 10); left@12 → right@20
    // final; left@30 (horizon 45, no candidate yet) and left@50
    // (candidate 55 not yet certified) stay pending
    val (s2, out) = asOfRowDrain(s, msToUsClamped(ts(25).getTime),
      tol, forward = true)
    assert(out.map(e => e._2.getLong(0) -> e._3.map(_.getDouble(0))) ===
      Seq(1L -> Some(10.0), 2L -> Some(20.0)))
    assert(s2.pending.map(_._2.getLong(0)).toSet === Set(3L, 4L))
    // eviction keeps only rights ≥ min(wm=25, minPending=30): no
    // backward-style carry row in the forward direction
    assert(s2.rights.map(_._1) === List(us(55)))
    // wm 46: left@30's horizon (45) has passed with no candidate →
    // UNMATCHED; left@50 still pending (candidate 55 > wm)
    val (s3, out3) = asOfRowDrain(s2, msToUsClamped(ts(46).getTime),
      tol, forward = true)
    assert(out3.map(e => e._2.getLong(0) -> e._3.map(_.getDouble(0))) ===
      Seq(4L -> None))
    assert(s3.pending.map(_._2.getLong(0)) === List(3L))
    // wm 55: left@50 finalizes on right@55 (wm ≥ candidate ts)
    val (s4, out4) = asOfRowDrain(s3, msToUsClamped(ts(55).getTime),
      tol, forward = true)
    assert(out4.map(e => e._2.getLong(0) -> e._3.map(_.getDouble(0))) ===
      Seq(3L -> Some(55.0)))
    assert(s4.pending.isEmpty)
  }

  test("mergeByTs: linear merge keeps order, old rows first on ties") {
    import EventStream.mergeByTs
    import org.apache.spark.sql.Row
    val old = List((1L, Row("a")), (5L, Row("b")), (9L, Row("c")))
    val fresh = List((0L, Row("y")), (5L, Row("x")), (12L, Row("z")))
    val m = mergeByTs(old, fresh)
    assert(m.map(_._1) === List(0L, 1L, 5L, 5L, 9L, 12L))
    // tie at 5: the buffered (old) row keeps arrival precedence
    assert(m.filter(_._1 == 5L).map(_._2.getString(0)) === List("b", "x"))
    assert(mergeByTs(Nil, fresh) === fresh)
    assert(mergeByTs(old, Nil) === old)
  }

  test("stream-stream as-of: late-within-watermark rights are honored, parity with the batch exec") {
    implicit val sqlCtx = spark.sqlContext
    implicit val ss = spark
    import spark.implicits._
    val lefts = Seq(
      Event(1, ts(5), 100, "click", 0.0),
      Event(2, ts(12), 100, "view", 0.0),
      Event(3, ts(12), 200, "click", 0.0), // key with a late right
      Event(4, ts(3), 200, "view", 0.0))   // before any right → null
    val rights = Seq(
      Event(50, ts(2), 100, "purchase", 2.0),
      Event(51, ts(12), 100, "purchase", 12.0), // tie with left 2
      Event(52, ts(10), 200, "purchase", 10.0)) // arrives LATE
    val lIn = MemoryStream[Event]
    val rIn = MemoryStream[Event]
    val query = EventStream.asOfJoinStream(lIn.toDS(), rIn.toDS(),
        watermark = "30 minutes")
      .writeStream.format("memory").queryName("asof_ss")
      .outputMode(OutputMode.Append()).start()
    try {
      lIn.addData(lefts: _*)
      rIn.addData(rights.take(2): _*)
      query.processAllAvailable()
      // the late right for key 200 arrives in batch 2, still within
      // the 30-minute watermark of the lefts at minute 12
      rIn.addData(rights.drop(2): _*)
      query.processAllAvailable()
      assert(spark.table("asof_ss").count() == 0,
        "nothing may emit before the watermark passes the lefts")
      // advance BOTH watermarks past every real left (union watermark
      // is the MIN of the two inputs)
      lIn.addData(Event(98, ts(59), 999, "click", 0.0))
      rIn.addData(Event(99, ts(59), 999, "purchase", 0.0))
      query.processAllAvailable()
      val got = spark.table("asof_ss")
        .filter(col("user_id") =!= 999)
        .collect().map(r => r.getLong(0) ->
          (if (r.isNullAt(6)) null else r.getDouble(6))).toMap
      assert(got === Map(1L -> 2.0, 2L -> 12.0, 3L -> 10.0, 4L -> null))
      // batch parity: the exec family on the same rows
      val batch = graft.operators.AsOf.asOfJoinExec(
        lefts.toDF(), rights.toDF().select(col("user_id"), col("ts"),
          col("ts").as("p_ts"), col("value")),
        Seq("user_id"), "ts", payload = Seq("value"),
        rename = _ => "m_value")
        .collect().map(r => r.getLong(0) ->
          (if (r.isNullAt(5)) null else r.getDouble(5))).toMap
      assert(batch === got)
      // steady-state: every keyed group keeps exactly its carry row —
      // state has not grown past one entry per key
      val progress = query.recentProgress.flatMap(p =>
        Option(p.stateOperators).toSeq.flatten).lastOption
      assert(progress.exists(_.numRowsTotal <= 3),
        s"state must be bounded by keys, got ${progress.map(_.numRowsTotal)}")
    } finally query.stop()
  }

  test("generic stream-stream as-of: arbitrary schema, two keys, forward direction, parity with the batch exec") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // trades enriched with the NEXT quote at or after trade time within
    // 10 minutes — a schema the old Event-shaped API could not touch:
    // two key columns (sym, venue), different column names, forward
    val tol = 10L * 60L * 1000000L
    val trades = Seq(
      (1L, ts(5), "A", 1, 100.0),
      (2L, ts(12), "A", 1, 200.0),
      (3L, ts(8), "B", 2, 300.0),
      (4L, ts(40), "A", 1, 400.0)) // no quote in [40, 50] → null
    val quotes = Seq(
      (ts(7), "A", 1, 7.0),
      (ts(13), "A", 1, 13.0),
      (ts(9), "B", 2, 9.0))
    // arrives in batch 2, inside the right stream's watermark (max event
    // time 13 − 5 min delay = minute 8 < 12)
    val lateQuote = (ts(12), "A", 1, 12.0)
    val tIn = MemoryStream[(Long, Timestamp, String, Int, Double)]
    val qIn = MemoryStream[(Timestamp, String, Int, Double)]
    val out = EventStream.asOfJoinStreamRows(
      tIn.toDS().toDF("trade_id", "ts", "sym", "venue", "qty"),
      qIn.toDS().toDF("ts", "sym", "venue", "price"),
      keys = Seq("sym", "venue"), ts = "ts",
      payload = Seq("ts", "price"),
      rename = { case "ts" => "quote_ts"; case o => o },
      direction = "forward", toleranceUs = Some(tol),
      // 5-minute delay: the minute-59 sentinels push the union watermark
      // to 54, past trade 4's tolerance horizon (50) so its unmatched
      // emission finalizes
      watermark = "5 minutes")
    val query = out.writeStream.format("memory").queryName("asof_fwd")
      .outputMode(OutputMode.Append()).start()
    try {
      tIn.addData(trades: _*)
      qIn.addData(quotes: _*)
      query.processAllAvailable()
      // the late quote at minute 12 must beat the minute-13 one for
      // trade 2 (forward picks the FIRST ts ≥ left, and 12 < 13)
      qIn.addData(lateQuote)
      query.processAllAvailable()
      // advance BOTH watermarks past every horizon (min-policy union)
      tIn.addData((99L, ts(59), "Z", 9, 0.0))
      qIn.addData((ts(59), "Z", 9, 0.0))
      query.processAllAvailable()
      val got = spark.table("asof_fwd").filter(col("sym") =!= "Z")
        .collect().map(r => r.getLong(0) ->
          (if (r.isNullAt(6)) null else r.getDouble(6))).toMap
      assert(got === Map(1L -> 7.0, 2L -> 12.0, 3L -> 9.0, 4L -> null))
      // batch parity: the oracle-pinned exec family on the same rows
      val batch = graft.operators.AsOf.asOfJoinExec(
        trades.toDF("trade_id", "ts", "sym", "venue", "qty"),
        (quotes :+ lateQuote).toDF("ts", "sym", "venue", "price")
          .select(col("sym"), col("venue"), col("ts"),
            col("ts").as("q_ts"), col("price")),
        Seq("sym", "venue"), "ts", payload = Seq("q_ts", "price"),
        rename = { case "q_ts" => "quote_ts"; case o => o },
        direction = "forward", tolerance = Some(tol))
        .collect().map(r => r.getLong(0) ->
          (if (r.isNullAt(6)) null else r.getDouble(6))).toMap
      assert(batch === got)
    } finally query.stop()
  }

  test("streaming dedup drops duplicate deliveries within the watermark") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Event]
    val query = dedupStream(input.toDF(), watermark = "30 minutes")
      .writeStream.format("memory").queryName("dedup_stream")
      .outputMode(OutputMode.Append()).start()
    try {
      // at-least-once delivery: event 1 arrives twice in one batch,
      // event 2's duplicate arrives a batch later (still in watermark)
      input.addData(
        Event(1, ts(1), 100, "click", 1.0),
        Event(1, ts(1), 100, "click", 1.0),
        Event(2, ts(2), 100, "view", 2.0))
      query.processAllAvailable()
      input.addData(
        Event(2, ts(2), 100, "view", 2.0),
        Event(3, ts(3), 101, "click", 3.0))
      query.processAllAvailable()
      val ids = spark.table("dedup_stream").select("event_id")
        .collect().map(_.getLong(0)).toSeq
      assert(ids.sorted === Seq(1L, 2L, 3L), s"got $ids")
    } finally query.stop()
  }

  test("content-key ingest dedup: stream keeps first arrival, batch twin " +
      "keeps event-time-first — identical on ordered replay") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // a producer retry: same logical event (user 100 click 1.0) delivered
    // under three DIFFERENT event_ids — id-keyed dedup would keep all 3
    val events = Seq(
      Event(10, ts(1), 100, "click", 1.0),
      Event(11, ts(2), 100, "click", 1.0),
      Event(12, ts(3), 100, "click", 1.0),
      Event(20, ts(2), 101, "view", 2.0))
    val input = MemoryStream[Event]
    val query = dedupStream(input.toDF(), watermark = "30 minutes",
        keyCols = Seq("user_id", "event_type", "value"))
      .writeStream.format("memory").queryName("ingest_dedup")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(events: _*)
      query.processAllAvailable()
      val streamIds = spark.table("ingest_dedup").select("event_id")
        .collect().map(_.getLong(0)).toSet
      val batchIds = ingestDedupBatch(events.toDF())
        .select("event_id").collect().map(_.getLong(0)).toSet
      assert(streamIds === Set(10L, 20L), s"got $streamIds")
      assert(batchIds === streamIds, "twins agree on ordered replay")
    } finally query.stop()
  }

  test("streaming sessionization closes a session on gap") {
    implicit val sqlCtx = spark.sqlContext
    implicit val s = spark
    import spark.implicits._
    val input = MemoryStream[Event]
    val query = sessionize(input.toDS(), gapMs = 10 * 60 * 1000L)
      .writeStream.format("memory").queryName("sessions")
      .outputMode(OutputMode.Append()).start()
    try {
      // session 1: minutes 1-5 (3 events); then a 25-minute gap
      input.addData(
        Event(1, ts(1), 100, "click", 1.0),
        Event(2, ts(3), 100, "view", 2.0),
        Event(3, ts(5), 100, "click", 3.0))
      query.processAllAvailable()
      input.addData(Event(4, ts(30), 100, "click", 4.0))
      query.processAllAvailable()
      val sessions = spark.table("sessions").collect()
      assert(sessions.length === 1)
      val sess = sessions(0)
      assert(sess.getLong(0) === 100L)
      assert(sess.getTimestamp(1) === ts(1))
      assert(sess.getTimestamp(2) === ts(5))
      assert(sess.getInt(3) === 3)
      assert(sess.getDouble(4) === 6.0)
    } finally query.stop()
  }

  test("late in-watermark event cannot move a session's bounds backwards") {
    implicit val sqlCtx = spark.sqlContext
    implicit val s = spark
    import spark.implicits._
    val input = MemoryStream[Event]
    val query = sessionize(input.toDS(), gapMs = 10 * 60 * 1000L,
      watermark = "30 minutes")
      .writeStream.format("memory").queryName("late_sessions")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(Event(1, ts(1), 100, "click", 1.0),
        Event(2, ts(8), 100, "view", 2.0))
      query.processAllAvailable()
      // late event (minute 4 < last-seen minute 8) in a later micro-batch:
      // must extend counts but keep lastMs at minute 8, NOT regress to 4
      input.addData(Event(3, ts(4), 100, "click", 3.0))
      query.processAllAvailable()
      // far-future event from another user advances the watermark past the
      // session's gap so the (correct) timeout fires and emits it
      input.addData(Event(4, ts(59), 200, "click", 0.5))
      query.processAllAvailable()
      input.addData(Event(5, ts(59), 201, "view", 0.5))
      query.processAllAvailable()
      val sess = spark.table("late_sessions")
        .filter(col("user_id") === 100L).collect()
      assert(sess.length === 1)
      assert(sess(0).getTimestamp(1) === ts(1)) // start stays min
      assert(sess(0).getTimestamp(2) === ts(8)) // end stays max, not 4
      assert(sess(0).getInt(3) === 3)           // late event still counted
    } finally query.stop()
  }

  test("windowedStatsBatch: hour buckets partition the real events table") {
    val ev = graft.operators.Relational.events(spark, sfDir)
    val got = windowedStatsBatch(ev).collect()
    assert(got.map(_.getLong(3)).sum === ev.count())
    got.foreach { r =>
      // window bounds are exactly one hour apart, aligned to :00:00
      assert(r.getString(0).endsWith(":00:00") &&
        r.getString(1).endsWith(":00:00"), r)
      assert(r.getLong(5) <= r.getLong(3), "distinct users <= events")
    }
  }

  test("batch sessionization matches the same session definition") {
    import spark.implicits._
    val df = Seq(
      (1L, ts(1), 100L, "click", 1.0),
      (2L, ts(3), 100L, "view", 2.0),
      (3L, ts(30), 100L, "click", 4.0),
      (4L, ts(2), 200L, "view", 9.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val sessions = sessionizeBatch(df, gapMs = 10 * 60 * 1000L)
      .orderBy("user_id", "session_start").collect()
    assert(sessions.length === 3)
    // user 100: [1,3] then [30]; user 200: [2]
    assert(sessions(0).getLong(3) === 2L) // n_events of first session
    assert(sessions(1).getLong(3) === 1L)
    assert(sessions(2).getLong(0) === 200L)
  }

  test("batch sessionization works over the real events table") {
    val events = graft.operators.Relational.events(spark, sfDir)
    val sessions = sessionizeBatch(events)
    assert(sessions.count() > 0)
    // every session is internally consistent
    assert(sessions.filter(col("session_end") < col("session_start")).count() === 0)
  }

  test("streaming sessionize ≡ batch sessionize on the real events table") {
    // Closes the equivalence loop: sessionize-stream ≡ sessionize-batch
    // (≡ the DuckDB oracle, which pins the batch twin as q_sessionize).
    // Same fixture events both ways; a far-future sentinel from a dummy
    // user advances the watermark so every real session times out and
    // is emitted. Bounds compare at ms resolution — the streaming state
    // keeps ms (getTime), the batch twin keeps the file's µs.
    implicit val sqlCtx = spark.sqlContext
    implicit val s = spark
    import spark.implicits._
    val ev = graft.operators.Relational.events(spark, sfDir)
      .select("event_id", "ts", "user_id", "event_type", "value")
    val evRows = ev.as[Event].collect()
    val batch = sessionizeBatch(ev).collect().map(r =>
      (r.getLong(0), r.getTimestamp(1).getTime, r.getTimestamp(2).getTime,
        r.getLong(3).toInt, r.getDouble(4))).toSet
    val input = MemoryStream[Event]
    val query = sessionize(input.toDS())
      .writeStream.format("memory").queryName("real_sessions")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(evRows.toSeq)
      query.processAllAvailable()
      val flushTs = new java.sql.Timestamp(
        evRows.map(_.ts.getTime).max + 6L * 3600 * 1000)
      input.addData(Event(-1L, flushTs, -1L, "sentinel", 0.0))
      query.processAllAvailable()
      val streamed = spark.table("real_sessions")
        .filter(col("user_id") >= 0).collect().map(r =>
        (r.getLong(0), r.getTimestamp(1).getTime, r.getTimestamp(2).getTime,
          r.getInt(3), r.getDouble(4))).toSet
      assert(streamed.size === batch.size,
        s"stream ${streamed.size} vs batch ${batch.size} sessions")
      // exact on (user, start_ms, end_ms, n); value sums to fp tolerance
      // (stream accumulates doubles in ts order, batch sums decimals)
      val bKeys = batch.map(t => (t._1, t._2, t._3, t._4))
      val sKeys = streamed.map(t => (t._1, t._2, t._3, t._4))
      assert(sKeys === bKeys)
      val bVal = batch.toSeq.sortBy(t => (t._1, t._2)).map(_._5)
      val sVal = streamed.toSeq.sortBy(t => (t._1, t._2)).map(_._5)
      bVal.zip(sVal).foreach { case (b, v) =>
        assert(math.abs(b - v) < 1e-6, s"total_value $b vs $v") }
    } finally query.stop()
  }

  test("stream-stream attribution join over two memory streams") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val clicks = MemoryStream[Event]
    val purchases = MemoryStream[Event]
    val query = attributionJoin(clicks.toDF(), purchases.toDF(),
      maxDelayMin = 30)
      .writeStream.format("memory").queryName("attrib")
      .outputMode(OutputMode.Append()).start()
    try {
      clicks.addData(
        Event(1, ts(0), 100, "click", 0.0),
        Event(2, ts(5), 200, "click", 0.0))
      purchases.addData(
        Event(10, ts(10), 100, "purchase", 9.99), // 10 min after click 1 ✓
        Event(11, ts(50), 100, "purchase", 5.00), // 50 min after → outside
        Event(12, ts(4), 200, "purchase", 1.00))  // BEFORE click 2 → out
      query.processAllAvailable()
      val rows = spark.table("attrib")
        .select("click_id", "purchase_id", "gap_us", "purchase_value")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
        .toSet
      assert(rows === Set((1L, 10L, 600000000L, 9.99)))
    } finally query.stop()
  }

  test("attribution join batch twin: same operator, inclusive bounds") {
    import spark.implicits._
    val clicks = Seq(Event(1, ts(0), 100, "click", 0.0)).toDF()
    val purchases = Seq(
      Event(10, ts(0), 100, "purchase", 1.0),   // gap 0 → inclusive lower
      Event(11, ts(30), 100, "purchase", 2.0),  // exactly +30min → inclusive
      Event(12, ts(31), 100, "purchase", 3.0))  // +31min → out
      .toDF()
    val got = attributionJoin(clicks, purchases).select("purchase_id")
      .collect().map(_.getLong(0)).toSet
    assert(got === Set(10L, 11L))
  }

  test("idempotent sink: replayed batches skip, torn writes rewrite") {
    import spark.implicits._
    val out = java.nio.file.Files.createTempDirectory("ingest").toString
    val b0 = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    // first delivery writes
    assert(idempotentBatchSink(out)(b0, 0L))
    // at-least-once replay of the same batch id is a no-op — even with
    // different content (replays re-derive the same logical batch)
    assert(!idempotentBatchSink(out)(b0.limit(1), 0L))
    assert(spark.read.parquet(s"$out/batch=0").count() === 2)
    // torn write (no _SUCCESS marker) is rewritten on replay
    assert(new java.io.File(s"$out/batch=1").mkdirs())
    assert(idempotentBatchSink(out)(Seq((3L, "c")).toDF("id", "v"), 1L))
    assert(spark.read.parquet(s"$out/batch=1").count() === 1)
    // downstream readers see each row exactly once across the root
    assert(spark.read.parquet(out).select("id").collect()
      .map(_.getLong(0)).sorted.toSeq === Seq(1L, 2L, 3L))
  }

  test("streaming ingest end-to-end: two micro-batches land exactly once") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Event]
    val out = java.nio.file.Files.createTempDirectory("ingest2").toString
    val ckpt = java.nio.file.Files.createTempDirectory("ckpt2").toString
    val q = startIngest(input.toDF(), out, ckpt)
    try {
      input.addData(Event(1, ts(0), 100, "view", 1.0))
      q.processAllAvailable()
      input.addData(Event(2, ts(1), 100, "click", 2.0))
      q.processAllAvailable()
      val got = spark.read.parquet(out)
      assert(got.select("event_id").collect().map(_.getLong(0)).sorted
        .toSeq === Seq(1L, 2L))
      // batch directories are the idempotence unit
      assert(new java.io.File(out).listFiles()
        .count(_.getName.startsWith("batch=")) >= 1)
    } finally q.stop()
  }

  test("type drift: streaming form against the batch-global reference " +
      "equals the batch twin; drifted windows flagged") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // window 10:00: balanced 4+4 mix (KL≈0.050 vs the pooled global);
    // window 11:00: all-click burst (KL≈0.163) — 0.1 splits them
    val evs = Seq(
      Event(1, ts(0), 1, "click", 1.0), Event(2, ts(1), 1, "view", 1.0),
      Event(3, ts(2), 2, "view", 1.0), Event(4, ts(3), 2, "click", 1.0),
      Event(5, ts(4), 1, "click", 1.0), Event(6, ts(5), 1, "view", 1.0),
      Event(7, ts(6), 2, "view", 1.0), Event(8, ts(7), 2, "click", 1.0),
      Event(9, Timestamp.valueOf("2024-01-01 11:01:00"), 3, "click", 1.0),
      Event(10, Timestamp.valueOf("2024-01-01 11:02:00"), 3, "click", 1.0),
      Event(11, Timestamp.valueOf("2024-01-01 11:03:00"), 3, "click", 1.0),
      Event(12, Timestamp.valueOf("2024-01-01 11:04:00"), 3, "click", 1.0))
    val batchDf = evs.toDF()
    val batch = typeDriftBatch(batchDf, threshold = 0.1).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getBoolean(3))).sortBy(_._1)
    assert(batch.length === 2)
    assert(!batch(0)._4 && batch(1)._4,
      "balanced window under threshold, burst window over it")
    // streaming: reference = the batch events' global histogram
    val ref = evs.groupBy(_.event_type).map { case (k, v) =>
      k -> v.size.toLong }
    val input = MemoryStream[Event]
    val query = typeDriftStream(input.toDF(), ref, threshold = 0.1)
      .writeStream.format("memory").queryName("type_drift")
      .outputMode(OutputMode.Update()).start()
    try {
      input.addData(evs: _*)
      query.processAllAvailable()
      val streamed = spark.table("type_drift").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
          r.getBoolean(3))).sortBy(_._1)
      assert(streamed.toSeq === batch.toSeq,
        "fixed-reference streaming drift must equal the batch twin")
    } finally query.stop()
  }

  test("sketch ingest: per-batch KMV rows through the idempotent sink, " +
      "lifetime totals from stored states, replay-safe") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("sk_ingest")
    val (out, ckpt) = (s"$root/out", s"$root/ckpt")
    val input = MemoryStream[Event]
    val query = sketchIngest(input.toDF(), out, ckpt, k = 1024)
    try {
      input.addData((1 to 40).map(i =>
        Event(i, ts(i % 50), 100 + i % 7, "click", 1.0)) ++
        (1 to 10).map(i => Event(100 + i, ts(i % 50), 200, "view", 2.0)): _*)
      query.processAllAvailable()
      input.addData((1 to 20).map(i =>
        Event(200 + i, ts(i % 50), 300 + i % 3, "click", 1.0)): _*)
      query.processAllAvailable()
    } finally query.stop()
    // two committed batch dirs, each _SUCCESS-gated
    val fs = new java.io.File(out).listFiles().map(_.getName).sorted
    assert(fs.count(_.startsWith("batch=")) === 2, fs.toSeq)
    // lifetime totals from the stored rows = exact distinct users
    val got = sketchIngestTotals(spark, out, k = 1024).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got === Map("click" -> 10L, "view" -> 1L), got)
    // replay of a committed batch id is a no-op (idempotent recovery)
    val replayed = idempotentBatchSink(out)(
      batchSketchRows(Seq(Event(999, ts(1), 777, "click", 1.0)).toDF(),
        1024), 1L)
    assert(!replayed, "committed batch must not rewrite")
    assert(sketchIngestTotals(spark, out, k = 1024).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap === got)
    graft.operators.Artifacts.deleteRecursively(root.toFile)
  }

  test("heavy-hitters ingest: per-batch MG rows through the idempotent " +
      "sink, lifetime top users from stored states, replay-safe") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("hh_ingest_t")
    val (out, ckpt) = (s"$root/out", s"$root/ckpt")
    val input = MemoryStream[Event]
    val query = hhIngest(input.toDF(), out, ckpt, k = 64)
    try {
      // batch 0: user 100 clicks 30x, users 101..110 click once each
      input.addData((1 to 30).map(i =>
        Event(i, ts(i % 50), 100, "click", 1.0)) ++
        (1 to 10).map(i => Event(50 + i, ts(i % 50), 100 + i, "click", 1.0)): _*)
      query.processAllAvailable()
      // batch 1: user 100 clicks 5 more, user 101 clicks 20x
      input.addData((1 to 5).map(i =>
        Event(200 + i, ts(i % 50), 100, "click", 1.0)) ++
        (1 to 20).map(i => Event(300 + i, ts(i % 50), 101, "click", 1.0)): _*)
      query.processAllAvailable()
    } finally query.stop()
    val fs = new java.io.File(out).listFiles().map(_.getName).sorted
    assert(fs.count(_.startsWith("batch=")) === 2, fs.toSeq)
    // lifetime top-2 merged across batches: cross-batch sums, exact
    // below k
    val got = hhIngestTotals(spark, out, k = 64, top = 2).collect()
      .map(r => (r.getString(1), r.getLong(2)))
    assert(got.toSeq === Seq(("100", 35L), ("101", 21L)), got.toSeq)
    // replay of a committed batch id is a no-op
    val replayed = idempotentBatchSink(out)(
      batchHhRows(Seq(Event(999, ts(1), 777, "click", 1.0)).toDF(), 64), 1L)
    assert(!replayed, "committed batch must not rewrite")
    assert(hhIngestTotals(spark, out, k = 64, top = 2).collect()
      .map(r => (r.getString(1), r.getLong(2))).toSeq === got.toSeq)
    graft.operators.Artifacts.deleteRecursively(root.toFile)
  }

  test("hhIngestBatchDemo matches exact per-type top users on the " +
      "fixture") {
    val events = graft.operators.Relational.events(spark, sfDir)
    val got = hhIngestBatchDemo(spark, events).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("event_type")
      .orderBy(col("n_events").desc, col("user_id").asc)
    val want = events.groupBy(col("event_type"),
        col("user_id").cast("string").as("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .withColumn("rn", row_number().over(w)).where(col("rn") <= 5)
      .select("event_type", "user_id", "n_events").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(got === want)
    graft.operators.Artifacts.clear()
  }

  test("sketchIngestBatchDemo totals equal exact per-type distincts " +
      "on the fixture") {
    val events = graft.operators.Relational.events(spark, sfDir)
    val got = sketchIngestBatchDemo(spark, events).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val want = events.groupBy("event_type")
      .agg(countDistinct("user_id").as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got === want)
    graft.operators.Artifacts.clear()
  }
}

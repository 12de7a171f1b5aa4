package graft.entries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{AsOf, Dedup, Multimodal,
  RangeJoin, Relational, Similarity, TextOps}
import OracleLib._

/** Streaming batch twins (semantics pinned in
  * EventStreamSpec against the streaming forms).
  *
  * Split out of the monolithic `graft.SparkEntry` (round 11): one module
  * per operator family, each holding the family's `queries` entries and
  * their DuckDB `oracleSql` twins. `SparkEntry` aggregates the modules;
  * `SparkEntrySpec` still guards queries↔oracle key parity on the
  * aggregate. Shared oracle SQL fragments live in [[OracleLib]].
  */
private[graft] object StreamEntries {
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // batch twin of the stream-stream interval join (same operator code;
    // the streaming semantics are pinned in EventStreamSpec)
    "q_attribution" -> ((s, d) => {
      val ev = Relational.events(s, d)
      graft.streaming.EventStream.attributionJoin(
        ev.filter(col("event_type") === "click"),
        ev.filter(col("event_type") === "purchase"))
    }),
    // batch twin of the content-key ingest dedup (first occurrence per
    // key in event-time order; streaming form pinned in EventStreamSpec)
    "q_ingest_dedup" -> ((s, d) =>
      graft.streaming.EventStream.ingestDedupBatch(Relational.events(s, d))),
    // streaming sketch ingest (batch twin): per-micro-batch KMV rows
    // through the idempotent sink, lifetime per-type distinct users
    // merged from the STORED rows only (exact below k)
    "q_stream_sketch" -> ((s, d) =>
      graft.streaming.EventStream.sketchIngestBatchDemo(s,
        Relational.events(s, d))),
    // streaming heavy-hitters ingest (batch twin): per-micro-batch MG
    // state rows through the idempotent sink, lifetime per-type top-5
    // hot `props.k` tags merged from the STORED rows only. The tag
    // vocabulary is 100 at EVERY scale factor (unlike user ids), so
    // exact-below-k=256 holds at the gate and at the sf1 off-gate twin
    // alike; ties at the cut break (n desc, tag asc) in both engines.
    "q_stream_hh" -> ((s, d) =>
      graft.streaming.EventStream.hhIngestBatchDemo(s,
        Relational.events(s, d),
        item = get_json_object(col("props"), "$.k"),
        itemName = "tag")),
    // streaming twin: per-window event-type KL drift vs the global mix
    // (batch form; the fixed-reference streaming form is spec-pinned
    // equivalent in EventStreamSpec)
    "q_type_drift" -> ((s, d) =>
      graft.streaming.EventStream.typeDriftBatch(Relational.events(s, d))),
    // batch twin of the watermarked tumbling-window stats (exact distinct
    // in place of the sketch; window arithmetic + sums oracle-pinned)
    "q_windowed_stats" -> ((s, d) =>
      graft.streaming.EventStream.windowedStatsBatch(Relational.events(s, d))),
    // streaming twin: gap-based sessionization (batch form; the streaming
    // form is pinned by EventStreamSpec against the same definition)
    "q_sessionize" -> ((s, d) =>
      graft.streaming.EventStream
        .sessionizeBatch(Relational.events(s, d))
        .select(col("user_id"),
          date_format(col("session_start"), "yyyy-MM-dd HH:mm:ss.SSSSSS")
            .as("session_start"),
          date_format(col("session_end"), "yyyy-MM-dd HH:mm:ss.SSSSSS")
            .as("session_end"),
          col("n_events"), col("total_value"))),
    // batch twin of the stream-static as-of enrichment (keyless global
    // as-of against the bounded daily-rate reference; the streaming
    // form — AsOf.asOfJoinBroadcast on a MemoryStream — is spec-pinned
    // equal in EventStreamSpec)
    "q_stream_asof" -> ((s, d) =>
      graft.streaming.EventStream.asOfDailyRateBatch(Relational.events(s, d))),
  )

  val oracleSql: Map[String, String] = Map(
    // keyless ASOF against the day-grain reference (max, not avg:
    // bit-stable across engines)
    "q_stream_asof" ->
      ("SELECT l.event_id, l.user_id, " +
        "strftime(l.ts, '%Y-%m-%d %H:%M:%S.%f') AS ts, l.event_type, " +
        "strftime(r.day_ts, '%Y-%m-%d %H:%M:%S.%f') AS rate_ts, " +
        "r.day_rate FROM events l ASOF LEFT JOIN " +
        "(SELECT date_trunc('day', ts) AS day_ts, max(value) AS day_rate " +
        "FROM events WHERE event_type = 'purchase' GROUP BY 1) r " +
        "ON l.ts >= r.day_ts"),
    // first occurrence per content key in event-time order (micros —
    // the Spark session's timestamp precision — so both engines rank
    // at identical resolution)
    // lifetime distinct users per type from merged batch sketch rows —
    // exact below k, so the oracle is the plain distinct count
    "q_stream_sketch" ->
      ("SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) " +
        "AS est_users FROM events GROUP BY event_type"),
    // lifetime per-type top-5 props.k tags from merged batch MG rows —
    // exact below k, tie-break (count desc, tag asc as text) matches
    // the MG state ordering
    "q_stream_hh" ->
      ("SELECT event_type, tag, n_events FROM (" +
        "SELECT event_type, json_extract_string(props, '$.k') AS tag, " +
        "CAST(count(*) AS BIGINT) AS n_events, " +
        "row_number() OVER (PARTITION BY event_type " +
        "ORDER BY count(*) DESC, json_extract_string(props, '$.k') ASC) " +
        "AS rn FROM events GROUP BY 1, 2) t WHERE rn <= 5"),
    "q_ingest_dedup" ->
      ("SELECT event_id, user_id, event_type, value FROM " +
        "(SELECT event_id, user_id, event_type, value, " +
        "row_number() OVER (PARTITION BY user_id, event_type, value " +
        "ORDER BY epoch_us(ts) ASC, event_id ASC) AS rn FROM events) t " +
        "WHERE rn = 1"),
    // batch twin of the tumbling-window stream stats: epoch-aligned
    // hour buckets (time_bucket == Spark's window()), decimal-exact sums
    "q_windowed_stats" ->
      ("SELECT strftime(time_bucket(INTERVAL '1 hour', ts), " +
        "'%Y-%m-%d %H:%M:%S') AS window_start, " +
        "strftime(time_bucket(INTERVAL '1 hour', ts) + INTERVAL '1 hour', " +
        "'%Y-%m-%d %H:%M:%S') AS window_end, " +
        "event_type, count(*) AS n_events, " +
        "CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value, " +
        "count(DISTINCT user_id) AS n_users " +
        "FROM events GROUP BY 1, 2, 3"),
    // attribution interval join (batch twin of the stream-stream join):
    // inclusive [click, click + 30 min] bounds on both engines
    "q_attribution" ->
      ("SELECT c.event_id AS click_id, p.event_id AS purchase_id, " +
        "c.user_id, epoch_us(p.ts) - epoch_us(c.ts) AS gap_us, " +
        "p.value AS purchase_value FROM events c JOIN events p " +
        "ON c.event_type = 'click' AND p.event_type = 'purchase' " +
        "AND p.user_id = c.user_id " +
        "AND p.ts BETWEEN c.ts AND c.ts + INTERVAL 30 MINUTE"),
    // time_bucket ≡ Spark's tumbling window start; same smoothing, same
    // densified window×type grid, same KL reduction
    "q_type_drift" ->
      ("WITH g AS (SELECT event_type, count(*) AS n_g FROM events " +
        "GROUP BY 1), " +
        "tot AS (SELECT CAST(sum(n_g) AS DOUBLE) AS n, " +
        "CAST(count(*) AS DOUBLE) AS t FROM g), " +
        "w AS (SELECT time_bucket(INTERVAL '1 hour', ts) AS ws, " +
        "event_type, count(*) AS n_w FROM events GROUP BY 1, 2), " +
        "wins AS (SELECT ws, CAST(sum(n_w) AS DOUBLE) AS n_tot FROM w " +
        "GROUP BY 1), " +
        "grid AS (SELECT wins.ws, wins.n_tot, g.event_type, g.n_g, " +
        "CAST(coalesce(w.n_w, 0) AS DOUBLE) AS n_w FROM wins " +
        "CROSS JOIN g LEFT JOIN w ON w.ws = wins.ws " +
        "AND w.event_type = g.event_type), " +
        "p AS (SELECT ws, n_tot, " +
        "(n_w + 0.5) / (n_tot + 0.5 * tot.t) AS pw, " +
        "(n_g + 0.5) / (tot.n + 0.5 * tot.t) AS pg FROM grid, tot), " +
        "k AS (SELECT ws, n_tot, sum(pw * ln(pw / pg)) AS kl FROM p " +
        "GROUP BY ws, n_tot) " +
        "SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start, " +
        "CAST(n_tot AS BIGINT) AS n_events, round(kl, 6) AS kl, " +
        "kl > 0.2 AS drifted FROM k"),
    "q_sessionize" ->
      ("WITH m AS (SELECT user_id, ts, value, " +
        "CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL " +
        "OR epoch_ms(ts) - epoch_ms(lag(ts) OVER (PARTITION BY user_id ORDER BY ts)) " +
        "> 1800000 THEN 1 ELSE 0 END AS new_session FROM events), " +
        "g AS (SELECT user_id, ts, value, " +
        "sum(new_session) OVER (PARTITION BY user_id ORDER BY ts " +
        "ROWS UNBOUNDED PRECEDING) AS session_no FROM m) " +
        "SELECT user_id, " +
        "strftime(min(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_start, " +
        "strftime(max(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_end, " +
        "count(*) AS n_events, " +
        "CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value " +
        "FROM g GROUP BY user_id, session_no"),
  )
}

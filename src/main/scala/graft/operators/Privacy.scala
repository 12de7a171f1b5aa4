package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Privacy-preserving release operators over the events table:
  * k-anonymity with a generalization ladder, and a noisy-histogram
  * release mechanism. Rounds 1-13 covered ingestion → dedup → quality →
  * packing; this family covers the LAST step of a training-data
  * pipeline — what leaves the enclave. Both operators publish only
  * group-level aggregates, never rows.
  *
  * Scale shape (the part that must survive 100 TB): both operators are
  * one map-side-combinable shuffle over the raw events to a DISTINCT
  * GRAIN table — (event_type, day, hour, user_id, sensitive-bucket) —
  * whose cardinality is bounded by (types × hours × users-per-hour),
  * i.e. proportional to the DISTINCT activity, not the event volume.
  * Every k-anonymity decision above that grain operates on group-level
  * frames bounded by (types × time buckets) — kilobytes at any corpus
  * size — so the generalization ladder's residual joins broadcast by
  * construction. No pass rescans raw events more than once.
  */
object Privacy {

  /** Default width of the sensitive-attribute bucket
    * (`floor(value / sensWidth)`) used for the l-diversity audit column;
    * callers with a different attribute scale pass their own
    * (r15: parameterized per the r14 verdict). */
  val DefaultSensWidth = 50.0

  /** Session conf selecting the noise mechanism for the histogram
    * releases: `deterministic` (default — the keyed-LCG stand-in the
    * cross-engine oracle verifies bit-exact), `laplace:<eps>:<seed>`
    * (calibrated Laplace, scale 1/ε for the sensitivity-1 counting
    * query, rounded to integer — rounding is post-processing so ε
    * holds), or `geometric:<eps>:<seed>` (production default choice:
    * the two-sided geometric / discrete Laplace of Ghosh-Roughgarden-
    * Sundararajan, P(Z=z) ∝ α^|z| with α = e^−ε — INTEGER-NATIVE, so
    * the release needs no rounding caveat at all, and universally
    * utility-optimal for counting queries). All seeded mechanisms are
    * keyed-hash driven so every task retry draws the SAME noise —
    * `rand()` would re-draw per retry and leak between attempts. */
  val NoiseConf = "spark.graft.privacy.noise"

  /** The shared distinct grain: one exact pass over events. Rows are
    * distinct (event_type, day, hour, user_id, sens) with their event
    * count — the finest unit any release below needs, so user- and
    * value-distinctness at EVERY ladder level is an exact rollup of
    * this table (countDistinct over grain rows), never a rescan. */
  private def grain(events: DataFrame, sensWidth: Double): DataFrame =
    events
      .select(
        col("event_type"),
        // group on the TRUNCATED TIMESTAMP (one long), not the formatted
        // strings: date_format is a per-row formatter call and the two
        // strings widen the shuffle key by ~29 bytes/row; hour implies
        // day, so one 8-byte key replaces both. Formatting happens after
        // the aggregate at GRAIN cardinality (bounded by distinct
        // activity, not event volume) — byte-identical strings since the
        // session is pinned UTC (r16, guide §2.3 narrower-keys).
        date_trunc("HOUR", col("ts")).as("hour_ts"),
        col("user_id"),
        floor(col("value") / sensWidth).cast("long").as("sens"))
      .groupBy("event_type", "hour_ts", "user_id", "sens")
      .agg(count(lit(1)).as("n"))
      .select(
        col("event_type"),
        date_format(col("hour_ts"), "yyyy-MM-dd").as("day"),
        date_format(col("hour_ts"), "yyyy-MM-dd HH:00").as("hour"),
        col("user_id"), col("sens"), col("n"))

  /** k-anonymous release of the events table with an hour → day →
    * suppress generalization ladder.
    *
    * A (event_type, time-bucket) cell is released only when it covers
    * at least `k` DISTINCT users. Cells failing at hour granularity are
    * generalized: their rows regroup into the (event_type, day) cell,
    * which is released if the RESIDUAL rows (failed hours only — hours
    * already released at level 0 do not double-count) cover ≥ k users.
    * Cells failing at day granularity are suppressed: their rows
    * surface only as a per-event_type remainder with a NULL bucket, so
    * row accounting is conserved (Σ n_rows = count(events)) without
    * revealing a small group's time locality.
    *
    * Each released row carries the l-diversity audit `l_ok`: whether
    * the cell spans ≥ `l` distinct sensitive-value buckets
    * (floor(value/50)) — a released-but-not-l-diverse cell is safe
    * against identity disclosure yet still leaks the attribute; callers
    * filter on it per policy rather than this operator choosing.
    *
    * At 100 TB: one shuffle over events to the distinct grain (map-side
    * combine), then every ladder step is a group-level aggregate over
    * frames bounded by types × time buckets; the failed-cell key sets
    * broadcast (they cannot exceed types × hours in the retention
    * window, regardless of event volume). The grain and both stats
    * frames are persisted (each feeds two branches). Spark's
    * CacheManager owns them: a repeated call on the same plan reuses
    * their cache entries, and `spark.catalog.clearCache()` releases them.
    */
  def kAnonymize(spark: SparkSession, dir: String,
                 k: Int = 5, l: Int = 3): DataFrame =
    kAnonymize(Relational.events(spark, dir), k, l)

  /** Frame-input form of [[kAnonymize]]: `events` needs (event_type,
    * ts TIMESTAMP, user_id, value) columns — the composable entry point
    * (and the one the random-input invariant spec drives).
    * @param sensWidth width of the sensitive-attribute bucket for the
    *        l-diversity audit (`floor(value / sensWidth)`); match it to
    *        the attribute's scale — too wide and distinct values
    *        collapse into one bucket (l_ok false negatives), too narrow
    *        and near-identical values count as diverse. */
  def kAnonymize(events: DataFrame, k: Int, l: Int): DataFrame =
    kAnonymize(events, k, l, DefaultSensWidth)

  /** [[kAnonymize]] with an explicit sensitive-bucket width (a separate
    * overload because only one alternative may carry defaults). */
  def kAnonymize(events: DataFrame, k: Int, l: Int,
      sensWidth: Double): DataFrame = {
    require(sensWidth > 0, s"sensWidth must be positive, got $sensWidth")
    // the grain feeds three ladder levels and each stats frame feeds a
    // released + failed branch: persist all three (grain once per raw
    // scan; the stats frames are group-level — kilobytes at any scale)
    val g = grain(events, sensWidth).persist()
    val hourStats = g.groupBy("event_type", "day", "hour")
      .agg(sum("n").as("n_rows"),
        countDistinct("user_id").as("n_users"),
        countDistinct("sens").as("n_values")).persist()
    val relHour = hourStats.filter(col("n_users") >= k)
    val failHourKeys = hourStats.filter(col("n_users") < k)
      .select("event_type", "day", "hour")
    // residual rows: grain restricted to failed hour cells (broadcast —
    // the key set is bounded by types × hours, not by data volume)
    val dayGrain = g.join(broadcast(failHourKeys),
      Seq("event_type", "day", "hour"))
    val dayStats = dayGrain.groupBy("event_type", "day")
      .agg(sum("n").as("n_rows"),
        countDistinct("user_id").as("n_users"),
        countDistinct("sens").as("n_values")).persist()
    val relDay = dayStats.filter(col("n_users") >= k)
    val failDayKeys = dayStats.filter(col("n_users") < k)
      .select("event_type", "day")
    val suppressed = dayGrain
      .join(broadcast(failDayKeys), Seq("event_type", "day"))
      .groupBy("event_type")
      .agg(sum("n").as("n_rows"),
        countDistinct("user_id").as("n_users"),
        countDistinct("sens").as("n_values"))
    def shape(df: DataFrame, gran: String, bucket: org.apache.spark.sql.Column) =
      df.select(
        col("event_type"),
        lit(gran).as("granularity"),
        bucket.as("bucket"),
        col("n_rows").cast("long").as("n_rows"),
        col("n_users").cast("long").as("n_users"),
        (col("n_values") >= l).as("l_ok"))
    shape(relHour, "hour", col("hour"))
      .unionAll(shape(relDay, "day", col("day")))
      .unionAll(shape(suppressed, "suppressed", lit(null).cast("string")))
      .orderBy("event_type", "granularity", "bucket")
  }

  /** Noisy per-(event_type, day) histogram release.
    *
    * The released count is `max(0, true_count + noise)` where the
    * noise mechanism is chosen by [[NoiseConf]]:
    *
    *  - `deterministic` (default): an integer in [-10, 10] from a
    *    keyed LCG over day-of-month and the type name — a
    *    test-reproducible stand-in so the cross-engine oracle verifies
    *    the mechanism's plumbing bit-exact (the gate entry pins this
    *    path).
    *  - `laplace:<eps>:<seed>`: calibrated Laplace, scale 1/ε for this
    *    sensitivity-1 counting query, sampled by inverse CDF from a
    *    keyed xxhash64(seed, type, day) uniform — per-cell independent,
    *    reproducible under task retry (a `rand()` draw is not: a retried
    *    task would re-draw, silently double-dipping the privacy budget
    *    within one release). ε ACCOUNTING IS THE CALLER'S: one release
    *    at eps consumes ε of budget; re-releasing the same cells with a
    *    new seed consumes again. Rounded to an integer (post-processing
    *    — does not affect the guarantee).
    *
    * Everything that matters at 100 TB is identical either side of the
    * swap: noise applies at GROUP grain after the aggregate (O(cells)
    * work, never O(rows)), the true counts never leave the plan, and
    * the clamp keeps released values non-negative (also
    * post-processing) without re-reading data.
    */
  def noisyHistogram(spark: SparkSession, dir: String): DataFrame =
    noisyHistogram(Relational.events(spark, dir))

  /** [[noisyHistogram]] over a caller-supplied events frame (same shape
    * contract as the [[kAnonymize]] overloads). */
  def noisyHistogram(events: DataFrame): DataFrame = {
    val spark = events.sparkSession
    events
      // same narrow-key trade as [[grain]]: aggregate on the truncated
      // timestamp, format the released day string at cell grain
      .groupBy(col("event_type"),
        date_trunc("DAY", col("ts")).as("day_ts"))
      .agg(count(lit(1)).as("n_true"))
      .select(col("event_type"),
        date_format(col("day_ts"), "yyyy-MM-dd").as("day"), col("n_true"))
      .select(col("event_type"), col("day"),
        releasedCount(spark, col("n_true"), col("day"), col("event_type"))
          .as("n_noisy"))
      .orderBy("event_type", "day")
  }

  /** The release arithmetic shared by the batch and streaming forms:
    * `max(0, n + noise(day, type))` with the mechanism from
    * [[NoiseConf]] (read at PLAN TIME — the streaming form fixes the
    * mechanism when the query starts, as a release policy should). */
  private def releasedCount(spark: SparkSession,
      nTrue: org.apache.spark.sql.Column,
      day: org.apache.spark.sql.Column,
      eventType: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    // each branch yields an integral LONG noise term: adding a double
    // to a Long count would lose exactness above 2^53 — counts that
    // large are exactly the 100 TB regime this column must survive
    val noise = spark.conf.get(NoiseConf, "deterministic") match {
      case "deterministic" =>
        // Int arithmetic cannot overflow here: day-of-month <= 31 so
        // the sum is <= 31*131 + len*17, and event_type lengths are
        // bounded words — far inside Int before the % 21 - 10 fold
        ((substring(day, 9, 2).cast("int") * 131 +
          length(eventType) * 17) % 21 - 10).cast("long")
      case laplace if laplace.startsWith("laplace:") =>
        val (eps, seed) = parseEpsSeed(laplace, "laplace")
        // inverse-CDF Laplace(0, 1/eps) from a keyed uniform in
        // (-0.5, 0.5): u = (hash mod M + 0.5)/M - 0.5 never hits the
        // log's pole at ±0.5, and xxhash64 keying makes the draw a pure
        // function of (seed, cell) — retry-stable and per-cell
        // independent
        val u = keyedUniform(seed, eventType, day)
        round(signum(u) * lit(-1.0 / eps) *
          log(lit(1.0) - lit(2.0) * abs(u))).cast("long")
      case geo if geo.startsWith("geometric:") =>
        val (eps, seed) = parseEpsSeed(geo, "geometric")
        // two-sided geometric (discrete Laplace): P(Z=z) =
        // (1−α)/(1+α)·α^|z| with α = e^−ε — integer-native, so no
        // rounding step exists to caveat. Inverse CDF over the same
        // keyed uniform v ∈ (−0.5, 0.5): with u = |v|, the magnitude is
        // the smallest z with P(Z ≥ z+1) = α^(z+1)/(1+α) below u, i.e.
        // z = max(0, ceil(ln(u(1+α))/ln α) − 1), ln α = −ε. Derivation
        // check: u ∈ (α/(1+α), 0.5] ⇒ z = 0 with total mass (1−α)/(1+α);
        // each z ≥ 1 band has mass α^z(1−α)/(1+α) per sign — exactly the
        // target pmf. u is clamped to its own grid floor (0.5/M) so the
        // single v = 0 grid point stays finite; its sign term is 0 there
        // anyway. z is bounded by ln(2M)/ε — integral-exact far below
        // 2^53 for any sane ε.
        val v = keyedUniform(seed, eventType, day)
        val alpha = math.exp(-eps)
        val z = greatest(lit(0L),
          ceil(log(greatest(abs(v), lit(0.5 / KeyedUniformM)) *
            (1.0 + alpha)) / (-eps)) - 1L)
        (signum(v).cast("long") * z).cast("long")
      case other => throw new IllegalArgumentException(
        s"$NoiseConf must be 'deterministic', 'laplace:<eps>:<seed>' " +
          s"or 'geometric:<eps>:<seed>', got '$other'")
    }
    greatest(lit(0L), nTrue + noise).cast("long")
  }

  /** Modulus of the keyed-uniform grid shared by the seeded mechanisms. */
  private val KeyedUniformM = 1000000007L

  /** Keyed uniform draw in (−0.5, 0.5): a pure function of
    * (seed, cell), so task retries and job re-runs see the same noise. */
  private def keyedUniform(seed: Long,
      eventType: org.apache.spark.sql.Column,
      day: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    (pmod(xxhash64(lit(seed), eventType, day), lit(KeyedUniformM))
      .cast("double") + 0.5) / KeyedUniformM.toDouble - 0.5

  /** Parse `<mech>:<eps>:<seed>` with the mechanism's own name in the
    * error text; eps must be positive. */
  private def parseEpsSeed(conf: String, mech: String): (Double, Long) = {
    val (eps, seed) = conf.stripPrefix(mech + ":").split(":") match {
      case Array(e, s) => (e.toDouble, s.toLong)
      case _ => throw new IllegalArgumentException(
        s"$NoiseConf must be 'deterministic', 'laplace:<eps>:<seed>' " +
          s"or 'geometric:<eps>:<seed>', got '$conf'")
    }
    require(eps > 0, s"$mech eps must be positive, got $eps")
    (eps, seed)
  }

  /** Streaming form of [[noisyHistogram]]: the same release over a
    * watermarked 1-day tumbling window, so cells publish as their
    * window closes instead of in a batch job. The noise is applied in
    * the post-aggregate SELECT — still O(cells) work at GROUP grain —
    * and the released value is identical to the batch form's for every
    * (event_type, day) cell once the cell's events have all arrived
    * (spec-pinned ≡ on the real fixture). State is one count per open
    * (type, day) window, evicted by the watermark — bounded by types ×
    * days inside the watermark horizon, regardless of event rate. */
  /** State of one open (event_type, hour) cell in the streaming gate:
    * the EXACT distinct-user and sensitive-bucket sets plus the row
    * count. Exactness is non-negotiable here — an approximate user
    * count (KMV/HLL) could release a cell that in truth covers < k
    * users, inverting the privacy guarantee — so the state is
    * O(active users per hour cell), the irreducible cost of exact
    * k-anonymity, evicted when the watermark passes the cell. */
  final case class HourCellState(users: Set[Long], sens: Set[Long],
      nRows: Long)

  /** One streaming release decision per closed (event_type, hour)
    * cell. A released cell carries its bucket; a FAILED cell carries a
    * NULL bucket — the live channel never reveals a small group's time
    * locality — and its rows are expected to re-enter the BATCH ladder
    * ([[kAnonymize]]) where day-level generalization can still release
    * them. */
  final case class HourRelease(event_type: String, bucket: String,
      released: Boolean, n_rows: Long, n_users: Long, l_ok: Boolean)

  /** Streaming k-anonymity HOUR gate: the real-time face of
    * [[kAnonymize]]. Events group by (event_type, hour); when the
    * watermark passes a cell (event-time timeout), the cell emits ONE
    * release decision — released iff it covered ≥ k distinct users,
    * with the same l-diversity audit as the batch ladder. Decisions
    * are spec-pinned ≡ the batch ladder's hour-level statistics on the
    * real fixture. State is one [[HourCellState]] per open cell,
    * bounded by (types × hours inside the watermark horizon) × active
    * users per cell — never by stream length. */
  def kAnonHourStream(events: org.apache.spark.sql.Dataset[
        graft.streaming.EventStream.Event],
      k: Int = 5, l: Int = 3, watermark: String = "2 hours",
      sensWidth: Double = DefaultSensWidth)(
      implicit spark: SparkSession):
      org.apache.spark.sql.Dataset[HourRelease] = {
    require(sensWidth > 0, s"sensWidth must be positive, got $sensWidth")
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout,
      OutputMode}
    val hourMs = 3600L * 1000L
    val fmt = new java.text.SimpleDateFormat("yyyy-MM-dd HH:00")
    fmt.setTimeZone(java.util.TimeZone.getTimeZone("UTC"))

    def update(key: (String, Long),
        rows: Iterator[graft.streaming.EventStream.Event],
        state: GroupState[HourCellState]): Iterator[HourRelease] = {
      if (state.hasTimedOut) {
        val out = state.getOption.map { s =>
          val released = s.users.size >= k
          HourRelease(key._1,
            if (released) fmt.format(new java.util.Date(key._2)) else null,
            released, s.nRows, s.users.size.toLong, s.sens.size >= l)
        }
        state.remove()
        return out.iterator
      }
      var s = state.getOption.getOrElse(HourCellState(Set.empty, Set.empty, 0L))
      rows.foreach { e =>
        s = HourCellState(s.users + e.user_id,
          s.sens + math.floor(e.value / sensWidth).toLong, s.nRows + 1L)
      }
      state.update(s)
      // close once the watermark passes the hour's end; must stay ahead
      // of the current watermark or Spark rejects the timestamp
      state.setTimeoutTimestamp(
        math.max(key._2 + hourMs, state.getCurrentWatermarkMs() + 1))
      Iterator.empty
    }

    events.withWatermark("ts", watermark)
      .groupByKey(e => (e.event_type, e.ts.getTime - Math.floorMod(
        e.ts.getTime, hourMs)))
      .flatMapGroupsWithState[HourCellState, HourRelease](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout())(update)
  }

  def noisyHistStream(events: DataFrame,
      watermark: String = "1 day"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(col("event_type"), window(col("ts"), "1 day").as("w"))
      .agg(count(lit(1)).as("n_true"))
      .select(col("event_type"),
        date_format(col("w.start"), "yyyy-MM-dd").as("day"),
        col("n_true"))
      .select(col("event_type"), col("day"),
        releasedCount(events.sparkSession, col("n_true"), col("day"),
          col("event_type")).as("n_noisy"))
}

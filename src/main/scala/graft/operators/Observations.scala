package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** The one session listener graft installs. Operators whose guard can
  * silently change a result (the LSH `maxBucket` prune, the LOCF
  * `maxGridHours` clamp) count what the guard did with an `observe`
  * node on the same query, so the count costs no extra pass. When the
  * query completes, the listener reads every `graft_*` observation it
  * knows, keeps its two counts in [[last]] and WARNs when the guard
  * fired, so production runs see the trade without a second audit
  * query. */
private[operators] object Observations {

  /** One observed guard: the observation-name prefix, the two count
    * fields it carries, and the WARN text for (name, first, second)
    * when the first count is positive. */
  final class Kind private[Observations] (val prefix: String,
      val fields: (String, String), val warn: (String, Long, Long) => String)

  val BucketPrune = new Kind("graft_bucket_prune",
    ("pruned_buckets", "pruned_docs"), (name, buckets, docs) =>
      s"$name: maxBucket cap pruned $buckets LSH bucket(s) holding " +
        s"$docs docs — near-dup recall was traded for boundedness on " +
        "those buckets (run minHashHotBuckets/simHashHotBuckets to see " +
        "which)")

  val GridClamp = new Kind("graft_grid_clamp",
    ("clamped_users", "dropped_hours"), (name, users, hours) =>
      s"$name: maxGridHours clamped $users user(s), dropping $hours " +
        "grid hour(s) of pre-window fill — their LOCF series starts at " +
        "the window's left edge (older observations still seed the carry)")

  private val kinds = Seq(BucketPrune, GridClamp)

  private val seq = new java.util.concurrent.atomic.AtomicLong()

  /** `df` with a `kind` observation of the two counts under a fresh
    * name: names must not collide within one query (clean-corpus
    * composes several dedups), so each call mints its own. */
  def observe(df: DataFrame, kind: Kind, first: Column,
      second: Column): DataFrame = {
    ensureListener(df.sparkSession)
    df.observe(s"${kind.prefix}_${seq.incrementAndGet()}",
      first.as(kind.fields._1), second.as(kind.fields._2))
  }

  /** Last counts per observation name, updated asynchronously by the
    * listener. Test hook + ops surface. Each call mints a fresh name, so
    * the map keeps only the 256 most recent; a long-lived driver would
    * otherwise grow it forever. */
  val last: java.util.Map[String, (Long, Long)] =
    java.util.Collections.synchronizedMap(
      new java.util.LinkedHashMap[String, (Long, Long)](16, 0.75f, false) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[String, (Long, Long)]): Boolean =
          size() > 256
      })

  /** Weak keys: the set must not pin a closed SparkSession (its
    * listenerManager, and the listener with it, dies with the session;
    * only this install-once guard could otherwise leak it). */
  private val installed =
    java.util.Collections.synchronizedSet(
      java.util.Collections.newSetFromMap(
        new java.util.WeakHashMap[SparkSession, java.lang.Boolean]()))

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  private def ensureListener(spark: SparkSession): Unit =
    if (installed.add(spark)) {
      spark.listenerManager.register(
        new org.apache.spark.sql.util.QueryExecutionListener {
          override def onSuccess(funcName: String,
              qe: org.apache.spark.sql.execution.QueryExecution,
              durationNs: Long): Unit =
            qe.observedMetrics.foreach { case (name, row) =>
              kinds.find(k => name.startsWith(k.prefix)).foreach { k =>
                val a = row.getAs[Long](k.fields._1)
                val b = row.getAs[Long](k.fields._2)
                last.put(name, (a, b))
                if (a > 0) log.warn(k.warn(name, a, b))
              }
            }
          override def onFailure(funcName: String,
              qe: org.apache.spark.sql.execution.QueryExecution,
              exception: Exception): Unit = ()
        })
    }
}

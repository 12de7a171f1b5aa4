package graft

import org.apache.spark.sql.SparkSession

/** One place for the engine's recommended SparkSession configuration —
  * the operational half of the 100 TB design (PLANS.md has the plan
  * half). `Verify`/`Bench`, perfbench, `GenData`, the specs and the
  * packaged-jar examples all build sessions here so the tuning story is
  * a single audited artifact. A session built here carries graft's
  * whole surface ([[graft.functions.GraftExtensions.install]]).
  *
  * Knob rationale (local defaults; the cluster column is what changes):
  *
  *  - `spark.sql.shuffle.partitions` — locally = the core count (32-way
  *    bench, 4-way tests): Spark's 200 default just adds task-scheduling
  *    overhead at these sizes. On a 1000-executor cluster: 2-3× total
  *    cores as the STARTING value and let AQE coalesce down per stage —
  *    partitions must be small enough that a shuffle partition fits in
  *    executor memory (~
  *    total-shuffle-bytes / partitions < a few hundred MB).
  *  - AQE (`adaptive.enabled`, on by default since Spark 3.2) + skew-join
  *    split + partition coalescing: explicitly pinned ON because the LSH
  *    band joins and per-key aggregations here are exactly the workloads
  *    whose runtime stats beat static planning (residual sub-cap bucket
  *    imbalance, post-filter size collapse).
  *  - `spark.sql.files.maxPartitionBytes` (default 128 MB) governs scan
  *    parallelism: at 100 TB that is ~800k scan tasks — raise toward
  *    256-512 MB when the cluster is scheduler-bound, lower when
  *    columnar pruning leaves partitions cpu-bound.
  *  - `spark.sql.autoBroadcastJoinThreshold` (default 10 MB): the dim
  *    tables here (hyperplane constants, hot-bucket lists, per-dim
  *    quantization stats) are designed to stay under it; the big sides
  *    (band keys, signatures) must never be broadcast.
  *  - `spark.sql.legacy.parquet.nanosAsLong` — the `events` table is
  *    TIMESTAMP(NANOS), which Spark cannot represent natively; read as
  *    long + converted once in `Relational.events`.
  *  - UTC session timezone — every datetime oracle compares wall-clock
  *    text across engines; a session in local time would shift buckets.
  *  - `spark.sql.codegen.cache.maxEntries` (default 100) — the JVM-wide
  *    cache of generated classes. The 7 `corpus_events` queries need 187
  *    distinct classes and the 228-query gate 2,478, so at 100 every pass
  *    evicted each class before its next use and paid the Janino compile,
  *    class load and JIT again (77 recompiles per warm `corpus_events`
  *    pass; 3,171 in a second gate round against 77 at 4096). 4096 is the
  *    next power of two above 1.5 × 2,478. The cost is the retained
  *    classes: metaspace after one gate round read 215 MB at 4096 against
  *    221 MB at 100. It is a static conf that `CodeGenerator` reads once
  *    per JVM, so only a session built here (or launched with it) gets it;
  *    `CodegenCacheSpec` pins it.
  */
object GraftSession {

  /** Builder with the recommended configuration applied; caller picks
    * master/cores (local) or leaves master to the cluster submit. */
  def builder(shufflePartitions: Int): SparkSession.Builder =
    SparkSession.builder()
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.codegen.cache.maxEntries", "4096")

  /** Local session sized by the SPARK_GRAFT_CPUS convention the driver
    * mains use (UI off — these are headless runs), with graft's
    * functions, table functions, rules and strategy installed. */
  def local(cpus: String): SparkSession = {
    val spark = builder(cpus.toInt)
      .master(s"local[$cpus]")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.functions.GraftExtensions.install(spark)
    spark
  }
}

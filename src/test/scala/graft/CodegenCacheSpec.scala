package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The generated-code cache holds graft's working set. Spark keeps
  * generated classes in one JVM-wide cache whose size
  * (`spark.sql.codegen.cache.maxEntries`, default 100) is read once, when
  * `CodeGenerator` is first initialised; the 7 `corpus_events` queries
  * need 187 classes, so at the default the second round below
  * recompiled 88 of them. Counting Janino compiles keeps the check
  * independent of the host's speed. */
class CodegenCacheSpec extends SparkSpec {

  private val corpusEvents = Seq("q_setsim_pairs", "q_simhash_pairs",
    "q_tfidf", "q_pii_redact", "q_asof_auto", "q_sql_range_join_full",
    "q_stream_sketch")

  private def compiles: Long =
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Row count and an XOR of an all-column `xxhash64`: one action that
    * reads every column. */
  private def checksum(df: DataFrame): (Long, Long) = {
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val r = named.agg(count(lit(1)),
      bit_xor(xxhash64(named.columns.toSeq.map(col): _*))).collect()(0)
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  private def round(): Map[String, (Long, Long)] =
    corpusEvents.map { q =>
      q -> checksum(SparkEntry.queries(q)(spark, sfDir))
    }.toMap

  test("the session carries the pinned generated-code cache size") {
    assert(spark.sparkContext.getConf
      .get("spark.sql.codegen.cache.maxEntries", "") === "4096")
  }

  test("a second round of the corpus_events queries compiles no class") {
    val first = round()
    val before = compiles
    val second = round()
    val recompiled = compiles - before
    assert(second === first, "a round must return the same rows")
    assert(recompiled === 0L,
      s"the second round recompiled $recompiled generated classes")
  }
}

package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.ScalaUDF
import org.apache.spark.sql.functions.col

/** One definition, two injectors: a stock session after
  * [[GraftExtensions.install]] and a session built with
  * `withExtensions(new GraftExtensions()(_))` expose the same scalar
  * functions, table functions, optimizer rules and planner strategy,
  * and the SQL functions on the live session are the native
  * expressions, not Scala UDFs. This is the only spec that builds a
  * second session with extensions. */
class GraftExtensionsSpec extends SparkSpec {

  private type Classic = org.apache.spark.sql.classic.SparkSession

  /** A stock session on the shared context, with graft installed. */
  private lazy val live: Classic = {
    val s = spark.newSession().asInstanceOf[Classic]
    GraftExtensions.install(s)
    s
  }

  /** getOrCreate returns the active session and would skip extensions:
    * clear, build a fresh session (same SparkContext), then restore the
    * shared one as active and default. */
  private lazy val injected: Classic = {
    val shared = spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try SparkSession.builder()
      .withExtensions(new GraftExtensions()(_))
      .getOrCreate().asInstanceOf[Classic]
    finally {
      SparkSession.setActiveSession(shared)
      SparkSession.setDefaultSession(shared)
    }
  }

  private def graftFunctions(s: Classic): Set[String] = {
    val reg = s.sessionState.functionRegistry
    reg.listFunction().filter(id => reg.lookupFunction(id)
      .exists(_.getClassName.startsWith("graft."))).map(_.funcName).toSet
  }

  private def graftTableFunctions(s: Classic): Set[String] = {
    val reg = s.sessionState.tableFunctionRegistry
    reg.listFunction().filter(id => reg.lookupFunction(id)
      .exists(_.getClassName.startsWith("graft."))).map(_.funcName).toSet
  }

  private def graftRules(s: Classic): Set[String] =
    s.sessionState.optimizer.batches.flatMap(_.rules).map(_.ruleName)
      .filter(_.startsWith("graft.")).toSet

  private def graftStrategies(s: Classic): Set[String] =
    s.sessionState.planner.strategies.map(_.getClass.getName)
      .filter(_.startsWith("graft.")).toSet

  test("install and withExtensions expose the same functions, rules and strategy") {
    assert(graftFunctions(live) === graftFunctions(injected))
    assert(graftFunctions(live) === Set("sudan_geocode", "simhash",
      "minhash_signature", "winnow_fingerprints", "hyperplane_bucket"))
    assert(graftTableFunctions(live) === graftTableFunctions(injected))
    assert(graftTableFunctions(live).size === GraftExtensions.tableFunctions.size)
    assert(graftTableFunctions(live).contains("sudan_worldbank"))
    assert(graftTableFunctions(live).contains("corpus_clean"))
    assert(graftRules(live) === graftRules(injected))
    assert(graftRules(live) === Set("graft.plans.LevenshteinPruneRule",
      "graft.plans.RangeBinJoinRule"))
    assert(graftStrategies(live) === graftStrategies(injected))
    assert(graftStrategies(live) === Set("graft.plans.AsOfJoinStrategy$"))
  }

  test("live session: minhash_signature(text, n) and hyperplane_bucket equal the Column API") {
    val docs = live.read.parquet(s"$sfDir/documents.parquet")
    docs.createOrReplaceTempView("ge_docs")
    val viaSql = live.sql(
      "SELECT doc_id, minhash_signature(text, 16) AS s FROM ge_docs")
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val viaApi = docs.select(col("doc_id"),
        MinHashExpression.native(col("text"), 16).as("s"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(viaSql.nonEmpty && viaSql === viaApi)
    assert(viaSql.values.forall(_.length == 16))

    val emb = live.read.parquet(s"$sfDir/embeddings.parquet")
    emb.createOrReplaceTempView("ge_emb")
    val bucketsSql = live.sql(
      "SELECT vec_id, hyperplane_bucket(embedding, 8) AS b FROM ge_emb")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val bucketsApi = emb.select(col("vec_id"),
        HyperplaneBucketExpression.native(col("embedding"), 8).as("b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(bucketsSql.nonEmpty && bucketsSql === bucketsApi)
  }

  test("scalar literal arguments are range-checked at analysis") {
    def refused(sql: String, msg: String): Unit = {
      val e = intercept[Exception](live.sql(sql))
      val chain = Iterator.iterate[Throwable](e)(_.getCause)
        .takeWhile(_ != null).map(_.getMessage).mkString(" <- ")
      assert(chain.contains(msg), chain)
    }
    val emb = "array(CAST(0.5 AS FLOAT), CAST(-0.25 AS FLOAT))"
    // plane 64 would fold onto bit 0 through 1L << i
    refused(s"SELECT hyperplane_bucket($emb, 65)",
      "SUDAN: hyperplane_bucket() parameter 'numPlanes' must be in [1, 64], got 65.")
    refused(s"SELECT hyperplane_bucket($emb, 0)", "'numPlanes' must be in [1, 64]")
    refused(s"SELECT hyperplane_bucket($emb, 8, -3)", "'dim' must be >= 1, got -3.")
    refused(s"SELECT hyperplane_bucket($emb, 8.5)",
      "'numPlanes' must be an integer literal, got 8.5.")
    refused("SELECT minhash_signature('a b c d', -3)",
      "SUDAN: minhash_signature() parameter 'numHashes' must be >= 1, got -3.")
    refused("SELECT minhash_signature('a b c d', 2.5)",
      "'numHashes' must be an integer literal, got 2.5.")
    refused("SELECT minhash_signature('a b c d', rand())",
      "'numHashes' must be an integer literal")
    assert(live.sql(s"SELECT hyperplane_bucket($emb, 64)").collect().length === 1)
  }

  test("live session: SUDAN_GeoCode analyzes to the native expression, no ScalaUDF") {
    val df = live.sql("SELECT SUDAN_GeoCode('Khartoum') AS iso")
    val exprs = df.queryExecution.analyzed.expressions
    assert(exprs.exists(_.exists(_.isInstanceOf[GeoCodeExpression])),
      df.queryExecution.analyzed)
    assert(!exprs.exists(_.exists(_.isInstanceOf[ScalaUDF])),
      df.queryExecution.analyzed)
    assert(df.collect()(0).getString(0) === "SD-KH")
  }

  test("a second install, or one on an extensions session, adds no duplicate rule or strategy") {
    def counts = (
      live.experimental.extraOptimizations.map(_.ruleName),
      live.experimental.extraStrategies.map(_.getClass.getName),
      graftFunctions(live), graftTableFunctions(live))
    val before = counts
    GraftExtensions.install(live)
    assert(counts === before)
    assert(before._1.count(_ == "graft.plans.RangeBinJoinRule") === 1)
    assert(before._2.count(_ == "graft.plans.AsOfJoinStrategy$") === 1)
    // the extensions session already carries them in its own batches
    GraftExtensions.install(injected)
    assert(injected.experimental.extraOptimizations.isEmpty)
    assert(injected.experimental.extraStrategies.isEmpty)
  }
}

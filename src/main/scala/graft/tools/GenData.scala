package graft.tools

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic synthetic-fixture generator for SCALE-VALIDATION
  * benchmarks (`BENCH_sf1_r11.json`): emits the same ten-table schema
  * as the driver's `/root/testdata/sf*` fixtures (TESTDATA.md) at an
  * arbitrary multiple of the sf0.1 row counts, with matched column
  * domains and distributions (vocab, lang/source mix, planted exact +
  * near duplicates, key ranges, date ranges, lines-per-order shape).
  *
  * NOT the driver's generator and not bit-compatible with it — the
  * driver's fixtures are read-only and its code is not visible. This
  * exists to answer one question the sf0.1 bench cannot: do the
  * engine's plans actually scale ≲ linearly when the data grows 10×?
  * Correctness at sf1 is separately cross-checked by the same DuckDB
  * oracle harness (`tools/selfcheck.py SELFCHECK_DIR=...`), which is
  * generator-agnostic.
  *
  * Everything derives from `xxhash64(salt, id, ...)` uniforms — no
  * `rand()`, no partitioning sensitivity: the same (outDir, scale)
  * always writes byte-identical data.
  *
  * Usage: `runMain graft.tools.GenData <outDir> [scale]` where scale
  * multiplies the sf0.1 row counts (scale = 10 → sf1.0).
  */
object GenData {

  /** Uniform in [0, 1) from hashed columns — the deterministic-random
    * convention (exact integer arithmetic, then one division). */
  private def u(salt: String, cols: Column*): Column =
    pmod(xxhash64((lit(salt) +: cols): _*), lit(1000000007L))
      .cast("double") / 1000000007.0

  /** Uniform integer in [0, n) from hashed columns. */
  private def ui(salt: String, n: Int, cols: Column*): Column =
    pmod(xxhash64((lit(salt) +: cols): _*), lit(n.toLong))

  private val VOCAB = Seq("spark", "window", "merge", "table", "column",
    "vector", "stream", "value", "data", "small", "join", "filter",
    "big", "group", "hash", "customer", "sort", "order", "slow", "line",
    "part", "fast", "the", "row", "agg", "key", "query", "a", "scan",
    "batch")

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: GenData <outDir> [scale]")
    val outDir = args(0)
    val scale = if (args.length > 1) args(1).toDouble else 10.0
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")
    val spark = graft.GraftSession.local(cpus)
    write(spark, outDir, scale)
    spark.stop()
  }

  def write(spark: SparkSession, outDir: String, scale: Double): Unit = {
    val nDocs = (5000 * scale).toLong
    val nVecs = (2000 * scale).toLong
    val nEvents = (100000 * scale).toLong
    val nUsers = (1500 * scale).toLong
    val nOrders = (150000 * scale).toLong
    val nCustomers = (15000 * scale).toLong
    val nParts = (20000 * scale).toLong
    val nSuppliers = (1000 * scale).toLong
    val parts = math.max(8, (8 * scale).toInt)

    def save(df: DataFrame, name: String, n: Int = 0): Unit =
      (if (n > 0) df.repartition(n) else df.coalesce(1))
        .write.mode(SaveMode.Overwrite)
        .parquet(s"$outDir/$name.parquet")

    // ---- documents: 30-word vocab salad, 10..100 words; 5% planted
    // near-dups (base doc + ' dup dup <word>' suffix) and 1/625
    // planted exact dups — the sf0.1 rates. Text is a pure function of
    // seed_id, so a dup doc regenerates its partner's words exactly.
    val vocabCol = array(VOCAB.map(lit): _*)
    val docs = spark.range(0, nDocs, 1, parts)
      .select(col("id").as("doc_id"))
      .withColumn("seed_id",
        when(col("doc_id") % 625 === 624 && col("doc_id") >= 311,
          col("doc_id") - 311) // exact dup of an earlier doc
          .when(col("doc_id") % 20 === 19 && col("doc_id") >= 7,
            col("doc_id") - 7) // near-dup base
          .otherwise(col("doc_id")))
      .withColumn("n_words",
        (u("nw", col("seed_id")) * 91).cast("int") + 10)
      .withColumn("base_text", concat_ws(" ",
        transform(sequence(lit(1), col("n_words")), i =>
          element_at(vocabCol,
            (ui("w", VOCAB.size, col("seed_id"), i) + 1).cast("int")))))
      .withColumn("text",
        when(col("doc_id") % 20 === 19 && col("doc_id") % 625 =!= 624 &&
            col("doc_id") >= 7,
          concat(col("base_text"), lit(" dup dup "),
            element_at(vocabCol,
              (ui("dw", VOCAB.size, col("doc_id")) + 1).cast("int"))))
          .otherwise(col("base_text")))
      .withColumn("lang",
        when(ui("lang", 20, col("doc_id")) < 8, "en")
          .when(ui("lang", 20, col("doc_id")) < 11, "de")
          .when(ui("lang", 20, col("doc_id")) < 14, "es")
          .when(ui("lang", 20, col("doc_id")) < 17, "fr")
          .otherwise("zh"))
      .withColumn("source",
        concat(lit("src"), ui("src", 20, col("doc_id"))))
      .select(col("doc_id"), col("text"), col("lang"), col("source"),
        length(col("text")).cast("long").as("n_chars"))
    save(docs, "documents", parts)

    // ---- embeddings: 64-dim uniform [-1, 1) float vectors (the sf0.1
    // vectors carry no label-cluster structure: measured intra-label ≈
    // inter-label cosine ≈ 0), labels uniform over 0..9
    val vecs = spark.range(0, nVecs, 1, parts)
      .select(col("id").as("vec_id"))
      .withColumn("embedding",
        transform(sequence(lit(1), lit(64)), i =>
          ((u("e", col("vec_id"), i) - 0.5) * 2.0).cast("float")))
      .withColumn("label", ui("lab", 10, col("vec_id")).cast("int"))
    save(vecs, "embeddings", parts)

    // ---- events: 30 days from 2024-01-01, ~67 events/user, 5 types
    val baseEpoch = 1704067200L // 2024-01-01T00:00:00Z
    val events = spark.range(0, nEvents, 1, parts)
      .select(col("id").as("event_id"))
      .withColumn("ts", (lit(baseEpoch) +
        u("ts", col("event_id")) * (30L * 86400)).cast("timestamp").cast("timestamp_ntz"))
      .withColumn("user_id", ui("usr", nUsers.toInt, col("event_id")))
      .withColumn("event_type",
        element_at(array(lit("view"), lit("click"), lit("signup"),
          lit("purchase"), lit("error")),
          (ui("et", 5, col("event_id")) + 1).cast("int")))
      .withColumn("value", round(u("val", col("event_id")) * 100.0, 2))
      .withColumn("props", format_string("{\"k\": %d}",
        ui("pk", 100, col("event_id"))))
    save(events, "events", parts)

    // ---- TPC-H-ish star schema
    save(spark.range(0, 5).select(col("id").cast("int").as("r_regionkey"),
      element_at(array(lit("AFRICA"), lit("AMERICA"), lit("ASIA"),
        lit("EUROPE"), lit("MIDDLE EAST")),
        col("id").cast("int") + 1).as("r_name")), "region")

    save(spark.range(0, 25).select(
      col("id").cast("int").as("n_nationkey"),
      concat(lit("NATION_"), col("id")).as("n_name"),
      (col("id") % 5).cast("int").as("n_regionkey")), "nation")

    save(spark.range(0, nCustomers, 1, parts).select(
      col("id").as("c_custkey"),
      format_string("Customer#%09d", col("id")).as("c_name"),
      ui("cn", 25, col("id")).cast("int").as("c_nationkey"),
      round(u("cb", col("id")) * 11000.0 - 1000.0, 2).as("c_acctbal"),
      element_at(array(lit("AUTOMOBILE"), lit("BUILDING"),
        lit("FURNITURE"), lit("HOUSEHOLD"), lit("MACHINERY")),
        (ui("cm", 5, col("id")) + 1).cast("int")).as("c_mktsegment")),
      "customer", math.max(1, parts / 4))

    save(spark.range(0, nSuppliers, 1, parts).select(
      col("id").as("s_suppkey"),
      format_string("Supplier#%09d", col("id")).as("s_name"),
      ui("sn", 25, col("id")).cast("int").as("s_nationkey"),
      round(u("sb", col("id")) * 11000.0 - 1000.0, 2).as("s_acctbal")),
      "supplier", 1)

    val adjectives = array(Seq("large", "hot", "blue", "old", "small",
      "red", "green", "new", "cold", "shiny").map(lit): _*)
    val nouns = array(Seq("ring", "bolt", "plate", "screw", "washer",
      "gear", "wheel", "pin", "rod", "clip").map(lit): _*)
    save(spark.range(0, nParts, 1, parts).select(
      col("id").as("p_partkey"),
      concat_ws(" ",
        element_at(adjectives, (ui("pa", 10, col("id")) + 1).cast("int")),
        element_at(nouns, (ui("pn", 10, col("id")) + 1).cast("int")))
        .as("p_name"),
      concat(lit("Brand#"), ui("pb", 25, col("id")) + 1).as("p_brand"),
      element_at(array(lit("ECONOMY"), lit("LARGE"), lit("MEDIUM"),
        lit("PROMO"), lit("SMALL"), lit("STANDARD")),
        (ui("pt", 6, col("id")) + 1).cast("int")).as("p_type"),
      (ui("ps", 50, col("id")) + 1).cast("int").as("p_size"),
      round(lit(900.0) + u("pp", col("id")) * 100.0, 2)
        .as("p_retailprice")), "part", math.max(1, parts / 4))

    // orders: 1995-01-01 .. +2400 days (the sf0.1 date range)
    val day = 86400L
    val epoch95 = 788918400L // 1995-01-01T00:00:00Z
    save(spark.range(0, nOrders, 1, parts).select(
      col("id").as("o_orderkey"),
      ui("oc", nCustomers.toInt, col("id")).as("o_custkey"),
      element_at(array(lit("O"), lit("P"), lit("F")),
        (ui("os", 3, col("id")) + 1).cast("int")).as("o_orderstatus"),
      round(lit(1000.0) + u("ot", col("id")) * 499000.0, 2)
        .as("o_totalprice"),
      (lit(epoch95) +
        (u("od", col("id")) * 2400).cast("long") * day)
        .cast("timestamp").cast("timestamp_ntz").as("o_orderdate"),
      element_at(array(lit("1-URGENT"), lit("2-HIGH"), lit("3-MEDIUM"),
        lit("4-NOT SPECIFIED"), lit("5-LOW")),
        (ui("op", 5, col("id")) + 1).cast("int")).as("o_orderpriority")),
      "orders", parts)

    // lineitem: binomial-ish 1..8 lines per order (mean 4, the sf0.1
    // lines-per-order shape from four coin flips + 1 shifted), ship
    // date near the order date
    val li = spark.range(0, nOrders, 1, parts)
      .select(col("id").as("l_orderkey"))
      .withColumn("n_lines", (lit(1) +
        ui("nl1", 2, col("l_orderkey")) + ui("nl2", 2, col("l_orderkey")) +
        ui("nl3", 2, col("l_orderkey")) + ui("nl4", 2, col("l_orderkey")) +
        ui("nl5", 3, col("l_orderkey"))).cast("int"))
      .withColumn("l_linenumber",
        explode(sequence(lit(1), col("n_lines"))))
      .withColumn("l_partkey",
        ui("lp", nParts.toInt, col("l_orderkey"), col("l_linenumber")))
      .withColumn("l_suppkey",
        ui("ls", nSuppliers.toInt, col("l_orderkey"), col("l_linenumber")))
      .withColumn("l_quantity",
        (ui("lq", 50, col("l_orderkey"), col("l_linenumber")) + 1)
          .cast("double"))
      .withColumn("l_extendedprice", round(col("l_quantity") *
        (lit(900.0) + u("le", col("l_orderkey"), col("l_linenumber"))
          * 100.0), 2))
      .withColumn("l_discount",
        (ui("ld", 11, col("l_orderkey"), col("l_linenumber"))
          .cast("double") / 100.0))
      .withColumn("l_tax",
        (ui("lt", 9, col("l_orderkey"), col("l_linenumber"))
          .cast("double") / 100.0))
      .withColumn("l_returnflag", element_at(
        array(lit("A"), lit("N"), lit("R")),
        (ui("lr", 3, col("l_orderkey"), col("l_linenumber")) + 1)
          .cast("int")))
      .withColumn("l_linestatus", element_at(array(lit("F"), lit("O")),
        (ui("ll", 2, col("l_orderkey"), col("l_linenumber")) + 1)
          .cast("int")))
      .withColumn("l_shipdate", (lit(epoch95) +
        ((u("od", col("l_orderkey")) * 2400).cast("long") +
          ui("lsd", 120, col("l_orderkey"), col("l_linenumber")) + 1) *
          day).cast("timestamp").cast("timestamp_ntz"))
      .drop("n_lines")
    save(li, "lineitem", parts * 2)

    println(s"""{"outDir":"$outDir","scale":$scale,"docs":$nDocs,""" +
      s""""events":$nEvents,"orders":$nOrders}""")
  }
}

package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Hot-key skew economics of the as-of exec family (round-15, verdict
  * task #2's evidence row): AQE's OptimizeSkewedJoin only matches
  * SMJ/SHJ nodes, so a key holding ~90% of an event log turns the
  * custom sort-merge as-of into ONE straggler task. This probe
  * measures, on deterministic xxhash64 twins of identical row counts:
  *
  *  - `uniform_s`   — [[graft.operators.AsOf.asOfJoinExec]] (merge
  *    path pinned) on a uniform key layout: the baseline the verdict's
  *    "within ~2×" criterion is against;
  *  - `skewed_s`    — the same exec on a 90%-hot-key layout: the
  *    straggler cost being fixed;
  *  - `salted_s`    — [[graft.operators.AsOf.asOfJoinSalted]] on the
  *    skewed layout (left salted, right replicated ×salts): the skew
  *    path for right sides too large to broadcast;
  *  - `bucketed_s`  — [[graft.operators.AsOf.asOfJoinBucketed]] on the
  *    skewed layout (the ts axis split into `salts` ranges).
  *
  * Each timing is the median of 3 passes after one untimed build pass
  * (the gate protocol in miniature); a checksum equality between the
  * salted and unsalted skewed runs re-asserts exactness on the probe's
  * own data before any number is printed.
  *
  * The right:left ratio is a parameter because it IS the trade: the
  * salted form replicates each hot key's whole right-side run ×salts,
  * so its win is (hotLeft/salts + hotRight) per task vs
  * (hotLeft + hotRight) serialized — a right side comparable to the
  * left caps the speedup at (L+R)/R regardless of salts. On Spark
  * 4.1.2 (`local[4]`, 2M left rows, 32 salts, two runs each) right =
  * left/5 made salting SLOWER than the unsalted skewed exec (×5.4–5.8
  * of the uniform time against ×2.4–2.9), while the event-enrichment
  * shape the operator documents (right = left/50: right ≪ left, but
  * too big to broadcast) brought salting to ×1.5–1.7. The
  * [[graft.operators.AsOf.asOfJoinSalted]] scaladoc carries the cost
  * model.
  *
  * Usage: `runMain graft.tools.AsOfSkewProbe [leftRows] [salts] [leftOverRight]`
  * (defaults 2,000,000 / 32 / 50). */
object AsOfSkewProbe {

  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.GraftSession.local(cpus)
    import graft.operators.AsOf
    val leftRows = args.headOption.map(_.toLong).getOrElse(2000000L)
    val salts = args.drop(1).headOption.map(_.toInt).getOrElse(32)
    val rightRows = leftRows / args.drop(2).headOption.map(_.toLong).getOrElse(50L)
    val keySpace = 1024L

    // deterministic layouts: skewed = 90% of rows on key 0, remainder
    // uniform over the rest; uniform = all keys equally hot. ts spans a
    // dense range so every right group stays ts-diverse.
    def side(rows: Long, skewed: Boolean, seed: Int): DataFrame = {
      val u = pmod(xxhash64(col("id"), lit(seed)), lit(keySpace))
      val key =
        if (skewed)
          when(pmod(xxhash64(col("id"), lit(seed + 2)), lit(10)) =!= 0, lit(0L))
            .otherwise(pmod(u, lit(keySpace - 1)) + 1L)
        else u
      spark.range(rows).select(
        key.as("k"),
        pmod(xxhash64(col("id"), lit(seed + 1)), lit(1000000L)).as("ts"),
        col("id").as("row_id"),
        col("id").cast("double").as("v"))
    }
    def right(skewed: Boolean): DataFrame =
      side(rightRows, skewed, seed = 77)
        .groupBy("k", "ts").agg(max("v").as("rv")) // unique per (key, ts)
        .select(col("k"), col("ts"), col("ts").as("r_ts"), col("rv"))

    def checksum(df: DataFrame): (Long, Double) = {
      val r = df.agg(count(lit(1)), sum(coalesce(col("m_rv"), lit(0.0))))
        .head
      (r.getLong(0), r.getDouble(1))
    }
    def timed(mk: () => DataFrame): (Double, (Long, Double)) = {
      val sum0 = checksum(mk()) // untimed build/warm pass
      val samples = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        val s = checksum(mk())
        require(s == sum0, s"probe pass drifted: $s vs $sum0")
        (System.nanoTime() - t0) / 1e9
      }
      (samples.sorted.apply(1), sum0)
    }

    // ts domain is [0, 1e6); bucket it into `salts` ranges so the two
    // skew paths get the same parallelism budget
    val bucketW = 1000000L / salts

    def join(l: DataFrame, r: DataFrame, mode: String): DataFrame =
      mode match {
        case "salted" =>
          AsOf.asOfJoinSalted(l, r, Seq("k"), "ts",
            payload = Seq("r_ts", "rv"), rename = "m_" + _,
            salts = salts, saltBy = Some("row_id"))
        case "bucketed" =>
          AsOf.asOfJoinBucketed(l, r, Seq("k"), "ts",
            payload = Seq("r_ts", "rv"), rename = "m_" + _,
            bucketWidth = bucketW)
        case _ =>
          AsOf.asOfJoinExec(l, r, Seq("k"), "ts",
            payload = Seq("r_ts", "rv"), rename = "m_" + _)
      }

    val (lu, ru) = (side(leftRows, skewed = false, seed = 11).cache(),
      right(skewed = false).cache())
    val (ls, rs) = (side(leftRows, skewed = true, seed = 11).cache(),
      right(skewed = true).cache())
    Seq(lu, ru, ls, rs).foreach(_.count()) // materialize inputs off the clock

    val (uniformS, _) = timed(() => join(lu, ru, "merge"))
    val (skewedS, skewSum) = timed(() => join(ls, rs, "merge"))
    val (saltedS, saltSum) = timed(() => join(ls, rs, "salted"))
    val (bucketedS, bucketSum) = timed(() => join(ls, rs, "bucketed"))
    require(saltSum == skewSum,
      s"salted result diverged from unsalted on the skewed twin: " +
        s"$saltSum vs $skewSum")
    require(bucketSum == skewSum,
      s"bucketed result diverged from unsalted on the skewed twin: " +
        s"$bucketSum vs $skewSum")

    println(f"""{"probe":"asof_skew","left_rows":$leftRows,""" +
      f""""right_rows":$rightRows,"salts":$salts,""" +
      f""""uniform_s":$uniformS%.3f,"skewed_s":$skewedS%.3f,""" +
      f""""salted_s":$saltedS%.3f,"bucketed_s":$bucketedS%.3f,""" +
      f""""salted_vs_uniform":${saltedS / uniformS}%.2f,""" +
      f""""bucketed_vs_uniform":${bucketedS / uniformS}%.2f,""" +
      f""""skewed_vs_uniform":${skewedS / uniformS}%.2f}""")
    spark.stop()
  }
}

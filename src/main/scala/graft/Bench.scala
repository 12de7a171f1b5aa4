package graft
import org.apache.spark.sql.SparkSession
import graft.core.Json
import graft.operators.ParquetInput
object Bench {
  /** Pinned round-14 median of the IO sentinel (n=9 interleaved reps,
    * 2026-08-16 window whose CPU sentinel_ratio was 1.044 — see
    * PLANS.md "IO sentinel" sections): ratio = median(io samples)/this.
    * RE-PINNED in round 14 because the advice fix below made the
    * read-back leg actually decode both columns (the r13 pin 0.851 was
    * measured with the prunable read, i.e. it timed mostly the write);
    * the same window's decoding sentinel is 1.134. Cite
    * io_sentinel_ratio for persist/write-heavy queries
    * (q_sketch_overlap class), sentinel_ratio for CPU-bound relational
    * ones — r12 showed the two drift independently. */
  val IoSentinelR14 = 1.134

  /** Deterministic write+read job: 2M rows of (id, hash, 64-char
    * string) written to a fresh parquet dir, read back and aggregated.
    * Everything derives from xxhash64(id) — byte-identical data every
    * call — so the only variance is the host's IO/persist path.
    *
    * The read-back leg COLLECTS the aggregate row and requires on its
    * values (round-14 advice fix): the previous `.agg(...).count()`
    * let the optimizer prune the unused aggregate expressions and
    * read zero parquet columns, degrading the "read back" half to a
    * footer scan. `bit_xor(h)` forces the hash column's decode
    * without overflow semantics, `sum(length(s))` forces the string
    * bytes (2M × 64 = 128,000,000 — the require fails loudly if the
    * decode is ever pruned again). */
  def ioSentinel(spark: SparkSession): Double = {
    import org.apache.spark.sql.functions._
    val dir = "target/bench_io_sentinel.parquet"
    val t0 = System.nanoTime()
    spark.range(0L, 2000000L, 1L, 8)
      .select(col("id"), xxhash64(col("id")).as("h"),
        sha2(conv(pmod(xxhash64(col("id"), lit(7)), lit(1000000007L))
          .cast("string"), 10, 16), 256).as("s"))
      .write.mode("overwrite").parquet(dir)
    val r = ParquetInput.read(spark, dir)
      .agg(expr("bit_xor(h)").as("xh"), sum(length(col("s"))).as("sl"))
      .collect()(0)
    require(!r.isNullAt(0) && r.getLong(1) == 128000000L,
      s"ioSentinel read-back decoded wrong bytes: $r")
    (System.nanoTime() - t0) / 1e9
  }

  /** Largest `"n"` value in a medians-ledger body — the input to the
    * no-clobber degrade guard. Whitespace after the colon is tolerated:
    * a ledger rewritten by `json.dump(indent=...)` says `"n": 9`, and
    * the original tight regex silently DISARMED the guard (caught live
    * in r15 when a full n=3 run overwrote the n=9 ledger — restored
    * from git; spec-pinned since). */
  private[graft] def maxLedgerN(body: String): Int =
    """"n":\s*(\d+)""".r.findAllMatchIn(body)
      .map(_.group(1).toInt).foldLeft(0)(math.max)

  /** One entry of `<prefix>_errors.json`: the query, the pass it failed
    * in, the exception class and the first line of its message. */
  private[graft] def errorRecord(query: String, pass: String,
      e: Throwable): String = {
    val line = Option(e.getMessage).flatMap(_.linesIterator.nextOption())
      .getOrElse("")
    Seq("query" -> query, "pass" -> pass, "class" -> e.getClass.getName,
        "message" -> line.take(500))
      .map { case (k, v) => s"${Json.quote(k)}:${Json.quote(v)}" }
      .mkString("{", ",", "}")
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.local(cpus)
    // Warmup at the smallest SF: triggers codegen compilation + JIT for every
    // query shape so the timed run measures the engine, not JVM warmup.
    // (Steady-state is 5-10x cold: q_agg_q1 7.6s cold vs 0.6s warm.)
    val warmDir = "/root/testdata/sf0.001"
    // A failed query leaves a record (query, pass, exception class, first
    // message line) in <prefix>_errors.json, as Verify's errors.json
    // does, instead of only an ok=false on stderr.
    val errors = collection.mutable.ListBuffer.empty[String]
    def attempt(name: String, pass: String)(run: => Unit): Boolean =
      try { run; true }
      catch { case e: Throwable => errors += errorRecord(name, pass, e); false }
    SparkEntry.queries.foreach { case (name, fn) =>
      attempt(name, "warmup")(fn(spark, warmDir).count())
    }
    spark.catalog.clearCache() // drop any frames persisted during warmup
    // Per-query lower-median-of-3: a transient host/JVM stall poisons at
    // most one of the three samples, so the reported time is a property of
    // the plan, not of the machine's worst moment. (r2 lost ~85 s to one
    // stall smeared across 5 contiguous one-shot timings.)
    // SPARK_GRAFT_REPS raises the pass count for cross-run drift work:
    // the medians file below turns N interleaved passes into per-query
    // median + spread, replacing eyeballed comparison of separate runs.
    val Reps = sys.env.get("SPARK_GRAFT_REPS").map(_.toInt).getOrElse(3)
    // SPARK_GRAFT_OUT_PREFIX redirects the artifact files (default
    // "bench") so an off-gate run (sf1 scaling, diagnosis) never
    // clobbers the round's committed bench_*.json.
    val prefix = sys.env.getOrElse("SPARK_GRAFT_OUT_PREFIX", "bench")
    // optional focus filter for local diagnosis: SPARK_GRAFT_ONLY=q_a,q_b
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val selected = SparkEntry.queries.filter { case (name, _) =>
      only.forall(_.contains(name)) }.toSeq
    // Build pass (rep 0, untimed-for-ranking): the first sf-dir run of
    // each query constructs any build-once artifacts it owns (demo
    // indexes, signature/prefix tables, gram indexes). Running it BEFORE
    // the timed passes (a) keeps one query's build cost out of another's
    // cold sample, (b) makes all 3 timed reps warm probes (min-of-3 then
    // has three clean samples instead of two — the r9 append regression
    // was unreproducible precisely because min-of-3 had only two warm
    // samples to defend with), and (c) emits the per-query build cost
    // map the cold-vs-warm analysis needs: bench_build_costs.json holds
    // rep0 seconds per query; rep0 − warm-min ≈ that query's build-once
    // share.
    // Ledger-degradation guard (round-13 verdict task #3, extended to
    // ALL three artifacts in round 14 per advice): if the committed
    // medians ledger at this prefix holds MORE reps than this run, the
    // whole artifact TRIO (medians, queries_full, build_costs) goes to
    // rep-suffixed siblings — the r13 rule protected only the medians
    // file, so an n=3 gate run still clobbered the n=9 full-samples
    // and build-cost ledgers it was meant to preserve.
    val degradeSuffix: String = {
      val p = java.nio.file.Paths.get(s"${prefix}_medians.json")
      val existingN =
        if (!java.nio.file.Files.exists(p)) 0
        else maxLedgerN(
          new String(java.nio.file.Files.readAllBytes(p), "UTF-8"))
      if (existingN > Reps) {
        System.err.println(s"[bench] ${prefix}_medians.json holds an " +
          s"n=$existingN ledger > this run's n=$Reps - writing all " +
          s"artifacts with suffix _n$Reps (refusing to degrade the " +
          "committed ledgers)")
        s"_n$Reps"
      } else ""
    }
    val buildCosts = selected.map { case (name, fn) =>
      val t0 = System.nanoTime()
      val ok = attempt(name, "build")(fn(spark, sfDir).count())
      spark.catalog.clearCache()
      val dt = (System.nanoTime() - t0) / 1e9
      System.err.println(f"[bench] $name rep0(build) ${dt}%.3f s ok=$ok")
      name -> dt
    }
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"${prefix}_build_costs$degradeSuffix.json"),
      buildCosts.sortBy { case (_, v) => -v }
        .map { case (k, v) => s""""$k":${f"$v%.3f"}""" }
        .mkString("{", ",", "}").getBytes("UTF-8"))
    // Round-robin passes: rep r of EVERY query runs before rep r+1 of any.
    // The r3 driver run showed a single host stall can span minutes — with
    // consecutive per-query reps it poisoned all 3 samples of several
    // adjacent queries (q_ann_ivf "43.5 s" vs 0.6 s clean). With passes,
    // one contiguous stall hits at most one sample per query; the per-query
    // MIN across passes is then a property of the plan, not of the
    // machine's worst moment. (Stalls only ever ADD time, so min is the
    // unbiased estimator of plan cost here.)
    val samples = collection.mutable.Map.empty[String, List[Double]]
    val ioSamples = collection.mutable.ListBuffer.empty[Double]
    for (rep <- 1 to Reps) {
      for ((name, fn) <- selected) {
        val t0 = System.nanoTime()
        val ok = attempt(name, s"rep$rep")(fn(spark, sfDir).count())
        spark.catalog.clearCache() // isolate queries from each other's state
        val dt = (System.nanoTime() - t0) / 1e9
        // per-rep trace on stderr: lets a post-mortem tell a bad plan
        // (all reps slow) from a transient host stall (one rep slow)
        System.err.println(f"[bench] $name rep$rep ${dt}%.3f s ok=$ok")
        if (ok) samples(name) = dt :: samples.getOrElse(name, Nil)
      }
      // IO-shaped sentinel, once per pass (interleaved like everything
      // else so a host stall poisons at most one sample): the five
      // relational sentinels are all CPU-bound, and r12 showed
      // persist/IO-heavy queries (q_sketch_overlap) do NOT track their
      // drift ratio — this write+read job gives IO-class queries their
      // own pinned gauge. Deterministic 2M-row frame (~90 MB parquet),
      // full write + read-back-aggregate, timed end to end.
      val ioDt = ioSentinel(spark)
      ioSamples += ioDt
      System.err.println(f"[bench] __io_sentinel rep$rep ${ioDt}%.3f s")
    }
    val results = selected.map { case (name, _) =>
      // a query that throws in every pass reports -1, never a fast "success"
      name -> samples.get(name).map(_.min).getOrElse(-1.0)
    }.toMap
    val failed = results.collect { case (k, v) if v < 0 => s"\"$k\"" }
    val total = results.values.filter(_ >= 0).sum
    // Sentinel-normalized drift gauge: five never-touched pure-relational
    // queries pinned at their round-4 committed times (BENCH_r04.json).
    // The per-round s/q number moves with the HOST (uniform 1.05-1.2x
    // windows were diagnosed by hand in r10/r11); dividing by the median
    // sentinel ratio removes that common factor, so norm_value compares
    // across rounds and a query moving ALONE stands out. Sentinel rule:
    // uniform spread = host noise, one query moving alone = real change.
    val sentinelsR4 = Map(
      "q_join_2key" -> 0.58484242, "q_join_full" -> 0.290403137,
      "q_union_all" -> 0.266184982, "q_rollup" -> 0.330907811,
      "q_datetime_agg" -> 0.208052506)
    val sentRatios = sentinelsR4.toSeq.flatMap { case (k, r4) =>
      results.get(k).filter(_ > 0).map(_ / r4) }.sorted
    val sentinelRatio =
      if (sentRatios.isEmpty) -1.0
      else sentRatios(sentRatios.size / 2)
    val normValue = if (sentinelRatio > 0) total / sentinelRatio else -1.0
    // The driver captures only the LAST ~2000 chars of output and parses the
    // JSON line out of that tail; at ~130 queries a full-precision per-query
    // map is ~4000 chars, so the line's head falls off the tail and the
    // driver records parsed:null (this silently ate the r3-r5 bench files).
    // Emit: (a) the COMPLETE map to bench_queries_full.json for the judge,
    // and (b) one compact line — ms precision, slowest-first, cut to fit the
    // tail with ~300 chars to spare for sbt's "[success]" trailer.
    def fmt(v: Double): String = f"$v%.3f"
    val sorted = results.toSeq.sortBy { case (_, v) => -v }
    val fullJson = sorted.map { case (k, v) => s"\"$k\":${fmt(v)}" }
      .mkString("{", ",", "}")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"${prefix}_queries_full$degradeSuffix.json"),
      fullJson.getBytes("UTF-8"))
    // Median ledger: per-query median + spread across the interleaved
    // passes — the drift detector PLANS.md band claims cite, instead of
    // manually comparing separate single-run minimums. Spread that is
    // UNIFORM across queries = host noise; one query's spread moving
    // alone = a real plan change (the sentinel rule, now measurable
    // from one artifact). Run with SPARK_GRAFT_REPS=9 for band work.
    def median(xs: List[Double]): Double = {
      val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
    }
    val mediansJson = sorted.map { case (k, _) =>
      val xs = samples.getOrElse(k, Nil)
      if (xs.isEmpty) s""""$k":{"med":-1,"min":-1,"max":-1,"n":0}"""
      else s""""$k":{"med":${fmt(median(xs))},"min":${fmt(xs.min)},""" +
        s""""max":${fmt(xs.max)},"n":${xs.size}}"""
    }.mkString("{", ",", "}")
    // medians ledger honors the same degradation suffix decided above
    // (before the build pass), so a low-rep run never clobbers ANY of
    // the committed high-rep artifacts.
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"${prefix}_medians$degradeSuffix.json"),
      mediansJson.getBytes("UTF-8"))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"${prefix}_errors.json"),
      errors.mkString("[", ",", "]").getBytes("UTF-8"))
    val ioMed = if (ioSamples.isEmpty) -1.0 else median(ioSamples.toList)
    val ioRatio = if (ioMed > 0) ioMed / IoSentinelR14 else -1.0
    val LineBudget = 1600
    val head = s"""{"metric":"total","value":${fmt(total)},"unit":"sec","sentinel_ratio":${fmt(sentinelRatio)},"norm_value":${fmt(normValue)},"io_sentinel_sec":${fmt(ioMed)},"io_sentinel_ratio":${fmt(ioRatio)},"sf":"$sfDir","failed":[${failed.mkString(",")}],"full":"${prefix}_queries_full$degradeSuffix.json","build":"${prefix}_build_costs$degradeSuffix.json","queries":{"""
    val tailFixed = s"""},"omitted":NNN}""" // placeholder sizing for the closer
    var used = head.length + tailFixed.length
    val kept = collection.mutable.ArrayBuffer.empty[String]
    for ((k, v) <- sorted) {
      val entry = s"\"$k\":${fmt(v)}"
      if (used + entry.length + 1 <= LineBudget) { kept += entry; used += entry.length + 1 }
    }
    val omitted = sorted.size - kept.size
    println(head + kept.mkString(",") + s"""},"omitted":$omitted}""")
    spark.stop()
  }
}

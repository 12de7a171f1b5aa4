package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.util.Random
import scala.util.control.NonFatal
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.{GraftSession, SparkEntry}

/** Closed-loop benchmark driver: one client thread issues one query at a
  * time to `GraftSession.local(cpus)` and checks every output against the
  * stored row count and checksum.
  *
  * A run sets the session up once, in a fresh JVM: it builds the session
  * and warms the workload's own queries on the small input. After a few
  * untimed rounds more over the small input it runs a cold pass over the target input followed by warm passes until the time
  * budget is spent. The seed shuffles the query order of every pass. With
  * `--trace 1` the run also records spans and per-layer counters; traced
  * and untraced warm passes alternate so the trace's own cost is measured.
  *
  * Usage (normally through run.py):
  * {{{
  *   perfbench.Harness --mode run --workload corpus_events --seed 1
  *     --seconds 15 --trace 0 --cpus 4 --data perfbench/data
  *     --expected perfbench/expected.tsv --out <trace dir> --spawn-ms <ms>
  *   perfbench.Harness --mode record --cpus 4 --data perfbench/data
  *     --expected <tsv to write> [--verified <dir>]
  * }}}
  * where `<dir>/<sf>` is the output directory of
  * `graft.Verify perfbench/data/<sf> <dir>/<sf>` for each input.
  */
object Harness {

  val WarmSf = "sf0.001"
  val TargetSf = "sf0.01"
  /** Untimed rounds over the small input between the set-up and the timed
    * phase, so the timed passes do not start while the JIT is still
    * compiling the workload's code. */
  val SettleRounds = 1
  /** Warm passes per run at least, whatever the time budget; a traced run
    * needs two traced and two untraced ones. */
  val MinWarm = 5

  val Workloads: Map[String, Seq[String]] = Map(
    "sudan_api" -> Seq("q_states", "q_providers", "q_boundary_country",
      "q_geocode", "q_src_worldbank", "q_src_wb_catalog",
      "q_src_wb_pushdown", "q_src_who", "q_src_who_catalog", "q_src_fao",
      "q_src_unhcr", "q_src_ilo", "q_src_ilo_legacy", "q_src_search",
      "q_sql_tvf_worldbank", "q_sql_tvf_search", "q_sql_tvf_states"),
    "corpus_events" -> Seq("q_setsim_pairs", "q_simhash_pairs", "q_tfidf",
      "q_pii_redact", "q_asof_auto", "q_sql_range_join_full",
      "q_stream_sketch"))

  // ------------------------------------------------------------- clock

  private val baseNs = System.nanoTime()
  private val baseMs = System.currentTimeMillis().toDouble

  /** Epoch milliseconds at nanosecond resolution, comparable with the
    * times Spark's listener events carry. */
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  // ------------------------------------------------------------- records

  final case class Expected(rows: Long, sum: Long)

  /** One query execution. Times are epoch ms. */
  final class Exec(val query: String, val qid: Long, val start: Double) {
    var entryEnd: Double = start
    var end: Double = start
    var ok = false
    var error: Option[String] = None
    var rows = -1L
    var sum = 0L
    var actionId: Long = -1L
    var entryPhases: Map[String, (Long, Long)] = Map.empty
    var spanId: Long = -1L
    var entrySpan: Long = -1L
    var execSpan: Long = -1L
    def entryMs: Double = entryEnd - start
    def actionMs: Double = end - entryEnd
    def latencyMs: Double = end - start
  }

  /** The run's set-up, in seconds: `total` runs from the JVM's spawn to the
    * end of the warm-up; its parts are the JVM's start up to the harness,
    * `GraftSession.local` and the warm-up queries. */
  final case class Setup(total: Double, jvmStart: Double,
      sessionStart: Double, warmup: Double)

  final case class Pass(index: Int, traced: Boolean, start: Double,
      end: Double, execs: Seq[Exec], gcMs: Long) {
    def seconds: Double = (end - start) / 1000.0
  }

  // ------------------------------------------------------------- helpers

  private def parseArgs(args: Array[String]): Map[String, String] =
    args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => sys.error(s"bad argument: ${other.mkString(" ")}")
    }.toMap

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** Nearest-rank percentile. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    s(math.max(0, math.ceil(p / 100.0 * s.size).toInt - 1))
  }

  def loadExpected(path: String): Map[(String, String), Expected] =
    scala.io.Source.fromFile(path, "UTF-8").getLines()
      .filter(l => l.nonEmpty && !l.startsWith("#")).map { l =>
        val Array(sf, q, rows, sum) = l.split("\t")
        (sf, q) -> Expected(rows.toLong, sum.toLong)
      }.toMap

  private def firstLine(e: Throwable): String =
    Option(e.getMessage).map(_.linesIterator.toSeq.headOption.getOrElse(""))
      .getOrElse("").take(300)

  /** Union of `[s, e)` intervals clipped to `[lo, hi)`, in ms. */
  def covered(intervals: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    intervals.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
        if (curS.isNaN || s > curE) {
          if (!curS.isNaN) total += curE - curS
          curS = s; curE = e
        } else curE = math.max(curE, e)
      }
    if (!curS.isNaN) total += curE - curS
    total
  }

  /** Collection time of all of the JVM's garbage collectors, in ms. */
  def gcMs: Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ > 0).sum
  }

  private def peakRssMb(): Double = {
    val status = Paths.get("/proc/self/status")
    if (!Files.exists(status)) -1.0
    else new String(Files.readAllBytes(status), StandardCharsets.UTF_8)
      .linesIterator.find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)
  }

  // ------------------------------------------------------------- runner

  final class Runner(val queries: Seq[String],
      data: String, expected: Map[(String, String), Expected],
      check: Boolean = true) {
    private val fns = SparkEntry.queries
    private var nextQid = 1L
    val failures = mutable.ArrayBuffer.empty[String]
    var attempted = 0
    var failed = 0

    /** Runs one query: the entry call builds the DataFrame, the action
      * consumes every output column and yields the checksum. */
    def execute(spark: SparkSession, q: String, sf: String, pass: Int,
        tracer: Option[Tracer]): Exec = {
      val e = new Exec(q, nextQid, nowMs)
      nextQid += 1
      val sc = spark.sparkContext
      tracer.foreach { t =>
        e.spanId = t.newId(); e.entrySpan = t.newId(); e.execSpan = t.newId()
        sc.setLocalProperty(Tracer.QidKey, e.qid.toString)
        sc.setLocalProperty(Tracer.PhaseKey, "entry")
        sc.setLocalProperty(Tracer.SpanKey, e.entrySpan.toString)
      }
      attempted += 1
      try {
        val df: DataFrame = fns(q)(spark, s"$data/$sf")
        e.entryEnd = nowMs
        tracer.foreach { _ =>
          e.entryPhases = PlanInfo.phases(df.queryExecution.tracker)
          sc.setLocalProperty(Tracer.PhaseKey, "exec")
          sc.setLocalProperty(Tracer.SpanKey, e.execSpan.toString)
        }
        val r = Checksum.run(df)
        e.end = nowMs
        e.rows = r.rows
        e.sum = r.sum
        e.actionId = r.qe.id
        if (!check) e.ok = true
        else expected.get((sf, q)) match {
          case Some(x) if x.rows == r.rows && x.sum == r.sum => e.ok = true
          case Some(x) => e.error = Some(s"WrongOutput: rows=${r.rows} " +
            s"checksum=${r.sum}, expected rows=${x.rows} checksum=${x.sum}")
          case None => e.error = Some(s"NoExpectedValue: $sf $q")
        }
      } catch {
        case NonFatal(t) =>
          e.end = nowMs
          if (e.entryEnd == e.start) e.entryEnd = e.end
          e.error = Some(s"${t.getClass.getName}: ${firstLine(t)}")
      } finally {
        tracer.foreach { _ =>
          Seq(Tracer.QidKey, Tracer.PhaseKey, Tracer.SpanKey)
            .foreach(sc.setLocalProperty(_, null))
        }
        spark.catalog.clearCache()
      }
      e.error.foreach { msg =>
        failed += 1
        val line = s"query=$q pass=$pass sf=$sf error=$msg"
        failures += line
        System.err.println(s"[perfbench] FAILED $line")
      }
      e
    }

    def order(seed: Long, pass: Int): Seq[String] =
      new Random(seed * 1000003L + pass).shuffle(queries)
  }

  // ------------------------------------------------------------- run mode

  def run(a: Map[String, String]): Unit = {
    val workload = a("workload")
    val queries = Workloads.getOrElse(workload,
      sys.error(s"unknown workload $workload; one of ${Workloads.keys.mkString(", ")}"))
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val cpus = a("cpus")
    val spawnMs = a.get("spawn-ms").map(_.toDouble).getOrElse(nowMs)
    val runner = new Runner(queries, a("data"),
      loadExpected(a("expected")))
    val tracer = if (trace) Some(new Tracer) else None

    // ---- set-up, once, from the JVM's spawn: session build + warm-up at
    // WarmSf. A second set-up in the same JVM would find the classes loaded,
    // the code compiled and graft's JVM-wide artifact caches filled.
    val s0 = nowMs
    val spark = GraftSession.local(cpus)
    val s1 = nowMs
    runner.order(seed, -1).foreach(q =>
      runner.execute(spark, q, WarmSf, -1, None))
    val s2 = nowMs
    val setup = Setup((s2 - spawnMs) / 1000.0, (s0 - spawnMs) / 1000.0,
      (s1 - s0) / 1000.0, (s2 - s1) / 1000.0)
    val setupSpans = tracer.toSeq.flatMap { t =>
      val id = t.newId()
      Seq(Span(id, 0L, -1L, "setup", spawnMs, s2),
        Span(t.newId(), id, -1L, "jvm.start", spawnMs, s0),
        Span(t.newId(), id, -1L, "session.start", s0, s1),
        Span(t.newId(), id, -1L, "session.warmup", s1, s2))
    }
    for (i <- 2 to SettleRounds + 1)
      runner.order(seed, -i).foreach(q =>
        runner.execute(spark, q, WarmSf, -i, None))
    System.gc()

    // ---- timed phase: cold pass, then warm passes until the budget ends
    val passes = mutable.ArrayBuffer.empty[Pass]
    val tStart = nowMs
    var p = 0
    while (p == 0 || passes.size - 1 < MinWarm ||
        nowMs - tStart < seconds * 1000.0) {
      // traced run: the cold pass and odd warm passes carry the trace
      val traced = trace && (p == 0 || p % 2 == 1)
      if (traced) tracer.foreach { t =>
        spark.sparkContext.addSparkListener(t)
        spark.listenerManager.register(t)
      }
      val ps = nowMs
      val gc0 = gcMs
      val execs = runner.order(seed, p).map(q =>
        runner.execute(spark, q, TargetSf, p, if (traced) tracer else None))
      val pe = nowMs
      if (traced) tracer.foreach { t =>
        if (!t.await(execs.filter(_.actionId >= 0).map(_.actionId), 60000L))
          System.err.println(s"[perfbench] trace events of pass $p incomplete")
        spark.listenerManager.unregister(t)
        spark.sparkContext.removeSparkListener(t)
      }
      passes += Pass(p, traced, ps, pe, execs, gcMs - gc0)
      p += 1
    }
    val tEnd = nowMs

    // ---- end-to-end metrics
    val cold = passes.head
    val warm = passes.tail.toSeq
    val untracedWarm = warm.filterNot(_.traced)
    val warmLat = untracedWarm.flatMap(_.execs.filter(_.ok).map(_.latencyMs))
    def latency(p: Double): Double = if (warmLat.isEmpty) -1.0 else percentile(warmLat, p)
    // Host stalls only add time, and the JIT is still speeding the code up
    // during the warm passes. So a warm pass is the sum of each query's
    // fastest warm execution: stalls drop out query by query.
    val bestWarmS = queries.map { q =>
      val ms = untracedWarm.flatMap(_.execs.filter(x => x.ok && x.query == q)
        .map(_.latencyMs))
      if (ms.isEmpty) 0.0 else ms.min
    }.sum / 1000.0
    val e2e = Seq(
      ("setup_s", setup.total, "s"),
      ("cold_pass_s", cold.seconds, "s"),
      ("warm_pass_s", bestWarmS, "s"),
      ("latency_p50_ms", latency(50), "ms"))
    val failedRatio = runner.failed.toDouble / runner.attempted

    println(s"[perfbench] workload=$workload seed=$seed trace=${if (trace) 1 else 0} " +
      f"setup_s=${setup.total}%.2f " +
      s"warm_passes=${warm.size} executions=${runner.attempted} " +
      s"warm_latency_samples=${warmLat.size} timed_s=${(tEnd - tStart) / 1000.0}")
    for (q <- queries) {
      def ms(es: Seq[Exec]): String =
        es.filter(_.query == q).map(x => f"${x.latencyMs}%.0f").mkString(",")
      println(s"[perfbench] query $q cold_ms=${ms(cold.execs)} " +
        s"warm_ms=${ms(warm.flatMap(_.execs))}")
    }
    println(s"[perfbench] pass_s=${passes.map(x => f"${x.seconds}%.3f").mkString(",")}")
    println(f"[perfbench] jvm.start_s=${setup.jvmStart}%.2f " +
      f"session.start_s=${setup.sessionStart}%.2f session.warmup_s=${setup.warmup}%.2f")
    for ((n, v, u) <- e2e) println(s"[perfbench] metric $n $v $u")
    println(s"[perfbench] metric latency_p90_ms ${latency(90)} ms")
    println(s"[perfbench] metric failed_ratio $failedRatio ratio")

    val metrics: Seq[(String, Double, String)] = tracer match {
      case None => e2e
      case Some(t) =>
        val layer = new Layers(t, passes.toSeq, setup,
          new File(System.getProperty("java.io.tmpdir")))
        val retainedMb = {
          System.gc()
          val h = java.lang.management.ManagementFactory.getMemoryMXBean
            .getHeapMemoryUsage
          h.getUsed / 1048576.0
        }
        val tracedWarm = warm.filter(_.traced)
        val overhead = median(tracedWarm.map(_.seconds)) /
          median(untracedWarm.map(_.seconds))
        val all = layer.metrics ++ Seq(
          ("latency_p90_ms", latency(90), "ms"),
          ("jvm.peak_rss_mb", peakRssMb(), "MB"),
          ("jvm.retained_heap_mb", retainedMb, "MB"),
          ("trace.overhead", overhead, "ratio"))
        for ((n, v, u) <- all) println(s"[perfbench] layer $n $v $u")
        val out = new File(a("out"))
        out.mkdirs()
        val base = s"$workload-seed$seed"
        val spans = setupSpans ++ layer.spans(workload, tStart, tEnd)
        Layers.writeSpans(new File(out, s"$base.spans.jsonl"), spans)
        Layers.writeQueries(new File(out, s"$base.queries.json"),
          layer.perQuery, runner.failures.toSeq)
        println(s"[perfbench] trace ${new File(out, s"$base.spans.jsonl")} " +
          s"(${spans.size} spans)")
        all
    }
    spark.stop()

    val json = metrics.map { case (n, v, u) =>
      s""""$n": {"value": ${Layers.num(v)}, "unit": "$u"}"""
    }.mkString(", ")
    println(s"""{"correct": ${runner.failed == 0}, "attempted": ${runner.attempted}, """ +
      s""""failed": ${runner.failed}, "metrics": {$json}}""")
  }

  // ------------------------------------------------------------- record mode

  /** Establishes the expected row count and checksum of every workload
    * query at both inputs. Each query runs three times in shuffled order
    * and must give the same answer each time; with `--verified` the
    * output `graft.Verify` wrote for the query (which `tools/selfcheck.py`
    * compares with the DuckDB oracle) must give it too. */
  def record(a: Map[String, String]): Unit = {
    val data = a("data")
    val spark = GraftSession.local(a("cpus"))
    val runner = new Runner(Workloads.values.flatten.toSeq.distinct.sorted,
      data, Map.empty, check = false)
    val verified = a.get("verified")
    val lines = mutable.ArrayBuffer.empty[String]
    var bad = 0
    for (sf <- Seq(WarmSf, TargetSf)) {
      val seen = mutable.LinkedHashMap.empty[String, Set[(Long, Long)]]
      val ms = mutable.LinkedHashMap.empty[String, Seq[Double]]
      for (rep <- 0 until 3; q <- runner.order(rep, 0)) {
        val e = runner.execute(spark, q, sf, rep, None)
        ms(q) = ms.getOrElse(q, Nil) :+ e.latencyMs
        val v = if (e.rows >= 0) Set((e.rows, e.sum)) else Set((-1L, 0L))
        seen(q) = seen.getOrElse(q, Set.empty) ++ v
      }
      for ((q, vs) <- seen.toSeq.sortBy(_._1)) {
        val fromVerify = verified.map(d => new File(s"$d/$sf/$q"))
          .filter(_.isDirectory).map { d =>
            val r = Checksum.run(spark.read.parquet(d.getPath))
            (r.rows, r.sum)
          }
        val agrees = fromVerify.forall(vs.contains)
        if (vs.size != 1 || vs.head._1 < 0 || !agrees) {
          bad += 1
          System.err.println(s"[perfbench] UNSTABLE $sf $q runs=$vs verify=$fromVerify")
        } else {
          val tag = if (fromVerify.isDefined) "verified" else "unverified"
          System.err.println(s"[perfbench] $sf $q ${vs.head} $tag ms=" +
            ms(q).map(x => f"$x%.0f").mkString(","))
          lines += s"$sf\t$q\t${vs.head._1}\t${vs.head._2}"
        }
      }
    }
    spark.stop()
    val header = "# sf\tquery\trows\tchecksum (perfbench.Checksum; written by record mode)"
    Files.write(Paths.get(a("expected")),
      (header +: lines).mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    if (bad > 0) sys.exit(1)
  }

  def main(args: Array[String]): Unit = {
    val a = parseArgs(args)
    a.getOrElse("mode", "run") match {
      case "run" => run(a)
      case "record" => record(a)
      case m => sys.error(s"unknown mode $m")
    }
    sys.exit(0)
  }
}

package perfbench

import java.io.{File, PrintWriter}
import java.nio.charset.StandardCharsets
import scala.collection.mutable
import Harness.{Exec, Pass, Setup, covered, median}

/** Per-layer numbers of a traced run, its spans and its per-query table.
  *
  * Summed metrics are per warm pass: the sum over the pass's queries,
  * averaged over the traced warm passes. `_cold` metrics are the same sums
  * over the cold pass. */
final class Layers(t: Tracer, passes: Seq[Pass],
    setup: Setup, tmpdir: File) {

  /** What one traced execution cost, per layer. */
  final case class Stat(
      entryMs: Double, actionMs: Double, entryJobs: Double, jobs: Double,
      stages: Double, tasks: Double, failedTasks: Double, runS: Double,
      actionRunS: Double, cpuS: Double, gcS: Double, shuffleWriteMb: Double,
      shuffleReadMb: Double, spillMb: Double, gapMs: Double,
      analysisMs: Double, optimizationMs: Double, planningMs: Double,
      exchanges: Double, graftNodes: Double, scanRows: Double,
      kernelCpuS: Double) {
    def toMap: Seq[(String, Double)] = productElementNames.toSeq
      .zip(productIterator.map(_.asInstanceOf[Double]).toSeq)
  }

  private val Mb = 1048576.0
  private val jobsByQid = t.jobs.values.toSeq.groupBy(_.qid)
  private val stagesByQid = t.stages.values.toSeq.filter(_.tasks > 0).groupBy(_.qid)

  private def stat(e: Exec): Stat = {
    val jobs = jobsByQid.getOrElse(e.qid, Nil)
    val stages = stagesByQid.getOrElse(e.qid, Nil)
    val actionStages = stages.filter(_.phase == "exec")
    val plan = t.plans.getOrElse(e.actionId, PlanInfo.Empty)
    def phase(n: String): Double = {
      val fromEntry = e.entryPhases.get(n).map { case (s, x) => x - s }.getOrElse(0L)
      (fromEntry + plan.phaseMs(n)).toDouble
    }
    val busy = covered(actionStages.flatMap(_.intervals.map { case (s, x) =>
      (s.toDouble, x.toDouble) }), e.entryEnd, e.end)
    val cpuS = stages.map(_.cpuNs).sum / 1e9
    Stat(
      entryMs = e.entryMs,
      actionMs = e.actionMs,
      entryJobs = jobs.count(_.phase == "entry"),
      jobs = jobs.size,
      stages = stages.size,
      tasks = stages.map(_.tasks).sum,
      failedTasks = stages.map(_.failedTasks).sum,
      runS = stages.map(_.runMs).sum / 1000.0,
      actionRunS = actionStages.map(_.runMs).sum / 1000.0,
      cpuS = cpuS,
      gcS = stages.map(_.gcMs).sum / 1000.0,
      shuffleWriteMb = stages.map(_.shuffleWrite).sum / Mb,
      shuffleReadMb = stages.map(_.shuffleRead).sum / Mb,
      spillMb = stages.map(_.spill).sum / Mb,
      gapMs = e.actionMs - busy,
      analysisMs = phase("analysis"),
      optimizationMs = phase("optimization"),
      planningMs = phase("planning"),
      exchanges = plan.exchanges,
      graftNodes = plan.graftNodes,
      scanRows = plan.scanRows.toDouble,
      kernelCpuS = if (plan.kernels) cpuS else 0.0)
  }

  private val stats: Map[Long, Stat] = passes.filter(_.traced)
    .flatMap(_.execs).filter(_.ok).map(e => e.qid -> stat(e)).toMap

  private val cold = passes.head
  private val warm = passes.tail
  private val tracedWarm = warm.filter(_.traced)

  /** Per-pass sum of `f`, averaged over the given passes. */
  private def perPass(ps: Seq[Pass])(f: Stat => Double): Double =
    if (ps.isEmpty) 0.0
    else ps.map(_.execs.flatMap(e => stats.get(e.qid)).map(f).sum).sum / ps.size

  private val warmLatency: Map[String, Double] = warm.flatMap(_.execs)
    .filter(_.ok).groupBy(_.query).map { case (q, es) => q -> median(es.map(_.latencyMs)) }

  private val buildS: Map[String, Double] = cold.execs.filter(_.ok).flatMap { e =>
    warmLatency.get(e.query).map(w => e.query -> (e.latencyMs - w) / 1000.0)
  }.toMap

  val metrics: Seq[(String, Double, String)] = {
    val w = perPass(tracedWarm) _
    val c = perPass(Seq(cold)) _
    val actionS = w(_.actionMs) / 1000.0
    Seq(
      ("jvm.start_s", setup.jvmStart, "s"),
      ("session.start_s", setup.sessionStart, "s"),
      ("session.warmup_s", setup.warmup, "s"),
      ("entry.ms", w(_.entryMs), "ms"),
      ("entry.jobs", w(_.entryJobs), "count"),
      ("plan.analysis_ms", w(_.analysisMs), "ms"),
      ("plan.optimization_ms", w(_.optimizationMs), "ms"),
      ("plan.planning_ms", w(_.planningMs), "ms"),
      ("driver.gap_ms", w(_.gapMs), "ms"),
      ("spark.jobs", w(_.jobs), "count"),
      ("spark.stages", w(_.stages), "count"),
      ("spark.tasks", w(_.tasks), "count"),
      ("spark.task_failures", w(_.failedTasks), "count"),
      ("exec.run_s", w(_.runS), "s"),
      ("exec.cpu_s", w(_.cpuS), "s"),
      ("jvm.gc_ms", tracedWarm.map(_.gcMs.toDouble).sum / tracedWarm.size, "ms"),
      ("exec.parallelism", if (actionS > 0) w(_.actionRunS) / actionS else 0.0, "ratio"),
      ("shuffle.write_mb", w(_.shuffleWriteMb), "MB"),
      ("shuffle.read_mb", w(_.shuffleReadMb), "MB"),
      ("spill.mb", w(_.spillMb), "MB"),
      ("plan.exchanges", w(_.exchanges), "count"),
      ("plans.graft_nodes", w(_.graftNodes), "count"),
      ("sources.scan_rows", w(_.scanRows), "count"),
      ("functions.kernel_cpu_share",
        if (w(_.cpuS) > 0) w(_.kernelCpuS) / w(_.cpuS) else 0.0, "ratio"),
      ("entry.ms_cold", c(_.entryMs), "ms"),
      ("entry.jobs_cold", c(_.entryJobs), "count"),
      ("spark.jobs_cold", c(_.jobs), "count"),
      ("exec.run_s_cold", c(_.runS), "s"),
      ("operators.build_s", buildS.values.sum, "s"),
      ("operators.artifact_mb", Layers.dirSize(tmpdir) / Mb, "MB"))
  }

  /** Per query: the per-layer stat averaged over traced warm executions,
    * plus cold and median warm latency and the build-once share. */
  val perQuery: Seq[(String, Seq[(String, Double)])] = {
    val byQuery = tracedWarm.flatMap(_.execs).flatMap(e =>
      stats.get(e.qid).map(e.query -> _)).groupBy(_._1)
    val coldLat = cold.execs.filter(_.ok).map(e => e.query -> e.latencyMs).toMap
    byQuery.toSeq.sortBy(_._1).map { case (q, ss) =>
      val avg = ss.map(_._2.toMap).transpose.map { col =>
        col.head._1 -> col.map(_._2).sum / col.size }
      q -> (Seq(
        "cold_latency_ms" -> coldLat.getOrElse(q, -1.0),
        "warm_latency_ms" -> warmLatency.getOrElse(q, -1.0),
        "build_s" -> buildS.getOrElse(q, 0.0)) ++ avg)
    }
  }

  /** Spans: workload → pass → query → {entry, exec} → plan phase / job →
    * stage. Queries of untraced passes are not broken down. */
  def spans(workload: String, start: Double, end: Double): Seq[Span] = {
    val out = mutable.ArrayBuffer.empty[Span]
    val root = t.newId()
    out += Span(root, 0L, -1L, "workload", start, end, Map("workload" -> workload))
    val jobSpan = t.jobs.keys.map(_ -> t.newId()).toMap
    for (p <- passes) {
      val ps = t.newId()
      out += Span(ps, root, -1L, "pass", p.start, p.end,
        Map("pass" -> p.index, "cold" -> (p.index == 0), "traced" -> p.traced))
      for (e <- p.execs if p.traced) {
        out += Span(e.spanId, ps, e.qid, "query", e.start, e.end,
          Map("query" -> e.query, "ok" -> e.ok) ++ e.error.map("error" -> _))
        out += Span(e.entrySpan, e.spanId, e.qid, "entry", e.start, e.entryEnd)
        out += Span(e.execSpan, e.spanId, e.qid, "exec", e.entryEnd, e.end)
        def phaseSpans(parent: Long, ph: Map[String, (Long, Long)]): Unit =
          for ((n, (s, x)) <- ph)
            out += Span(t.newId(), parent, e.qid, s"plan.$n", s.toDouble, x.toDouble)
        phaseSpans(e.entrySpan, e.entryPhases)
        phaseSpans(e.execSpan, t.plans.get(e.actionId).map(_.phases).getOrElse(Map.empty))
      }
    }
    for (j <- t.jobs.values if j.parent > 0)
      out += Span(jobSpan(j.id), j.parent, j.qid, "job", j.start.toDouble,
        j.end.toDouble, Map("job" -> j.id, "phase" -> j.phase))
    for (s <- t.stages.values if s.tasks > 0 && jobSpan.contains(s.parentJob) &&
        t.jobs(s.parentJob).parent > 0)
      out += Span(t.newId(), jobSpan(s.parentJob), s.qid, "stage",
        s.submitted.toDouble, s.completed.toDouble,
        Map("stage" -> s.id, "tasks" -> s.tasks, "run_ms" -> s.runMs,
          "cpu_ms" -> s.cpuNs / 1000000L, "gc_ms" -> s.gcMs,
          "shuffle_write_bytes" -> s.shuffleWrite,
          "shuffle_read_bytes" -> s.shuffleRead))
    out.toSeq
  }
}

object Layers {

  def dirSize(f: File): Long =
    if (f.isFile) f.length()
    else Option(f.listFiles()).map(_.map(dirSize).sum).getOrElse(0L)

  /** JSON number; a value that is not finite is a bug, shown as a string. */
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "\"" + v + "\"" else v.toString

  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  private def value(v: Any): String = v match {
    case d: Double => num(d)
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case s => str(s.toString)
  }

  private def obj(kv: Iterable[(String, Any)]): String =
    kv.map { case (k, v) => s"${str(k)}: ${value(v)}" }.mkString("{", ", ", "}")

  def writeSpans(f: File, spans: Seq[Span]): Unit = {
    val w = new PrintWriter(f, StandardCharsets.UTF_8.name)
    try spans.sortBy(_.start).foreach { s =>
      w.println(obj(Seq("id" -> s.id, "parent" -> s.parent, "qid" -> s.qid,
        "name" -> s.name, "start_ms" -> s.start, "end_ms" -> s.end)).dropRight(1) +
        s""", "attrs": ${obj(s.attrs)}}""")
    } finally w.close()
  }

  def writeQueries(f: File, perQuery: Seq[(String, Seq[(String, Double)])],
      failures: Seq[String]): Unit = {
    val w = new PrintWriter(f, StandardCharsets.UTF_8.name)
    try {
      val qs = perQuery.map { case (q, kv) => s"${str(q)}: ${obj(kv)}" }
      w.println(s"""{"queries": {${qs.mkString(",\n  ")}},""")
      w.println(s""" "failures": [${failures.map(str).mkString(", ")}]}""")
    } finally w.close()
  }
}

package perfbench

import java.util.Properties
import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.execution.{GenerateExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.util.QueryExecutionListener

/** Span: one timed interval at a layer boundary. All spans of one query
  * execution share `qid`; times are epoch milliseconds. */
final case class Span(id: Long, parent: Long, qid: Long, name: String,
    start: Double, end: Double, attrs: Map[String, Any] = Map.empty)

/** Planner phases of a query execution and what its final (AQE) physical
  * plan holds. */
final case class PlanInfo(
    phases: Map[String, (Long, Long)],
    exchanges: Int,
    graftNodes: Int,
    scanRows: Long,
    kernels: Boolean) {
  def phaseMs(name: String): Long =
    phases.get(name).map { case (s, e) => e - s }.getOrElse(0L)
}

object PlanInfo {
  val Empty = PlanInfo(Map.empty, 0, 0, 0L, kernels = false)

  def phases(tracker: QueryPlanningTracker): Map[String, (Long, Long)] =
    tracker.phases.map { case (k, v) => k -> (v.startTimeMs, v.endTimeMs) }

  private def nodes(p: SparkPlan): Seq[SparkPlan] = {
    val inner = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case s: QueryStageExec => Seq(s.plan)
      case _ => Nil
    }
    val below = p match {
      case _: ReusedExchangeExec => Nil // counted where it was planned
      case _ => p.children ++ inner ++ p.subqueries
    }
    p +: below.flatMap(nodes)
  }

  private def isGraft(o: AnyRef): Boolean = o.getClass.getName.startsWith("graft.")

  /** `exchanges` counts shuffle and broadcast exchanges; `graftNodes`
    * counts physical operators from `graft` (as-of joins) and the bin
    * generators `RangeBinJoinRule` plants; `scanRows` is the output row
    * count of DSv2 scans over `graft.sources.ApiTable`; `kernels` says
    * whether any expression comes from `graft.functions`. */
  def of(qe: QueryExecution): PlanInfo = {
    val all = nodes(qe.executedPlan)
    PlanInfo(
      phases(qe.tracker),
      all.count {
        case _: ShuffleExchangeLike | _: BroadcastExchangeLike => true
        case _ => false
      },
      all.count {
        case g: GenerateExec =>
          g.generatorOutput.exists(_.name == "__graft_range_bin")
        case p => isGraft(p)
      },
      all.collect {
        case b: BatchScanExec if b.table.isInstanceOf[graft.sources.ApiTable] =>
          b.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
      }.sum,
      all.exists(_.expressions.exists(_.find(e =>
        e.getClass.getName.startsWith("graft.functions.")).isDefined)))
  }
}

/** Listener half of the traced run: jobs, stages and task metrics from
  * Spark's listener bus, and final plans from `QueryExecutionListener`.
  * Jobs and stages are attributed to the query execution and span that
  * submitted them through local properties the driver thread sets. */
final class Tracer extends SparkListener with QueryExecutionListener {
  import Tracer._

  final class Job(val id: Int, val parent: Long, val qid: Long,
      val phase: String, val start: Long) {
    var end: Long = -1L
  }

  final class Stage(val id: Int) {
    var parentJob: Int = -1
    var qid: Long = -1L
    var phase: String = ""
    var submitted: Long = -1L
    var completed: Long = -1L
    var tasks = 0
    var failedTasks = 0
    var runMs = 0L
    var cpuNs = 0L
    var gcMs = 0L
    var shuffleWrite = 0L
    var shuffleRead = 0L
    var spill = 0L
    val intervals = mutable.ArrayBuffer.empty[(Long, Long)]
  }

  val jobs = mutable.LinkedHashMap.empty[Int, Job]
  val stages = mutable.LinkedHashMap.empty[Int, Stage]
  val plans = mutable.HashMap.empty[Long, PlanInfo]
  private var nextId = 1L

  def newId(): Long = synchronized { val i = nextId; nextId += 1; i }

  private def prop(p: Properties, k: String): Option[String] =
    Option(p).flatMap(x => Option(x.getProperty(k)))

  private def stage(id: Int): Stage = stages.getOrElseUpdate(id, new Stage(id))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = e.properties
    jobs(e.jobId) = new Job(e.jobId,
      prop(p, SpanKey).map(_.toLong).getOrElse(-1L),
      prop(p, QidKey).map(_.toLong).getOrElse(-1L),
      prop(p, PhaseKey).getOrElse(""), e.time)
    e.stageIds.foreach { s =>
      val st = stage(s)
      if (st.parentJob < 0) st.parentJob = e.jobId
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    synchronized {
      val st = stage(e.stageInfo.stageId)
      st.qid = prop(e.properties, QidKey).map(_.toLong).getOrElse(-1L)
      st.phase = prop(e.properties, PhaseKey).getOrElse("")
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val st = stage(e.stageInfo.stageId)
      if (st.submitted < 0) st.submitted = e.stageInfo.submissionTime.getOrElse(-1L)
      st.completed = e.stageInfo.completionTime.getOrElse(-1L)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val st = stage(e.stageId)
    st.tasks += 1
    if (!e.taskInfo.successful) st.failedTasks += 1
    st.intervals += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
    val m = e.taskMetrics
    if (m != null) {
      st.runMs += m.executorRunTime
      st.cpuNs += m.executorCpuTime
      st.gcMs += m.jvmGCTime
      st.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      st.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      st.spill += m.diskBytesSpilled
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = {
    val info = PlanInfo.of(qe)
    synchronized { plans(qe.id) = info; notifyAll() }
  }

  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = synchronized {
    plans(qe.id) = PlanInfo.Empty
    notifyAll()
  }

  /** Waits until the listener bus delivered the end of each given SQL
    * execution. The bus queue is FIFO and this listener shares it with
    * the job listener, so every earlier job and task event has arrived
    * too. */
  def await(executionIds: Seq[Long], timeoutMs: Long): Boolean = synchronized {
    val deadline = System.currentTimeMillis() + timeoutMs
    var left = timeoutMs
    while (!executionIds.forall(plans.contains) && left > 0) {
      wait(left)
      left = deadline - System.currentTimeMillis()
    }
    executionIds.forall(plans.contains)
  }
}

object Tracer {
  val QidKey = "perfbench.qid"
  val PhaseKey = "perfbench.phase"
  val SpanKey = "perfbench.span"
}

package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.{DataWritingCommandExec, ExecutedCommandExec}
import org.apache.spark.sql.execution.datasources.v2.V2CommandExec
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval of the traced run. `parent` is the enclosing span's
  * id (0 at the root); `layer` names the module the span is charged to. */
final case class Span(id: Int, parent: Int, layer: String, name: String,
                      startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** In-memory span recorder. Spans nest by call structure; nothing is
  * written until the run ends. Disabled tracers run the body untouched. */
final class Tracer {
  @volatile var on: Boolean = false
  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer.empty
  private var next = 0
  private var stack: List[Int] = Nil

  def current: Int = stack.headOption.getOrElse(0)

  def span[T](layer: String, name: String)(body: => T): T =
    if (!on) body
    else {
      next += 1
      val id = next
      val parent = current
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        stack = stack.tail
        spans += Span(id, parent, layer, name, t0, System.nanoTime())
      }
    }

  def children(id: Int): Seq[Span] = spans.filter(_.parent == id).toSeq

  /** Span time not covered by its direct children. */
  def selfMs(s: Span): Double = s.ms - children(s.id).map(_.ms).sum
}

/** Totals of one Spark stage, charged to the op whose job group ran it. */
final case class StageRec(group: String, stageId: Int, tasks: Int,
                          runMs: Long, cpuNs: Long, gcMs: Long,
                          shuffleWrite: Long, shuffleRead: Long, spill: Long)

final case class JobRec(group: String, jobId: Int, startMs: Long,
                        var endMs: Long)

/** Job/stage/task counters from the listener bus, keyed by job group
  * (the benchmark sets one group per op, so events parent to op spans). */
final class JobListener extends SparkListener {
  val jobs: mutable.Map[Int, JobRec] = mutable.Map.empty
  val stages: mutable.ArrayBuffer[StageRec] = mutable.ArrayBuffer.empty
  private val stageGroup = mutable.Map.empty[Int, String]
  val events = new AtomicLong

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    jobs(e.jobId) = JobRec(group, e.jobId, e.time, -1L)
    e.stageIds.foreach(stageGroup(_) = group)
    events.incrementAndGet()
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
    events.incrementAndGet()
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val i = e.stageInfo
      val m = i.taskMetrics
      if (m != null)
        stages += StageRec(stageGroup.getOrElse(i.stageId, ""), i.stageId,
          i.numTasks, m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
          m.shuffleWriteMetrics.bytesWritten,
          m.shuffleReadMetrics.totalBytesRead,
          m.diskBytesSpilled + m.memoryBytesSpilled)
      events.incrementAndGet()
    }

  def pendingJobs: Int = synchronized(jobs.values.count(_.endMs < 0))
}

/** What one finished query execution contributes to its op. */
final case class QeRec(startMs: Long, analysisMs: Long, optimizationMs: Long,
                       planningMs: Long, scanRows: Long, scanBytes: Long,
                       rowsOut: Long, fallbacks: Int)

/** Planner phases, scan volume and interpreted expressions of every
  * query execution. Attribution to ops is by the execution's first phase
  * start, which lies inside the op span that planned it. */
final class PlanListener extends QueryExecutionListener
    with AdaptiveSparkPlanHelper {
  val recs: mutable.ArrayBuffer[QeRec] = mutable.ArrayBuffer.empty

  override def onSuccess(funcName: String, qe: QueryExecution,
                         durationNs: Long): Unit = {
    val r = PlanListener.record(this, qe)
    synchronized(recs += r)
  }

  override def onFailure(funcName: String, qe: QueryExecution,
                         exception: Exception): Unit = ()
}

object PlanListener {
  private def metric(p: SparkPlan, name: String): Long =
    p.metrics.get(name).map(_.value).getOrElse(0L)

  def record(h: AdaptiveSparkPlanHelper, qe: QueryExecution): QeRec = {
    val phases = qe.tracker.phases
    def dur(k: String): Long = phases.get(k).map(_.durationMs).getOrElse(0L)
    val start =
      if (phases.isEmpty) System.currentTimeMillis()
      else phases.values.map(_.startTimeMs).min
    val plan = qe.executedPlan
    val scans = h.collectWithSubqueries(plan) { case s: FileSourceScanExec => s }
    val fallbacks = h.collectWithSubqueries(plan) { case p => p }
      .map(_.expressions.map(_.collect { case f: CodegenFallback => f }.size).sum)
      .sum
    // rows leaving the query: the topmost node that counts output rows,
    // below any write/command wrapper
    val rowsOut = h.find(plan) {
      case _: V2CommandExec | _: DataWritingCommandExec |
           _: ExecutedCommandExec => false
      case p => p.metrics.contains("numOutputRows")
    }.map(metric(_, "numOutputRows")).getOrElse(0L)
    QeRec(start, dur("analysis"), dur("optimization"), dur("planning"),
      scans.map(metric(_, "numOutputRows")).sum,
      scans.map(metric(_, "filesSize")).sum, rowsOut, fallbacks)
  }
}

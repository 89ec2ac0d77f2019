package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{FilterExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
import org.apache.spark.sql.perfbenchbridge.Bridge

import scala.collection.mutable

/** Epoch milliseconds with sub-millisecond resolution, on the same time base
  * as Spark's task and job timestamps.
  */
object Clock {
  private val offsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def nowMs: Double = (System.nanoTime() + offsetNs) / 1e6
}

/** One traced interval: a workload, an operation, a layer call. All spans of
  * one operation carry its `op` id; `parent` is -1 for an operation's root.
  */
final case class Span(id: Int, parent: Int, op: Int, name: String, start: Double, var end: Double) {
  def dur: Double = end - start
}

final case class TaskRec(stage: Int, launch: Long, finish: Long, runMs: Long, gcMs: Long,
    shuffleWrite: Long, shuffleRead: Long, spill: Long, inBytes: Long, inRows: Long,
    outBytes: Long, outRows: Long)

final case class JobRec(id: Int, op: Int, span: Int, execId: Long, start: Long, stages: Seq[Int]) {
  @volatile var end: Long = -1L
}

final case class StageRec(id: Int, submitted: Long, completed: Long)

/** Planning phases and candidate-yield counts of one finished SQL execution. */
final case class ExecRec(execId: Long, phasesMs: Map[String, Double], yieldIn: Long, yieldOut: Long)

/** Collects jobs, stages and tasks, keyed to the operation and span that were
  * active (as thread-local job properties) when each job started. SQL
  * execution detail (planning phases, filter yields) is only read when
  * `detailed`.
  */
final class BenchListener(detailed: Boolean) extends SparkListener {
  val jobs   = mutable.ArrayBuffer.empty[JobRec]
  val tasks  = mutable.ArrayBuffer.empty[TaskRec]
  val stages = mutable.Map.empty[Int, StageRec]
  val execs  = mutable.Map.empty[Long, ExecRec]
  val stageJob = mutable.Map.empty[Int, JobRec]

  private def prop(p: java.util.Properties, k: String, default: Long): Long =
    Option(p).flatMap(x => Option(x.getProperty(k))).map(_.toLong).getOrElse(default)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val j = JobRec(e.jobId, prop(e.properties, Tracer.OpKey, -1).toInt,
      prop(e.properties, Tracer.SpanKey, -1).toInt,
      prop(e.properties, "spark.sql.execution.id", -1), e.time, e.stageIds)
    jobs += j
    e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = j)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.find(_.id == e.jobId).foreach(_.end = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    stages(i.stageId) = StageRec(i.stageId, i.submissionTime.getOrElse(0L),
      i.completionTime.getOrElse(0L))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) tasks += TaskRec(e.stageId, e.taskInfo.launchTime, e.taskInfo.finishTime,
      m.executorRunTime, m.jvmGCTime, m.shuffleWriteMetrics.bytesWritten,
      m.shuffleReadMetrics.totalBytesRead, m.memoryBytesSpilled + m.diskBytesSpilled,
      m.inputMetrics.bytesRead, m.inputMetrics.recordsRead,
      m.outputMetrics.bytesWritten, m.outputMetrics.recordsWritten)
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case end: SparkListenerSQLExecutionEnd if detailed =>
      Bridge.queryExecution(end).foreach { qe =>
        val phases = qe.tracker.phases.map { case (k, v) => k -> v.durationMs.toDouble }
        val (in, out) = PlanYield.candidateYield(qe.executedPlan)
        synchronized { execs(end.executionId) = ExecRec(end.executionId, phases, in, out) }
      }
    case _ =>
  }
}

/** Candidate yield of a near-duplicate plan: rows that passed a similarity
  * threshold filter versus the rows that reached it, both read from the
  * executed plan's SQL metrics. The optimizer inlines the `jaccard` and
  * `containment` aliases, so the filter is recognised by the shared-shingle
  * count it divides.
  */
object PlanYield extends AdaptiveSparkPlanHelper {
  private val simCols = Set("jaccard", "containment", "shared", "__shared")

  private def rowsIn(p: SparkPlan): Option[Long] =
    p.metrics.get("numOutputRows").map(_.value).orElse {
      val kids = allChildren(p)
      if (kids.length == 1) rowsIn(kids.head) else None
    }

  def candidateYield(plan: SparkPlan): (Long, Long) = {
    var in = 0L
    var out = 0L
    foreach(plan) {
      case f: FilterExec if f.condition.references.exists(a => simCols(a.name)) =>
        for (i <- rowsIn(f.child); o <- f.metrics.get("numOutputRows")) {
          in += i
          out += o.value
        }
      case _ =>
    }
    (in, out)
  }
}

/** Span recorder. Every operation stamps its id on the jobs it starts (so
  * untraced runs still attribute tasks to operations); spans are recorded
  * only while `detailed`. SQL execution detail is kept only in `traceMode`.
  */
final class Tracer(sc: SparkContext, traceMode: Boolean) {
  val listener = new BenchListener(traceMode)
  sc.addSparkListener(listener)
  @volatile var detailed = false

  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private var nextId = 0
  private var currentOp = -1

  def op[T](id: Int, name: String)(body: => T): T = {
    currentOp = id
    sc.setLocalProperty(Tracer.OpKey, id.toString)
    try span(name)(body)
    finally {
      sc.setLocalProperty(Tracer.OpKey, null)
      currentOp = -1
    }
  }

  def span[T](name: String)(body: => T): T =
    if (!detailed) body
    else {
      val s = Span(nextId, stack.headOption.map(_.id).getOrElse(-1), currentOp, name,
        Clock.nowMs, Double.NaN)
      nextId += 1
      spans += s
      stack = s :: stack
      sc.setLocalProperty(Tracer.SpanKey, s.id.toString)
      try body
      finally {
        s.end = Clock.nowMs
        stack = stack.tail
        sc.setLocalProperty(Tracer.SpanKey, stack.headOption.map(_.id.toString).orNull)
      }
    }

  def drain(): Unit = Bridge.drainListeners(sc)
}

object Tracer {
  val OpKey   = "perfbench.op"
  val SpanKey = "perfbench.span"
}

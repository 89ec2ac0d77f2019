package perfbench

import scala.collection.mutable

/** What the listener saw one operation do: its jobs, stages and tasks. */
final case class OpStats(jobs: Seq[JobRec], stages: Seq[StageRec], tasks: Seq[TaskRec]) {
  def inRows: Long = tasks.map(_.inRows).sum
  def inBytes: Long = tasks.map(_.inBytes).sum
  def outRows: Long = tasks.map(_.outRows).sum
  def busyMs: Long = tasks.map(_.runMs).sum

  /** When the first task of the operation's last job finished: the first
    * output the operation's consumer can see.
    */
  def firstOutputMs: Option[Double] = jobs.sortBy(_.id).lastOption.flatMap { last =>
    val ss = last.stages.toSet
    val fin = tasks.filter(t => ss(t.stage)).map(_.finish)
    if (fin.isEmpty) None else Some(fin.min.toDouble)
  }
}

/** One timed (or checked-only) operation. */
final case class OpRec(id: Int, label: String, start: Double, end: Double, traced: Boolean,
    timed: Boolean, result: OpResult, cpuS: Double) {
  def ms: Double = end - start
}

object Intervals {
  /** Total length of the union of [start, end] intervals. */
  def unionLength(xs: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    xs.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s
        curE = e
      } else curE = math.max(curE, e)
    }
    if (!curS.isNaN) total += curE - curS
    total
  }

  def clip(x: (Double, Double), lo: Double, hi: Double): (Double, Double) =
    (math.max(x._1, lo), math.min(x._2, hi))
}

/** Per-layer metrics of the traced operations, from their spans and the
  * listener's records. Every value is a mean per operation.
  */
final class Layers(l: BenchListener, spans: Seq[Span], cores: Int) {

  def opStats(op: Int): OpStats = l.synchronized {
    val jobs = l.jobs.filter(_.op == op).toSeq
    val ids = jobs.map(_.id).toSet
    val stageIds = jobs.flatMap(_.stages).toSet
    val tasks = l.tasks.filter(t => stageIds(t.stage) && l.stageJob.get(t.stage).exists(j => ids(j.id))).toSeq
    val ranStages = tasks.map(_.stage).toSet
    OpStats(jobs, l.stages.values.filter(s => ranStages(s.id)).toSeq, tasks)
  }

  private val byParent: Map[Int, Seq[Span]] = spans.groupBy(_.parent)

  private def descendants(s: Span): Seq[Span] =
    byParent.getOrElse(s.id, Nil).flatMap(c => c +: descendants(c))

  /** Jobs started while `s` or one of its descendant spans was innermost. */
  private def jobsIn(s: Span, jobs: Seq[JobRec]): Seq[JobRec] = {
    val ids = (s +: descendants(s)).map(_.id).toSet
    jobs.filter(j => ids(j.span))
  }

  private def jobsTime(js: Seq[JobRec]): Double =
    Intervals.unionLength(js.map(j => (j.start.toDouble, math.max(j.start, j.end).toDouble)))

  private def tasksOf(js: Seq[JobRec], st: OpStats): Seq[TaskRec] = {
    val ss = js.flatMap(_.stages).toSet
    st.tasks.filter(t => ss(t.stage))
  }

  /** Metrics of one traced operation `op` (whose root span is `root`). */
  def opMetrics(op: OpRec, root: Span, inputFiles: Int, inputBytes: Long): Map[String, Double] = {
    val st = opStats(op.id)
    val mine = descendants(root)
    def named(p: String => Boolean) = mine.filter(s => p(s.name))
    def dur(ss: Seq[Span]) = ss.map(_.dur).sum
    def jobsOf(ss: Seq[Span]) = ss.flatMap(jobsIn(_, st.jobs)).distinct
    val m = mutable.LinkedHashMap.empty[String, Double]

    // sources: file scans (stages whose tasks read input)
    val scanStages = st.tasks.filter(_.inBytes > 0).map(_.stage).toSet
    val scanTasks = st.tasks.filter(t => scanStages(t.stage))
    m("sources.files") = inputFiles
    m("sources.load_s") = Intervals.unionLength(st.stages.filter(s => scanStages(s.id))
      .map(s => (s.submitted.toDouble, s.completed.toDouble))) / 1000
    m("sources.scan_task_s") = scanTasks.map(_.runMs).sum / 1000.0
    m("sources.scan_bytes") = st.inBytes
    m("sources.scan_rows") = st.inRows

    // core: the fuse call and the jobs it runs before returning (with
    // forward fill on, ForwardFill's bucket-bound and carry jobs)
    val fuse = named(_ == "core.fuse")
    m("core.fuse_call_s") = dur(fuse) / 1000
    m("core.fuse_call_jobs") = jobsOf(fuse).length
    m("core.fuse_call_jobs_s") = jobsTime(jobsOf(fuse)) / 1000
    val gate = named(_ == "core.gate")
    m("core.gate_check_ms") = dur(gate)

    // ops: resample construction, sink, replay
    val resample = named(_ == "ops.resample")
    m("ops.resample_call_s") = dur(resample) / 1000
    m("ops.resample_call_jobs") = jobsOf(resample).length
    val sink = named(_ == "ops.sink")
    m("ops.sink_s") = dur(sink) / 1000
    m("ops.sink_bytes") = tasksOf(jobsOf(sink), st).map(_.outBytes).sum
    m("ops.sink_files") = op.result.counters.getOrElse("ops.sink_files", 0.0)
    m("ops.sink_bytes_per_input_byte") =
      if (inputBytes > 0) op.result.counters.getOrElse("ops.sink_disk_bytes", 0.0) / inputBytes
      else 0.0
    val replay = named(_ == "ops.replay")
    val handler = op.result.counters.getOrElse("ops.replay_handler_s", 0.0)
    m("ops.replay_jobs") = jobsOf(replay).length
    m("ops.replay_handler_s") = handler
    m("ops.replay_wait_s") = if (replay.isEmpty) 0.0 else dur(replay) / 1000 - handler

    // pipeline: Dedup construction calls vs their final actions
    val pipeCalls = named(n => n.startsWith("pipeline.") && n != "pipeline.action")
    val pipeActions = named(_ == "pipeline.action")
    m("pipeline.call_s") = dur(pipeCalls) / 1000
    m("pipeline.construction_jobs") = jobsOf(pipeCalls).length
    m("pipeline.checkpoint_bytes") = op.result.counters.getOrElse("pipeline.checkpoint_bytes", 0.0)
    m("pipeline.action_s") = dur(pipeActions) / 1000

    // queries: build (with its construction-time jobs) vs the gated action
    val build = named(_ == "queries.build")
    m("queries.build_ms") = dur(build)
    m("queries.construction_jobs") = jobsOf(build).length
    m("queries.construction_ms") = jobsTime(jobsOf(build))
    m("queries.action_ms") = dur(named(_ == "queries.action"))

    // engine: planning phases of the final action, then job/stage/task totals
    val execs = l.synchronized {
      st.jobs.map(_.execId).filter(_ >= 0).distinct.flatMap(l.execs.get)
    }
    val finalExec = execs.sortBy(_.execId).lastOption
    for (ph <- Seq("analysis", "optimization", "planning"))
      m(s"engine.${ph}_ms") = finalExec.flatMap(_.phasesMs.get(ph)).getOrElse(0.0)
    val yIn = execs.map(_.yieldIn).sum
    m("pipeline.candidate_yield") = if (yIn > 0) execs.map(_.yieldOut).sum.toDouble / yIn else 0.0
    m("engine.jobs") = st.jobs.length
    m("engine.stages") = st.stages.length
    m("engine.tasks") = st.tasks.length
    m("engine.shuffle_write_bytes") = st.tasks.map(_.shuffleWrite).sum
    m("engine.shuffle_read_bytes") = st.tasks.map(_.shuffleRead).sum
    m("engine.spill_bytes") = st.tasks.map(_.spill).sum
    m("engine.gc_s") = st.tasks.map(_.gcMs).sum / 1000.0
    m("engine.task_busy_s") = st.busyMs / 1000.0
    m("engine.core_util") = st.busyMs / (op.ms * cores)
    val covered = Intervals.unionLength(st.tasks.map(t =>
      Intervals.clip((t.launch.toDouble, t.finish.toDouble), op.start, op.end)))
    m("engine.driver_gap_s") = (op.ms - covered) / 1000
    val kids = byParent.getOrElse(root.id, Nil)
    m("trace.coverage") = Intervals.unionLength(kids.map(s => (s.start, s.end))) / root.dur
    m.toMap
  }
}

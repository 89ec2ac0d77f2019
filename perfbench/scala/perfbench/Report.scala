package perfbench

import java.nio.file.Files

/** The result line and the raw per-run file. */
object Report {

  /** End-to-end metrics, reported by untraced runs on every workload. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "wall_s" -> "s", "rows_per_s" -> "1/s",
    "first_event_s" -> "s", "heap_peak_mb" -> "MB")

  /** Per-layer metrics, reported by traced runs on every workload (0 where a
    * workload does not reach the layer). Means per traced operation.
    */
  val PerLayer: Seq[(String, String)] = Seq(
    "sources.load_s" -> "s", "sources.files" -> "count", "sources.scan_bytes" -> "B",
    "sources.scan_rows" -> "count", "sources.scan_task_s" -> "s",
    "core.fuse_call_s" -> "s", "core.fuse_call_jobs" -> "count", "core.fuse_call_jobs_s" -> "s",
    "core.gate_static_share" -> "ratio", "core.gate_check_ms" -> "ms",
    "ops.resample_call_s" -> "s", "ops.resample_call_jobs" -> "count",
    "ops.sink_s" -> "s", "ops.sink_bytes" -> "B", "ops.sink_files" -> "count",
    "ops.sink_bytes_per_input_byte" -> "ratio",
    "ops.replay_jobs" -> "count", "ops.replay_wait_s" -> "s", "ops.replay_handler_s" -> "s",
    "pipeline.call_s" -> "s", "pipeline.construction_jobs" -> "count",
    "pipeline.checkpoint_bytes" -> "B", "pipeline.action_s" -> "s",
    "pipeline.candidate_yield" -> "ratio",
    "queries.build_ms" -> "ms", "queries.construction_jobs" -> "count",
    "queries.action_ms" -> "ms",
    "engine.analysis_ms" -> "ms", "engine.optimization_ms" -> "ms", "engine.planning_ms" -> "ms",
    "engine.jobs" -> "count", "engine.stages" -> "count", "engine.tasks" -> "count",
    "engine.shuffle_write_bytes" -> "B", "engine.shuffle_read_bytes" -> "B",
    "engine.spill_bytes" -> "B", "engine.gc_s" -> "s", "engine.task_busy_s" -> "s",
    "engine.core_util" -> "ratio", "engine.driver_gap_s" -> "s",
    "trace.coverage" -> "ratio", "trace.overhead_frac" -> "ratio")

  /** Columns of the per-query split of a traced `query_sweep` run. */
  val QuerySplit: Seq[String] = Seq("queries.build_ms", "engine.analysis_ms",
    "engine.optimization_ms", "engine.planning_ms", "queries.construction_jobs",
    "queries.construction_ms",
    "queries.action_ms", "engine.shuffle_write_bytes", "engine.gc_s")

  def metricsJson(values: Seq[(String, String, Double)]): Json =
    Json.Obj(values.map { case (n, u, v) => n -> Json.obj("value" -> Json.num(v), "unit" -> Json.str(u)) })

  def line(correct: Boolean, attempted: Int, failed: Int, metrics: Json): String =
    Json.obj("correct" -> Json.Bool(correct), "attempted" -> Json.num(attempted.toDouble),
      "failed" -> Json.num(failed.toDouble), "metrics" -> metrics).render

  /** Result of a run that could not finish: no metrics, nothing correct. */
  def aborted(attempted: Int, why: String): Unit = {
    System.err.println(s"[perfbench] aborted: $why")
    println(line(correct = false, attempted, attempted, Json.obj()))
  }

  def emit(a: Main.Args, w: Workload, ops: Seq[OpRec], layers: Layers, tracer: Tracer,
      phase: Map[String, Double], heapPeak: Long, attempted: Int, failed: Int,
      failures: Seq[String]): Unit = {
    val timed = ops.filter(_.timed)
    val plain = timed.filterNot(_.traced)
    val stats = plain.map(op => op.id -> layers.opStats(op.id)).toMap
    val secs = plain.map(_.ms / 1000)
    val rows = plain.map(op => op.result.rows.getOrElse(stats(op.id).inRows).toDouble)
    def first(op: OpRec): Option[Double] = op.result.firstEventMs
      .orElse(stats(op.id).firstOutputMs.map(_ - op.start)).map(_ / 1000)
    // one operation's time: the median per label, summed over labels (a
    // single-label workload's median; query_sweep's pass over its slice)
    val byLabel = plain.groupBy(_.label).values.toSeq
    val e2e = Map(
      "setup_s" -> phase("setup_s"),
      "wall_s" -> byLabel.map(ops => Stats.median(ops.map(_.ms / 1000))).sum,
      "rows_per_s" -> rows.sum / secs.sum,
      "first_event_s" -> byLabel.map(ops => Stats.median(ops.flatMap(first))).sum,
      "heap_peak_mb" -> heapPeak / 1048576.0)

    // per-layer: mean over traced operations
    val roots = tracer.spans.filter(_.parent == -1).map(s => s.op -> s).toMap
    val tracedAll = ops.filter(op => op.traced && roots.contains(op.id))
      .map(op => op -> layers.opMetrics(op, roots(op.id), w.inputFiles, w.inputBytes))
    val perOp = tracedAll.filter(_._1.timed)
    val layerMeans = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    PerLayer.foreach { case (n, _) =>
      val vs = perOp.flatMap(_._2.get(n))
      layerMeans(n) = if (vs.isEmpty) 0.0 else vs.sum / vs.length
    }
    w match {
      case q: QuerySweep if q.gateStatic.nonEmpty =>
        layerMeans("core.gate_static_share") = q.gateStatic.count(identity).toDouble / q.gateStatic.length
      case _ =>
    }
    // overhead: each label ran traced and untraced back to back
    val ratios = timed.grouped(2).collect {
      case Seq(x, y) if x.label == y.label && x.traced != y.traced =>
        val (tr, un) = if (x.traced) (x, y) else (y, x)
        tr.ms / un.ms
    }.toSeq
    layerMeans("trace.overhead_frac") = if (ratios.isEmpty) 0.0 else Stats.median(ratios) - 1

    val metrics =
      if (a.trace) PerLayer.map { case (n, u) => (n, u, layerMeans(n)) }
      else EndToEnd.map { case (n, u) => (n, u, e2e(n)) }

    // raw record: every operation, every phase, the tail and the layer split
    val tail = Stats.tailPercentile(secs).map { case (p, v, n) =>
      Json.obj("percentile" -> Json.num(p), "value_s" -> Json.num(v), "samples" -> Json.num(n))
    }.getOrElse(Json.Str(s"fewer than 11 samples (${secs.length})"))
    val perQuery = w match {
      case _: QuerySweep if a.trace =>
        tracedAll.map { case (op, m) =>
          Json.obj("query" -> Json.str(op.label), "wall_ms" -> Json.num(op.ms)) match {
            case Json.Obj(f) => Json.Obj(f ++ QuerySplit.map(c => c -> Json.num(m.getOrElse(c, 0.0))))
          }
        }
      case _ => Nil
    }
    // per-label medians (query_sweep: one per query of the slice)
    val labelMs = byLabel.map(ops => Stats.median(ops.map(_.ms)))
    val raw = Json.obj(
      "workload" -> Json.str(w.name), "seed" -> Json.num(a.seed.toDouble),
      "seconds" -> Json.num(a.seconds), "trace" -> Json.Bool(a.trace),
      "cores" -> Json.num(a.cores), "phases" -> Json.Obj(phase.toSeq.map(p => p._1 -> Json.num(p._2))),
      "end_to_end" -> Json.Obj(e2e.toSeq.map(p => p._1 -> Json.num(p._2))),
      "wall_tail" -> tail,
      "label_median_ms" -> Json.obj("p50" -> Json.num(Stats.median(labelMs)),
        "p95" -> Json.num(Stats.quantile(labelMs, 0.95)),
        "geomean" -> Json.num(Stats.geomean(labelMs)), "labels" -> Json.num(labelMs.length)),
      "per_layer" -> Json.Obj(layerMeans.toSeq.map(p => p._1 -> Json.num(p._2))),
      "failures" -> Json.Arr(failures.map(Json.str)),
      "ops" -> Json.Arr(ops.map(op => Json.obj("id" -> Json.num(op.id), "label" -> Json.str(op.label),
        "ms" -> Json.num(op.ms), "cpu_s" -> Json.num(op.cpuS),
        "traced" -> Json.Bool(op.traced), "timed" -> Json.Bool(op.timed),
        "rows" -> Json.num(op.result.rows.map(_.toDouble).getOrElse(Double.NaN)),
        "first_event_ms" -> Json.num(op.result.firstEventMs.getOrElse(Double.NaN))))),
      "per_query" -> Json.Arr(perQuery))
    Files.createDirectories(a.paths.out)
    val stem = s"${w.name}-seed${a.seed}-trace${if (a.trace) 1 else 0}"
    Files.writeString(a.paths.out.resolve(s"$stem.json"), raw.render + "\n")
    if (perQuery.nonEmpty)
      Files.writeString(a.paths.out.resolve(s"$stem-top10.md"), topTable(tracedAll.map {
        case (op, m) => op.label -> m }))

    failures.foreach(f => System.err.println(s"[perfbench] FAIL $f"))
    metrics.foreach { case (n, u, v) => System.err.println(f"[perfbench] $n%-34s $v%.6g $u") }
    println(line(failures.isEmpty, attempted, failed, metricsJson(metrics)))
  }

  /** Markdown: for each layer column, the ten queries that spend the most in it. */
  def topTable(rows: Seq[(String, Map[String, Double])]): String = {
    val byQuery = rows.groupBy(_._1).map { case (q, ms) =>
      q -> QuerySplit.map(c => c -> Stats.median(ms.map(_._2.getOrElse(c, 0.0)))).toMap
    }
    val sb = new StringBuilder("# Top 10 queries per layer (traced query_sweep run)\n")
    QuerySplit.foreach { c =>
      sb ++= s"\n## $c\n\n| query | value |\n| --- | --- |\n"
      byQuery.toSeq.sortBy(-_._2(c)).take(10).foreach { case (q, m) =>
        sb ++= f"| $q | ${m(c)}%.4g |\n"
      }
    }
    sb.toString
  }
}

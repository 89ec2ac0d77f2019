package graft
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Harness.session()
    // Untimed warmup: open every table once (footer reads, codec + codegen
    // JIT) so the first timed query doesn't absorb session start-up costs.
    Seq("lineitem", "orders", "customer", "nation", "documents", "embeddings")
      .foreach { t =>
        try spark.read.parquet(s"$sfDir/$t.parquet").limit(100)
          .write.format("noop").mode("overwrite").save()
        catch { case _: Throwable => () }
      }
    try Queries.events(spark, sfDir).limit(100)
      .write.format("noop").mode("overwrite").save()
    catch { case _: Throwable => () }
    // Two timed runs per query, report the min: single-run numbers fluctuate
    // ±1-2 s on this box (GC, JIT, page cache), which masquerades as
    // regressions. Sub-500 ms queries get a third run — at that duration the
    // scheduler noise is the same order as the work, so min-of-2 still
    // jitters round-over-round. All raw runs are carried under "runs".
    // Optional query-name args restrict the run (same contract as Verify):
    // `runMain graft.Bench q_heavy_hitters` times just that query. The
    // driver invokes with no args — full sweep, contract unchanged.
    val results = Harness.select(args.toSeq).map { name =>
      def timed(): (Double, Option[String]) = {
        val t0 = System.nanoTime()
        // noop sink forces full evaluation of every column (count() would let
        // Catalyst prune the query down to a row count)
        val err =
          try {
            Harness.runQuery(spark, name, sfDir)(
              _.write.format("noop").mode("overwrite").save())
            None
          }
          catch { case e: Throwable =>
            System.err.println(s"[bench] $name: $e")
            Some(e.getClass.getSimpleName)
          }
        ((System.nanoTime() - t0) / 1e9, err)
      }
      // SPARK_GRAFT_RUNS raises the base rep count for drift investigation
      // (single-query idle reruns need >2 reps to shed cold-JVM JIT); the
      // driver doesn't set it, so the sweep contract stays min-of-2/3.
      val baseRuns = sys.env.get("SPARK_GRAFT_RUNS").map(_.toInt).getOrElse(2)
      val first = (1 to baseRuns).map(_ => timed())
      val withShort =
        if (first.exists(r => r._2.isEmpty && r._1 < 0.5)) first :+ timed()
        else first
      // High-variance guard: when the successful runs disagree by >1.5x the
      // machine was transiently loaded (GC storm, page-cache eviction,
      // co-tenant CPU); one more sample keeps min-of-N honest. BENCH_r04's
      // phantom q_sessionize "regression" (runs 3.79/2.34 vs a reproducible
      // 0.64 standalone) is exactly this mode.
      val good = withShort.filter(_._2.isEmpty).map(_._1)
      val runs =
        if (good.size >= 2 && good.max / good.min > 1.5) withShort :+ timed()
        else withShort
      // min over SUCCESSFUL runs: one failed + one successful run must
      // report the real query time, not the fast time-to-failure (the
      // errors key only reports when every run failed)
      val ok = runs.filter(_._2.isEmpty)
      val best = (if (ok.nonEmpty) ok else runs).map(_._1).min
      val err  = if (ok.nonEmpty) None else runs.flatMap(_._2).headOption
      // Inter-query GC: collect the previous query's garbage (released
      // checkpoint blocks, aggregation buffers) OUTSIDE the next query's
      // timed window, so query N+1 doesn't pay query N's collection.
      System.gc()
      (name, best, runs.map(_._1), err)
    }
    val qs = results.map { case (k, v, _, _) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    // stdout gets COMPACT per-query values (4 decimals ≈ 0.1 ms — far below
    // the measured run-to-run jitter): the driver's stdout capture keeps
    // only a short tail, and BENCH_r12-r15 all parsed null because this
    // line had grown past it (the full `runs` arrays pushed it to ~19 KB).
    // The persisted sweep file below keeps every raw digit and all runs.
    val qsCompact = results.map { case (k, v, _, _) =>
      s"\"" + k + "\":" + BigDecimal(v).setScale(4, BigDecimal.RoundingMode.HALF_UP)
    }.mkString("{", ",", "}")
    val runsJson = results.map { case (k, _, rs, _) =>
      s"\"" + k + "\":[" + rs.mkString(",") + "]"
    }.mkString("{", ",", "}")
    val total  = results.map(_._2).sum
    // failures must be visible in the stdout JSON — a crashed query records
    // its time-to-failure, which would otherwise read as a FASTER bench.
    // The key is only present when something failed, keeping the healthy
    // output exactly on the documented shape.
    val errs = results.collect { case (k, _, _, Some(e)) => s"\"$k\":\"$e\"" }
    val errJson = if (errs.isEmpty) "" else errs.mkString(""","errors":{""", ",", "}")
    // the record documents its own measurement protocol (r11 — so a
    // round-over-round comparison always knows what it is reading); the
    // committed round record is the per-query min over N full sweeps
    // (tools/bench_record.py), which this field then reflects
    val protocol = "one-JVM full sweep, min of 2-3 runs per query (3rd for " +
      "sub-500ms or >1.5x-variance rows), inter-query System.gc"
    // Full record (raw doubles + per-run arrays + protocol) — persisted file
    // only; it has NEVER fit the driver's capture since the query count grew
    // past ~150 (BENCH_r12+: "parsed": null four rounds running).
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec","runs_protocol":"$protocol","queries":$qs,"runs":$runsJson$errJson,"sf":"$sfDir"}"""
    // The ONE stdout JSON line (driver contract): same shape minus the runs
    // arrays, printed as the LAST stdout line of the run so a tail capture
    // holds as much of it as possible.
    val compactLine =
      s"""{"metric":"total","value":${BigDecimal(total).setScale(4, BigDecimal.RoundingMode.HALF_UP)},"unit":"sec","queries":$qsCompact$errJson,"sf":"$sfDir"}"""
    println(compactLine)
    // Persist the full JSON to the repo (the driver's BENCH_r*.json stdout
    // capture has truncated the tail in past rounds). NEVER to
    // BENCH_local.json: that file is the round's committed min-of-N merged
    // record and is written ONLY by tools/bench_record.py — a raw sweep
    // landing there has clobbered the record twice (r10, r14). Default is
    // a timestamped per-sweep file; SPARK_GRAFT_BENCH_OUT overrides the
    // exact path for scripted sweeps.
    try {
      val target = sys.env.get("SPARK_GRAFT_BENCH_OUT")
        .map(java.nio.file.Paths.get(_))
        .getOrElse {
          val kind = if (args.isEmpty) "sweep" else "partial"
          // millis + pid: two sweeps launched in the same second must not
          // overwrite each other (the clobber class this file keeps hitting)
          java.nio.file.Paths.get("bench_out",
            s"$kind-${System.currentTimeMillis()}-${ProcessHandle.current.pid}.json")
        }
      if (target.getParent != null)
        java.nio.file.Files.createDirectories(target.getParent)
      java.nio.file.Files.write(target,
        (line + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      System.err.println(s"[bench] sweep persisted to $target")
    } catch { case e: Exception => System.err.println(s"[bench] persist: $e") }
    spark.stop()
  }
}

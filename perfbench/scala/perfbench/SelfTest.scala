package perfbench

/** Self-tests of the benchmark's checkers: each must accept the output the
  * generator implies and reject a deliberately corrupted copy. Needs no
  * Spark session. Prints the two result lines (untraced, traced) it builds
  * last, so a caller can parse them. Exits 1 on any failure.
  *
  * Run: python3 -m unittest discover -s perfbench/tests
  */
object SelfTest {
  private var failed = 0
  private var passed = 0

  private def expect(what: String, ok: Boolean): Unit =
    if (ok) passed += 1 else { failed += 1; System.err.println(s"FAIL $what") }

  private def accepts(what: String, bad: Seq[String]): Unit =
    expect(s"$what: correct output rejected: ${bad.mkString("; ")}", bad.isEmpty)

  private def rejects(what: String, bad: Seq[String]): Unit =
    expect(s"$what: corrupted output accepted", bad.nonEmpty)

  def main(args: Array[String]): Unit = {
    // ---- fuse_resample
    val size = Gen.FuseSize(eventsPerSource = 700, days = 7, symbols = 5)
    val ev = Gen.fuseEvents(7L, size)
    val step = 60000L
    val minTs = ev.map(_.ts.head).min
    val maxTs = ev.map(_.ts.last).max
    val b0 = Math.floorDiv(minTs, step) * step + step
    val brute = Iterator.iterate(b0)(_ + step).takeWhile(_ <= maxTs).length + 1L
    expect("grid closed form matches enumeration", Checks.gridRows(minTs, maxTs, step) == brute)
    val total = ev.map(_.length.toLong).sum
    val grid = Checks.gridRows(minTs, maxTs, step)
    val sample = Seq(b0, b0 + 17 * step, b0 + 500 * step, b0 + (grid - 1) * step)
    def pricesAt(b: Long): IndexedSeq[Option[Long]] = Checks.lastBefore(ev, b) match {
      case Some((s, c)) => ev.indices.map(i => if (i == s) Some(c) else None)
      case None => ev.indices.map(_ => None)
    }
    val good = sample.map(b => b -> pricesAt(b)).toMap
    accepts("fuse_resample", Checks.fuseResample(ev, step, total, grid, 1, good))
    rejects("fuse_resample lost a fused row", Checks.fuseResample(ev, step, total - 1, grid, 1, good))
    rejects("fuse_resample extra grid row", Checks.fuseResample(ev, step, total, grid + 1, 1, good))
    rejects("fuse_resample unfilled prices", Checks.fuseResample(ev, step, total, grid, 2, good))
    rejects("fuse_resample no sample", Checks.fuseResample(ev, step, total, grid, 1, Map.empty))
    val shifted = good.updated(sample(1), pricesAt(sample(1)).map(_.map(_ + 1)))
    rejects("fuse_resample wrong price", Checks.fuseResample(ev, step, total, grid, 1, shifted))
    val stale = good.updated(sample(2), pricesAt(sample(2) - 100 * step))
    expect("stale sample differs from the expected one", stale != good)
    rejects("fuse_resample stale boundary", Checks.fuseResample(ev, step, total, grid, 1, stale))

    // ---- fuse_replay
    val start = Gen.T0 + 2 * Gen.DayMs
    val end = start + Gen.DayMs - 1
    val exp = Checks.replayExpected(ev, start, end)
    val inWindow = ev.map(e => e.ts.count(t => t >= start && t <= end)).sum
    expect("replay expected count is the window count", exp._1 == inWindow)
    accepts("fuse_replay", Checks.fuseReplay(exp, exp._1, exp._2, monotone = true))
    rejects("fuse_replay dropped row", Checks.fuseReplay(exp, exp._1 - 1, exp._2, monotone = true))
    rejects("fuse_replay checksum", Checks.fuseReplay(exp, exp._1, exp._2 + 7, monotone = true))
    rejects("fuse_replay order", Checks.fuseReplay(exp, exp._1, exp._2, monotone = false))
    val unfilled = Checks.replayExpected(ev.map(e => new SourceEvents(e.ts, e.symbol,
      e.priceCents.map(_ => 0L), e.size)), start, end)
    expect("replay checksum depends on prices", unfilled._2 != exp._2)

    // ---- dedup_scale
    val ds = Gen.DedupSize(docs = 1000, words = 50, vocab = 5000)
    val docs = Gen.corpus(3L, ds)
    expect("planted near-duplicate differs in the last word only",
      docs(1).split(" ").init.sameElements(docs(0).split(" ").init) && docs(1) != docs(0))
    expect("planted containment holds the next doc", docs(4).endsWith(" " + docs(5)))
    val planted = ds.containments + 2L * ds.nearPairs
    accepts("dedup_scale", Checks.dedup(ds, ds.docs - ds.nearPairs, 2L * ds.nearPairs, planted))
    rejects("dedup_scale kept a duplicate", Checks.dedup(ds, ds.docs - ds.nearPairs + 1, 2L * ds.nearPairs, planted))
    rejects("dedup_scale missed minhash pairs", Checks.dedup(ds, ds.docs - ds.nearPairs, 2L * ds.nearPairs - 2, planted))
    rejects("dedup_scale missed containments", Checks.dedup(ds, ds.docs - ds.nearPairs, 2L * ds.nearPairs, planted - 1))

    // ---- query_sweep
    accepts("query_sweep", Checks.queryCount("q", 5, Some(5)))
    rejects("query_sweep wrong count", Checks.queryCount("q", 4, Some(5)))
    rejects("query_sweep no oracle", Checks.queryCount("q", 5, None))

    // ---- statistics
    expect("median", Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    expect("quartile interpolation", Stats.quantile(Seq(1.0, 2.0, 3.0, 4.0), 0.25) == 1.75)
    expect("tail percentile needs ten samples beyond", Stats.tailPercentile(Seq.fill(10)(1.0)).isEmpty &&
      Stats.tailPercentile((1 to 218).map(_.toDouble)).exists(_._1 == 95))
    expect("interval union", Intervals.unionLength(Seq((0.0, 2.0), (1.0, 3.0), (5.0, 6.0))) == 4.0)

    System.err.println(s"selftest: $passed passed, $failed failed")
    // sample result lines, with values that are not round numbers
    println(Report.line(correct = true, 12, 0,
      Report.metricsJson(Report.EndToEnd.map { case (n, u) => (n, u, 1234.5678901234567) })))
    println(Report.line(correct = true, 12, 0,
      Report.metricsJson(Report.PerLayer.map { case (n, u) => (n, u, 0.12345678901234567) })))
    if (failed > 0) sys.exit(1)
  }
}

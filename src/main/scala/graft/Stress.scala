package graft

import graft.core.{ForwardFill, Fuser}
import graft.core.Fuser.{FuseOptions, TimestampCol}
import graft.ops.{AsOfJoin, RangeJoin, Resampler}
import graft.ops.Resampler.ResampleOptions
import graft.sources.FrameSource
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale smoke of the paper's path: fuse → resample → forward fill, the
  * as-of and range joins, and the reference's one large workload (a
  * single-source fuse resampled to 1h with price forward-filled), over
  * synthetic streams one to two orders of magnitude past the bench SF,
  * printing rows/sec per stage. The point is shape, not speed: a
  * single-task stage or a quadratic join shows up here as a cliff long
  * before it ooms a cluster. Row counts are asserted against closed-form
  * expectations so the run is also a correctness check at volume;
  * `StressSpec` runs the same stages at a small `n` in every partition
  * mode.
  *
  * Usage: `runMain graft.Stress [eventsPerSource]` (default 10M per source).
  */
object Stress {

  /** Times a full materialization through the noop sink — a bare `count()`
    * would let Catalyst eliminate the very operators under test (global
    * sorts, windows). The row count rides along as an observed metric, so
    * the pipeline executes exactly once. The time includes building `df`:
    * a sorted pass (resample, forward fill) runs its jobs while it is built.
    */
  private def timed(name: String, df: => DataFrame): Long = {
    // Inter-stage GC, same hygiene as Bench: collect the previous stage's
    // garbage (noop-written row batches, aggregation buffers) OUTSIDE this
    // stage's timed window. Measured without it: resample_1s ran 97 s
    // inside the full pass vs 25 s standalone — prior-stage heap state,
    // not resample cost.
    System.gc()
    val obs = org.apache.spark.sql.Observation()
    val t0  = System.nanoTime()
    df.observe(obs, count(lit(1)).as("n"))
      .write.format("noop").mode("overwrite").save()
    val s = (System.nanoTime() - t0) / 1e9
    val n = obs.get("n").asInstanceOf[Long]
    println(f"""{"stage":"$name","rows":$n,"sec":$s%.2f,"rows_per_sec":${(n / s).toLong}}""")
    n
  }

  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toLong).getOrElse(10000000L)
    val spark = Harness.session()
    try run(spark, n) finally spark.stop()
  }

  /** Runs the seven stages over `n` events per source, asserting each
    * closed form; throws `AssertionError` on the first that fails.
    */
  def run(spark: SparkSession, n: Long): Unit = {
    val t0     = 1600000000000L
    val spanMs = 30L * 86400000L // 30 days
    // Deterministic pseudo-random event times: id * large-prime mod span.
    def stream(salt: Long, valCol: String): DataFrame =
      spark.range(n).select(
        (lit(t0) + pmod(col("id") * lit(2654435761L + salt), lit(spanMs))).as("ts"),
        col("id"),
        pmod(col("id") * lit(31L + salt), lit(100000L)).as("user_id"),
        (pmod(col("id") * lit(7L + salt), lit(1000L)) / lit(10.0)).as(valCol))

    val a = stream(0L, "price")
    val b = stream(17L, "quote")

    // 1. Fuse: union + range-partitioned global sort (2n rows through one
    // range exchange).
    val fused = Fuser.fuseFrames(
      Seq(FrameSource(a, "trades", "ts", secondarySortCol = Some("id")),
          FrameSource(b, "quotes", "ts", secondarySortCol = Some("id"))),
      FuseOptions(keepRowId = true)).df
    val fusedRows = timed("fuse_sort", fused)

    // 2. Resample the fused stream to a 1s grid (dense: ~2.6M boundaries,
    // nearly all non-empty at n >= 10M).
    val gridRows = timed("resample_1s", Resampler.resample(fused, "1s",
      opts = ResampleOptions(ffillKeys = Seq("price"), tieCols = Seq("exsym_lookup", "__rowid"))))
    // closed form from the actual event bounds (grid = b0..first boundary > t1)
    val Array(tMin, tMax) = fused
      .agg(min(col(TimestampCol)), max(col(TimestampCol))).head().toSeq.toArray.map(_.asInstanceOf[Long])
    val b0 = graft.time.Intervals.nextBoundary(tMin, "1s", initialize = true)
    val expectedGrid = Math.floorDiv(tMax - b0, 1000L) + 2L

    // 3. Partitioned forward fill over the fused stream (every column).
    lazy val filled = ForwardFill.partitioned(fused, Seq("price", "quote"), TimestampCol,
      Seq(col("exsym_lookup"), col("__rowid")))
    val filledRows = timed("ffill", filled)

    // 4. As-of join: n trades × n quotes on 100k keys (one shuffle each side,
    // per-key windows). Every trade is kept, matched or not.
    val asof = AsOfJoin.asof(
      a.select(col("ts").as(TimestampCol), col("id"), col("user_id"), col("price")),
      b.select(col("ts").as(TimestampCol), col("user_id"), col("quote")),
      keyCols = Seq("user_id"), tsCol = TimestampCol, rightCols = Seq("quote"))
    val asofRows = timed("asof_join", asof)

    // 5. Range join with a 2s window (bounded fan-out equi-join) on 10
    // symbols, at whole-second times: the window holds pairs at any `n`,
    // and two in three of them lie on its bounds (|Δt| = 1000 ms).
    def bySecond(df: DataFrame, cols: String*): DataFrame =
      df.select((col("ts") - pmod(col("ts"), lit(1000L))).as(TimestampCol) +:
        pmod(col("user_id"), lit(10L)).as("sym") +: cols.map(col): _*)
    val (secTrades, secQuotes) = (bySecond(a, "id"), bySecond(b, "quote"))
    val rj = RangeJoin.timeRange(secTrades, secQuotes, keyCols = Seq("sym"), tsCol = TimestampCol,
      lookbackMs = 1000L, lookaheadMs = 1000L, rightCols = Seq("quote"))
    val rangeRows = timed("range_join_2s", rj)
    // the same pairs counted apart from `RangeJoin`'s 2s buckets: each quote
    // joins the trades of its own second and of the seconds either side
    val sec = (ts: Column) => (ts / 1000L).cast("long")
    val rangePairs = secTrades.withColumn("sec", sec(col(TimestampCol)))
      .join(secQuotes.select(col("sym"), col(TimestampCol).as("qts"),
        explode(sequence(sec(col(TimestampCol)) - 1L, sec(col(TimestampCol)) + 1L)).as("sec")),
        Seq("sym", "sec"))
      .filter(abs(col(TimestampCol) - col("qts")) <= 1000L).count()

    // ---- the reference's de-facto large workload, reproduced in shape: a
    // single ~30M-row 8-column trade source (the 600 MB Binance BTC-USDT
    // half-year CSV of tests/integration/test_core_single_nonoverlapping.py:84-116
    // and README.md:159) fused through the single-source path and resampled
    // to the reference handler's 1h grid with price forward-fill
    // (batch_interval='1h', ffill_keys=['price(p)']). Column types mirror
    // the reference's declared dtypes [int, bool, int, int, int, bool,
    // float, float]; row count and grid bounds are closed-form.
    val nRef = 3L * n
    val refSpanMs = 181L * 86400000L // ~the reference's half-year window
    val trades = spark.range(nRef).select(
      (lit(t0) + pmod(col("id") * lit(2654435761L), lit(refSpanMs))).as("ts"),
      (pmod(col("id"), lit(2)) === 0).as("is_buyer_maker"),
      col("id").as("trade_id"),
      (col("id") * 3L).as("first_id"),
      (col("id") * 3L + 2L).as("last_id"),
      (pmod(col("id"), lit(7)) === 0).as("is_best_match"),
      (lit(3500.0) + pmod(col("id") * lit(7919L), lit(400000L)) / lit(100.0)).as("price"),
      (pmod(col("id") * lit(104729L), lit(100000L)) / lit(1000.0)).as("qty"))
    val refFused = Fuser.fuseFrames(
      Seq(FrameSource(trades, "trades_btc_halfyear", "ts",
        secondarySortCol = Some("trade_id"))),
      FuseOptions(keepRowId = true)).df
    val refRows = timed("ref_single_fuse", refFused)
    lazy val refGrid = Resampler.resample(refFused, "1h",
      opts = ResampleOptions(ffillKeys = Seq("price"),
        tieCols = Seq("exsym_lookup", "__rowid")))
    val refGridRows = timed("ref_resample_1h", refGrid)
    val Array(rMin, rMax) = refFused
      .agg(min(col(TimestampCol)), max(col(TimestampCol)))
      .head().toSeq.toArray.map(_.asInstanceOf[Long])
    val rb0 = graft.time.Intervals.nextBoundary(rMin, "1h", initialize = true)
    val refExpected = Math.floorDiv(rMax - rb0, 3600000L) + 2L
    assert(refRows == nRef, s"single-source fuse $refRows vs $nRef")
    assert(refGridRows == refExpected, s"1h grid $refGridRows vs $refExpected")
    // the forward fill carries price into every later slot, so it may be
    // missing on at most the leading boundary
    val refNulls = refGrid.filter(col("price").isNull).count()
    assert(refNulls <= 1, s"unfilled price rows $refNulls")

    // Shape assertions: counts match closed forms.
    assert(fusedRows == 2 * n, "fuse must preserve rows")
    assert(gridRows == expectedGrid, s"grid $gridRows vs $expectedGrid")
    assert(filledRows == 2 * n, "ffill must preserve rows")
    assert(asofRows == n, s"as-of join $asofRows vs $n trades")
    assert(rangeRows == rangePairs, s"range join $rangeRows vs $rangePairs pairs")
  }
}

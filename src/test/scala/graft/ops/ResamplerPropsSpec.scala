package graft.ops

import graft.SparkTestBase
import graft.time.Intervals
import graft.ops.Resampler.ResampleOptions
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

import java.time.{ZoneId, ZoneOffset}

/** Randomized equivalence: [[Resampler.resample]] vs a direct row-by-row
  * simulation of the reference's event loop
  * (`BatchEveryIntervalHandler.process/finalize`, classes.py:589-637).
  * The golden fixtures pin four specific datasets; this pins the semantics
  * over random gap patterns, duplicate timestamps and null values. The
  * global cases run range-sorted into several partitions, adaptive
  * execution on and off, so buckets and gaps cross partition boundaries,
  * and gated into one partition, which emits a fine grid as slices of it,
  * so buckets and gaps cross slice boundaries too. The edge cases
  * also run as a range sort that adaptive execution coalesces into one
  * partition, which takes its grid from its own rows.
  */
class ResamplerPropsSpec extends SparkTestBase {

  import spark.implicits._

  private type Event = (Option[Long], Option[Double], Long) // (ts, value, id)
  private type Out = (Long, Option[Double], Option[Long])

  /** The reference loop: at each boundary B emit the last event with ts < B —
    * full row when it lies within [B - step, B), else a gap row that is null
    * everywhere except the ffill keys, which carry the last event's values.
    * Boundaries run from nextBoundary(t0) while B <= t1, plus one tail flush
    * when `batchEnd`. Events without a timestamp never emit.
    */
  private def simulate(events: Seq[Event], interval: String, batchEnd: Boolean = true,
      tz: ZoneId = ZoneOffset.UTC): Seq[Out] = {
    val step   = Intervals.toMillis(interval)
    val sorted = events.collect { case (Some(ts), v, id) => (ts, v, id) }.sortBy(e => (e._1, e._3))
    if (sorted.isEmpty) return Nil
    val b0     = Intervals.nextBoundary(sorted.head._1, interval, initialize = true, tz)
    val kMax   = Math.floorDiv(sorted.last._1 - b0, step) + (if (batchEnd) 1 else 0)
    var i = 0 // sorted(i) is the first event at or after the boundary
    (0L to kMax).map { k =>
      val b = b0 + k * step
      while (i < sorted.length && sorted(i)._1 < b) i += 1
      sorted(i - 1) match {
        case (ts, v, id) if ts >= b - step => (b, v, Some(id)) // real row
        case (_, v, _)                     => (b, v, None)     // gap row
      }
    }
  }

  private def events(seed: Int, n: Int, spanMs: Long): Seq[Event] = {
    val rnd = new scala.util.Random(seed)
    (0 until n).map { i =>
      val ts = 1600000000000L + (rnd.nextDouble() * spanMs).toLong
      val v  = if (rnd.nextInt(5) == 0) None else Some(rnd.nextInt(1000).toDouble)
      (Some(ts), v, i.toLong)
    }
  }

  private def rows(out: DataFrame): Seq[Out] = out.collect().map(r => (r.getLong(0),
    Option(r.get(r.fieldIndex("value"))).map(_.asInstanceOf[Double]),
    Option(r.get(r.fieldIndex("id"))).map(_.asInstanceOf[Long]))).toSeq

  private def resample(evs: Seq[Event], interval: String, batchEnd: Boolean = true,
      tz: ZoneId = ZoneOffset.UTC): DataFrame =
    Resampler.resample(evs.toDF("__timestamp", "value", "id").repartition(5), interval,
      opts = ResampleOptions(ffillKeys = Seq("value"), tieCols = Seq("id"),
        processBatchEnd = batchEnd, tz = tz))

  /** Gated, the one-partition sort is emitted as `s = min(k, n /
    * SliceRows)` grid slices (k the default parallelism, n the grid's
    * rows), slice i holding the boundaries `[i·n/s, (i+1)·n/s)`, so each is
    * an ascending contiguous run, none is emitted twice, and their
    * concatenation is the grid; with `s` under two, as one partition. In
    * the range modes more than one partition must emit rows.
    */
  private def assertPartitions(out: DataFrame, interval: String): Unit =
    if (!gatedMode) assertSortPartitions(out)
    else {
      val slices = out.queryExecution.toRdd
        .mapPartitions(it => Iterator.single(it.map(_.getLong(0)).toVector)).collect().toSeq
      val n = slices.map(_.length.toLong).sum
      val s = math.min(spark.sparkContext.defaultParallelism.toLong, n / Resampler.SliceRows)
      if (s < 2) assert(slices.length == 1)
      else assert(slices.map(_.length.toLong) == (0L until s).map(i => n * (i + 1) / s - n * i / s))
      val grid = slices.flatten
      val step = Intervals.toMillis(interval)
      assert(grid == grid.indices.map(grid.head + _ * step))
    }

  /** Resample `evs`, check its partitions and compare with the simulation. */
  private def check(evs: Seq[Event], interval: String, batchEnd: Boolean = true,
      tz: ZoneId = ZoneOffset.UTC): Unit = {
    val out = resample(evs, interval, batchEnd, tz)
    assertPartitions(out, interval)
    val (got, want) = (rows(out), simulate(evs, interval, batchEnd, tz))
    assert(got == want, s"interval=$interval: first diff at " +
      s"${got.zip(want).indexWhere(p => p._1 != p._2)} of ${got.length} vs ${want.length}")
  }

  test("matches the reference event loop on random dense streams") {
    inEachMode {
      check(events(seed = 1, n = 200, spanMs = 3600000L), "10s") // ~2 events/bucket
      check(events(seed = 2, n = 150, spanMs = 3600000L), "1m")
      // a grid of 40k buckets, cut into slices (gated) between events
      check(events(seed = 16, n = 20000, spanMs = 4000000L), "100l")
    }
  }

  test("matches on sparse streams full of gaps") {
    inEachMode {
      check(events(seed = 3, n = 40, spanMs = 3600000L), "1s") // ~1% buckets hit
      check(events(seed = 4, n = 30, spanMs = 600000L), "100l")
      // 36k buckets: gated, most slices start in a gap
      check(events(seed = 17, n = 300, spanMs = 3600000L), "100l")
    }
  }

  test("keyed resample matches the per-key simulation on random streams") {
    val rnd = new scala.util.Random(21)
    val events = (0 until 300).map { i =>
      val key = s"k${rnd.nextInt(4)}"
      val ts  = 1600000000000L + (rnd.nextDouble() * 600000L).toLong
      val v   = if (rnd.nextInt(5) == 0) None else Some(rnd.nextInt(1000).toDouble)
      (key, ts, v, i.toLong)
    }
    val df = events.toDF("key", "__timestamp", "value", "id")
    val got = Resampler.resampleByKey(df, "10s", Seq("key"),
      opts = ResampleOptions(ffillKeys = Seq("value"), tieCols = Seq("id")))
      .collect()
      .map(r => (r.getString(0), r.getLong(1),
        Option(r.get(r.fieldIndex("value"))).map(_.asInstanceOf[Double]),
        Option(r.get(r.fieldIndex("id"))).map(_.asInstanceOf[Long])))
      .sortBy(t => (t._1, t._2)).toSeq
    val want = events.groupBy(_._1).toSeq.flatMap { case (k, evs) =>
      simulate(evs.map(e => (Some(e._2), e._3, e._4)), "10s")
        .map { case (b, v, id) => (k, b, v, id) }
    }.sortBy(t => (t._1, t._2))
    assert(got == want,
      s"first diff at ${got.zip(want).indexWhere(p => p._1 != p._2)}")
  }

  test("matches with heavy timestamp ties") {
    val rnd = new scala.util.Random(9)
    val evs = (0 until 120).map { i =>
      // only 20 distinct timestamps → 6-way ties on average
      (Some(1600000000000L + rnd.nextInt(20) * 7000L), Some(i.toDouble), i.toLong)
    }
    inEachMode(check(evs, "5s"))
  }

  inBothModes("a bucket split across a partition boundary is emitted once") {
    // 3000 events in at most 4 one-hour buckets: with more non-empty sort
    // partitions than buckets, some bucket's rows span two partitions (in
    // the range modes; the gated mode sorts them as one partition and
    // slices the grid by bucket)
    val evs = events(seed = 5, n = 3000, spanMs = 3 * 3600000L)
    val sorted = evs.toDF("__timestamp", "value", "id").orderBy("__timestamp", "id")
    val buckets = evs.flatMap(_._1).map(_ / 3600000L).distinct.size
    if (!gatedMode) assert(partitionSizes(sorted).count(_ > 0) > buckets)
    check(evs, "1h")
  }

  inBothModes("a gap longer than ChunkSize is emitted in full") {
    // two bursts 7000 s apart on a 100 ms grid: a 70k-point gap
    val near = events(seed = 6, n = 40, spanMs = 5000L)
    val far = events(seed = 7, n = 40, spanMs = 5000L)
      .map(e => (e._1.map(_ + 7000000L), e._2, e._3 + 40))
    check(near ++ far, "100l")
  }

  inBothModes("a day grid in a non-UTC zone starts from the first event's local midnight") {
    // five days across the 2020-11-01 fall-back in New York
    val evs = events(seed = 13, n = 400, spanMs = 5 * 86400000L)
      .map(e => e.copy(_1 = e._1.map(_ + 4000000000L)))
    check(evs, "1d", tz = ZoneId.of("America/New_York"))
  }

  inBothModes("a grid with fewer buckets than slices") {
    // 2 or 3 one-hour buckets, 1 or 2 without the tail flush, and a single
    // event: gated, some of the slices are empty (a range sort of so few
    // rows may leave one partition holding them, so only the gated
    // partitions are checked)
    for (evs <- Seq(events(seed = 15, n = 5, spanMs = 3600000L),
        Seq((Some(1600000000000L), Some(1.0), 0L))); batchEnd <- Seq(true, false)) {
      val out = resample(evs, "1h", batchEnd)
      if (gatedMode) assertPartitions(out, "1h")
      assert(rows(out) == simulate(evs, "1h", batchEnd))
    }
  }

  inBothModes("processBatchEnd = false drops the tail flush") {
    check(events(seed = 8, n = 150, spanMs = 600000L), "10s", batchEnd = false)
    check(events(seed = 9, n = 40, spanMs = 3600000L), "1s", batchEnd = false)
    check(events(seed = 18, n = 400, spanMs = 3600000L), "100l", batchEnd = false)
  }

  inBothModes("empty input: no rows, same columns") {
    val literal = Seq.empty[Event].toDF("__timestamp", "value", "id")
    val filtered = spark.range(100).select(col("id").as("__timestamp"),
      col("id").cast("double").as("value"), col("id")).repartition(3).filter(col("id") < 0)
    for (df <- Seq(literal, filtered)) {
      val out = Resampler.resample(df, "1s",
        opts = ResampleOptions(ffillKeys = Seq("value"), tieCols = Seq("id")))
      assert(out.schema.map(f => (f.name, f.dataType)) ==
        Seq("__timestamp" -> LongType, "value" -> DoubleType, "id" -> LongType))
      assert(out.collect().isEmpty)
      assert(out.orderBy("__timestamp").count() == 0)
    }
  }

  inBothModes("events without a timestamp never emit") {
    val rnd = new scala.util.Random(10)
    val evs = events(seed = 11, n = 300, spanMs = 600000L)
      .map(e => if (rnd.nextInt(6) == 0) e.copy(_1 = None) else e)
    assert(evs.exists(_._1.isEmpty))
    check(evs, "5s")
  }

  inBothModes("gap rows are null in columns the input declares non-nullable") {
    val evs = events(seed = 12, n = 60, spanMs = 600000L)
    val df = evs.map(e => (e._1.get, e._2.getOrElse(0.0), e._3))
      .toDF("__timestamp", "value", "id").repartition(5)
    assert(!df.schema("id").nullable && !df.schema("value").nullable)
    val out = Resampler.resample(df, "1s", opts = ResampleOptions(tieCols = Seq("id")))
    val gaps = simulate(evs, "1s").count(_._3.isEmpty)
    assert(gaps > 0)
    assert(out.schema("id").nullable && out.schema("value").nullable)
    assert(out.filter(col("id").isNull).count() == gaps)
    assert(out.filter(col("value").isNull).count() == gaps)
  }

  test("one partition and the range path give the same rows on each edge case") {
    val ny = ZoneId.of("America/New_York")
    val rnd = new scala.util.Random(14)
    val cases: Seq[(String, Seq[Event], String, Boolean, ZoneId)] = Seq(
      ("no tail flush", events(seed = 8, n = 150, spanMs = 600000L), "10s", false, ZoneOffset.UTC),
      ("sliced, no tail flush", events(seed = 18, n = 400, spanMs = 3600000L), "100l", false,
        ZoneOffset.UTC),
      ("empty", Nil, "1s", true, ZoneOffset.UTC),
      ("null timestamps", events(seed = 11, n = 300, spanMs = 600000L)
        .map(e => if (rnd.nextInt(6) == 0) e.copy(_1 = None) else e), "5s", true, ZoneOffset.UTC),
      ("day grid in New York", events(seed = 13, n = 400, spanMs = 5 * 86400000L)
        .map(e => e.copy(_1 = e._1.map(_ + 4000000000L))), "1d", false, ny),
      ("sliced day grid in New York", events(seed = 19, n = 300, spanMs = 20000L * 86400000L),
        "1d", false, ny),
      ("70k-point gap", events(seed = 6, n = 40, spanMs = 5000L) ++
        events(seed = 7, n = 40, spanMs = 5000L)
          .map(e => (e._1.map(_ + 7000000L), e._2, e._3 + 40)), "100l", true, ZoneOffset.UTC),
      ("fewer buckets than slices", events(seed = 15, n = 5, spanMs = 3600000L), "1h", true,
        ZoneOffset.UTC))
    val (range, gated) = (partitionModes.toMap.apply("AQE on"),
      partitionModes.toMap.apply("gated, one partition"))
    // a range sort that adaptive execution coalesces into one partition (the
    // default floor), which takes B0 and the grid's end from its own rows
    val coalesced = range + ("spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "1MB")
    for ((name, evs, interval, batchEnd, tz) <- cases) withClue(s"$name: ") {
      val one = withConf(gated) {
        val out = resample(evs, interval, batchEnd, tz)
        assertPartitions(out, interval)
        rows(out)
      }
      assert(one == withConf(range)(rows(resample(evs, interval, batchEnd, tz))))
      assert(one == withConf(coalesced) {
        val out = resample(evs, interval, batchEnd, tz)
        assert(partitionSizes(out).length <= 1, "coalesced into one partition")
        rows(out)
      })
      assert(one == simulate(evs, interval, batchEnd, tz))
    }
  }
}

package graft.ops

import graft.core.SortedScan
import graft.time.Intervals
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, LongType}

import java.time.{ZoneId, ZoneOffset}

/** Tumbling-grid resampler with last-value sampling, gap fill and selective
  * forward fill: the reference's `BatchEveryIntervalHandler.process/finalize`
  * (classes.py:589-637).
  *
  * Semantics (derived from the reference's event loop; SURVEY §2.4):
  *
  *  - Grid boundaries are the arithmetic progression `B_k = B0 + k*step`,
  *    where `B0 = nextBoundary(min_ts, initialize = true)` (day intervals
  *    align to midnight in `tz`; others to epoch-multiples of the step).
  *  - Emitted boundaries: every `B_k <= max_ts`, plus — when
  *    `processBatchEnd` — the first boundary after `max_ts` (the reference's
  *    tail flush, classes.py:627-637).
  *  - The row at boundary `B` is the last event with `ts < B` (an event
  *    exactly on a boundary reports to the *next* one: the reference emits
  *    `prev_msg` when the first `ts >= B` arrives, classes.py:602-607).
  *    If that event lies within `[B - step, B)` the full row is emitted;
  *    otherwise the boundary is a *gap row*: every column null except the
  *    `ffillKeys`, which carry the last real event's values
  *    (classes.py:608-623).
  *
  * Scale shape: the global [[resample]] runs the reference's loop on each
  * partition of one [[SortedScan]]; all a partition needs from the others is
  * the next one's first bucket (or, on a one-partition sort emitted as grid
  * slices, the grid's extent and the last event before each slice). No
  * window, no aggregation shuffle, no driver-side row loop.
  * [[resampleByKey]] runs independent grids per key.
  */
object Resampler {

  case class ResampleOptions(
      ffillKeys: Seq[String] = Nil,
      processBatchEnd: Boolean = true,
      tz: ZoneId = ZoneOffset.UTC,
      /** Tiebreak columns completing the event order for equal timestamps. */
      tieCols: Seq[String] = Nil,
      /** [[resampleByKey]] only: emit rows ordered by key then boundary, at
        * the cost of a final range shuffle and sort. Set false when the
        * consumer re-shuffles anyway: rows then stay ascending by boundary
        * within each key run. The global [[resample]] ignores it: its output
        * is ordered by boundary at no cost.
        */
      sorted: Boolean = true)

  /** Max elements per materialized `sequence()` array in the gap-span
    * explode of [[resampleByKey]] and [[Interpolate]]: one `sequence(k,
    * kend)` would materialize a whole year-long 100 ms gap (300M elements).
    * Chunking explodes ≤ ChunkSize grid points per array.
    */
  private val ChunkSize = 65536L

  /** The fewest grid rows given a slice of their own: a one-partition sort
    * emits its grid of `n` rows as `min(k, n / SliceRows)` slices, k the
    * default parallelism, and stays one partition below two. Each slice
    * costs a task that re-reads and sorts the whole partition, which pays
    * only where the sink's encode of the slice outweighs it.
    */
  private[ops] val SliceRows = 8192L

  /** Two-level bounded explode of the inclusive range [fromCol, toCol] into
    * `outCol`, preserving all other columns. Shared with [[Interpolate]].
    */
  private[ops] def chunkedExplode(fromCol: String, toCol: String, outCol: String)(
      df: DataFrame): DataFrame =
    df.withColumn("__chunk",
        explode(sequence(expr(s"$fromCol div $ChunkSize"), expr(s"$toCol div $ChunkSize"))))
      .withColumn(outCol,
        explode(sequence(greatest(col(fromCol), col("__chunk") * lit(ChunkSize)),
          least(col(toCol), col("__chunk") * lit(ChunkSize) + lit(ChunkSize - 1)))))
      .drop("__chunk")

  /** Resample `df` to the `interval` grid. `tsCol` must hold epoch ms.
    * Output: `tsCol` (Long, the grid boundary) first, then `df`'s other
    * columns, all nullable; rows ordered by boundary. Jobs: the
    * [[SortedScan]]'s, whose summary job (a range sort left with more than
    * one partition) returns two timestamps per partition. A one-partition
    * sort's map stage also observes the first and last timestamps, and a
    * grid of `n` rows is emitted as `s = min(k, n / SliceRows)` slices, k
    * the default parallelism: slice `i` emits buckets `[i·n/s, (i+1)·n/s)`
    * from its own re-read of the sorted partition, so a fine grid is
    * written from several cores (and a `toLocalIterator` over it, as in
    * [[Replay]], runs s jobs). A coarser grid stays one partition, which,
    * like a range sort that adaptive execution coalesced into one, takes
    * B0 and the grid's end from its own rows.
    */
  def resample(
      df: DataFrame,
      interval: String,
      tsCol: String = graft.core.Fuser.TimestampCol,
      opts: ResampleOptions = ResampleOptions()): DataFrame = {
    val step = Intervals.toMillis(interval)
    val dataCols = df.columns.filterNot(_ == tsCol).toSeq
    val in = df.filter(col(tsCol).isNotNull) // a null timestamp never emits
      .select(col(tsCol).cast(LongType).as(tsCol) +: dataCols.map(col): _*)
    val types = in.schema.fields.map(_.dataType)
    val fill = in.columns.map(opts.ffillKeys.contains)
    // B0 follows the first event, so that event's bucket is 0
    val origin = (t0: Long) => Intervals.nextBoundary(t0, interval, initialize = true, opts.tz)
    // 1 when the last event's bucket is emitted (the tail flush), else 0
    val flush = if (opts.processBatchEnd) 1L else 0L
    // the last bucket emitted, from the first and last timestamps
    val lastBucket = (b0: Long, t1: Long) => Math.floorDiv(t1 - b0, step) + flush

    // a one-partition sort's grid of n rows, cut into one slice per
    // SliceRows rows, at most k
    val slicing = SortedScan.Slicing(Seq(min(col(tsCol)), max(col(tsCol))), (extent, k) =>
      if (extent.isNullAt(0)) Nil
      else {
        val b0 = origin(extent.getLong(0))
        val n = lastBucket(b0, extent.getLong(1)) + 1
        val s = math.min(k.toLong, n / SliceRows)
        (0L until s).map { i =>
          val (lo, hi) = (n * i / s, n * (i + 1) / s)
          (it: Iterator[InternalRow]) => new Walk(it, types, fill, b0, step, lo, hi, _ => hi)
        }
      })
    SortedScan(in, (tsCol +: opts.tieCols).map(col), "resample", nullable = dataCols,
        slicing = Some(slicing)) { it =>
      // the partition's first and last timestamps
      val ts = it.map(_.getLong(0))
      Option.when(ts.hasNext)(ts.next()).map(first => (first, ts.foldLeft(first)((_, t) => t)))
    } { spans =>
      if (spans.isEmpty) {
        // the sort's only partition: B0 from its first row; the grid stops
        // after its last row's bucket, or on it without the tail flush
        (_, it) => {
          val rows = it.buffered
          if (!rows.hasNext) Iterator.empty
          else new Walk(rows, types, fill, origin(rows.head.getLong(0)), step, 0L,
            Long.MaxValue, _ + flush)
        }
      } else {
        // kEnd is the last bucket emitted (-1: none)
        val seen = spans.flatten
        val (b0, kEnd) = seen.headOption.fold((0L, -1L)) { case (t0, _) =>
          val b0 = origin(t0)
          (b0, lastBucket(b0, seen.last._2))
        }
        // partition p emits the buckets before the next non-empty partition's
        // first one, so a bucket split across partitions is the later one's
        val stops = spans.scanRight(kEnd + 1) { (span, after) =>
          span.fold(after)(s => math.min(Intervals.boundaryIndexFor(s._1, b0, step), kEnd + 1))
        }.tail
        (p, it) => new Walk(it, types, fill, b0, step, 0L, stops(p), _ => stops(p))
      }
    }
  }

  /** One partition's forward pass over rows sorted by timestamp (column 0):
    * for each bucket from `start` and below `stop`, its last row, then a gap
    * row for each empty bucket before the next one. Rows in buckets before
    * `start` are an earlier slice's: the last of them seeds the gap rows
    * before the first row emitted. Rows in buckets from `stop` on are a
    * later partition's. Where the rows end, `stop` becomes `stopAtEnd` of
    * the last row's bucket, so a bucket is read to its end, and the first
    * row after it, before its row is emitted. A long gap allocates nothing.
    */
  private final class Walk(rows: Iterator[InternalRow], types: Array[DataType],
      fill: Array[Boolean], b0: Long, step: Long, start: Long, private var stop: Long,
      stopAtEnd: Long => Long) extends Iterator[InternalRow] {
    private var head: InternalRow = null // the first row after `last`'s bucket, or null
    private var headK = 0L
    private var last: InternalRow = null // the last row of bucket `lastK`, to emit next
    private var lastK = 0L
    private var gap: GenericInternalRow = null
    private var k, end = 0L // gap rows for buckets k until end
    seek()
    if (head != null && headK < start) {
      // copy each row before reading the next: a sorted row's buffer is reused
      var before = head.copy()
      seek()
      while (head != null && headK < start) { before = head.copy(); seek() }
      openGaps(before, start)
    }
    scan()

    private def seek(): Unit = {
      head = if (rows.hasNext) rows.next() else null
      if (head != null) headK = Intervals.boundaryIndexFor(head.getLong(0), b0, step)
    }

    /** Gap rows from bucket `from` until the next row's bucket, carrying
      * `row`'s fill values.
      */
    private def openGaps(row: InternalRow, from: Long): Unit = {
      k = from
      end = if (head == null) stop else math.min(headK, stop)
      if (k < end) gap = new GenericInternalRow(Array.tabulate[Any](types.length) { i =>
        if (fill(i) && !row.isNullAt(i)) row.get(i, types(i)) else null
      })
    }

    /** Read the bucket `head` opens to its end, into `last`; null when the
      * bucket is at or after `stop`.
      */
    private def scan(): Unit = {
      last = null
      if (head != null && headK < stop) {
        lastK = headK
        last = head.copy()
        seek()
        while (head != null && headK == lastK) { last = head.copy(); seek() }
        if (head == null) stop = stopAtEnd(lastK)
        if (lastK >= stop) last = null
      }
    }

    def hasNext: Boolean = k < end || last != null

    def next(): InternalRow =
      if (k < end) { gap.setLong(0, b0 + k * step); k += 1; gap }
      else {
        val row = last
        openGaps(row, lastK + 1)
        row.setLong(0, b0 + lastK * step)
        scan()
        row
      }
  }

  /** Per-key resample: an independent tumbling grid per key group (the
    * 100 TB shape — resampling a million symbols is a million independent
    * small grids, not one giant one). Same boundary semantics as
    * [[resample]], but every step is keyed and fully distributed:
    *
    *  - per-key bounds = one narrow `groupBy(key)` aggregate, broadcast back;
    *  - per-key bucket `groupBy(key, k)` with map-side `max_by`;
    *  - coverage lead + explode windows are `partitionBy(key)` — parallel
    *    across executors, nothing single-partition, no driver-side scalars.
    *
    * Day intervals align each key's grid to midnight in `opts.tz` (reference
    * classes.py:787-793), computed as a column expression over the per-key
    * min timestamp — the same `midnight(t0) + step` rule `Intervals
    * .nextBoundary` applies driver-side for the global grid, DST handled by
    * Spark's zone-aware timestamp functions. Output: key columns + tsCol +
    * data columns.
    */
  def resampleByKey(
      df: DataFrame,
      interval: String,
      keyCols: Seq[String],
      tsCol: String = graft.core.Fuser.TimestampCol,
      opts: ResampleOptions = ResampleOptions()): DataFrame = {
    require(keyCols.nonEmpty, "resampleByKey requires key columns")
    val step     = Intervals.toMillis(interval)
    val dataCols = df.columns.filterNot(c => c == tsCol || keyCols.contains(c)).toSeq
    val keys     = keyCols.map(col)

    // Per-key grid origin: sub-day units and UTC days are epoch-aligned
    // (b0 = floor(min/step)*step + step); day grids in another timezone
    // originate at tz-midnight of the key's first event plus the step, with
    // the on-boundary rule (a t0 exactly on a boundary starts the next one)
    // matching Intervals.nextBoundary(initialize = true).
    val b0Of: Column => Column =
      if (Intervals.isDayInterval(interval) && opts.tz.normalized != ZoneOffset.UTC) { t0 =>
        // first boundary of {midnight_tz + k*step} strictly after t0 — the
        // same general formula as Intervals.nextBoundary (handles on-boundary
        // AND 25h DST fall-back days; delta >= 0 since midnight <= t0)
        val tzId = opts.tz.getId
        val mid = unix_millis(to_utc_timestamp(
          date_trunc("DAY", from_utc_timestamp(timestamp_millis(t0), tzId)), tzId))
        val delta = t0 - mid
        mid + (delta - pmod(delta, lit(step))) + lit(step)
      } else { t0 => t0 - pmod(t0, lit(step)) + lit(step) }

    val flushAdd = if (opts.processBatchEnd) 1L else 0L
    val bounds = df.groupBy(keys: _*)
      .agg(min(col(tsCol)).as("__t0"), max(col(tsCol)).as("__t1"))
      .select(keys :+ b0Of(col("__t0")).as("__b0") :+ col("__t1"): _*)
      .withColumn("__kend",
        when(col("__t1") >= col("__b0"),
          ((col("__t1") - col("__b0") - pmod(col("__t1") - col("__b0"), lit(step))) / lit(step))
            .cast("long")).otherwise(lit(-1L)) + lit(flushAdd))
      .filter(col("__kend") >= 0)
      .drop("__t1")

    // Null-safe join: groupBy above treats NULL as a key group, so the join
    // back must too — a plain equi-join would silently drop null-key events.
    val bk = bounds.select(
      keyCols.map(k => col(k).as(s"__bk_$k")) ++
        Seq(col("__b0"), col("__kend")): _*)
    val joinCond = keyCols.map(k => col(k) <=> col(s"__bk_$k")).reduce(_ && _)
    val withB0 = df.join(broadcast(bk), joinCond)
      .drop(keyCols.map(k => s"__bk_$k"): _*)
    val delta  = col(tsCol) - col("__b0")
    val kExpr  = ((delta - pmod(delta, lit(step))) / lit(step)).cast("long") + lit(1L)

    val ordKey = struct((col(tsCol) +: opts.tieCols.map(col)): _*)
    val lastPerK = withB0
      .withColumn("__k", kExpr)
      .filter(col("__k") <= col("__kend"))
      .groupBy(keys :+ col("__k"): _*)
      .agg(max_by(struct(dataCols.map(col): _*), ordKey).as("__row"),
           first(col("__b0")).as("__b0"), first(col("__kend")).as("__kend"))

    val wLead = Window.partitionBy(keys: _*).orderBy(col("__k"))
    // flatten the struct before the chunked explode: Catalyst cannot push
    // nested-field extraction through stacked generators
    // (INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND)
    val withKcend = lastPerK
      .withColumn("__kcend", coalesce(lead(col("__k"), 1).over(wLead) - 1L, col("__kend")))
      .select(keys ++ Seq(col("__k"), col("__kcend"), col("__b0")) ++
        dataCols.map(c => col(s"__row.$c").as(c)): _*)
    val covered = chunkedExplode("__k", "__kcend", "__kc")(withKcend)

    val isReal = col("__kc") === col("__k")
    val out = covered.select(
      keys ++ Seq((col("__b0") + col("__kc") * lit(step)).as(tsCol)) ++
      dataCols.map { c =>
        if (opts.ffillKeys.contains(c)) col(c)
        else when(isReal, col(c)).as(c)
      }: _*)
    if (opts.sorted) out.orderBy(keys :+ col(tsCol): _*) else out
  }
}

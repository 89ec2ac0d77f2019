package graft.ops

import graft.time.Intervals
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import java.time.{ZoneId, ZoneOffset}

/** Tumbling-grid resampler with last-value sampling, gap fill and selective
  * forward fill — the reference's `BatchEveryIntervalHandler.process/finalize`
  * (classes.py:589-637) re-expressed as one distributed DataFrame transform.
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
  * Scale shape: one `groupBy(bucket)` (map-side combined `max_by`), a
  * broadcast-range join onto the grid, and a bucketed forward fill — no
  * global single-partition window, no driver-side row loop. The grid size is
  * `(max_ts - min_ts)/step`, bounded by the time span, not the data volume.
  */
object Resampler {

  case class ResampleOptions(
      ffillKeys: Seq[String] = Nil,
      processBatchEnd: Boolean = true,
      tz: ZoneId = ZoneOffset.UTC,
      /** Tiebreak columns completing the event order for equal timestamps. */
      tieCols: Seq[String] = Nil,
      /** Range buckets for the coverage window of the global [[resample]]
        * (parallelism of the gap-span computation; keyed resample doesn't
        * need it). Should be >= executor parallelism.
        */
      coverageBuckets: Int = 256,
      /** Emit rows in a total order (global: by boundary; keyed: by key then
        * boundary). The total order costs a full range-shuffle + sort of the
        * resampled grid as the FINAL stage — at a fine grid that sort
        * dominates the whole job (measured: the 1s-grid stress stage is
        * sort-bound). Set false when the consumer re-shuffles anyway
        * (writes partitioned output, joins, aggregates): rows then stay on
        * their coverage partitions, ascending by boundary within each
        * coverage slice (global) / within each key run (keyed), with no
        * cross-partition order guarantee.
        */
      sorted: Boolean = true)

  /** Max elements per materialized `sequence()` array in the gap-span
    * explode. A single `sequence(k, kend)` materializes the WHOLE span as
    * one in-memory array before exploding — a year-long quiet gap on a
    * 100 ms grid would be a 300M-element allocation (and sequence() caps at
    * 2³¹). Chunking explodes bounded arrays: an outer explode over chunk
    * indices, an inner one over ≤ ChunkSize grid points.
    */
  private val ChunkSize = 65536L

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

  /** Resample `df` to the `interval` grid. `tsCol` must be epoch-ms Long.
    * Output schema = input schema with `tsCol` holding the grid boundary;
    * rows ordered by boundary when `opts.sorted` (see [[ResampleOptions]]).
    */
  def resample(
      df: DataFrame,
      interval: String,
      tsCol: String = graft.core.Fuser.TimestampCol,
      opts: ResampleOptions = ResampleOptions()): DataFrame = {

    val step = Intervals.toMillis(interval)

    val bounds = df.agg(min(col(tsCol)), max(col(tsCol))).head()
    if (bounds.isNullAt(0)) return df.limit(0)
    val (t0, t1) = (bounds.getLong(0), bounds.getLong(1))

    val b0 = Intervals.nextBoundary(t0, interval, initialize = true, opts.tz)
    // Boundaries emitted in the normal loop: all B_k <= t1.
    val kNormMax = Math.floorDiv(t1 - b0, step) // may be -1 if t1 < b0
    // Tail flush adds the first boundary strictly after t1.
    val kEnd = if (opts.processBatchEnd) kNormMax + 1 else kNormMax
    if (kEnd < 0) return df.limit(0)

    val dataCols = df.columns.filterNot(_ == tsCol).toSeq

    // Each event reports to the first boundary strictly after it:
    // k = floorDiv(ts - b0, step) + 1, in pure integer math (pmod keeps the
    // remainder non-negative so the division floors rather than truncates).
    val delta = col(tsCol) - lit(b0)
    val kExpr = ((delta - pmod(delta, lit(step))) / lit(step)).cast("long") + lit(1L)

    // Last event per bucket, totally ordered by (ts, tieCols). One shuffle,
    // with map-side partial max_by. This is the ONLY descent over the input.
    val ordKey = struct((col(tsCol) +: opts.tieCols.map(col)): _*)
    val lastPerK = df
      .withColumn("__k", kExpr)
      .filter(col("__k") <= lit(kEnd)) // events past the last boundary never emit
      .groupBy(col("__k"))
      .agg(max_by(struct(dataCols.map(col): _*), ordKey).as("__row"))

    // Each non-empty bucket covers the grid span up to (exclusive) the next
    // non-empty bucket; exploding that span generates its real row plus all
    // its gap rows, each carrying the covering row for the ffill keys — the
    // reference's prev_msg verbatim (a null ffill-key value in the covering
    // row stays null on the gap rows, classes.py:608-623).
    //
    // "Next non-empty bucket" is a lead() over bucket order. Running it as one
    // global window would serialize every non-empty bucket into a single task
    // — at a fine grid (the reference's flagship is 100 ms) non-empty buckets
    // ≈ event count, so that window is a scale-killer. Instead the k-space is
    // range-partitioned into `coverageBuckets` equal slices: lead() runs
    // within each slice (parallel windows), and each slice's final row chains
    // to the next non-empty slice's first k, a per-slice scalar collected from
    // a narrow ts-only descent (<= coverageBuckets rows — the same bounded
    // two-phase carry `ForwardFill.partitioned` uses, with no unpartitioned
    // window anywhere).
    val sliceWidth = kEnd / opts.coverageBuckets + 1
    val sliceExpr  = expr(s"__k div $sliceWidth")

    // First non-empty k per slice (narrow scan: only tsCol survives pruning).
    val sliceFirst = df
      .select(kExpr.as("__k"))
      .filter(col("__k") <= lit(kEnd))
      .groupBy(sliceExpr.as("__slice"))
      .agg(min(col("__k")).as("__first"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .sortBy(_._1)
    // slice -> first non-empty k of the NEXT non-empty slice
    val nextFirst: Map[Long, Long] =
      sliceFirst.zip(sliceFirst.drop(1)).map { case ((s, _), (_, f)) => s -> f }.toMap
    val carryNext: Column =
      if (nextFirst.isEmpty) lit(null).cast("long")
      else element_at(typedLit(nextFirst), col("__slice"))

    val wLead = Window.partitionBy(col("__slice")).orderBy(col("__k"))
    // flatten the covering struct BEFORE the chunked explode: Catalyst's
    // nested-field extraction cannot be pushed through stacked generators
    // (INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND), and flat columns dodge it
    val withKend = lastPerK
      .withColumn("__slice", sliceExpr)
      .withColumn("__kend",
        coalesce(lead(col("__k"), 1).over(wLead), carryNext, lit(kEnd + 1L)) - 1L)
      .select(col("__k") +: col("__kend") +:
        dataCols.map(c => col(s"__row.$c").as(c)): _*)
    val covered = chunkedExplode("__k", "__kend", "__kc")(withKend)

    val isReal = col("__kc") === col("__k")
    val out = covered.select(
      (lit(b0) + col("__kc") * lit(step)).as(tsCol) +:
      dataCols.map { c =>
        if (opts.ffillKeys.contains(c)) col(c)
        else when(isReal, col(c)).as(c)
      }: _*)
    if (opts.sorted) out.orderBy(col(tsCol)) else out
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
    // flatten before the chunked explode (see the global path's note on
    // nested-field extraction vs stacked generators)
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

package graft.ops

import graft.time.Intervals
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Time-bucketed table layout — the write-side half of partition pruning.
  *
  * At 100 TB the scan you avoid is the one that matters: a query windowed
  * to one day of a year-long corpus should open ~1/365th of the files.
  * That only happens if the WRITER laid the data out by time. This module
  * writes a DataFrame as a Hive-partitioned parquet tree keyed by an
  * interval bucket of the engine's epoch-ms timestamp
  * (`bucket=<epoch_ms_of_bucket_start>/part-*.parquet`), range-distributed
  * so each task owns a contiguous time slice, and sorted within files so
  * every row group's min/max timestamp stats are tight.
  *
  * Three pruning layers result, all visible in `.explain`:
  *   1. directory-level: `PartitionFilters` on the bucket column — files
  *      outside the window are never even listed as splits;
  *   2. row-group-level: `PushedFilters` on the timestamp against tight
  *      min/max stats — whole row groups skip;
  *   3. page-level: parquet column indexes over the sorted timestamp.
  *
  * The bucket value is the bucket's own start epoch-ms (not a date string):
  * pruning predicates stay pure int64 comparisons and the mapping from a
  * query window to bucket ranges is closed-form (`Intervals.floorTo`).
  */
object Layout {

  val BucketCol = "bucket"

  /** Write `df` time-partitioned by `interval` buckets of `tsCol`.
    *
    * `repartitionByRange(bucket, ts)` (not hash) so output tasks own
    * contiguous time — each task writes to one (or two, at bucket edges)
    * partition directories instead of all of them, which at 1000 tasks ×
    * 365 buckets is the difference between ~1k files and ~365k.
    * `partitionsPerBucket` > 1 splits hot buckets across that many range
    * slices (they still write into the same directory).
    */
  def writeTimePartitioned(
      df: DataFrame,
      tsCol: String,
      interval: String,
      path: String,
      sortCols: Seq[String] = Nil,
      partitionsPerBucket: Int = 1): Unit = {
    require(partitionsPerBucket >= 1,
      s"partitionsPerBucket must be >= 1: $partitionsPerBucket")
    val stepMs = Intervals.toMillis(interval)
    val withBucket = df.withColumn(BucketCol,
      (floor(col(tsCol).cast("long") / stepMs) * stepMs).cast("long"))
    // size the range partitioning from the 2-scalar span agg (footer-stats
    // cheap on parquet sources), not countDistinct — no key shuffle; time
    // gaps only mean a few empty ranges, which AQE coalesces
    val span = df.agg(min(col(tsCol)).cast("long"), max(col(tsCol)).cast("long")).head()
    if (span.isNullAt(0)) return // empty input: nothing to lay out
    val nBuckets =
      Intervals.floorTo(span.getLong(1), stepMs) / stepMs -
        Intervals.floorTo(span.getLong(0), stepMs) / stepMs + 1
    val nParts = math.max(1, math.min(nBuckets * partitionsPerBucket, 100000L).toInt)
    // the sort MUST lead with the partition column: the dynamic-partition
    // writer requires an ordering on it and would otherwise insert its own
    // bucket-only sort, destroying the timestamp order inside files
    withBucket
      .repartitionByRange(nParts, col(BucketCol), col(tsCol))
      .sortWithinPartitions((col(BucketCol) +: col(tsCol) +: sortCols.map(col)): _*)
      .write.mode("overwrite")
      .partitionBy(BucketCol)
      .parquet(path)
  }

  /** Persist `df` as a HASH-BUCKETED, bucket-sorted table — the
    * iteration-invariant layout for graph edge tables (and any table an
    * iterative operator joins on the same key every round). A reader of
    * a table bucketed on `src` gets `hashpartitioning(src, nBuckets)`
    * FOR FREE from the scan, so the simple-graph normalization a graph
    * operator runs first (`distinct` over (src, dst), the out-degree
    * `groupBy(src)`, the degree join) plans with ZERO exchanges — the
    * one-time layout cost moves from every job to the write
    * (PlanSpec-pinned; `GraphSpec` iterates PageRank's no-broadcast loop
    * over a table written here and read back).
    *
    * Bucket metadata lives in the session catalog (`saveAsTable` — plain
    * parquet files carry no bucket spec), so `table` is a table name,
    * not a path; read back with `spark.table(table)`.
    */
  def writeBucketedTable(
      df: DataFrame,
      table: String,
      bucketCol: String,
      nBuckets: Int,
      sortCols: Seq[String] = Nil): Unit = {
    require(nBuckets >= 1, s"nBuckets must be >= 1: $nBuckets")
    df.write.mode("overwrite")
      .bucketBy(nBuckets, bucketCol)
      .sortBy(bucketCol, sortCols: _*)
      .format("parquet")
      .saveAsTable(table)
  }

  val ZKeyCol = "zkey"

  /** Morton (z-order) key: interleave the low 16 bits of two non-negative
    * integer columns, `a` owning the even bit positions and `b` the odd.
    * Pure codegen'd bit arithmetic (the classic magic-number spread), so
    * an independent engine running the same shifts reproduces it exactly.
    *
    * 16 bits per dimension = 65536 range cells each way — far beyond the
    * file count any single layout job produces, so quantizing dimensions
    * to 16 bits never limits pruning resolution. Callers quantize first
    * (e.g. `floor(ts / hour)`, a modulo'd id, a range-bucketed value).
    */
  def zorderKey(a: Column, b: Column): Column = {
    def spread16(c: Column): Column = {
      var x = c.bitwiseAND(lit(0xFFFFL))
      x = (x.bitwiseOR(shiftleft(x, 8))).bitwiseAND(lit(0x00FF00FFL))
      x = (x.bitwiseOR(shiftleft(x, 4))).bitwiseAND(lit(0x0F0F0F0FL))
      x = (x.bitwiseOR(shiftleft(x, 2))).bitwiseAND(lit(0x33333333L))
      x = (x.bitwiseOR(shiftleft(x, 1))).bitwiseAND(lit(0x55555555L))
      x
    }
    spread16(a.cast("long")).bitwiseOR(shiftleft(spread16(b.cast("long")), 1))
  }

  /** 3-D Morton key: interleave the low 21 bits of three non-negative
    * integer columns (`a` at bit positions 3i, `b` at 3i+1, `c` at 3i+2).
    * Same pure-codegen magic-number spread as [[zorderKey]], one extra
    * doubling stage for the wider stride; the maximum key is exactly
    * 2^63 - 1, so the full 21 x 3 resolution fits a signed long.
    *
    * 21 bits = 2,097,152 range cells per dimension. As with the 2-D key,
    * callers quantize first; [[zorderWrite3]] validates that by default.
    */
  def zorderKey3(a: Column, b: Column, c: Column): Column = {
    def spread21(x0: Column): Column = {
      var x = x0.bitwiseAND(lit(0x1FFFFFL))
      x = (x.bitwiseOR(shiftleft(x, 32))).bitwiseAND(lit(0x1F00000000FFFFL))
      x = (x.bitwiseOR(shiftleft(x, 16))).bitwiseAND(lit(0x1F0000FF0000FFL))
      x = (x.bitwiseOR(shiftleft(x, 8))).bitwiseAND(lit(0x100F00F00F00F00FL))
      x = (x.bitwiseOR(shiftleft(x, 4))).bitwiseAND(lit(0x10C30C30C30C30C3L))
      x = (x.bitwiseOR(shiftleft(x, 2))).bitwiseAND(lit(0x1249249249249249L))
      x
    }
    spread21(a.cast("long"))
      .bitwiseOR(shiftleft(spread21(b.cast("long")), 1))
      .bitwiseOR(shiftleft(spread21(c.cast("long")), 2))
  }

  /** [[zorderWrite]] in three dimensions: cluster along the 3-D Morton
    * curve of three quantized (`[0, 2097151]`) dimensions, so queries
    * boxed in any subset of the three skip files on parquet min/max
    * stats. Validation semantics match [[zorderWrite]].
    */
  def zorderWrite3(
      df: DataFrame,
      aCol: String,
      bCol: String,
      cCol: String,
      path: String,
      nFiles: Int,
      validate: Boolean = true): Unit = {
    require(nFiles >= 1, s"nFiles must be >= 1: $nFiles")
    def checked(c: Column, name: String): Column =
      if (!validate) c
      else when(c.between(0L, 0x1FFFFFL), c).otherwise(raise_error(concat(
        lit(s"zorder dimension '$name' outside [0, 2097151] (quantize first): "),
        c.cast("string"))))
    df.withColumn(ZKeyCol,
        zorderKey3(checked(col(aCol).cast("long"), aCol),
                   checked(col(bCol).cast("long"), bCol),
                   checked(col(cCol).cast("long"), cCol)))
      .repartitionByRange(nFiles, col(ZKeyCol))
      .sortWithinPartitions(col(ZKeyCol))
      .drop(ZKeyCol)
      .write.mode("overwrite").parquet(path)
  }

  /** Write `df` clustered along the z-order curve of two quantized
    * dimensions — multi-dimensional pruning where [[writeTimePartitioned]]
    * only prunes time: a query boxed in BOTH dimensions (one user over one
    * week; one symbol in one price band) skips files by the parquet
    * min/max stats of the ORIGINAL columns, which the curve keeps tight in
    * every dimension at once instead of only the leading sort key.
    *
    * Range-distribute then sort by the key: each task owns a contiguous
    * curve segment, so file boxes don't overlap across tasks. The curve
    * key is dropped on write (derivable; stats live on the real columns).
    *
    * Both dimensions must already be quantized to `[0, 65535]`
    * ([[zorderKey]] masks to the low 16 bits, so an unquantized input —
    * a raw hour index in the hundreds of thousands, a negative value —
    * would otherwise WRAP silently and scatter the curve, breaking file
    * locality and pruning with no error). `validate = true` (default)
    * makes that loud: each key row re-checks its inputs inline
    * (codegen'd `CASE` + `raise_error`, no extra pass over the data) and
    * the write fails with the offending value. Opt out only when the
    * caller's quantization is already proven.
    */
  def zorderWrite(
      df: DataFrame,
      aCol: String,
      bCol: String,
      path: String,
      nFiles: Int,
      validate: Boolean = true): Unit = {
    require(nFiles >= 1, s"nFiles must be >= 1: $nFiles")
    def checked(c: Column, name: String): Column =
      if (!validate) c
      else when(c.between(0L, 0xFFFFL), c).otherwise(raise_error(concat(
        lit(s"zorder dimension '$name' outside [0, 65535] (quantize first): "),
        c.cast("string"))))
    df.withColumn(ZKeyCol,
        zorderKey(checked(col(aCol).cast("long"), aCol),
                  checked(col(bCol).cast("long"), bCol)))
      .repartitionByRange(nFiles, col(ZKeyCol))
      .sortWithinPartitions(col(ZKeyCol))
      .drop(ZKeyCol)
      .write.mode("overwrite").parquet(path)
  }

  /** Read back a time window from a partitioned layout. The bucket
    * predicate is widened to the enclosing bucket starts so it prunes
    * directories; the exact `[startMs, endMs)` predicate on `tsCol` prunes
    * row groups / pages within the boundary buckets.
    */
  def readWindow(
      spark: SparkSession,
      path: String,
      tsCol: String,
      interval: String,
      startMs: Long,
      endMs: Long): DataFrame = {
    require(startMs <= endMs, s"bad window: $startMs > $endMs")
    val stepMs = Intervals.toMillis(interval)
    spark.read.parquet(path)
      .filter(col(BucketCol) >= Intervals.floorTo(startMs, stepMs) &&
        col(BucketCol) <= Intervals.floorTo(math.max(startMs, endMs - 1), stepMs))
      .filter(col(tsCol) >= startMs && col(tsCol) < endMs)
  }
}

package graft.core

import graft.SparkTestBase
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.SortExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._

/** The jobs [[SortedScan]] runs while a frame is built, and the order it
  * declares. An input adaptive execution would coalesce into one partition
  * (under the coalescing floor, 1 MB by default) is sorted as one
  * partition, planned without adaptive execution: no job runs until the
  * result's first action, whose one job runs the sort's map stage,
  * scanning the source once. Any other input is range-sorted: the sampling
  * job, map stage and summary job run; no summary job runs for a sort that
  * ends up with one partition. A sliced one-partition sort runs its map
  * stage under adaptive execution while it is built, observing its extent
  * there, and its k slices each read the sort's shuffle.
  */
class SortedScanSpec extends SparkTestBase with AdaptiveSparkPlanHelper {

  private val rows = 3000

  /** A parquet source of `rows` rows in 4 files, keys out of order. */
  private lazy val source: DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory("graft_sortedscan").resolve("src")
    spark.range(rows).select(((col("id") * 7919) % rows).as("ts"), col("id").as("v"))
      .repartition(4).write.parquet(dir.toString)
    spark.read.parquet(dir.toString)
  }

  private val gateOff = Map("spark.graft.adaptive.smallPlanBytes" -> "0")

  /** Scan `source` by `ts` with an identity pass; also returns the length
    * of the summary array `pass` got (-1: not called).
    */
  private def scan(df: DataFrame = source): (DataFrame, Int) = {
    var got = -1
    val out = SortedScan(df, Seq(col("ts")), "sortedScanSpec")(_.size) { summaries =>
      got = summaries.length
      (_, it) => it
    }
    (out, got)
  }

  private def sortedRows: Seq[Row] = source.orderBy("ts").collect().toSeq

  // the one job is the first action's: building the frame runs none
  test("input under the coalescing floor: one job, and the source is scanned once") {
    withConf(Map("spark.sql.adaptive.enabled" -> "true")) {
      assert(AdaptiveGate.coalescesToOne(source))
      val ((out, summaries), jobs, _) = jobsAndInputRecords(scan())
      assert(jobs == 0, "the sort's map stage runs in the first action's job")
      assert(summaries == 0)
      val (collected, actionJobs, actionRead) = jobsAndInputRecords(out.collect().toSeq)
      assert(collected == sortedRows)
      assert(actionJobs == 1 && actionRead == rows, "one job: the map stage and the result stage")
      val (sizes, againJobs, againRead) = jobsAndInputRecords(partitionSizes(out))
      assert(sizes == Seq(rows))
      assert(againJobs == 1 && againRead == 0, "a later action reads the shuffle, not the source")
    }
  }

  /** Scan `source` by `ts` emitted as slices of the key range: slice `i`
    * of `k` keeps the rows with keys in `[lo + i·n/k, lo + (i+1)·n/k)`,
    * from the observed extent `[lo, lo + n)`.
    */
  private def sliced(df: DataFrame = source): DataFrame =
    SortedScan(df, Seq(col("ts")), "sortedScanSpec", slicing = Some(SortedScan.Slicing(
        Seq(min(col("ts")), max(col("ts"))), { (extent, k) =>
      val (lo, n) = (extent.getLong(0), extent.getLong(1) - extent.getLong(0) + 1)
      Seq.tabulate(k)(i => (it: Iterator[InternalRow]) => it.filter { r =>
        val t = r.getLong(0) - lo
        t >= n * i / k && t < n * (i + 1) / k
      })
    })))(_ => ())(_ => (_, it) => it)

  test("sliced, under the coalescing floor: one map stage, and the slices read only the shuffle") {
    withConf(Map("spark.sql.adaptive.enabled" -> "true")) {
      val (out, jobs, read) = jobsAndInputRecords(sliced())
      assert(jobs == 1, "the shuffle map stage only")
      assert(read == rows, "the source is scanned once")
      val k = spark.sparkContext.defaultParallelism
      assert(k > 1 && partitionSizes(out) == Seq.fill(k)(rows / k))
      val (collected, actionJobs, actionRead) = jobsAndInputRecords(out.collect().toSeq)
      assert(collected == sortedRows)
      assert(actionJobs == 1 && actionRead == 0, "the slices read the shuffle, not the source")
      import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
      out.queryExecution.analyzed match {
        case l: org.apache.spark.sql.execution.LogicalRDD =>
          assert(l.outputPartitioning == RangePartitioning(l.outputOrdering, k))
        case p => fail(s"expected a LogicalRDD leaf, got ${p.nodeName}")
      }
      val plan = out.orderBy("ts").queryExecution.executedPlan
      assert(collect(plan) { case e: ShuffleExchangeExec => e }.isEmpty, plan.toString)
      assert(collect(plan) { case s: SortExec => s }.isEmpty, plan.toString)
    }
  }

  test("sliced: a sort at the input's top is dropped, as under a plain repartition") {
    withConf(Map("spark.sql.adaptive.enabled" -> "true")) {
      val ordered = source.orderBy(col("ts").desc).filter(col("v") >= 0)
      assert(AdaptiveGate.coalescesToOne(ordered))
      val (out, jobs, read) = jobsAndInputRecords(sliced(ordered))
      assert(jobs == 1, "the shuffle map stage only: no range sampling for the input's sort")
      assert(read == rows)
      assert(out.collect().toSeq == sortedRows)
    }
  }

  test("slicing leaves the range sort as it is") {
    withConf(gateOff ++ Map("spark.sql.adaptive.enabled" -> "true",
        "spark.sql.shuffle.partitions" -> "8",
        "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "1")) {
      val (out, jobs, _) = jobsAndInputRecords(sliced())
      assert(jobs == 3)
      assert(partitionSizes(out).count(_ > 0) > 1, "the range sort's partitions, not slices")
      assert(out.collect().toSeq == sortedRows)
    }
  }

  test("gate off: range sampling, shuffle map stage and summary job") {
    withConf(gateOff ++ Map("spark.sql.adaptive.enabled" -> "true",
        "spark.sql.shuffle.partitions" -> "8",
        "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "1")) {
      assert(!AdaptiveGate.gated(source))
      val ((out, summaries), jobs, read) = jobsAndInputRecords(scan())
      assert(jobs == 3)
      assert(read == 2 * rows, "the sampling job scans the source too")
      val sizes = partitionSizes(out)
      assert(sizes.length > 1 && summaries == sizes.length)
      assert(out.collect().toSeq == sortedRows)
    }
  }

  test("gated, but above the coalescing floor: the range sort keeps its partitions") {
    withConf(Map("spark.sql.adaptive.enabled" -> "true", "spark.sql.shuffle.partitions" -> "8",
        "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "1024")) {
      assert(AdaptiveGate.gated(source) && !AdaptiveGate.coalescesToOne(source))
      val ((out, summaries), jobs, read) = jobsAndInputRecords(scan())
      assert(jobs == 3)
      assert(read == 2 * rows)
      val sizes = partitionSizes(out)
      assert(sizes.length > 1 && summaries == sizes.length)
      assert(out.collect().toSeq == sortedRows)
    }
  }

  test("the coalescing floor follows the coalescing confs") {
    val on = Map("spark.sql.adaptive.enabled" -> "true")
    // one partition aimed for: the floor is the advisory size
    withConf(on + ("spark.sql.adaptive.coalescePartitions.parallelismFirst" -> "false")) {
      assert(AdaptiveGate.coalescesToOne(source))
    }
    withConf(on ++ Map("spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "1024",
        "spark.sql.adaptive.coalescePartitions.minPartitionNum" -> "1")) {
      assert(AdaptiveGate.coalescesToOne(source))
    }
    withConf(on + ("spark.sql.adaptive.coalescePartitions.enabled" -> "false")) {
      assert(AdaptiveGate.gated(source) && !AdaptiveGate.coalescesToOne(source))
    }
  }

  test("an adaptively coalesced one-partition range sort runs no summary job") {
    withConf(gateOff ++ Map("spark.sql.adaptive.enabled" -> "true",
        "spark.sql.shuffle.partitions" -> "8")) {
      val ((out, summaries), jobs, _) = jobsAndInputRecords(scan())
      assert(jobs == 2, "range sampling and the shuffle map stage")
      assert(summaries == 0)
      assert(partitionSizes(out) == Seq(rows))
      assert(out.collect().toSeq == sortedRows)
    }
  }

  test("adaptive execution off: the gate is off") {
    withConf(aqeOff) {
      assert(!AdaptiveGate.gated(source) && !AdaptiveGate.coalescesToOne(source))
      val ((out, summaries), jobs, _) = jobsAndInputRecords(scan())
      assert(jobs == 2, "range sampling and the summary job")
      assert(summaries == partitionSizes(out).length && summaries > 1)
    }
  }

  inBothModes("rows in order; a later orderBy on the same keys plans no exchange and no sort") {
    val (out, summaries) = scan()
    assert(summaries == (if (gatedMode) 0 else partitionSizes(out).length))
    val sorted = out.orderBy("ts")
    assert(sorted.collect().toSeq == sortedRows)
    val plan = sorted.queryExecution.executedPlan
    assert(collect(plan) { case e: ShuffleExchangeExec => e }.isEmpty, plan.toString)
    assert(collect(plan) { case s: SortExec => s }.isEmpty, plan.toString)
  }

  inBothModes("empty input: no rows, same schema") {
    val (out, _) = scan(source.filter(col("ts") < 0))
    assert(out.collect().isEmpty)
    assert(out.schema == source.schema)
  }

  test("a one-partition sort declares one range partition") {
    withConf(Map("spark.sql.adaptive.enabled" -> "true")) {
      val (out, _) = scan()
      import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
      out.queryExecution.analyzed match {
        case l: org.apache.spark.sql.execution.LogicalRDD =>
          assert(l.outputPartitioning.isInstanceOf[RangePartitioning])
          assert(l.outputPartitioning.numPartitions == 1)
        case p => fail(s"expected a LogicalRDD leaf, got ${p.nodeName}")
      }
    }
  }
}

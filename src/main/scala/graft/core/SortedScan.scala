package graft.core

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.GraftExecution
import org.apache.spark.sql.graftbridge.Bridge

import scala.reflect.ClassTag

/** One sequential pass over a globally sorted frame, run on the partitions
  * of one sort: the shape of the reference's loops over the merged stream,
  * which carry state from one chunk into the next (`last_row_vals`,
  * core.py:1043-1071; `BatchEveryIntervalHandler`, classes.py:589-637).
  *
  * The sort runs once. An input small enough that adaptive execution would
  * coalesce a range sort of it into one partition
  * ([[AdaptiveGate.coalescesToOne]]) is sorted as one partition
  * (`df.repartition(1).sortWithinPartitions(order)`); any other input is
  * range-sorted with `df.orderBy(order)`. When the sort has more than one
  * partition, one job returns `summarize` of each; `pass` folds the
  * summaries on the driver and returns what partition `p` emits from its
  * rows, lazily, in the result's actions. A sort that ends up with one
  * partition (the one-partition sort, or a range sort that adaptive
  * execution coalesced into one) runs no summary job: `pass` gets an empty
  * array and its one partition takes what it needs from its own rows.
  *
  * With a [[Slicing]], the sort's map stage also observes its `extent`
  * aggregates over the input, and the one-partition sort may be emitted as
  * up to k ordered slices instead, k the default parallelism, so the
  * result's actions run on several cores: each slice re-reads the sort's
  * one partition and keeps its own part. The sort's shuffle is then read
  * once per slice; the path runs only under the coalescing floor, where
  * that is small.
  *
  * The rows emitted must have `df`'s columns, in `order`; the result
  * declares the sort's range partitioning and ordering, so a later `orderBy`
  * on the same keys is free, and declares the columns in `nullable`
  * nullable.
  *
  * Jobs: none for an unsliced one-partition sort. One partition has no
  * carry from an earlier one, so nothing needs to run before the result is
  * read: its physical plan is prepared without adaptive execution
  * (`GraftExecution.staticRows`), and the sort's shuffle map stage, which
  * scans the input once, runs as the first stage of the result's first
  * action; later actions read its shuffle output. Otherwise, run as one SQL
  * execution `name`: for a sliced one-partition sort, the shuffle map stage
  * under adaptive execution, which observes the extent; for a range sort,
  * its range sampling, its shuffle map stage under adaptive execution, and
  * the summary job unless one partition is left.
  */
object SortedScan {

  /** Emit a one-partition sort as ordered slices. `extent` are aggregates
    * over every input row, observed in the sort's map stage;
    * `slices(extent, k)` returns, for each of at most k slices, what it
    * emits from all the sorted rows, slice `i`'s rows ordering after slice
    * `i - 1`'s. With fewer than two the sort stays one partition, and
    * `pass` runs on it.
    */
  final case class Slicing(
      extent: Seq[Column],
      slices: (Row, Int) => Seq[Iterator[InternalRow] => Iterator[InternalRow]])

  def apply[S: ClassTag](
      df: DataFrame,
      order: Seq[Column],
      name: String,
      nullable: Seq[String] = Nil,
      slicing: Option[Slicing] = None)(
      summarize: Iterator[InternalRow] => S)(
      pass: Array[S] => (Int, Iterator[InternalRow]) => Iterator[InternalRow]): DataFrame = {
    val oneSort = AdaptiveGate.coalescesToOne(df)
    val sliced = slicing.filter(_ => oneSort)
    // a unique name: the input may hold other scans' observations
    val observation = s"$name.extent.${java.util.UUID.randomUUID}"
    val sorted =
      if (oneSort) sliced.fold(df)(s => Bridge.observeUnsorted(df, observation, s.extent))
        .repartition(1).sortWithinPartitions(order: _*)
      else df.orderBy(order: _*)
    val (rows, summaries) =
      // one partition, no carry to fold: nothing to run before the result's
      // first action, whose job runs the sort's map stage
      if (oneSort && sliced.isEmpty) (GraftExecution.staticRows(sorted), Array.empty[S])
      else Bridge.withSqlExecution(sorted, name) {
        val rows = sorted.queryExecution.toRdd
        (rows,
          if (rows.getNumPartitions <= 1) Array.empty[S]
          else rows.mapPartitions(it => Iterator.single(summarize(it))).collect())
      }
    // a sliced sort's map stage has run (under adaptive execution); an input
    // the optimizer found empty observes nothing
    val slices = sliced.toSeq.flatMap(s =>
      sorted.queryExecution.observedMetrics.get(observation).toSeq
        .flatMap(s.slices(_, rows.sparkContext.defaultParallelism)))
    val out =
      if (slices.length > 1) rows.sparkContext.union(slices.map(f => rows.mapPartitions(f)))
      else rows.mapPartitionsWithIndex(pass(summaries), preservesPartitioning = true)
    Bridge.sortedFrame(sorted, out, nullable)
  }
}

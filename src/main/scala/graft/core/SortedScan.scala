package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
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
  * array and its one partition takes what it needs from its own rows. The
  * rows emitted must have `df`'s columns, in `order`; the result declares
  * the sort's partitioning and ordering, so a later `orderBy` on the same
  * keys is free, and declares the columns in `nullable` nullable.
  *
  * Jobs, run as one SQL execution `name`: for a one-partition sort, the
  * shuffle map stage under adaptive execution, which scans the input once;
  * otherwise the sort's range sampling, its shuffle map stage under
  * adaptive execution, and the summary job unless one partition is left.
  */
object SortedScan {

  def apply[S: ClassTag](
      df: DataFrame,
      order: Seq[Column],
      name: String,
      nullable: Seq[String] = Nil)(
      summarize: Iterator[InternalRow] => S)(
      pass: Array[S] => (Int, Iterator[InternalRow]) => Iterator[InternalRow]): DataFrame = {
    val sorted =
      if (AdaptiveGate.coalescesToOne(df)) df.repartition(1).sortWithinPartitions(order: _*)
      else df.orderBy(order: _*)
    val (rows, summaries) = Bridge.withSqlExecution(sorted, name) {
      val rows = sorted.queryExecution.toRdd
      (rows,
        if (rows.getNumPartitions <= 1) Array.empty[S]
        else rows.mapPartitions(it => Iterator.single(summarize(it))).collect())
    }
    Bridge.sortedFrame(sorted,
      rows.mapPartitionsWithIndex(pass(summaries), preservesPartitioning = true), nullable)
  }
}

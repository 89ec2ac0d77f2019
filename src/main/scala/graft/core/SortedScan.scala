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
  * `df.orderBy(order)` runs once. One job returns `summarize` of each of its
  * range partitions; `pass` folds the summaries on the driver and returns
  * what partition `p` emits from its rows, lazily, in the result's actions.
  * Both read the sort's shuffle output. The rows emitted must have `df`'s
  * columns, in `order`; the result declares the sort's partitioning and
  * ordering, so a later `orderBy` on the same keys is free, and declares the
  * columns in `nullable` nullable. Jobs, run as one SQL execution `name`:
  * the sort's range sampling, its shuffle map stage under adaptive
  * execution, and the summary job.
  */
object SortedScan {

  def apply[S: ClassTag](
      df: DataFrame,
      order: Seq[Column],
      name: String,
      nullable: Seq[String] = Nil)(
      summarize: Iterator[InternalRow] => S)(
      pass: Array[S] => (Int, Iterator[InternalRow]) => Iterator[InternalRow]): DataFrame = {
    val sorted = df.orderBy(order: _*)
    val (rows, summaries) = Bridge.withSqlExecution(sorted, name) {
      val rows = sorted.queryExecution.toRdd
      (rows, rows.mapPartitions(it => Iterator.single(summarize(it))).collect())
    }
    Bridge.sortedFrame(sorted,
      rows.mapPartitionsWithIndex(pass(summaries), preservesPartitioning = true), nullable)
  }
}

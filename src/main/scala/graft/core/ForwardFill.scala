package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DataType

/** Forward fill: replace nulls with the most recent non-null value in event
  * order (W1, reference `_forward_fill_dataframe` core.py:1034-1072).
  *
  * Two implementations:
  *
  *  - [[global]]: one `last(col, ignoreNulls).over(orderBy...)` window. Exact
  *    and simple, but an unpartitioned window sorts everything into a single
  *    task. It stays as the oracle the specs compare [[partitioned]] against.
  *
  *  - [[partitioned]]: the reference's chunk seeding (`last_row_vals`,
  *    core.py:1043-1071), where the chunks are the range partitions of one
  *    [[SortedScan]]: each starts from the last non-null values before it.
  */
object ForwardFill {

  /** Simple global-window forward fill over a total order. `orderCols` must
    * define a total order (include tiebreakers) or results are
    * nondeterministic.
    */
  def global(df: DataFrame, fillCols: Seq[String], orderCols: Seq[Column]): DataFrame = {
    val w = Window.orderBy(orderCols: _*).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    fillCols.foldLeft(df) { (d, c) =>
      d.withColumn(c, last(col(c), ignoreNulls = true).over(w))
    }
  }

  /** The last non-null value seen per fill column, in one partition's row
    * order. Values are copied with `InternalRow.copyValue`: strings, structs,
    * arrays and maps read from a sorted row point into buffers the next row
    * reuses.
    */
  private final class Carry(ordinals: Array[Int], types: Array[DataType],
      val values: Array[Any]) {

    /** Take `row`'s non-null fill values; true iff one of its nulls can be
      * filled from the carry.
      */
    def absorb(row: InternalRow): Boolean = {
      var fillable = false
      var j = 0
      while (j < ordinals.length) {
        val i = ordinals(j)
        if (!row.isNullAt(i)) values(j) = InternalRow.copyValue(row.get(i, types(j)))
        else if (values(j) != null) fillable = true
        j += 1
      }
      fillable
    }

    /** `row` with its fill-column nulls replaced from the carry, written into
      * `out` (reused: the scan above projects each row before the next).
      */
    def patch(row: InternalRow, all: Array[DataType], out: GenericInternalRow): InternalRow = {
      var i = 0
      while (i < all.length) {
        out.update(i, if (row.isNullAt(i)) null else row.get(i, all(i)))
        i += 1
      }
      var j = 0
      while (j < ordinals.length) {
        if (row.isNullAt(ordinals(j))) out.update(ordinals(j), values(j))
        j += 1
      }
      out
    }
  }

  /** Scalable forward fill over the total order `orderCol` then `tieCols`
    * (ascending, nulls first, the order [[global]] uses), as a
    * [[SortedScan]]. The result has `df`'s columns.
    *
    * Jobs: the [[SortedScan]]'s. An input that adaptive execution would
    * coalesce into one partition is sorted as one partition whose fill
    * starts from no carry: no job runs while the result is built, and the
    * sort's map stage runs inside the result's first action. It stays one
    * partition (not sliced: a `toLocalIterator` over it, as in
    * [[graft.ops.Replay]], runs one job per partition). A range sort runs
    * its jobs while the result is built; its summary job returns at most
    * one row per partition. The fill itself runs lazily in the result's
    * actions.
    */
  def partitioned(
      df: DataFrame,
      fillCols: Seq[String],
      orderCol: String,
      tieCols: Seq[Column] = Nil): DataFrame = {
    val all = df.schema.fields.map(_.dataType)
    val ordinals = fillCols.map(df.schema.fieldIndex).toArray
    val types = ordinals.map(all(_))
    val empty = () => new Array[Any](ordinals.length)

    SortedScan(df, col(orderCol) +: tieCols, "forwardFill") { it =>
      // the partition's last non-null values
      val c = new Carry(ordinals, types, empty())
      it.foreach(c.absorb)
      c.values
    } { lasts =>
      // partition p starts from the last non-null values of partitions < p
      val carryIn = lasts.scanLeft(empty()) { (in, last) =>
        in.indices.map(j => if (last(j) != null) last(j) else in(j)).toArray
      }
      (p, it) => {
        val c = new Carry(ordinals, types, carryIn(p).clone())
        val out = new GenericInternalRow(all.length)
        it.map(r => if (c.absorb(r)) c.patch(r, all, out) else r)
      }
    }
  }
}

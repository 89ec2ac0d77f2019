package graft.sources

import org.apache.parquet.column.statistics.LongStatistics
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.schema.LogicalTypeAnnotation.{IntLogicalTypeAnnotation, TimeUnit, TimestampLogicalTypeAnnotation}
import org.apache.parquet.schema.PrimitiveType
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.types.{DataType, LongType, TimestampNTZType, TimestampType}

import java.time.{Instant, ZoneId}
import scala.jdk.CollectionConverters._

/** A closed interval of epoch-ms event times; `Long.MinValue` and
  * `Long.MaxValue` leave an end open.
  */
private[graft] final case class Span(lo: Long, hi: Long) {
  def meets(o: Span): Boolean = lo <= o.hi && o.lo <= hi
}

private[graft] object Span {
  val All: Span = Span(Long.MinValue, Long.MaxValue)
}

/** The event times a source file can hold, read on the driver from file
  * metadata: the reference's out-of-window file and source dropping
  * (`_remove_out_of_bounds_data_infos`, core.py:145-213, and
  * `_filter_data_sources`, core.py:790-810). Every span is in the epoch
  * milliseconds that `Fuser`'s normalization gives the column, so a file
  * whose spans all miss the fuse window holds no row the window keeps.
  */
private[graft] object FileSpans {

  /** A parquet file's row-group spans from the min/max statistics of its raw
    * timestamp column `tsCol`, which the loaded frame reads as `readType`
    * (the file's own inferred type must be the same). `None` when the spans
    * are unknown: no statistics, or a stored type whose conversion to
    * epoch ms is not mapped here. A file with no non-empty row group has no
    * spans.
    */
  def parquet(footer: ParquetMetadata, tsCol: String, readType: DataType, zone: ZoneId)
      : Option[Seq[Span]] = {
    val stored = footer.getFileMetaData.getSchema.getFields.asScala
      .find(_.getName == tsCol).filter(_.isPrimitive).map(_.asPrimitiveType)
    stored.flatMap(toMillis(_, readType, zone)).flatMap { convert =>
      val spans = footer.getBlocks.asScala.toSeq.filter(_.getRowCount > 0).map { block =>
        block.getColumns.asScala.find(_.getPath.toArray.sameElements(Array(tsCol)))
          .map(_.getStatistics).collect {
            case s: LongStatistics if s.hasNonNullValue => convert(Span(s.getMin, s.getMax))
          }
      }
      if (spans.forall(_.isDefined)) Some(spans.flatten) else None
    }
  }

  /** The epoch-ms span of a span of raw stored values, matching `Fuser`'s
    * normalization: a `Long` column is used as is, a timestamp goes through
    * `unix_millis` (a floor to ms), and a `TIMESTAMP_NTZ` is first cast to a
    * timestamp in the session time zone, which moves it by that zone's
    * offset (any offset up to ±18 h unless the zone is fixed).
    */
  private def toMillis(t: PrimitiveType, readType: DataType, zone: ZoneId): Option[Span => Span] =
    if (t.getPrimitiveTypeName != PrimitiveTypeName.INT64) None
    else (readType, t.getLogicalTypeAnnotation) match {
      case (LongType, null) => Some(identity)
      case (LongType, i: IntLogicalTypeAnnotation) if i.isSigned => Some(identity)
      // TIMESTAMP(NANOS) loads as its raw Long under the nanos-as-long conf
      case (LongType, ts: TimestampLogicalTypeAnnotation) if ts.getUnit == TimeUnit.NANOS =>
        Some(identity)
      case (TimestampType, ts: TimestampLogicalTypeAnnotation) => Some(floorToMillis(ts.getUnit))
      case (TimestampNTZType, ts: TimestampLogicalTypeAnnotation) =>
        val rules = zone.getRules
        val (minOff, maxOff) =
          if (rules.isFixedOffset) {
            val o = rules.getOffset(Instant.EPOCH).getTotalSeconds * 1000L
            (o, o)
          } else (-MaxOffsetMs, MaxOffsetMs)
        val floor = floorToMillis(ts.getUnit)
        Some { raw =>
          val local = floor(raw)
          Span(minus(local.lo, maxOff), minus(local.hi, minOff))
        }
      case _ => None
    }

  private val MaxOffsetMs = 18L * 3600 * 1000

  private def floorToMillis(unit: TimeUnit): Span => Span = {
    val per = unit match {
      case TimeUnit.MILLIS => 1L
      case TimeUnit.MICROS => 1000L
      case TimeUnit.NANOS  => 1000000L
    }
    s => Span(Math.floorDiv(s.lo, per), Math.floorDiv(s.hi, per))
  }

  /** `x - d`, held at the ends of the `Long` range. */
  private def minus(x: Long, d: Long): Long =
    try Math.subtractExact(x, d)
    catch { case _: ArithmeticException => if (d > 0) Long.MinValue else Long.MaxValue }

  /** Spans of CSV files in `fileSortRegex` order from each file's first
    * data-row event time (`None` when that row gives none). Under the
    * chronological contract of [[SourceSpec.fileSortRegex]], file `i` holds
    * times from its own first row to the first row of the next file that
    * has one, both inclusive: a row equal to the next file's first row may
    * still sit at the end of file `i`. A file without a first time opens its
    * lower end; the last file has no upper end.
    */
  def csv(firsts: Seq[Option[Long]]): Seq[Span] = {
    // nextKnown(i): the first known time at index >= i
    val nextKnown = firsts.scanRight(Long.MaxValue)((f, later) => f.getOrElse(later))
    firsts.indices.map(i => Span(firsts(i).getOrElse(Long.MinValue), nextKnown(i + 1)))
  }

  /** The `Long` that Spark's CSV parser reads from field `idx` of a
    * `width`-field comma-separated `line`, or `None` when the driver cannot
    * tell exactly: a quoted line, a field count other than `width`, or a
    * field that is not a plain `Long` (PERMISSIVE mode reads it as null).
    */
  def csvLong(line: String, idx: Int, width: Int): Option[Long] =
    if (line.contains('"')) None
    else {
      val fields = line.split(",", -1)
      if (fields.length != width) None
      else scala.util.Try(fields(idx).toLong).toOption
    }
}

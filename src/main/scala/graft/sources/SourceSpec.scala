package graft.sources

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.types.StructType

/** Descriptor of one logical file source (a directory of same-schema files).
  *
  * Analog of the reference's `DataInfo` (classes.py:26-61): path + format +
  * declared schema + timestamp-column config + per-source transforms. In
  * Spark the whole directory is a single scan; per-file ordering and chunking
  * are Spark's concern (partition planning), not the user's.
  *
  * @param path             directory or glob of data files (csv/csv.gz/parquet)
  * @param format           "csv" or "parquet"
  * @param descriptor       human-readable source name (used in collision renames)
  * @param timestampCol     name of the event-time column in the files
  * @param schema           optional explicit schema (by-name). When absent for
  *                         CSV, schema inference is used (with the reference's
  *                         warning semantics, classes.py:137-143)
  * @param positionalTypes  optional positional type list zipped against the
  *                         header row, mirroring the reference's list-form
  *                         `datatypes` (classes.py:125-131)
  * @param hasHeader        CSV header presence
  * @param removeCols       columns dropped right after load (P1)
  * @param tsConvert        optional expression rewriting the timestamp column
  *                         to epoch-ms Long; the original column is preserved
  *                         as `__<timestampCol>` (reference core.py:942-945)
  * @param secondarySortCol optional per-source monotone id used as sort
  *                         tiebreaker (reference `secondary_sort_col`)
  * @param forceSchema      for parquet: cast columns to the declared schema
  *                         (reference datasources.py:364,394-395)
  * @param numRows          optional PER-FILE row cap applied at load (each
  *                         file contributes its first `numRows` rows) — the
  *                         reference's `num_rows` probe/sampling knob
  *                         (datasources.py:230,369)
  * @param fileSortRegex    optional regex ordering the source's files
  *                         chronologically by an extracted integer (reference
  *                         `file_sort_regex`, datasources.py:189-212); used
  *                         for the deterministic row-id's file order. Files
  *                         without a match are skipped, like the reference.
  *                         Setting it states the reference's chronological
  *                         contract: in this order each file's rows start at
  *                         its first data row and end at or before the next
  *                         file's first row. A windowed `Fuser.fuse` relies
  *                         on it to skip CSV files by their first rows.
  * @param fileSortIdx      which regex match within the filename is the sort
  *                         key (reference `file_sort_idx`)
  */
case class SourceSpec(
    path: String,
    format: String = "parquet",
    descriptor: String,
    timestampCol: String,
    schema: Option[StructType] = None,
    positionalTypes: Option[Seq[org.apache.spark.sql.types.DataType]] = None,
    hasHeader: Boolean = true,
    removeCols: Seq[String] = Nil,
    tsConvert: Option[Column => Column] = None,
    secondarySortCol: Option[String] = None,
    forceSchema: Boolean = false,
    numRows: Option[Int] = None,
    fileSortRegex: Option[String] = None,
    fileSortIdx: Int = 0)

/** A source already materialized as a DataFrame — the Spark-idiomatic core
  * input. `SourceSpec`s are loaded into `FrameSource`s; users composing
  * DataFrames directly (e.g. a filtered sub-stream) can skip the file layer.
  */
case class FrameSource(
    df: DataFrame,
    descriptor: String,
    timestampCol: String,
    tsConvert: Option[Column => Column] = None,
    removeCols: Seq[String] = Nil,
    renameCols: Map[String, String] = Map.empty,
    secondarySortCol: Option[String] = None)

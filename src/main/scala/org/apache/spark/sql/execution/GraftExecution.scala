package org.apache.spark.sql.execution

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.CaseInsensitiveMap
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.datasources.{DataSourceUtils, FileFormat, FileIndex,
  HadoopFsRelation, LogicalRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.csv.CSVFileFormat
import org.apache.spark.sql.execution.datasources.json.JsonFileFormat
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.SchemaUtils

/** Execution-package members graft plans with: a physical plan prepared
  * without adaptive execution, and a file scan over files the driver has
  * already listed.
  *
  * `QueryExecution.preparations` and `prepareForExecution` are
  * `private[execution]`, so this one-file shim sits in their package, as
  * `GraftFooters` does in the parquet package and `graftbridge.Bridge` for
  * `private[sql]` members.
  */
object GraftExecution {

  /** The rows of `df`'s physical plan, prepared as with adaptive execution
    * off: no query stage runs now, and every exchange of the plan runs as a
    * stage of the first job that reads the result. Later jobs over the same
    * RDD reuse its shuffle output. Nothing is set on the session.
    */
  def staticRows(df: DataFrame): RDD[InternalRow] = {
    val session = df.sparkSession.asInstanceOf[classic.SparkSession]
    session.withActive {
      QueryExecution.prepareForExecution(
        QueryExecution.preparations(session, None, subquery = false),
        df.queryExecution.sparkPlan.clone()).execute()
    }
  }

  /** A file index over files listed on the driver, with no partition
    * columns. It reports what `InMemoryFileIndex` reports for the same
    * files given as paths: `inputFiles` in `getPath.toUri.toString` form,
    * `sizeInBytes` the sum of their lengths; and like it, it reads neither
    * empty files nor files whose names start with `.` or `_` (but `=`).
    * It never lists again: a file removed since the listing fails the scan
    * that opens it.
    */
  final class ListedFileIndex(files: Seq[FileStatus]) extends FileIndex {
    override def rootPaths: Seq[Path] = files.map(_.getPath)

    override def listFiles(
        partitionFilters: Seq[Expression], dataFilters: Seq[Expression]): Seq[PartitionDirectory] =
      Seq(PartitionDirectory(InternalRow.empty, files.filter(isData).toArray))

    override def inputFiles: Array[String] = files.map(_.getPath.toUri.toString).toArray

    override def refresh(): Unit = ()

    override def sizeInBytes: Long = files.map(_.getLen).sum

    override def partitionSchema: StructType = new StructType()

    private def isData(f: FileStatus): Boolean = {
      val name = f.getPath.getName
      f.getLen > 0 && !((name.startsWith("_") && !name.contains("=")) || name.startsWith("."))
    }
  }

  /** One scan of `files` in `format` ("parquet", "csv" or "json") with the
    * read schema `schema` and the reader `options`: the relation
    * `spark.read.format(format).schema(schema).options(options).load(paths)`
    * resolves to, built without the data source lookup, the path checks
    * and the listing. The reader's schema checks run as they do there.
    */
  def fileScan(
      spark: SparkSession,
      format: String,
      files: Seq[FileStatus],
      schema: StructType,
      options: Map[String, String]): DataFrame = {
    val session = spark.asInstanceOf[classic.SparkSession]
    val fileFormat: FileFormat = format match {
      case "parquet" => new ParquetFileFormat
      case "csv"     => new CSVFileFormat
      case "json"    => new JsonFileFormat
      case other     => throw new IllegalArgumentException(s"no file format named $other")
    }
    SchemaUtils.checkSchemaColumnNameDuplication(schema, session.sessionState.conf.resolver)
    DataSourceUtils.verifySchema(fileFormat, schema)
    val relation = HadoopFsRelation(new ListedFileIndex(files), new StructType(), schema.asNullable,
      None, fileFormat, CaseInsensitiveMap(options))(session)
    classic.Dataset.ofRows(session, LogicalRelation(relation))
  }
}

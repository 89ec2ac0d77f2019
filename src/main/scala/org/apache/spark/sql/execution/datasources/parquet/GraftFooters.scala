package org.apache.spark.sql.execution.datasources.parquet

import org.apache.hadoop.fs.Path
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.errors.{QueryCompilationErrors, QueryExecutionErrors}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.ThreadUtils

import java.io.IOException

/** Driver-side parquet footers, read the way Spark's schema inference reads
  * them but with no Spark job.
  *
  * `spark.read.parquet(files)` infers its schema in a Spark job
  * (`SchemaMergeUtils.mergeSchemasInParallel`). The pieces that job runs are
  * `private[parquet]`, so this one-file shim sits in their package, as
  * `graftbridge.Bridge` does for `private[sql]` members. Footers are read
  * with their row groups (Spark's own inference skips them), so the same
  * read also serves the row-group statistics that file pruning needs.
  */
object GraftFooters {

  /** The footers of `files`, row groups included, read on up to 8 driver
    * threads. A footer that cannot be read is `None` under
    * `spark.sql.files.ignoreCorruptFiles` and an error otherwise, as in
    * `ParquetFileFormat.readParquetFootersInParallel`.
    */
  def read(spark: SparkSession, files: Seq[String]): Seq[Option[ParquetMetadata]] = {
    val conf = session(spark).sessionState.newHadoopConf()
    val ignoreCorrupt = sqlConf(spark).ignoreCorruptFiles
    ThreadUtils.parmap(files, "graftParquetFooters", 8) { f =>
      val path = new Path(f)
      try Some(ParquetFooterReader.readFooter(
        HadoopInputFile.fromPath(path, conf), ParquetMetadataConverter.NO_FILTER))
      catch {
        case e: RuntimeException => if (ignoreCorrupt) None else throw unreadable(path, e)
        case e: IOException      => if (ignoreCorrupt) None else throw unreadable(path, e)
      }
    }
  }

  private def unreadable(path: Path, e: Exception): Throwable =
    QueryExecutionErrors.cannotReadFooterForFileError(path, e)

  /** The files whose footers `spark.read.parquet(files)` infers its
    * schema from: the first in path order, or, under
    * `spark.sql.parquet.mergeSchema`, every file in path order.
    */
  def schemaFiles(spark: SparkSession, files: Seq[String]): Seq[String] = {
    val byPath = files.sorted
    if (sqlConf(spark).isParquetSchemaMergingEnabled) byPath else byPath.take(1)
  }

  /** The schema inferred from the footers of [[schemaFiles]] (`file ->
    * footer`, in that order), merged as inference merges them. Unreadable
    * footers (`None`) are skipped.
    */
  def inferSchema(spark: SparkSession, footers: Seq[(String, Option[ParquetMetadata])]): StructType =
    footers.flatMap { case (f, m) => m.map(fileSchema(spark, f, _)) }
      .reduceOption(_.merge(_, sqlConf(spark).caseSensitiveAnalysis))
      .getOrElse(throw QueryCompilationErrors.dataSchemaNotSpecifiedError("Parquet"))

  /** One file's schema as inference reads it: the Spark schema stored in its
    * metadata when present, else its parquet schema under the session's
    * conversion confs.
    */
  def fileSchema(spark: SparkSession, file: String, footer: ParquetMetadata): StructType =
    ParquetFileFormat.readSchema(Seq(new Footer(new Path(file), footer)), spark).get

  private def session(spark: SparkSession) =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]

  private def sqlConf(spark: SparkSession): SQLConf = session(spark).sessionState.conf
}

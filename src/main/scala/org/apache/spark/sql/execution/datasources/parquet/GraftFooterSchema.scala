package org.apache.spark.sql.execution.datasources.parquet

import org.apache.hadoop.fs.FileStatus
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.internal.SessionStateHelper
import org.apache.spark.sql.types.StructType

/** Bridge to Spark's `private[parquet]` footer-to-schema conversion, so a
  * caller can derive the schema Parquet inference would give without
  * running inference's one-task footer job (`graft.core.Fs.readParquet`).
  */
object GraftFooterSchema {

  /** Whether a read with these options merges the schemas of all files
    * (the `mergeSchema` option, else `spark.sql.parquet.mergeSchema`).
    */
  def mergeRequested(spark: SparkSession, options: Map[String, String])
      : Boolean =
    new ParquetOptions(options, SessionStateHelper.getSqlConf(spark))
      .mergeSchema

  /** The schema inference derives from one file's footer, read on the
    * calling thread, made nullable as a file relation's data schema is.
    * The converter takes the same session flags
    * `ParquetFileFormat.mergeSchemasInParallel` passes (binary-as-string,
    * INT96, NTZ inference, `nanosAsLong`, unknown type annotations), and
    * `readSchemaFromFooter` prefers the Spark schema stored in the footer's
    * row metadata, as inference does.
    */
  def read(spark: SparkSession, file: FileStatus,
      options: Map[String, String]): StructType = {
    val sql = SessionStateHelper.getSqlConf(spark)
    val converter = new ParquetToSparkSchemaConverter(
      assumeBinaryIsString = sql.isParquetBinaryAsString,
      assumeInt96IsTimestamp = sql.isParquetINT96AsTimestamp,
      inferTimestampNTZ = sql.parquetInferTimestampNTZEnabled,
      nanosAsLong = sql.legacyParquetNanosAsLong,
      respectUnknownTypeAnnotation =
        sql.parquetReaderRespectUnknownTypeAnnotation)
    val input = HadoopInputFile.fromStatus(file,
      SessionStateHelper.getHadoopConf(spark, options))
    val footer = ParquetFooterReader.readFooter(
      input, ParquetMetadataConverter.SKIP_ROW_GROUPS)
    ParquetFileFormat.readSchemaFromFooter(
      new Footer(file.getPath, footer), converter).asNullable
  }
}

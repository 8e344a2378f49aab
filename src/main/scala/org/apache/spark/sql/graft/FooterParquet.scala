package org.apache.spark.sql.graft

import scala.util.control.NonFatal

import org.apache.hadoop.fs.FileStatus
import org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS
import org.apache.parquet.hadoop.{Footer, ParquetFileWriter}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetOptions, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

/** Parquet whose open runs no Spark job. Spark's parquet source infers a
  * schema with a one-task job (`SchemaMergeUtils.mergeSchemasInParallel`)
  * even when it reads one footer; this format reads that same footer on
  * the driver: `_common_metadata`, else `_metadata`, else the first data
  * file of the listing, converted with the session's converter settings
  * (binary-as-string, INT96, NTZ inference, nanosAsLong, unknown type
  * annotations). With `mergeSchema` every file must be read, and Spark's
  * parallel job suits that, so it runs as before; so does any footer
  * this read cannot take (a corrupt file), which keeps Spark's own error
  * or `ignoreCorruptFiles` handling. Listing, partition discovery,
  * pushdown and the scan are the parent's. */
class FooterParquet extends ParquetFileFormat {
  override def inferSchema(spark: SparkSession, options: Map[String, String],
      files: Seq[FileStatus]): Option[StructType] = {
    val conf = getSqlConf(spark)
    if (new ParquetOptions(options, conf).mergeSchema)
      super.inferSchema(spark, options, files)
    else FooterParquet.schemaSource(files).flatMap { f =>
      try {
        val converter = new ParquetToSparkSchemaConverter(
          assumeBinaryIsString = conf.isParquetBinaryAsString,
          assumeInt96IsTimestamp = conf.isParquetINT96AsTimestamp,
          inferTimestampNTZ = conf.parquetInferTimestampNTZEnabled,
          nanosAsLong = conf.legacyParquetNanosAsLong,
          respectUnknownTypeAnnotation =
            conf.parquetReaderRespectUnknownTypeAnnotation)
        val footer = ParquetFooterReader.readFooter(
          HadoopInputFile.fromStatus(f, getHadoopConf(spark, options)),
          SKIP_ROW_GROUPS)
        Some(ParquetFileFormat.readSchemaFromFooter(
          new Footer(f.getPath, footer), converter))
      } catch {
        case NonFatal(_) => super.inferSchema(spark, options, files)
      }
    }
  }
}

object FooterParquet {
  /** Reads the parquet file or directory at `path`. */
  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.format(classOf[FooterParquet].getName).load(path)

  /** The one file Spark's non-merging inference reads (`ParquetUtils.
    * inferSchema`): the listing in path order, summary files first. */
  private def schemaSource(files: Seq[FileStatus]): Option[FileStatus] = {
    val leaves = files.sortBy(_.getPath.toString)
    def named(n: String) = leaves.find(_.getPath.getName == n)
    named(ParquetFileWriter.PARQUET_COMMON_METADATA_FILE)
      .orElse(named(ParquetFileWriter.PARQUET_METADATA_FILE))
      .orElse(leaves.find { f =>
        val n = f.getPath.getName
        n != ParquetFileWriter.PARQUET_COMMON_METADATA_FILE &&
        n != ParquetFileWriter.PARQUET_METADATA_FILE
      })
  }
}

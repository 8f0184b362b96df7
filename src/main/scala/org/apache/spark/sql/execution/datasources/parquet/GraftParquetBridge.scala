package org.apache.spark.sql.execution.datasources.parquet

import org.apache.hadoop.fs.Path
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.{Footer, ParquetFileWriter}
import org.apache.parquet.hadoop.util.HadoopInputFile

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.InMemoryFileIndex
import org.apache.spark.sql.internal.SessionStateHelper
import org.apache.spark.sql.types.StructType

/** Bridge to the parquet footer-schema readers, which are package-private
  * to Spark's parquet source. `spark.read.parquet(path)` infers its
  * schema through `mergeSchemasInParallel`, a Spark job that reads one
  * footer; [[footerSchema]] reads that same footer on the driver and
  * converts it the same way, so the caller can hand the schema to
  * `spark.read.schema(..)` and no job runs.
  */
object GraftParquetBridge {

  /** The schema `spark.read.parquet(path)` infers with
    * `spark.sql.parquet.inferTimestampNTZ.enabled=false`, or None where
    * that inference is not a one-footer read (schema merging is on, or
    * the path holds no data file) and the caller should let Spark infer.
    *
    * The footer file is picked as `ParquetUtils.inferSchema` picks it
    * without merging: the first `_common_metadata`, else the first
    * `_metadata`, else the first data file, in path order. The converter
    * takes the settings `mergeSchemasInParallel` reads from the session
    * conf and the constructor defaults for the rest, with two
    * exceptions. A TIMESTAMP(isAdjustedToUTC=false) column always
    * converts to TIMESTAMP_LTZ, whatever the session's NTZ-inference
    * setting: the engine standardizes on one timestamp type (session tz
    * pinned UTC; `unix_micros`, watermarks and `window()` require it),
    * and the session is left as the caller set it. `nanosAsLong`, when
    * given, replaces the session's `spark.sql.legacy.parquet.nanosAsLong`
    * (a TIMESTAMP(NANOS) column converts to LONG under it and fails
    * without it). Nothing is kept between calls: every call lists the
    * path and reads the footer afresh, so a table that gains or replaces
    * a file is read as it stands.
    */
  def footerSchema(spark: SparkSession, path: String,
      nanosAsLong: Option[Boolean] = None): Option[StructType] = {
    val conf = SessionStateHelper.getSqlConf(spark)
    if (new ParquetOptions(Map.empty[String, String], conf).mergeSchema) return None
    val files = new InMemoryFileIndex(spark, Seq(new Path(path)), Map.empty, None)
      .allFiles().sortBy(_.getPath.toString)
    val summaries = Seq(ParquetFileWriter.PARQUET_COMMON_METADATA_FILE,
      ParquetFileWriter.PARQUET_METADATA_FILE)
    summaries.flatMap(n => files.find(_.getPath.getName == n)).headOption
      .orElse(files.find(f => !summaries.contains(f.getPath.getName)))
      .map { f =>
        val hadoopConf = SessionStateHelper.getHadoopConf(spark)
        val footer = new Footer(f.getPath, ParquetFooterReader.readFooter(
          HadoopInputFile.fromStatus(f, hadoopConf), ParquetMetadataConverter.SKIP_ROW_GROUPS))
        val converter = new ParquetToSparkSchemaConverter(
          assumeBinaryIsString = conf.isParquetBinaryAsString,
          assumeInt96IsTimestamp = conf.isParquetINT96AsTimestamp,
          inferTimestampNTZ = false,
          nanosAsLong = nanosAsLong.getOrElse(conf.legacyParquetNanosAsLong),
          respectUnknownTypeAnnotation = conf.parquetReaderRespectUnknownTypeAnnotation)
        ParquetFileFormat.readSchemaFromFooter(footer, converter)
      }
  }
}

package org.apache.spark.sql.execution.datasources.parquet

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.FileStatus
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.HadoopFSUtils

/** Bridge to Spark's own parquet footer → schema conversion
  * (`ParquetFileFormat.readSchema`, `private[parquet]`) and to the
  * file-name filter its file index applies (`HadoopFSUtils`,
  * `private[spark]`). Same shim rationale as
  * [[org.apache.spark.sql.GraftSqlBridge]]: the bytecode is public, so
  * a one-file shim inside the package restores access without
  * reflection. Used by [[graft.sources.ParquetFooter]]. */
object GraftParquetBridge {

  /** The schema Spark infers from `file`'s footer: the footer is read
    * the way `ParquetFileFormat.readParquetFootersInParallel` reads it
    * (row groups skipped) and converted under the session's parquet
    * settings (binaryAsString, int96AsTimestamp, inferTimestampNTZ,
    * nanosAsLong), preferring the Spark schema stored in the footer. */
  def footerSchema(spark: SparkSession, file: FileStatus,
      conf: Configuration): Option[StructType] = {
    val meta = ParquetFooterReader.readFooter(
      HadoopInputFile.fromStatus(file, conf), ParquetMetadataConverter.SKIP_ROW_GROUPS)
    ParquetFileFormat.readSchema(Seq(new Footer(file.getPath, meta)), spark)
  }

  /** True for names Spark's file index leaves out of a listing
    * (`_`/`.`-prefixed, `._COPYING_`), except the parquet summary
    * files `_metadata` and `_common_metadata`. */
  def hiddenName(name: String): Boolean = HadoopFSUtils.shouldFilterOutPathName(name)
}

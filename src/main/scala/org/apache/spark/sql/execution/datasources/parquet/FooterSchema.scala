package org.apache.spark.sql.execution.datasources.parquet

import org.apache.hadoop.fs.FileStatus

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.internal.SessionStateHelper
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.HadoopFSUtils

/** Spark's own parquet schema inference, minus its Spark job: the
  * footer reader and schema decoder that `ParquetUtils.inferSchema`
  * runs inside one job per read are `private[parquet]`, so this shim
  * calls them on the driver. `graft.engine.ParquetResolver.footerSchema`
  * picks the files.
  */
object FooterSchema {

  /** True for a name Spark's file listing skips (`_SUCCESS`, `.crc`
    * files, `._COPYING_`), false for data and summary files.
    */
  def hidden(name: String): Boolean = HadoopFSUtils.shouldFilterOutPathName(name)

  /** The schema `spark.read.parquet` reports for these files: their
    * footers decoded and merged as inference does, all nullable.
    */
  def read(spark: SparkSession, files: Seq[FileStatus]): Option[StructType] = {
    val footers = ParquetFileFormat.readParquetFootersInParallel(
      SessionStateHelper.getHadoopConf(spark), files,
      SessionStateHelper.getSqlConf(spark).ignoreCorruptFiles)
    ParquetFileFormat.readSchema(footers, spark).map(_.asNullable)
  }
}

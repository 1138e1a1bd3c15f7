package org.apache.spark.sql.execution.datasources

import org.apache.spark.rdd.InputFileBlockHolder

/** The task-local record of the file a scan is reading, which
  * `input_file_name()` and `input_file_block_start/length()` return.
  * Spark's own file readers fill it through `InputFileBlockHolder`,
  * which is `private[spark]`; this shim lets a graft DataSource V2
  * reader do the same.
  */
object InputFileBlock {
  def set(path: String, start: Long, length: Long): Unit =
    InputFileBlockHolder.set(path, start, length)

  def unset(): Unit = InputFileBlockHolder.unset()
}

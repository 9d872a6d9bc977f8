package org.apache.spark.sql.execution.datasources.parquet

import org.apache.hadoop.fs.FileStatus
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType

/** Spark's own parallel footer reader, which is `private[parquet]`: this
  * package is the one place the merge path reaches it from. Nothing else
  * of Spark's internals is re-exported. */
object FooterSchemas {

  /** The schema of each of `files`, in order, as
    * `spark.read.parquet(file).schema` gives it: the footer is read on
    * the driver by Spark's bounded pool of 8 threads, with no Spark job,
    * and converted under the session's parquet settings (binaryAsString,
    * INT96, timestamp_ntz inference, nanosAsLong). Throws if any footer
    * cannot be read. */
  def read(spark: SparkSession, files: Seq[FileStatus]): Seq[StructType] = {
    val state     = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionState
    val converter = new ParquetToSparkSchemaConverter(state.conf)
    ParquetFileFormat
      .readParquetFootersInParallel(state.newHadoopConf(), files, ignoreCorruptFiles = false)
      .map(ParquetFileFormat.readSchemaFromFooter(_, converter).asNullable)
  }
}

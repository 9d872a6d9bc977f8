package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

package object streaming {

  /** How every file-ingest builder starts its stream: parquet files
    * arriving in `inDir` are read `filesPerTrigger` at a time with the
    * fixed `schema`, each micro-batch is handed to `body` with its batch
    * id, progress is checkpointed under `checkpointDir`, and the query
    * drains what exists and stops (`Trigger.AvailableNow`). A later run
    * on the same checkpoint picks up only files that arrived since. */
  private[streaming] def fileBatches(
      spark: SparkSession,
      inDir: String,
      schema: StructType,
      checkpointDir: String,
      filesPerTrigger: Int)(body: (DataFrame, Long) => Unit): StreamingQuery =
    spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", filesPerTrigger)
      .parquet(inDir)
      .writeStream
      .foreachBatch(body)
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
}

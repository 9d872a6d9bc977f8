package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

import graft.core.Merge
import graft.ops.Upsert

/** The reference's merge workflow run as a *continuous service*: watch
  * a folder, append every newly arriving parquet file into the merged
  * output — the reference's add-folders → merge loop
  * (`src/main.rs:116-126, 549-613`) without the re-scan-everything
  * restart. Structured Streaming's file source tracks processed files
  * in the checkpoint, so each input file is merged exactly once even
  * across job restarts, and the parquet sink commits atomically per
  * microbatch — the operational contract a 100 TB ingest folder needs
  * (the reference re-reads and re-buffers the whole corpus per run).
  *
  * The output is a parquet *directory* that appends in parallel — the
  * single-file contract ([[Merge.writeSingleFile]]) stays a batch-side
  * export concern.
  */
object MergeStream {

  /** Merge into `outDir` every file of `inDir` this checkpoint has not
    * yet seen, then stop (`Trigger.AvailableNow`); re-invoke to pick up
    * later arrivals.
    *
    * @param schema     fixed source schema — probe one input with
    *                   [[Merge.probeSchema]], or a batch of inputs with
    *                   [[Merge.probeSchemas]] and [[Merge.readSchema]]
    *                   (file sources need the schema up front; drifting
    *                   files surface as nulls or read errors rather than
    *                   silent column loss)
    */
  def continuousMerge(
      spark: SparkSession,
      inDir: String,
      outDir: String,
      checkpointDir: String,
      schema: StructType): StreamingQuery =
    spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", 1000)
      .parquet(inDir)
      .writeStream
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()

  /** Continuous keyed upsert: watch `inDir` for change files and MERGE
    * each micro-batch into the bucket-partitioned table at `tablePath`
    * ([[Upsert.mergeInto]]). The streaming checkpoint gives exactly-once
    * per input FILE; within a batch, duplicate keys resolve
    * last-writer-wins by `versionCol` (ties by key order) before the
    * merge, so the table invariant — one row per key — holds after
    * every batch. Per batch, cost stays proportional to the touched
    * buckets, not the table: this is the CDC-apply shape for a 100 TB
    * mutable lake on plain parquet.
    */
  def upsertStream(
      spark: SparkSession,
      inDir: String,
      schema: StructType,
      tablePath: String,
      keyCol: String,
      versionCol: String,
      nBuckets: Int,
      checkpointDir: String): StreamingQuery =
    spark.readStream
      .schema(schema)
      .parquet(inDir)
      .writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val w = Window.partitionBy(keyCol).orderBy(col(versionCol).desc, col(keyCol))
        val lastWriter = batch
          .withColumn("__rn__", row_number().over(w))
          .filter(col("__rn__") === 1)
          .drop("__rn__")
        Upsert.mergeInto(spark, tablePath, lastWriter, keyCol, nBuckets)
        ()
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
}

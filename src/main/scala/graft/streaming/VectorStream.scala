package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

import graft.ops.VectorOps

/** Continuous IVF index maintenance: the streaming counterpart of
  * vs23's batch [[VectorOps.appendIvfIndex]]. Vectors land as files;
  * each micro-batch is assigned against the FROZEN codebook
  * (batch-sized cost — the index is never read, let alone the corpus)
  * and written into its cells under a `batch=<id>` shard, so the store
  * layout is `batch=<id>/cid=<cell>/`. Partition discovery exposes
  * both levels, which means [[VectorOps.probeIvfIndex]] works on the
  * sharded store UNCHANGED: its `cid isin` filter prunes to the
  * probed cells across every batch directory, and the extra `batch`
  * column rides along unreferenced.
  *
  * Contracts, mirroring [[DedupStream.lshIngest]]:
  *
  * - **Slicing invariance.** A vector's cell is a pure function of
  *   (vector, codebook) — assignment never looks at other vectors or
  *   at the index — so the accumulated (vec_id, cid) set is EXACTLY
  *   the one-shot [[VectorOps.writeIvfIndex]] assignment of the whole
  *   corpus, wherever the micro-batch boundaries fall
  *   (IvfIngestStreamSpec re-slices to prove it). This is the frozen-
  *   codebook discipline: cell drift under appends is vs12's audit,
  *   refit + rebuild is vs05's job, the ingest itself stays
  *   deterministic.
  * - **Exactly-once per micro-batch.** Each shard is written in
  *   OVERWRITE mode under its own `batch=<id>` dir, so a replayed
  *   batch (foreachBatch re-executes after failures) replaces its
  *   previous attempt instead of double-appending — the duplication
  *   hazard a bare `mode("append")` into flat `cid=` dirs would have.
  * - **Compaction is a layout move.** [[VectorOps.compactIvfIndex]]
  *   folds the shards back into the canonical flat `cid=` layout;
  *   probes read the same rows either way (spec-pinned), so compaction
  *   can run whenever shard-count listing overhead is felt, at
  *   O(index) cost amortized over the batches since the last one.
  */
object VectorStream {

  /** Start the ingest over embedding files arriving in `inDir`
    * (schema: at least `vec_id` long + `embedding` array<float/double>;
    * the assignment casts to double). `centroids` is the frozen
    * codebook (cid, cv) the whole run assigns against. */
  def ivfIngest(
      spark: SparkSession,
      inDir: String,
      schema: StructType,
      centroids: DataFrame,
      indexDir: String,
      checkpointDir: String,
      filesPerTrigger: Int = 1): StreamingQuery =
    fileBatches(spark, inDir, schema, checkpointDir, filesPerTrigger)(
      assignShard(centroids, indexDir))

  /** One micro-batch assigned against the frozen codebook and written
    * into its cells over `batch=<id>`. */
  private def assignShard(centroids: DataFrame, indexDir: String)(
      batch: DataFrame, id: Long): Unit =
    VectorOps.assignClusters(
      batch.select(col("vec_id"), col("embedding").cast("array<double>").as("v")),
      centroids)
      .write.partitionBy("cid").mode("overwrite")
      .parquet(s"$indexDir/batch=$id")

  /** [[ivfIngest]] with a RETENTION WINDOW — the vector-side TTL'd
    * index service (the [[TextIndexStream.textIngestWithRetention]]
    * idiom): after each micro-batch's shard lands, every `batch=` dir
    * older than the window is dropped
    * ([[graft.ops.DedupOps.expireShards]] — O(1) metadata per shard,
    * no read, no tombstone debt), so the store is bounded by the
    * window however long the stream runs. Idempotent per batch
    * (overwrite shard + re-issued cutoff). As with any time-based
    * TTL, WHICH vectors survive keys on arrival batching by
    * definition; st18 pins the file→batch assignment to make the
    * survivor set oracle-replayable. */
  def ivfIngestWithRetention(
      spark: SparkSession,
      inDir: String,
      schema: StructType,
      centroids: DataFrame,
      indexDir: String,
      checkpointDir: String,
      keepBatches: Int,
      filesPerTrigger: Int = 1): StreamingQuery =
    fileBatches(spark, inDir, schema, checkpointDir, filesPerTrigger) { (batch, id) =>
      assignShard(centroids, indexDir)(batch, id)
      graft.ops.DedupOps.expireShards(spark, indexDir, "batch",
        id - keepBatches + 1)
    }
}

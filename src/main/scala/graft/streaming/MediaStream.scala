package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

import graft.ops.MultimodalOps

/** Continuous MEDIA payload-index maintenance: the streaming
  * counterpart of mm17's batch [[MultimodalOps.payloadLshIndex]],
  * closing the streaming-ingest symmetry for the fourth index family
  * (st12 = text LSH, st13 = IVF, st16 = inverted text, st21 = media
  * payload). Assets land as files of (doc_id, payload binary); each
  * micro-batch derives its byte-window MinHash band keys — a
  * batch-sized windowing pass, the CPU-dominant stage, run exactly
  * once per asset — and writes them as one `batch=<id>` posting
  * shard. The existing index is never read on the write path, so
  * per-batch cost is O(batch bytes); payload bytes never enter the
  * store (~150 B of band keys per asset travel, exactly mm17's
  * economics).
  *
  * Contracts, mirroring the other three ingests:
  *
  * - **Slicing invariance.** An asset's band keys are a pure
  *   per-asset function of its bytes, and consolidation is a pure
  *   regroup of disjoint-id shards — so the accumulated store equals
  *   the one-shot [[MultimodalOps.payloadLshIndex]] over the same
  *   assets wherever the micro-batch boundaries fall
  *   (MediaIngestStreamSpec re-slices to prove it; the st21 oracle
  *   holds the consolidated store's audit to the from-scratch
  *   derivation).
  * - **Exactly-once per micro-batch.** Each shard lands under its own
  *   `batch=<id>` subdir in overwrite mode: a replayed batch
  *   (foreachBatch re-executes after failures) replaces its previous
  *   attempt, every asset indexed exactly once — which also keeps
  *   shard id-sets disjoint, the precondition for flatten-regroup
  *   consolidation and for [[graft.ops.DedupOps.lshShardedProbeKeys]]
  *   serving the sharded layout directly.
  */
object MediaStream {

  /** Start the payload-index ingest over asset files arriving in
    * `inDir` (schema: `doc_id` long + `payload` binary). Posting
    * shards accumulate under `indexDir/batch=<id>`.
    *
    * @param filesPerTrigger ingest granularity — the accumulated index
    *                   does NOT depend on it (slicing invariance above)
    */
  def payloadIngest(
      spark: SparkSession,
      inDir: String,
      schema: StructType,
      indexDir: String,
      checkpointDir: String,
      filesPerTrigger: Int = 1): StreamingQuery =
    fileBatches(spark, inDir, schema, checkpointDir, filesPerTrigger)(
      indexShard(indexDir))

  /** One micro-batch's posting shard, written over `batch=<id>`. */
  private def indexShard(indexDir: String)(batch: DataFrame, id: Long): Unit =
    MultimodalOps.payloadLshIndex(batch.select("doc_id", "payload"))
      .write.mode("overwrite").parquet(s"$indexDir/batch=$id")

  /** [[payloadIngest]] with a RETENTION WINDOW — the TTL'd media
    * index service (st17/st18's verb on the fourth family): after each
    * micro-batch's shard lands, every batch older than the window is
    * expired by [[graft.ops.DedupOps.expireShards]]' partition drop —
    * O(1) metadata per dropped shard, no rewrite, no tombstone debt —
    * so the store is bounded by the window however long the stream
    * runs: the rolling "last N ingest days" near-dup tier. Retention
    * keys on arrival batching BY DEFINITION (any time-based TTL
    * does); st22 pins the file→batch assignment exactly as st17 does
    * to make the survivor set oracle-replayable. Idempotent per
    * batch: a replayed batch re-writes its own shard and re-issues
    * the same cutoff. */
  def payloadIngestWithRetention(
      spark: SparkSession,
      inDir: String,
      schema: StructType,
      indexDir: String,
      checkpointDir: String,
      keepBatches: Int,
      filesPerTrigger: Int = 1): StreamingQuery =
    fileBatches(spark, inDir, schema, checkpointDir, filesPerTrigger) { (batch, id) =>
      indexShard(indexDir)(batch, id)
      graft.ops.DedupOps.expireShards(spark, indexDir, "batch",
        id - keepBatches + 1)
    }

  /** Consolidate an ingest's append-only shard store back into the
    * one-row-per-band-key posting layout: a pure regroup — shards hold
    * disjoint ids (exactly-once contract), so sort-flatten rebuilds
    * each key's posting list exactly, and the result equals the batch
    * [[MultimodalOps.payloadLshIndex]] over all ingested assets. */
  def consolidate(spark: SparkSession, indexDir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    spark.read.parquet(indexDir).drop("batch")
      .groupBy("band", "k1", "k2", "k3", "k4")
      .agg(sort_array(flatten(collect_list(col("ids")))).as("ids"),
        sum(col("sz")).cast("long").as("sz"))
  }
}

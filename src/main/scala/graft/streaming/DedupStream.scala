package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

import graft.ops.DedupOps

/** Continuous NEAR-dedup ingest: the streaming counterpart of dd17's
  * incremental MinHash-LSH. Documents land as files; each micro-batch
  * derives its band keys (batch-sized signature pass), probes the
  * posting index built up by every EARLIER batch for the near-dup
  * pairs it introduces — against the lake and within itself — then
  * appends its own postings and text to the stores. Per-batch CPU is
  * O(batch + touched postings + candidates): the lake's text is never
  * re-shingled — the probe semi-join-prunes the doc store to candidate
  * ids BEFORE the shingle pass — and the posting index is only read
  * through the band-key join. The doc-store read for that prune is a
  * two-column scan here; a real lake keeps its text table keyed or
  * bucketed by doc_id, turning it into point lookups. That cost shape
  * is what lets the ingest keep up at 100 TB.
  *
  * Two contracts the design rests on:
  *
  * - **Slicing invariance.** The UNION of per-batch pair sets equals
  *   the one-shot [[DedupOps.minHashNearDupsPortable]] over the whole
  *   corpus with NO bucket cap, each pair emitted exactly once — by
  *   its later-arriving member's batch. That holds because the probe
  *   runs UNCAPPED (`maxBucket = Int.MaxValue`): a combined-size cap
  *   would make a pair's fate depend on how large its bucket happened
  *   to be at the probing batch's point in time, i.e. on where the
  *   micro-batch boundaries fell. LshIngestStreamSpec asserts the
  *   invariance by re-running the same corpus under different file
  *   slicings. (The production knob for degenerate hot buckets is the
  *   `blockKeys` band-key blocklist — [[DedupOps.hotBandKeys]] derives
  *   it from the index's posting sizes, a deterministic function of
  *   the corpus, not of its arrival order, so a blocklist FIXED for
  *   the run preserves the invariance; BlocklistSpec re-slices under a
  *   block to prove it.)
  * - **Exactly-once per micro-batch.** All three writes land under
  *   `batch=<id>` subdirectories in OVERWRITE mode, so a replayed
  *   batch (foreachBatch re-executes after failures) overwrites its
  *   own previous attempt instead of appending a duplicate — the same
  *   idempotence discipline as [[MergeStream.upsertStream]]'s
  *   checkpointed merge. A doc is therefore indexed exactly once,
  *   which is also what keeps every index shard's ids disjoint — the
  *   precondition [[DedupOps.lshShardedProbe]]'s flatten-consolidation
  *   relies on.
  */
object DedupStream {

  /** Empty frame with `df`'s schema — the state of a store no batch
    * has written yet. Derived from the op itself so the schemas can't
    * drift. */
  private def emptyLike(spark: SparkSession, df: DataFrame): DataFrame =
    spark.createDataFrame(java.util.Collections.emptyList[org.apache.spark.sql.Row](),
      df.schema)

  /** Read a `batch=<id>`-partitioned store, or an empty frame of
    * `like`'s schema when no batch has committed yet. The `batch`
    * partition column is provenance, not data — dropped here. */
  private def readStore(spark: SparkSession, dir: String, like: DataFrame): DataFrame = {
    val hasCommitted = {
      val p = new org.apache.hadoop.fs.Path(dir)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.exists(p) && fs.listStatus(p).exists(_.getPath.getName.startsWith("batch="))
    }
    if (hasCommitted) spark.read.parquet(dir).drop("batch")
    else emptyLike(spark, like)
  }

  /** Start the ingest over document files arriving in `inDir`
    * (schema: at least `doc_id` long + `text` string; extra columns
    * pass through to the doc store). Near-dup pairs accumulate under
    * `pairsDir` as (a, b, jaccard); the posting index under
    * `indexDir`; the raw docs under `docsDir` (the verify stage's
    * text store — a real lake already has one).
    *
    * @param filesPerTrigger ingest granularity — results do NOT depend
    *                   on it (slicing invariance above)
    */
  def lshIngest(
      spark: SparkSession,
      inDir: String,
      schema: StructType,
      indexDir: String,
      pairsDir: String,
      docsDir: String,
      checkpointDir: String,
      threshold: Double = 0.8,
      filesPerTrigger: Int = 1,
      blockKeys: Option[DataFrame] = None): StreamingQuery =
    fileBatches(spark, inDir, schema, checkpointDir, filesPerTrigger) { (batch, id) =>
      val b = batch.select("doc_id", "text")
      // commit the batch's text and postings FIRST, then probe off
      // the written shard: the signature pass (the CPU-dominant
      // stage) executes exactly once per batch, and the probe reads
      // it back as 8-byte key columns. Splitting the store read on
      // the batch id keeps the just-committed shard out of the index
      // side, so same-batch pairs aren't double-counted.
      batch.write.mode("overwrite").parquet(s"$docsDir/batch=$id")
      DedupOps.lshBandIndex(b).write.mode("overwrite")
        .parquet(s"$indexDir/batch=$id")
      val store = spark.read.parquet(indexDir)
      // verify reads candidate docs' text from the store (which now
      // includes this batch); the probe semi-join-prunes it to
      // candidate ids BEFORE shingling, so per-batch verify CPU is
      // O(candidates), never O(store)
      val texts = readStore(spark, docsDir, b)
      val pairs = DedupOps.lshShardedProbeKeys(
        store.filter(col("batch") === id).drop("batch"),
        store.filter(col("batch") =!= id).drop("batch"),
        texts, threshold = threshold, blockKeys = blockKeys)
      pairs.write.mode("overwrite").parquet(s"$pairsDir/batch=$id")
    }
}

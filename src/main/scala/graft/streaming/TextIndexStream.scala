package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

import graft.ops.TextIndex

/** Continuous inverted-index maintenance: the streaming counterpart of
  * tx34's batch [[TextIndex.appendTextIndex]], completing the
  * streaming-ingest symmetry across all three index families (st12 =
  * LSH, st13 = IVF, st16 = text). Documents land as files; each
  * micro-batch becomes one `batch=<id>` posting shard (partitioned by
  * tp inside, so probes prune identically across every shard) plus one
  * stats-log row — batch-sized cost, the existing index never read on
  * the write path.
  *
  * Contracts, mirroring [[DedupStream.lshIngest]] /
  * [[VectorStream.ivfIngest]]:
  *
  * - **Slicing invariance.** A doc's posting rows (th, tf, dl) are a
  *   pure per-document function, and N/avgdl are SUMS over the stats
  *   log — so the accumulated index is EXACTLY the one-shot build
  *   wherever micro-batch boundaries fall (TextIngestStreamSpec
  *   re-slices to prove it; the st16 oracle holds the whole pipeline
  *   to the from-scratch BM25 answer).
  * - **Exactly-once per micro-batch.** [[TextIndex.appendTextIndex]]
  *   overwrites the batch's own subdirs, so a replayed batch replaces
  *   its previous attempt instead of double-appending.
  */
object TextIndexStream {

  def textIngest(
      spark: SparkSession,
      inDir: String,
      schema: StructType,
      indexDir: String,
      checkpointDir: String,
      filesPerTrigger: Int = 1): StreamingQuery =
    fileBatches(spark, inDir, schema, checkpointDir, filesPerTrigger) { (batch, id) =>
      TextIndex.appendTextIndex(batch, indexDir, id)
    }

  /** [[textIngest]] with a RETENTION WINDOW — the TTL'd index service
    * (a rolling "last N ingest days" search tier): after each
    * micro-batch lands, every batch older than the window is expired
    * by [[TextIndex.expireTextIndex]]'s partition drop — postings and
    * stats-log rows together, O(1) metadata per dropped shard, no
    * rewrite, no tombstone debt — so the store's size is bounded by
    * the window however long the stream runs. Idempotent per batch: a
    * replayed batch re-writes its own shard and re-issues the same
    * cutoff (expiry of already-absent dirs is a no-op).
    *
    * Retention keys on the micro-batch ID, so WHICH DOCS survive
    * depends on how arrivals were sliced into batches — inherent to
    * any time-based TTL (two docs a millisecond apart can land on
    * opposite sides of a day boundary), not a defect of the operator:
    * the slicing-invariance contract of [[textIngest]] applies to the
    * accumulated index, while a TTL is BY DEFINITION a function of
    * arrival batching. st17 therefore fixes the file→batch assignment
    * (one file per trigger, one doc_id class per file) to make the
    * survivor set oracle-replayable. */
  def textIngestWithRetention(
      spark: SparkSession,
      inDir: String,
      schema: StructType,
      indexDir: String,
      checkpointDir: String,
      keepBatches: Int,
      filesPerTrigger: Int = 1): StreamingQuery =
    fileBatches(spark, inDir, schema, checkpointDir, filesPerTrigger) { (batch, id) =>
      TextIndex.appendTextIndex(batch, indexDir, id)
      TextIndex.expireTextIndex(spark, indexDir,
        cutoffBatch = id - keepBatches + 1)
    }

  /** CONTINUOUS SERVING — the fourth quadrant of the index-lifecycle
    * matrix (batch ingest tx34 / streaming ingest st16 / batch serve
    * tx42 / THIS): retrieval REQUESTS arrive as a stream, each
    * micro-batch is answered against the persisted index READ-ONLY
    * via [[TextIndex.probeTextIndexMulti]], and answers land under
    * `outDir/batch=<id>`.
    *
    * Contracts:
    * - **Slicing invariance.** Every request is served independently
    *   (per-qid terms, query-independent df/stats from the static
    *   store), so the accumulated answer set is EXACTLY tx42's
    *   one-plan batch answer wherever micro-batch boundaries fall —
    *   st19's oracle holds the whole stream to that answer.
    * - **Exactly-once per micro-batch.** Answers overwrite the
    *   micro-batch's own `batch=` subdir, so a replayed trigger
    *   replaces its previous attempt instead of double-serving.
    * - Requests carry their own text (doc_id, text) — the serving
    *   path never reads the lake, only the request and the index. */
  def textServe(
      spark: SparkSession,
      inDir: String,
      schema: StructType,
      indexDir: String,
      outDir: String,
      checkpointDir: String,
      k: Int,
      filesPerTrigger: Int = 1): StreamingQuery =
    fileBatches(spark, inDir, schema, checkpointDir, filesPerTrigger) { (batch, id) =>
      val qterms = TextIndex.queryTermsMulti(batch, lit(true))
      TextIndex.probeTextIndexMulti(spark, indexDir, qterms, k)
        .write.mode("overwrite").parquet(s"$outDir/batch=$id")
    }
}

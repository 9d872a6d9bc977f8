package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

import graft.ops.Bpe

/** Streaming TOKENIZATION — the fourth quadrant of the tokenizer
  * lifecycle (batch train tx43 / batch apply+audit tx44/tx46 / this):
  * documents arrive as files and every micro-batch is tokenized with a
  * FROZEN merge table ([[Bpe.tokenizeExpr]] — the true BPE apply path,
  * which transfers to words the training corpus never saw), per-doc
  * token accounting landing under exactly-once `batch=` dirs. This is
  * the serving shape of a production tokenizer: training is a batch
  * job over yesterday's lake; application is a stateless map over the
  * ingest stream with the trained artifact shipped as a literal chain.
  *
  * Contracts, mirroring [[TextIndexStream.textServe]]:
  *
  * - **Slicing invariance.** A doc's (n_words, n_tokens) is a pure
  *   function of its OWN text under the frozen merges — the per-batch
  *   distinct-word dict is an efficiency detail (tokenize each
  *   distinct word once, broadcast-join it back), not a semantic one —
  *   so the accumulated output equals one batch tokenization of the
  *   same files wherever micro-batch boundaries fall
  *   (TokenizeStreamSpec re-slices to prove it; the st20 oracle holds
  *   the whole stream to the from-scratch train+apply replay).
  * - **Exactly-once per micro-batch.** Output overwrites the batch's
  *   own `batch=` subdir, so a replayed trigger replaces its previous
  *   attempt instead of double-counting.
  * - **Scale.** Map-only: the merge chain is k literal replaces, the
  *   only shuffles are the batch-bounded word distinct and the per-doc
  *   rollup — nothing grows with the lake, and the trained artifact is
  *   vocab-bounded by construction (k rows).
  */
object TokenizeStream {

  def tokenizeIngest(
      spark: SparkSession,
      inDir: String,
      schema: StructType,
      merges: Seq[Bpe.MergeRow],
      outDir: String,
      checkpointDir: String,
      filesPerTrigger: Int = 1): StreamingQuery =
    fileBatches(spark, inDir, schema, checkpointDir, filesPerTrigger) { (batch, id) =>
      val words = batch.select(col("doc_id"),
        explode(filter(split(col("text"), " "), x => x =!= "")).as("word"))
      // batch-bounded dict: each DISTINCT word runs the merge chain
      // once; repeated words ride the broadcast join (tx46's
      // dict idiom, scoped to the micro-batch)
      val dict = words.select("word").distinct()
        .select(col("word"),
          size(split(Bpe.tokenizeExpr(col("word"), merges), " "))
            .cast("long").as("n_tok"))
      words.join(broadcast(dict), Seq("word"))
        .groupBy("doc_id")
        .agg(count(lit(1)).cast("long").as("n_words"),
          sum("n_tok").cast("long").as("n_tokens"))
        .write.mode("overwrite").parquet(s"$outDir/batch=$id")
    }
}

package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

import graft.ops.TextOps

/** Streaming QUALITY ROUTER — the gate stage of a training-data
  * ingest run as a continuous dual-sink job: documents land as files,
  * every micro-batch is split by the Gopher gate
  * ([[TextOps.gopherKeep]] — the SAME predicate the batch tx12 flags
  * use, so the keep/drop policy cannot drift between paths) and
  * written to the ACCEPT store or the QUARANTINE store. Nothing is
  * dropped: quarantine keeps the rejected rows inspectable/replayable
  * (lower a threshold later and re-admit from quarantine without
  * re-crawling), which is how a production corpus gate should fail.
  *
  * Contracts, inherited from [[DedupStream]]'s discipline:
  *
  * - **Slicing invariance for free.** The gate is a pure per-row
  *   predicate — no state, no cross-row reads — so the accumulated
  *   (accept, quarantine) partition of the corpus provably cannot
  *   depend on where micro-batch boundaries fall, and the batch
  *   recompute is the exact oracle (st14 gates it).
  * - **Exactly-once per micro-batch.** Both sinks write `batch=<id>`
  *   shards in OVERWRITE mode: a replayed batch overwrites its own
  *   previous attempt on BOTH sides, so a document is routed exactly
  *   once and the two stores stay an exact partition of the input.
  *
  * At 100 TB this is a map-only pass: each executor gates its file
  * slice and writes two shard streams — zero shuffles, back-pressure
  * limited only by sink throughput.
  */
object RouterStream {

  /** Start the router over document files arriving in `inDir`,
    * splitting each micro-batch on `gate` (a pure per-row predicate —
    * the slicing-invariance contract above holds ONLY for stateless
    * gates, which is why the parameter is a Column, not an arbitrary
    * DataFrame transform). All input columns pass through to both
    * stores. */
  def predicateRoute(
      spark: SparkSession,
      inDir: String,
      schema: StructType,
      gate: org.apache.spark.sql.Column,
      acceptDir: String,
      quarantineDir: String,
      checkpointDir: String,
      filesPerTrigger: Int = 1): StreamingQuery =
    fileBatches(spark, inDir, schema, checkpointDir, filesPerTrigger) { (batch, id) =>
      // evaluate the gate ONCE per row, route on the flag; the two
      // filtered writes share the gated frame's plan. A NULL gate
      // (e.g. NULL text under gopherKeep) fails BOTH filter(k) and
      // filter(!k) — coalesce to false so such rows land in
      // quarantine and the two stores stay an exact partition of
      // the input (ADVICE r8)
      val gated = batch.withColumn("__keep__", coalesce(gate, lit(false)))
      gated.filter(col("__keep__")).drop("__keep__")
        .write.mode("overwrite").parquet(s"$acceptDir/batch=$id")
      gated.filter(!col("__keep__")).drop("__keep__")
        .write.mode("overwrite").parquet(s"$quarantineDir/batch=$id")
    }

  /** The Gopher-gate router (st14): [[predicateRoute]] with
    * [[TextOps.gopherKeep]] — the literally same predicate the batch
    * tx12 flags use, so the keep/drop policy cannot drift. */
  def qualityRoute(
      spark: SparkSession,
      inDir: String,
      schema: StructType,
      acceptDir: String,
      quarantineDir: String,
      checkpointDir: String,
      filesPerTrigger: Int = 1): StreamingQuery =
    predicateRoute(spark, inDir, schema, TextOps.gopherKeep(col("text")),
      acceptDir, quarantineDir, checkpointDir, filesPerTrigger)
}

package graft.ops

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.SessionConf.withConf

/** Keyed upsert (MERGE INTO) over a bucket-partitioned parquet table —
  * the incremental-update primitive of a mutable 100 TB lake, built on
  * plain parquet + Spark primitives (no table-format dependency).
  *
  * Layout: rows live under `.../bucket=N/` where
  * `bucket = pmod(xxhash64(key), nBuckets)` — a deterministic function
  * of the key, so a key's row can only ever live in one partition.
  *
  * An upsert then touches ONLY the buckets its update keys hash into:
  *  1. the update batch derives its affected bucket set (≤ nBuckets
  *     values — a bounded driver-side list, not data);
  *  2. the target is read WITH partition pruning to those buckets;
  *  3. surviving old rows (left_anti on key) union the updates;
  *  4. `partitionOverwriteMode=dynamic` overwrites just the rewritten
  *     buckets — untouched buckets' files are never read or written.
  *
  * Cost scales with update locality (touched buckets × bucket size),
  * not table size — the property that makes daily upserts into a
  * 100 TB table feasible. Within a bucket the rewrite is
  * read+union+write; concurrent writers need external coordination
  * (single-writer-per-table, as with any filesystem table).
  */
object Upsert {

  private def withBucket(df: DataFrame, keyCol: String, nBuckets: Int): DataFrame =
    df.withColumn("bucket", pmod(xxhash64(col(keyCol)), lit(nBuckets.toLong)))

  /** Create/replace the bucket-partitioned table from `rows`. */
  def writeBucketed(rows: DataFrame, path: String, keyCol: String, nBuckets: Int): Unit =
    withBucket(rows, keyCol, nBuckets)
      .write.mode(SaveMode.Overwrite).partitionBy("bucket").parquet(path)

  /** Upsert `updates` (last-writer-wins per key within the batch is the
    * caller's concern; keys must be unique in `updates`). Returns the
    * number of buckets rewritten. */
  def mergeInto(
      spark: SparkSession,
      path: String,
      updates: DataFrame,
      keyCol: String,
      nBuckets: Int): Int = {
    val batch = withBucket(updates, keyCol, nBuckets)
    // bounded collect: <= nBuckets distinct bucket ids, never row-scale
    val affected = batch.select("bucket").distinct()
      .collect().map(_.getLong(0)).sorted
    if (affected.isEmpty) return 0

    val target = spark.read.parquet(path)
      .filter(col("bucket").isin(affected.toIndexedSeq: _*))
    val survivors = target.join(
      batch.select(col(keyCol)).hint("broadcast"), Seq(keyCol), "left_anti")
    val merged = survivors.unionByName(batch)

    withConf(spark, "spark.sql.sources.partitionOverwriteMode" -> "dynamic") {
      merged.write.mode(SaveMode.Overwrite).partitionBy("bucket").parquet(path)
    }
    affected.length
  }
}

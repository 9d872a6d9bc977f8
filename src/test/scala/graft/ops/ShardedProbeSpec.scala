package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** [[DedupOps.lshShardedProbe]] — the probe over an APPEND-ONLY posting
  * index (one shard per ingest batch, a band key split across shard
  * rows). The load-bearing property: consolidating the touched keys
  * after the join must reconstruct exactly the consolidated index's
  * posting lists, so the sharded probe and [[DedupOps.lshIndexProbe]]
  * over the compacted index return the SAME pairs — compaction is a
  * layout move, never an answer change. */
class ShardedProbeSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  private def lake = graft.Tables(spark, sf, "documents").select("doc_id", "text")

  private def batch = graft.Tables(spark, sf, "documents")
    .filter(col("doc_id") % 3 === 0)
    .select((col("doc_id") + lit(500000L)).as("doc_id"), col("text"))

  private def texts = lake.unionByName(batch)

  /** The lake's index as 3 disjoint shards — as if it had been built
    * by three ingest batches. */
  private def shards = (0 until 3)
    .map(i => DedupOps.lshBandIndex(lake.filter(col("doc_id") % 3 === i)))
    .reduce(_ unionByName _)

  test("sharded probe equals the consolidated-index probe, cap included") {
    val consolidated = DedupOps.lshIndexProbe(batch, DedupOps.lshBandIndex(lake),
      texts, maxBucket = 100)
    val sharded = DedupOps.lshShardedProbe(batch, shards, texts, maxBucket = 100)
    assert(sharded.count() > 0, "planted copies must produce pairs")
    assert(sharded.exceptAll(consolidated).isEmpty,
      "sharded probe found pairs the consolidated probe does not")
    assert(consolidated.exceptAll(sharded).isEmpty,
      "sharded probe missed pairs the consolidated probe finds")
  }

  test("combined cap counts the whole reassembled bucket, not per-shard sizes") {
    // 60 identical docs across 3 shards (20 each) + 1 batch copy: every
    // bucket has combined size 61. Per-shard sizes (20/20/21) are all
    // under any cap in [21, 60], so a probe that capped per shard — or
    // only the index side — would keep the bucket; the combined cap
    // must drop it. At cap 61 the pairs reappear.
    import spark.implicits._
    val text = "alpha beta gamma delta epsilon zeta eta theta"
    val lake60 = (1 to 60).map(i => (i.toLong, text)).toDF("doc_id", "text")
    val b1 = Seq((1000L, text)).toDF("doc_id", "text")
    val allTexts = lake60.unionByName(b1)
    val shard3 = (0 until 3)
      .map(i => DedupOps.lshBandIndex(lake60.filter(col("doc_id") % 3 === i)))
      .reduce(_ unionByName _)
    assert(DedupOps.lshShardedProbe(b1, shard3, allTexts, maxBucket = 60).count() == 0)
    val atCap = DedupOps.lshShardedProbe(b1, shard3, allTexts, maxBucket = 61)
    assert(atCap.count() == 60, "cap 61 must admit the 61-doc bucket's batch pairs")
  }

  test("compaction rebuilds the one-shot index exactly and preserves probe answers") {
    val base = TestSpark.tmpDir("graft_compact_")
    (0 until 3).foreach { i =>
      DedupOps.lshBandIndex(lake.filter(col("doc_id") % 3 === i))
        .write.mode("overwrite").parquet(s"$base/shards/batch=$i")
    }
    DedupOps.compactLshIndex(spark, s"$base/shards", "compact_spec_index",
      s"$base/compacted")
    val compacted = spark.table("compact_spec_index")
    val oneShotIdx = DedupOps.lshBandIndex(lake)
    assert(compacted.exceptAll(oneShotIdx).isEmpty &&
      oneShotIdx.exceptAll(compacted).isEmpty,
      "compacted index content differs from the one-shot build")
    val viaCompacted = DedupOps.lshIndexProbe(batch, compacted, texts,
      maxBucket = Int.MaxValue)
    val viaShards = DedupOps.lshShardedProbe(batch,
      spark.read.parquet(s"$base/shards").drop("batch"), texts)
    assert(viaCompacted.exceptAll(viaShards).isEmpty &&
      viaShards.exceptAll(viaCompacted).isEmpty,
      "compaction changed a probe answer")
  }

  test("empty shard set degrades to the capless one-shot over the batch alone") {
    val emptyIdx = DedupOps.lshBandIndex(lake.filter(col("doc_id") < 0))
    val probed = DedupOps.lshShardedProbe(batch, emptyIdx, batch)
    // max bucket size at this SF is far below 100, so the capped
    // one-shot kernel IS the capless reference here
    val oneShot = DedupOps.minHashNearDupsPortable(batch)
    assert(probed.exceptAll(oneShot).isEmpty && oneShot.exceptAll(probed).isEmpty,
      "lake-less probe must equal the one-shot kernel over the batch")
  }
}

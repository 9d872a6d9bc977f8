package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** [[DedupOps.hotBandKeys]] + the probes' `blockKeys` knob — the
  * production control for degenerate hot buckets in a continuous
  * ingest. Properties pinned here:
  *
  *  1. the blocklist is exactly the keys whose (summed) posting size
  *     exceeds the bound, on both index layouts;
  *  2. blocking is equivalent to deleting the key from BOTH sides of
  *     the probe (a blocked key generates no candidates, full stop);
  *  3. LSH redundancy: an exact-duplicate pair survives any single
  *     blocked key (15 other bands still surface it) and disappears
  *     only when ALL its shared keys are blocked;
  *  4. a blocklist FIXED for the run preserves the ingest's slicing
  *     invariance — unlike a combined-size cap, whose effect depends
  *     on a bucket's size at probe time (see DedupStream's contract).
  */
class BlocklistSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  private def docs = graft.Tables(spark, sf, "documents").select("doc_id", "text")

  private def emptyIdx = DedupOps.lshBandIndex(docs.filter(col("doc_id") < 0))

  test("hotBandKeys: exactly the keys above the bound, shards summed") {
    import spark.implicits._
    val text = "alpha beta gamma delta epsilon zeta eta theta"
    val other = "one two three four five six seven eight nine"
    val corpus = ((1 to 4).map(i => (i.toLong, text)) ++
      Seq(5L -> other, 6L -> other)).toDF("doc_id", "text")
    val idx = DedupOps.lshBandIndex(corpus)
    val hot = DedupOps.hotBandKeys(idx, maxPosting = 2)
    // the 4-copy cluster's 16 band keys are the only postings > 2
    val expected = idx.filter(col("sz") > 2).select("band", "k1", "k2", "k3", "k4")
    assert(hot.exceptAll(expected).isEmpty && expected.exceptAll(hot).isEmpty)
    assert(hot.count() == 16)
    // sharded layout: the same postings split across two shards must
    // block the same keys — sizes sum across shards
    val sharded = DedupOps.lshBandIndex(corpus.filter(col("doc_id") <= 2))
      .unionByName(DedupOps.lshBandIndex(corpus.filter(col("doc_id") > 2)))
    val hotSharded = DedupOps.hotBandKeys(sharded, maxPosting = 2)
    assert(hotSharded.exceptAll(expected).isEmpty &&
      expected.exceptAll(hotSharded).isEmpty,
      "sharded sizes must sum before the bound applies")
  }

  test("blocking a key equals deleting it from both probe sides") {
    val lake = docs
    val batch = docs.filter(col("doc_id") % 3 === 0)
      .select((col("doc_id") + lit(500000L)).as("doc_id"), col("text"))
    val texts = lake.unionByName(batch)
    val shards = DedupOps.lshBandIndex(lake)
    val block = DedupOps.hotBandKeys(shards, maxPosting = 2)
    assert(block.count() > 0, "test corpus must have blockable keys")
    val keyCols = Seq("band", "k1", "k2", "k3", "k4")
    val viaParam = DedupOps.lshShardedProbe(batch, shards, texts,
      blockKeys = Some(block))
    val viaFiltered = DedupOps.lshShardedProbeKeys(
      DedupOps.lshBandIndex(batch).join(block, keyCols, "left_anti"),
      shards.join(block, keyCols, "left_anti"), texts)
    assert(viaParam.exceptAll(viaFiltered).isEmpty &&
      viaFiltered.exceptAll(viaParam).isEmpty)
    // and the block is not a no-op on this corpus: the capless
    // unblocked probe finds strictly more pairs
    val unblocked = DedupOps.lshShardedProbe(batch, shards, texts)
    assert(unblocked.count() > viaParam.count(),
      "blocklist must actually suppress some pairs on this corpus")
  }

  test("exact-dup pair survives any single blocked key, dies when all 16 are") {
    import spark.implicits._
    val text = "the quick brown fox jumps over the lazy dog again"
    val pair = Seq(1L -> text, 2L -> text).toDF("doc_id", "text")
    val keys = DedupOps.lshBandIndex(pair)
      .select("band", "k1", "k2", "k3", "k4")
    assert(keys.count() == 16, "identical docs share all 16 band buckets")
    val oneKey = keys.orderBy("band").limit(1)
    val withOne = DedupOps.lshShardedProbe(pair, emptyIdx, pair,
      blockKeys = Some(oneKey))
    assert(withOne.count() == 1, "one blocked band must not lose the pair")
    val withAll = DedupOps.lshShardedProbe(pair, emptyIdx, pair,
      blockKeys = Some(keys))
    assert(withAll.count() == 0, "all bands blocked leaves no path to the pair")
  }

  test("ingest slicing invariance holds under a fixed blocklist") {
    val block = DedupOps.hotBandKeys(DedupOps.lshBandIndex(docs), maxPosting = 2)
    val oneShot = DedupOps.lshShardedProbe(docs, emptyIdx, docs,
      blockKeys = Some(block))
    val unblockedCount = DedupOps.lshShardedProbe(docs, emptyIdx, docs).count()
    assert(oneShot.count() > 0 && oneShot.count() < unblockedCount,
      "the block must bite without emptying the result")
    val results = Seq(1, 2).map { filesPerTrigger =>
      val base = TestSpark.tmpDir("graft_blk_ingest_")
      docs.repartition(4, col("doc_id"))
        .write.mode("overwrite").parquet(s"$base/in")
      val q = graft.streaming.DedupStream.lshIngest(spark, s"$base/in",
        docs.schema, s"$base/index", s"$base/pairs", s"$base/docs",
        s"$base/ck", filesPerTrigger = filesPerTrigger,
        blockKeys = Some(block))
      q.awaitTermination()
      spark.read.parquet(s"$base/pairs").select("a", "b", "jaccard")
    }
    results.zipWithIndex.foreach { case (got, i) =>
      assert(got.exceptAll(oneShot).isEmpty && oneShot.exceptAll(got).isEmpty,
        s"slicing $i diverged from the one-shot blocked kernel")
    }
  }
}

package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** [[DedupOps.expireLshShards]] — retention expiry as partition drop
  * (dd22). The property that makes directory deletion a CORRECT
  * deletion mode: shards hold disjoint ids (one per ingest day), so
  * dropping whole day dirs leaves a store whose probe answers equal a
  * full rebuild over the surviving days' docs — no posting list ever
  * needs rewriting. */
class RetentionSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  private def lake = graft.Tables(spark, sf, "documents").select("doc_id", "text")
  // spec-local day modulus (4) and cutoff (2), distinct from dd22's
  // registered 3/1 fixture
  private val days = 4
  private def day(i: Int) = lake.filter(pmod(col("doc_id"), lit(days)) === i)

  private def writeStore(prefix: String): String = {
    val store = TestSpark.tmpDir(prefix).toString + "/shards"
    (0 until days).foreach(i =>
      DedupOps.lshBandIndex(day(i)).write.parquet(s"$store/day=$i"))
    store
  }

  private def files(store: String): Map[String, Long] = {
    val root = java.nio.file.Paths.get(store)
    val out = Map.newBuilder[String, Long]
    java.nio.file.Files.walk(root).forEach { p =>
      if (p.toString.endsWith(".parquet"))
        out += root.relativize(p).toString ->
          java.nio.file.Files.getLastModifiedTime(p).toMillis
    }
    out.result()
  }

  test("expiry drops exactly the expired day dirs; surviving shard files untouched") {
    val store = writeStore("graft_ret_files_")
    val before = files(store)
    DedupOps.expireLshShards(spark, store, cutoffDay = 2)
    val after = files(store)
    assert(after == before.filter { case (rel, _) =>
      !rel.startsWith("day=0/") && !rel.startsWith("day=1/") })
    // idempotent + cutoff 0 is a no-op
    DedupOps.expireLshShards(spark, store, cutoffDay = 2)
    DedupOps.expireLshShards(spark, store, cutoffDay = 0)
    assert(files(store) == after)
  }

  test("probe after expiry equals the one-shot kernel over the surviving days") {
    val store = writeStore("graft_ret_probe_")
    DedupOps.expireLshShards(spark, store, cutoffDay = 2)
    val surviving = lake.filter(pmod(col("doc_id"), lit(days)) >= 2)
    val batch = lake.filter(col("doc_id") % 6 === 0)
      .select((col("doc_id") + lit(500000L)).as("doc_id"), col("text"))
    val probed = DedupOps.lshShardedProbe(batch,
      spark.read.parquet(store).drop("day"),
      surviving.unionByName(batch), maxBucket = 100)
    val oneShot = DedupOps.minHashNearDupsPortable(surviving.unionByName(batch))
      .filter(col("b") >= 500000L)
    assert(probed.count() > 0, "surviving-day exact copies must pair")
    assert(probed.exceptAll(oneShot).isEmpty && oneShot.exceptAll(probed).isEmpty)
    // expired sources must be unfindable: batch ids whose base is in
    // an expired day (base % 4 in {0,1}) have no exact-copy pair
    assert(probed.filter(col("b") === col("a") + 500000L)
      .filter(pmod(col("a"), lit(days)) < 2).count() == 0,
      "an expired source doc still produced its exact-copy pair")
  }

  test("expiring every shard leaves batch-only pairs") {
    val store = writeStore("graft_ret_all_")
    DedupOps.expireLshShards(spark, store, cutoffDay = days.toLong)
    assert(new java.io.File(store).listFiles()
      .count(_.getName.startsWith("day=")) == 0)
    // the probe degenerates to within-batch pairs — duplicate the batch
    // so there ARE some
    val batch = lake.filter(col("doc_id") % 6 === 0)
    val dupBatch = batch.select((col("doc_id") + lit(500000L)).as("doc_id"), col("text"))
      .unionByName(batch.select((col("doc_id") + lit(600000L)).as("doc_id"), col("text")))
    val empty = DedupOps.lshBandIndex(lake.filter(col("doc_id") < 0))
    val probed = DedupOps.lshShardedProbe(dupBatch, empty, dupBatch, maxBucket = 100)
    val oneShot = DedupOps.minHashNearDupsPortable(dupBatch)
    assert(probed.count() > 0)
    assert(probed.exceptAll(oneShot).isEmpty && oneShot.exceptAll(probed).isEmpty)
  }
}

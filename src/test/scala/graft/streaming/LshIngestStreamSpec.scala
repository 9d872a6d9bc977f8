package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.ops.DedupOps

/** [[DedupStream.lshIngest]] — continuous near-dup ingest (st12).
  *
  * The load-bearing property is SLICING INVARIANCE: the accumulated
  * pair set must not depend on how the arriving corpus was cut into
  * micro-batches, because the uncapped probe makes every pair's fate a
  * function of the corpus alone, each pair found exactly once by its
  * later-arriving member's batch. A capped probe would break this (a
  * pair's bucket size at probe time depends on the slicing), which is
  * why the cap is not a parameter of the streaming path. */
class LshIngestStreamSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  private def docs = graft.Tables(spark, sf, "documents").select("doc_id", "text")

  /** Run the ingest over the corpus staged as `nFiles` landing files,
    * `filesPerTrigger` per micro-batch; return the accumulated pairs. */
  private def ingest(nFiles: Int, filesPerTrigger: Int): DataFrame = {
    val base = TestSpark.tmpDir("graft_ingest_spec_")
    docs.repartition(nFiles, col("doc_id"))
      .write.mode("overwrite").parquet(s"$base/in")
    val q = DedupStream.lshIngest(spark, s"$base/in", docs.schema,
      s"$base/index", s"$base/pairs", s"$base/docs", s"$base/ck",
      filesPerTrigger = filesPerTrigger)
    q.awaitTermination()
    spark.read.parquet(s"$base/pairs").select("a", "b", "jaccard")
  }

  test("pair set is invariant to micro-batch slicing and equals the one-shot kernel") {
    // capless one-shot reference: probe the full corpus against an
    // empty index (= the batch-only degenerate of the sharded probe)
    val oneShot = DedupOps.lshShardedProbe(docs,
      DedupOps.lshBandIndex(docs.filter(col("doc_id") < 0)), docs)
    val slicings = Seq(
      ingest(nFiles = 1, filesPerTrigger = 1), // everything in one batch
      ingest(nFiles = 4, filesPerTrigger = 1), // four batches
      ingest(nFiles = 4, filesPerTrigger = 2)) // two batches (st12's shape)
    assert(oneShot.count() > 0, "corpus must contain near-dup pairs")
    slicings.zipWithIndex.foreach { case (got, i) =>
      assert(got.exceptAll(oneShot).isEmpty,
        s"slicing $i emitted pairs the one-shot kernel does not")
      assert(oneShot.exceptAll(got).isEmpty,
        s"slicing $i missed pairs the one-shot kernel finds")
    }
  }

  test("every pair is emitted exactly once across batches") {
    val got = ingest(nFiles = 4, filesPerTrigger = 1)
    assert(got.count() == got.dropDuplicates("a", "b").count(),
      "a pair was emitted by more than one micro-batch")
  }

  test("the index store holds each doc's postings exactly once") {
    val base = TestSpark.tmpDir("graft_ingest_idx_")
    docs.repartition(3, col("doc_id"))
      .write.mode("overwrite").parquet(s"$base/in")
    val q = DedupStream.lshIngest(spark, s"$base/in", docs.schema,
      s"$base/index", s"$base/pairs", s"$base/docs", s"$base/ck")
    q.awaitTermination()
    val shards = spark.read.parquet(s"$base/index")
    val posted = shards.select(explode(col("ids")).as("doc_id"), col("band"))
      .groupBy("doc_id", "band").count()
    assert(posted.filter(col("count") =!= 1).count() == 0,
      "a doc's band posting appears in more than one shard")
    val nDocs = DedupOps.shingleSets(docs).filter(size(col("shs")) > 0).count()
    assert(posted.select("doc_id").distinct().count() == nDocs)
  }
}

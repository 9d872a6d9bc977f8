package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.ops.MultimodalOps

/** [[MediaStream.payloadIngest]] — continuous media payload-index
  * maintenance (st21).
  *
  * The load-bearing property is the st12/st13/st16 contract on the
  * fourth index family: the CONSOLIDATED accumulated store must equal
  * the one-shot batch [[MultimodalOps.payloadLshIndex]] over the same
  * assets — band keys are a pure per-asset function of the payload
  * bytes and consolidation is a pure regroup of disjoint-id shards,
  * so nothing about the result may depend on where the micro-batch
  * boundaries fell. */
class MediaIngestStreamSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  private def assets = spark.read.parquet(s"$sf/documents.parquet")
    .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))

  /** Stage the lake as `nFiles` landing files, ingest `filesPerTrigger`
    * per micro-batch, return the consolidated accumulated index. */
  private def ingest(nFiles: Int, filesPerTrigger: Int): DataFrame = {
    val base = TestSpark.tmpDir("graft_media_ingest_")
    assets.repartition(nFiles, col("doc_id"))
      .write.mode("overwrite").parquet(s"$base/in")
    val q = MediaStream.payloadIngest(spark, s"$base/in",
      spark.read.parquet(s"$base/in").schema,
      s"$base/index", s"$base/ck", filesPerTrigger = filesPerTrigger)
    q.awaitTermination()
    MediaStream.consolidate(spark, s"$base/index")
  }

  private def rows(df: DataFrame): Set[String] =
    df.select(concat_ws("|", col("band"), col("k1"), col("k2"), col("k3"),
      col("k4"), concat_ws(",", col("ids")), col("sz")).as("r"))
      .collect().map(_.getString(0)).toSet

  test("accumulated index equals the one-shot batch build under any slicing") {
    val oneShot = rows(MultimodalOps.payloadLshIndex(assets))
    assert(oneShot.nonEmpty)
    Seq(
      ingest(nFiles = 1, filesPerTrigger = 1), // everything in one batch
      ingest(nFiles = 4, filesPerTrigger = 1), // four batches
      ingest(nFiles = 4, filesPerTrigger = 2)  // two batches (st21's shape)
    ).zipWithIndex.foreach { case (got, i) =>
      val g = rows(got)
      assert(g == oneShot,
        s"slicing $i diverges from the one-shot build: " +
          s"extra=${(g -- oneShot).take(3)} missing=${(oneShot -- g).take(3)}")
    }
  }

  test("each asset's band postings land in exactly one shard") {
    val base = TestSpark.tmpDir("graft_media_idx_")
    assets.repartition(3, col("doc_id"))
      .write.mode("overwrite").parquet(s"$base/in")
    val q = MediaStream.payloadIngest(spark, s"$base/in",
      spark.read.parquet(s"$base/in").schema, s"$base/index", s"$base/ck")
    q.awaitTermination()
    val shards = spark.read.parquet(s"$base/index")
    val posted = shards.select(explode(col("ids")).as("doc_id"), col("band"))
      .groupBy("doc_id", "band").count()
    assert(posted.filter(col("count") =!= 1).count() == 0,
      "an asset's band posting appears in more than one shard")
    val nAssets = assets.filter(length(col("payload")) > 0).count()
    assert(posted.select("doc_id").distinct().count() == nAssets)
  }
}

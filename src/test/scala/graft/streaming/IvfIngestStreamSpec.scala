package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.ops.VectorOps

/** [[VectorStream.ivfIngest]] — continuous IVF index maintenance
  * (st13). Assignment is a pure function of (vector, frozen codebook),
  * so the sharded store must equal the one-shot assignment wherever
  * the micro-batch boundaries fall, each vector indexed exactly once;
  * and because probeIvfIndex partition-prunes on `cid` across the
  * `batch=<id>` dirs, probes over the sharded store, the compacted
  * store, and a one-shot writeIvfIndex build must all agree. */
class IvfIngestStreamSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  private def emb = graft.Tables(spark, sf, "embeddings")
    .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))

  private def raw = graft.Tables(spark, sf, "embeddings")
    .select("vec_id", "embedding")

  private def centroids = emb.filter(col("vec_id") < 8)
    .select(col("vec_id").as("cid"), col("v").as("cv"))

  /** Run the ingest with the corpus staged as `nFiles` landing files,
    * `filesPerTrigger` per micro-batch; return the sharded index dir. */
  private def ingest(nFiles: Int, filesPerTrigger: Int): String = {
    val base = TestSpark.tmpDir("graft_ivf_spec_")
    raw.repartition(nFiles, col("vec_id"))
      .write.mode("overwrite").parquet(s"$base/in")
    val q = VectorStream.ivfIngest(spark, s"$base/in", raw.schema, centroids,
      s"$base/index", s"$base/ck", filesPerTrigger = filesPerTrigger)
    q.awaitTermination()
    s"$base/index"
  }

  private def assignments(indexDir: String): DataFrame =
    spark.read.parquet(indexDir).select("vec_id", "cid")

  test("sharded store equals the one-shot assignment under any slicing, one row per vector") {
    val oneShot = VectorOps.assignClusters(emb, centroids).select("vec_id", "cid")
    for ((nFiles, perTrigger) <- Seq((1, 1), (4, 1), (4, 2))) {
      val got = assignments(ingest(nFiles, perTrigger))
      assert(got.exceptAll(oneShot).isEmpty && oneShot.exceptAll(got).isEmpty,
        s"slicing ($nFiles, $perTrigger) diverged from the one-shot assignment")
      assert(got.groupBy("vec_id").count().filter(col("count") =!= 1).count() == 0,
        "a vector was indexed more than once")
    }
  }

  test("probe agrees across sharded, compacted, and one-shot layouts") {
    val idxDir = ingest(nFiles = 4, filesPerTrigger = 2)
    val probes = VectorOps.assignClusters(
      emb.filter(col("vec_id").between(100, 104)), centroids)
      .select(col("vec_id").as("probe_id"), col("v").as("pv"),
        col("cid").as("pcid"))
    val viaShards = VectorOps.probeIvfIndex(spark, idxDir, probes, k = 3)
    assert(viaShards.count() == 15, "5 probes x top-3")
    val compacted = TestSpark.tmpDir("graft_ivf_compact_").resolve("idx").toString
    VectorOps.compactIvfIndex(spark, idxDir, compacted)
    val viaCompacted = VectorOps.probeIvfIndex(spark, compacted, probes, k = 3)
    val oneShotDir = TestSpark.tmpDir("graft_ivf_oneshot_").resolve("idx").toString
    VectorOps.writeIvfIndex(emb, centroids, oneShotDir)
    val viaOneShot = VectorOps.probeIvfIndex(spark, oneShotDir, probes, k = 3)
    for ((other, name) <- Seq((viaCompacted, "compacted"), (viaOneShot, "one-shot"))) {
      assert(viaShards.exceptAll(other).isEmpty && other.exceptAll(viaShards).isEmpty,
        s"sharded probe diverged from the $name layout")
    }
  }

  test("TTL'd ingest: store bounded at keepBatches shards; survivors == rebuild") {
    // the st17/TextIngestStreamSpec boundedness pin, vector side
    val base = TestSpark.tmpDir("graft_ivfttl_spec_")
    val in = base.resolve("in")
    java.nio.file.Files.createDirectories(in)
    (0L to 3L).foreach { b =>
      val tmp = java.nio.file.Files.createTempDirectory(base, s"st$b")
      raw.filter(pmod(col("vec_id"), lit(4)) === b)
        .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = new java.io.File(tmp.toString).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val target = in.resolve(s"b$b.parquet")
      java.nio.file.Files.move(part.toPath, target)
      java.nio.file.Files.setLastModifiedTime(target,
        java.nio.file.attribute.FileTime.fromMillis(1600000000000L + b * 60000))
    }
    val q = VectorStream.ivfIngestWithRetention(spark, in.toString,
      raw.schema, centroids, s"$base/idx", s"$base/ck",
      keepBatches = 2, filesPerTrigger = 1)
    q.awaitTermination()
    val shards = new java.io.File(s"$base/idx").listFiles()
      .map(_.getName).filter(_.startsWith("batch=")).toSet
    assert(shards == Set("batch=2", "batch=3"),
      s"exactly keepBatches shard dirs must survive, got $shards")
    val probes = VectorOps.assignClusters(
        emb.filter(col("vec_id").between(100, 104)), centroids)
      .select(col("vec_id").as("probe_id"), col("v").as("pv"),
        col("cid").as("pcid"))
    val viaTtl = VectorOps.probeIvfIndex(spark, s"$base/idx", probes, k = 3)
    val rebuilt = TestSpark.tmpDir("graft_ivfttl_ref_").resolve("idx").toString
    VectorOps.writeIvfIndex(emb.filter(col("vec_id") % 4 >= 2),
      centroids, rebuilt)
    val viaRebuild = VectorOps.probeIvfIndex(spark, rebuilt, probes, k = 3)
    assert(viaTtl.exceptAll(viaRebuild).isEmpty &&
      viaRebuild.exceptAll(viaTtl).isEmpty,
      "the windowed store must serve exactly the surviving classes")
  }
}

package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The join-based IVF probe: dynamic partition pruning replaces the
  * driver-side cell collection. */
class DppProbeSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  test("probeIvfIndexDpp prunes via dynamicpruningexpression and matches the static probe") {
    val vectors = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val centroids = vectors.filter(col("vec_id") < 8)
      .select(col("vec_id").as("cid"), col("v").as("cv"))
    val path = TestSpark.tmpDir("graft_dpp_").toString + "/index"
    VectorOps.writeIvfIndex(vectors, centroids, path)

    val probes = VectorOps.assignClusters(vectors, centroids)
      .filter(col("vec_id").between(100, 102))
      .select(col("vec_id").as("probe_id"), col("v").as("pv"), col("cid").as("pcid"))

    val dpp = VectorOps.probeIvfIndexDpp(spark, path, probes, k = 3)
    assert(dpp.queryExecution.executedPlan.treeString.contains("dynamicpruning"))

    val static = VectorOps.probeIvfIndex(spark, path, probes, k = 3)
    assert(dpp.exceptAll(static).count() == 0)
    assert(static.exceptAll(dpp).count() == 0)
  }
}

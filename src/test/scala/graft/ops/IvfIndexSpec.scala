package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The persisted IVF layout: cluster-partitioned parquet + pruned probe
  * scans. */
class IvfIndexSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  private lazy val vectors = spark.read.parquet(s"$sf/embeddings.parquet")
    .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
  private lazy val centroids = vectors.filter(col("vec_id") < 8)
    .select(col("vec_id").as("cid"), col("v").as("cv"))

  private def edges(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("celled vs10 recall >= 0.95 vs the exact kernel on CLUSTERED data (IVF's regime)") {
    // vs10's registered plan is the IVF multiprobe; the exact N² kernel
    // is its verifier (dd02-vs-dd06 discipline). IVF recall is
    // data-dependent, so the >= 0.95 pin runs on a corpus with real
    // cluster structure: each vector = a strong per-cluster anchor
    // (one of the 8 centroid rows, scaled) + the original vector as
    // noise. True neighbors are then intra-cluster — the shape
    // production embedding corpora have and IVF exists for. (On the
    // near-uniform raw synthetic corpus recall degrades — measured in
    // SketchQuality, not asserted here.)
    val sf01 = "/root/testdata/sf0.01"
    val e = spark.read.parquet(s"$sf01/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val anchors = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("aid"), col("v").as("av"))
    val clustered = e.withColumn("aid", pmod(col("vec_id"), lit(8)))
      .join(broadcast(anchors), "aid")
      .select(col("vec_id"),
        zip_with(col("v"), col("av"), (x, a) => x * lit(0.25) + a).as("v"))
    val cents = clustered.filter(col("vec_id") < 8)
      .select(col("vec_id").as("cid"), col("v").as("cv"))
    val exact = edges(VectorOps.mutualKnnExact(clustered))
    val celled = edges(VectorOps.mutualKnnCelled(clustered, cents, nprobe = 2))
    val recall = (celled intersect exact).size.toDouble / exact.size
    assert(exact.nonEmpty && recall >= 0.95,
      s"celled vs10 recall $recall vs ${exact.size} exact edges on clustered corpus")
  }

  test("writeIvfIndex partitions by cluster; probe scan prunes partitions") {
    val path = TestSpark.tmpDir("graft_ivf_").toString + "/index"
    VectorOps.writeIvfIndex(vectors, centroids, path)

    // the layout is one directory per cell
    val cells = new java.io.File(path).listFiles().filter(_.getName.startsWith("cid="))
    assert(cells.length == 8)

    val asg = VectorOps.assignClusters(vectors, centroids)
    val probes = asg.filter(col("vec_id").between(100, 102))
      .select(col("vec_id").as("probe_id"), col("v").as("pv"), col("cid").as("pcid"))

    val result = VectorOps.probeIvfIndex(spark, path, probes, k = 3)

    // partition pruning visible in the scan
    val plan = result.queryExecution.executedPlan.treeString
    assert(plan.contains("PartitionFilters") && plan.contains("cid"))

    // equals the fully in-memory computation
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("probe_id").orderBy(col("c").desc, col("neighbor_id"))
    val expected = asg
      .join(broadcast(probes), col("cid") === col("pcid") && col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id").as("neighbor_id"),
        VectorOps.cosine(col("pv"), col("v")).as("c"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= 3)
      .select(col("probe_id"), col("neighbor_id"), col("rnk"), round(col("c"), 4).as("cos"))
    assert(result.exceptAll(expected).count() == 0)
    assert(expected.exceptAll(result).count() == 0)
  }

  test("appendIvfIndex: batch lands in its cells, untouched cells' files unchanged, probes see it") {
    val path = TestSpark.tmpDir("graft_ivf_app_").toString + "/index"
    val base = vectors.filter(col("vec_id") < 480)
    val batch = vectors.filter(col("vec_id") >= 480)
    VectorOps.writeIvfIndex(base, centroids, path)

    val batchCells = VectorOps.assignClusters(batch, centroids)
      .select("cid").distinct().collect().map(_.getLong(0)).toSet
    val untouched = (0L until 8L).filterNot(batchCells)
    def cellFiles(cid: Long): Map[String, Long] = {
      val dir = new java.io.File(s"$path/cid=$cid")
      dir.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName -> f.lastModified()).toMap
    }
    val before = untouched.map(c => c -> cellFiles(c)).toMap

    VectorOps.appendIvfIndex(batch, centroids, path)

    // append-only: cells the batch doesn't touch are physically untouched
    untouched.foreach(c => assert(cellFiles(c) == before(c), s"cell $c files changed"))
    // the index now holds everything exactly once
    val idx = spark.read.parquet(path)
    assert(idx.count() == vectors.count())
    assert(idx.select("vec_id").distinct().count() == vectors.count())
    // a probe whose cell got appendees sees them
    val asg = VectorOps.assignClusters(vectors, centroids)
    val probeCell = batchCells.head
    val probes = asg.filter(col("cid") === probeCell).limit(1)
      .select(col("vec_id").as("probe_id"), col("v").as("pv"), col("cid").as("pcid"))
    val got = VectorOps.probeIvfIndex(spark, path, probes, k = 1000)
    val wantInCell = asg.filter(col("cid") === probeCell).count() - 1 // minus the probe itself
    assert(got.count() == math.min(1000L, wantInCell))
  }
}

package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Targeted delete in the IVF index lifecycle (vs24): merge-on-read
  * tombstones + targeted vacuum. The contract triangle:
  *
  *   probe(index ∖ tombstones)            [merge-on-read]
  *     ≡ probe(rebuilt survivor index)    [full-recompute truth]
  *     ≡ probe(vacuumed index)            [post-compaction]
  *
  * plus the physical economics: a delete touches ZERO index files, a
  * vacuum rewrites ONLY the touched cells.
  */
class IvfDeleteSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  private lazy val vectors = spark.read.parquet(s"$sf/embeddings.parquet")
    .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
  private lazy val centroids = vectors.filter(col("vec_id") < 8)
    .select(col("vec_id").as("cid"), col("v").as("cv"))
  private lazy val removed = vectors.filter(col("vec_id") % 7 === 0)
  private lazy val survivors = vectors.filter(col("vec_id") % 7 =!= 0)

  private def newIndex(prefix: String): String = {
    val path = TestSpark.tmpDir(prefix).toString + "/idx"
    VectorOps.writeIvfIndex(vectors, centroids, path)
    path
  }

  private def probes = VectorOps
    .assignClusters(vectors.filter(col("vec_id").between(100, 104)), centroids)
    .select(col("vec_id").as("probe_id"), col("v").as("pv"), col("cid").as("pcid"))

  private def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long, Double)] =
    df.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet

  private def allFiles(path: String): Map[String, Long] = {
    val root = java.nio.file.Paths.get(path)
    val out = Map.newBuilder[String, Long]
    java.nio.file.Files.walk(root).forEach { p =>
      val rel = root.relativize(p).toString
      if (rel.contains("cid=") && p.toString.endsWith(".parquet"))
        out += rel -> java.nio.file.Files.getLastModifiedTime(p).toMillis
    }
    out.result()
  }

  test("tombstone delete touches zero index files; probe equals rebuilt survivor index") {
    val path = newIndex("graft_ivfdel_mor_")
    val before = allFiles(path)
    VectorOps.tombstoneIvfDelete(removed, centroids, path)
    assert(allFiles(path) == before, "delete must not touch index files")

    val rebuilt = TestSpark.tmpDir("graft_ivfdel_ref_").toString + "/idx"
    VectorOps.writeIvfIndex(survivors, centroids, rebuilt)

    val mor = rows(VectorOps.probeIvfIndex(spark, path, probes, k = 3))
    val ref = rows(VectorOps.probeIvfIndex(spark, rebuilt, probes, k = 3))
    assert(mor == ref)
    // and deletion genuinely changed answers: some pre-delete neighbor
    // was a multiple of 7
    val full = rows(VectorOps.probeIvfIndex(spark, newIndex("graft_ivfdel_full_"), probes, k = 3))
    assert(full.exists(_._2 % 7 == 0), "test corpus lost its overlap — weaken alarm")
    assert(mor != full)
    assert(!mor.exists(_._2 % 7 == 0))
  }

  test("vacuum: answers identical, sidecar gone, untouched cells byte-identical, touched cells purged") {
    val path = newIndex("graft_ivfdel_vac_")
    VectorOps.tombstoneIvfDelete(removed, centroids, path)
    val morAnswer = rows(VectorOps.probeIvfIndex(spark, path, probes, k = 3))

    val touched = VectorOps.assignClusters(removed, centroids)
      .select("cid").distinct().collect().map(_.getLong(0)).toSet
    val before = allFiles(path)
    VectorOps.vacuumIvfIndex(spark, path)

    assert(!new java.io.File(s"$path/_deletes").exists(), "sidecar must be dropped")
    val after = allFiles(path)
    val untouchedBefore = before.filter { case (rel, _) =>
      !touched.exists(c => rel.startsWith(s"cid=$c/")) }
    val untouchedAfter = after.filter { case (rel, _) =>
      !touched.exists(c => rel.startsWith(s"cid=$c/")) }
    assert(untouchedAfter == untouchedBefore, "untouched cells must keep their files")

    val idx = spark.read.parquet(path)
    assert(idx.filter(col("vec_id") % 7 === 0).count() == 0, "tombstoned rows must be gone")
    assert(idx.count() == survivors.count())
    assert(rows(VectorOps.probeIvfIndex(spark, path, probes, k = 3)) == morAnswer)
    // vacuum is idempotent: second call is a no-op
    VectorOps.vacuumIvfIndex(spark, path)
    assert(allFiles(path) == after)
  }

  test("empty takedown is identity; full takedown empties every probe") {
    val path = newIndex("graft_ivfdel_edge_")
    val fullAnswer = rows(VectorOps.probeIvfIndex(spark, path, probes, k = 3))
    VectorOps.tombstoneIvfDelete(removed.limit(0), centroids, path)
    assert(rows(VectorOps.probeIvfIndex(spark, path, probes, k = 3)) == fullAnswer)
    VectorOps.vacuumIvfIndex(spark, path)
    assert(rows(VectorOps.probeIvfIndex(spark, path, probes, k = 3)) == fullAnswer)

    VectorOps.tombstoneIvfDelete(vectors, centroids, path)
    assert(VectorOps.probeIvfIndex(spark, path, probes, k = 3).count() == 0)
    VectorOps.vacuumIvfIndex(spark, path)
    // a fully-vacuumed-away index has no cell dirs (and hence nothing
    // left to read — the degenerate-but-consistent end state)
    val dirs = new java.io.File(path).listFiles()
    assert(dirs == null || !dirs.exists(_.getName.startsWith("cid=")))
  }

  test("vector re-version: tombstone -> vacuum -> append equals a rebuilt index") {
    // the safe composition for a changed embedding under the SAME id —
    // vacuum MUST come before the re-append, because a tombstone kills
    // by (vec_id, cid) and would shadow a new version landing in the
    // same cell
    val path = newIndex("graft_ivfdel_rev_")
    val fullAnswer = rows(VectorOps.probeIvfIndex(spark, path, probes, k = 3))
    val newV = removed.select(col("vec_id"), reverse(col("v")).as("v"))
    VectorOps.reversionIvfIndex(spark, removed, newV, centroids, path)

    val rebuilt = TestSpark.tmpDir("graft_ivfdel_rev_ref_").toString + "/idx"
    VectorOps.writeIvfIndex(survivors.unionByName(newV), centroids, rebuilt)
    val updated = rows(VectorOps.probeIvfIndex(spark, path, probes, k = 3))
    assert(updated == rows(VectorOps.probeIvfIndex(spark, rebuilt, probes, k = 3)))
    // the update genuinely changed answers (stale versions were in
    // pre-update top-3s — same overlap alarm as the delete test)
    assert(fullAnswer.exists(_._2 % 7 == 0), "test corpus lost its overlap — weaken alarm")
    assert(updated != fullAnswer)

    // and the contract edge the ordering exists for: WITHOUT the
    // vacuum, a same-cell re-insert is shadowed by its own tombstone
    val shadowed = newIndex("graft_ivfdel_shadow_")
    VectorOps.tombstoneIvfDelete(removed, centroids, shadowed)
    VectorOps.appendIvfIndex(removed, centroids, shadowed) // same text, same cells
    val idsSeen = VectorOps.probeIvfIndex(spark, shadowed, probes, k = 1000)
      .select("neighbor_id").collect().map(_.getLong(0)).toSet
    assert(removed.select("vec_id").collect().map(_.getLong(0))
      .forall(id => !idsSeen.contains(id)),
      "a same-cell re-insert must be shadowed until vacuum (documented contract)")
  }

  test("IVF shard-store retention: dropping old batch= dirs equals a rebuild over surviving batches") {
    // the partition-drop economics (dd22's expireShards) on the
    // STREAMING ingest's batch=<id>/cid=<cell>/ layout: batches hold
    // disjoint vec_ids, so expiring old batch dirs is O(1) metadata
    // and the two-level probe over the survivors must equal a rebuilt
    // survivor index
    val store = TestSpark.tmpDir("graft_ivf_ret_").toString + "/idx"
    (0 until 3).foreach(i =>
      VectorOps.assignClusters(
          vectors.filter(pmod(col("vec_id"), lit(3)) === i), centroids)
        .write.partitionBy("cid").parquet(s"$store/batch=$i"))
    DedupOps.expireShards(spark, store, "batch", cutoff = 1)

    val rebuilt = TestSpark.tmpDir("graft_ivf_ret_ref_").toString + "/idx"
    VectorOps.writeIvfIndex(
      vectors.filter(pmod(col("vec_id"), lit(3)) =!= 0), centroids, rebuilt)
    assert(rows(VectorOps.probeIvfIndex(spark, store, probes, k = 3)) ==
      rows(VectorOps.probeIvfIndex(spark, rebuilt, probes, k = 3)))
  }

  test("DPP probe subtracts tombstones too") {
    val path = newIndex("graft_ivfdel_dpp_")
    VectorOps.tombstoneIvfDelete(removed, centroids, path)
    val mor = rows(VectorOps.probeIvfIndex(spark, path, probes, k = 3))
    val dpp = rows(VectorOps.probeIvfIndexDpp(spark, path, probes, k = 3))
    assert(dpp == mor)
    assert(!dpp.exists(_._2 % 7 == 0))
  }
}

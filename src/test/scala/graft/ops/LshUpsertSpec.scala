package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** [[DedupOps.lshIndexUpsert]] — the re-version (UPDATE) path of the
  * incremental near-dedup cycle (dd21). The load-bearing property: both
  * legs are content-addressed (the old text's keys name exactly the
  * buckets the old version occupies, the new text's keys exactly the
  * buckets the new version must enter), so the one-plan
  * delete-then-merge must equal a full index rebuild over the edited
  * lake, row for row — including `sz`, which the combined caps and
  * [[DedupOps.hotBandKeys]] blocklists read. */
class LshUpsertSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  private def lake = graft.Tables(spark, sf, "documents").select("doc_id", "text")
  // a different edit modulus than dd21's registered % 9, so the spec is
  // not a re-run of the oracle fixture
  private def oldU = lake.filter(col("doc_id") % 4 === 0)
  private def newU = oldU.select(col("doc_id"),
    concat(lit("rev "), col("text")).as("text"))
  private def editedLake = lake.filter(col("doc_id") % 4 =!= 0).unionByName(newU)

  private def sameRows(a: org.apache.spark.sql.DataFrame,
      b: org.apache.spark.sql.DataFrame): Unit = {
    assert(a.count() == b.count())
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
  }

  test("upsert equals a full rebuild over the edited lake, row for row") {
    val updated = DedupOps.lshIndexUpsert(DedupOps.lshBandIndex(lake),
      DedupOps.lshBandIndex(oldU), DedupOps.lshBandIndex(newU))
    sameRows(updated, DedupOps.lshBandIndex(editedLake))
  }

  test("pure insert and pure delete degenerations") {
    val idx = DedupOps.lshBandIndex(lake.filter(col("doc_id") % 4 =!= 0))
    val none = lake.filter(col("doc_id") < 0)
    // no old keys: upsert == merging brand-new docs into the index
    sameRows(
      DedupOps.lshIndexUpsert(idx, DedupOps.lshBandIndex(none),
        DedupOps.lshBandIndex(oldU)),
      DedupOps.lshBandIndex(lake))
    // no new keys: upsert == lshIndexDelete
    val full = DedupOps.lshBandIndex(lake)
    sameRows(
      DedupOps.lshIndexUpsert(full, DedupOps.lshBandIndex(oldU),
        DedupOps.lshBandIndex(none)),
      DedupOps.lshIndexDelete(full, DedupOps.lshBandIndex(oldU)))
    // no-op upsert is identity
    sameRows(
      DedupOps.lshIndexUpsert(full, DedupOps.lshBandIndex(none),
        DedupOps.lshBandIndex(none)),
      full)
  }

  test("re-versioning a doc back to its own text is identity") {
    // delete-then-merge with IDENTICAL old/new keys must round-trip:
    // the doc leaves its buckets and re-enters exactly them
    val idx = DedupOps.lshBandIndex(lake)
    sameRows(DedupOps.lshIndexUpsert(idx, DedupOps.lshBandIndex(oldU),
      DedupOps.lshBandIndex(oldU)), idx)
  }

  test("probe after update-and-persist equals the one-shot kernel over the edited lake") {
    val batch = lake.filter(col("doc_id") % 6 === 0)
      .select((col("doc_id") + lit(500000L)).as("doc_id"), col("text"))
    val tmp = TestSpark.tmpDir("graft_lshups_").toString
    DedupOps.writeLshIndexRows(
      DedupOps.lshIndexUpsert(DedupOps.lshBandIndex(lake),
        DedupOps.lshBandIndex(oldU), DedupOps.lshBandIndex(newU)),
      "lshups_spec_index", s"$tmp/index")
    val probed = DedupOps.lshIndexProbe(batch, spark.table("lshups_spec_index"),
      editedLake.unionByName(batch))
    val oneShot = DedupOps.minHashNearDupsPortable(editedLake.unionByName(batch))
      .filter(col("b") >= 500000L)
    assert(probed.count() > 0, "exact copies of unedited docs must produce pairs")
    assert(probed.exceptAll(oneShot).isEmpty, "probe found pairs the edited kernel does not")
    assert(oneShot.exceptAll(probed).isEmpty, "probe missed pairs the edited kernel finds")
  }

  test("bucketed index side of the upsert joins has zero Exchange") {
    val tmp = TestSpark.tmpDir("graft_lshups_plan_").toString
    DedupOps.writePortableLshIndex(lake, "lshups_plan_index", s"$tmp/index")
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val plan =
      try DedupOps.lshIndexUpsert(spark.table("lshups_plan_index"),
        DedupOps.lshBandIndex(oldU), DedupOps.lshBandIndex(newU))
        .queryExecution.executedPlan
      finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    val root = plan match {
      case a: AdaptiveSparkPlanExec => a.initialPlan
      case p => p
    }
    def scansIndex(p: org.apache.spark.sql.execution.SparkPlan): Boolean =
      p.collect { case s: FileSourceScanExec => s }
        .exists(_.relation.location.rootPaths.exists(_.toString.contains("graft_lshups_plan_")))
    // the strongest form of the zero-Exchange contract: index rows
    // never cross ANY shuffle — neither into the delete join nor into
    // the follow-up full-outer merge (whose left input must inherit the
    // delete join's clustering). Only the batch-sized old/new key legs
    // may exchange.
    assert(root.collect { case j: SortMergeJoinExec => j }.size >= 2,
      "expected delete + merge sort-merge joins in:\n" + root.treeString.take(2000))
    assert(scansIndex(root), "plan does not scan the bucketed index")
    val badShuffles = root.collect {
      case e: ShuffleExchangeLike if scansIndex(e) => e
    }
    assert(badShuffles.isEmpty,
      "index rows crossed an Exchange:\n" + root.treeString.take(3000))
  }
}

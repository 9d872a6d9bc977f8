package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The portable incremental LSH pair (dd17):
  * [[DedupOps.writePortableLshIndex]] + [[DedupOps.lshIndexProbe]].
  *
  * The load-bearing property is the SET IDENTITY: probing an indexed
  * lake with a batch returns exactly the pairs the one-shot
  * [[DedupOps.minHashNearDupsPortable]] kernel finds over lake ∪ batch
  * that involve a batch doc. That holds only if the probe's combined
  * bucket cap (index `sz` + batch bucket size) replays the one-shot
  * cap — an off-by-one or an index-only cap silently loses or invents
  * candidates near the 100-doc boundary. The layout property — the
  * bucketed index side joins without an Exchange — is what makes the
  * probe batch-cost at lake scale. */
class IncrementalLshSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  private def lake = graft.Tables(spark, sf, "documents").select("doc_id", "text")

  // every 3rd doc re-arrives under a new id — exact copies guarantee
  // planted matches; a denser batch than dd17's registered 1-in-10
  // stresses batch-batch pairs and combined caps harder
  private def batch = graft.Tables(spark, sf, "documents")
    .filter(col("doc_id") % 3 === 0)
    .select((col("doc_id") + lit(500000L)).as("doc_id"), col("text"))

  test("probe result equals the one-shot kernel restricted to batch-involving pairs") {
    val tmp = TestSpark.tmpDir("graft_ilsh_").toString
    DedupOps.writePortableLshIndex(lake, "ilsh_spec_index", s"$tmp/index")
    val probed = DedupOps.lshIndexProbe(batch, spark.table("ilsh_spec_index"),
      lake.unionByName(batch))
    // batch ids are all > lake ids, so "involves a batch doc" is
    // exactly "the greater id is a batch id"
    val oneShot = DedupOps.minHashNearDupsPortable(lake.unionByName(batch))
      .filter(col("b") >= 500000L)
    assert(probed.count() > 0, "planted exact copies must produce pairs")
    assert(probed.exceptAll(oneShot).isEmpty, "probe found pairs the one-shot kernel does not")
    assert(oneShot.exceptAll(probed).isEmpty, "probe missed pairs the one-shot kernel finds")
    // every planted copy finds its source at jaccard 1.0
    val planted = probed.filter(col("b") === col("a") + 500000L)
    assert(planted.count() == batch.count())
  }

  test("bucketed index side joins with zero Exchange whatever the join strategy") {
    val tmp = TestSpark.tmpDir("graft_ilsh_plan_").toString
    DedupOps.writePortableLshIndex(lake, "ilsh_plan_index", s"$tmp/index")
    // force the sort-merge path (the large-batch regime; a small batch
    // broadcasts, where the index trivially never shuffles)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val plan =
      try {
        val probed = DedupOps.lshIndexProbe(batch, spark.table("ilsh_plan_index"),
          lake.unionByName(batch))
        probed.queryExecution.executedPlan
      } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    // typed walk: the SMJ child whose subtree scans the bucketed index
    // must contain NO shuffle — the bucket layout already satisfies the
    // join's clustering
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
        .exists(_.relation.location.rootPaths.exists(_.toString.contains("graft_ilsh_plan_")))
    // the probe join is the INNERMOST SMJ over the index (the verify
    // joins above it also contain the index scan in their subtrees,
    // but their shuffles are the candidate pipeline's, not the
    // index's): its index-side child is the bucketed scan directly
    val indexSides = root.collect {
      case j: SortMergeJoinExec => j.children.filter(c =>
        scansIndex(c) && c.collect { case s: SortMergeJoinExec => s }.isEmpty)
    }.flatten
    assert(indexSides.nonEmpty, "expected a sort-merge probe join over the index in:\n" +
      root.treeString.take(2000))
    indexSides.foreach { side =>
      val shuffles = side.collect { case e: ShuffleExchangeLike => e }
      assert(shuffles.isEmpty,
        "index side of the probe join re-shuffled:\n" + side.treeString.take(2000))
    }
  }

  test("empty batch probes to an empty result, not an error") {
    val tmp = TestSpark.tmpDir("graft_ilsh_empty_").toString
    DedupOps.writePortableLshIndex(lake, "ilsh_empty_index", s"$tmp/index")
    val none = batch.filter(col("doc_id") < 0)
    val probed = DedupOps.lshIndexProbe(none, spark.table("ilsh_empty_index"),
      lake)
    assert(probed.count() == 0)
  }
}

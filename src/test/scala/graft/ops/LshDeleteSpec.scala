package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** [[DedupOps.lshIndexDelete]] — the takedown path of the incremental
  * near-dedup cycle (dd20). The load-bearing property: band keys are a
  * pure function of document CONTENT, so a doc can only ever occupy
  * the buckets its own keys name — re-hashing the removed docs and
  * rewriting exactly those posting rows must equal a full index
  * rebuild over the survivors, row for row, on both physical layouts.
  * Anything weaker (a tombstone list, a probe-side filter) would let
  * `sz`, the combined bucket caps, and [[DedupOps.hotBandKeys]]
  * blocklists drift from the post-delete corpus. */
class LshDeleteSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  private def lake = graft.Tables(spark, sf, "documents").select("doc_id", "text")
  // a different takedown modulus than dd20's registered % 7, so the
  // spec is not a re-run of the oracle fixture
  private def removed = lake.filter(col("doc_id") % 4 === 0)
  private def survivors = lake.filter(col("doc_id") % 4 =!= 0)

  private def sameRows(a: org.apache.spark.sql.DataFrame,
      b: org.apache.spark.sql.DataFrame): Unit = {
    assert(a.count() == b.count())
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
  }

  test("targeted delete equals a full rebuild over the survivors, row for row") {
    val pruned = DedupOps.lshIndexDelete(
      DedupOps.lshBandIndex(lake), DedupOps.lshBandIndex(removed))
    sameRows(pruned, DedupOps.lshBandIndex(survivors))
  }

  test("sharded layout: per-row subtraction equals the rebuilt shard union") {
    // an ingest's store is one shard per micro-batch with disjoint ids;
    // the same per-row subtraction must equal rebuilding every shard
    // over its own survivors
    val shards = (0 until 3).map(i => DedupOps.lshBandIndex(
      lake.filter(pmod(col("doc_id"), lit(3)) === i)))
      .reduce(_ unionByName _)
    val pruned = DedupOps.lshIndexDelete(shards, DedupOps.lshBandIndex(removed))
    val rebuilt = (0 until 3).map(i => DedupOps.lshBandIndex(
      survivors.filter(pmod(col("doc_id"), lit(3)) === i)))
      .reduce(_ unionByName _)
    sameRows(pruned, rebuilt)
  }

  test("empty takedown is identity; full takedown empties the index") {
    val idx = DedupOps.lshBandIndex(lake)
    sameRows(DedupOps.lshIndexDelete(idx,
      DedupOps.lshBandIndex(lake.filter(col("doc_id") < 0))), idx)
    assert(DedupOps.lshIndexDelete(idx, DedupOps.lshBandIndex(lake)).count() == 0)
  }

  test("probe after delete-and-persist equals the one-shot kernel over the survivors") {
    // the full dd20 production cycle at a spec-local modulus: index the
    // lake, take down every 4th doc, persist the pruned index in the
    // bucketed layout, probe a batch of re-arrivals — the answer must
    // be the one-shot portable kernel over survivors ∪ batch restricted
    // to batch-involving pairs (removed sources must NOT pair)
    val batch = lake.filter(col("doc_id") % 6 === 0)
      .select((col("doc_id") + lit(500000L)).as("doc_id"), col("text"))
    val tmp = TestSpark.tmpDir("graft_lshdel_").toString
    DedupOps.writeLshIndexRows(
      DedupOps.lshIndexDelete(
        DedupOps.lshBandIndex(lake), DedupOps.lshBandIndex(removed)),
      "lshdel_spec_index", s"$tmp/index")
    val probed = DedupOps.lshIndexProbe(batch, spark.table("lshdel_spec_index"),
      survivors.unionByName(batch))
    val oneShot = DedupOps.minHashNearDupsPortable(survivors.unionByName(batch))
      .filter(col("b") >= 500000L)
    assert(probed.count() > 0, "surviving exact copies must produce pairs")
    assert(probed.exceptAll(oneShot).isEmpty, "probe found pairs the survivors' kernel does not")
    assert(oneShot.exceptAll(probed).isEmpty, "probe missed pairs the survivors' kernel finds")
    // batch docs whose source was taken down (id % 12 == 0 hits both
    // the % 4 takedown and the % 6 batch) must not find that source
    assert(probed.filter(col("b") === col("a") + 500000L)
      .filter(col("a") % 4 === 0).count() == 0,
      "a deleted source doc still produced its exact-copy pair")
  }

  test("bucketed index side of the delete join has zero Exchange") {
    val tmp = TestSpark.tmpDir("graft_lshdel_plan_").toString
    DedupOps.writePortableLshIndex(lake, "lshdel_plan_index", s"$tmp/index")
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val plan =
      try DedupOps.lshIndexDelete(spark.table("lshdel_plan_index"),
        DedupOps.lshBandIndex(removed)).queryExecution.executedPlan
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
        .exists(_.relation.location.rootPaths.exists(_.toString.contains("graft_lshdel_plan_")))
    val indexSides = root.collect {
      case j: SortMergeJoinExec => j.children.filter(c =>
        scansIndex(c) && c.collect { case s: SortMergeJoinExec => s }.isEmpty)
    }.flatten
    assert(indexSides.nonEmpty, "expected a sort-merge delete join over the index in:\n" +
      root.treeString.take(2000))
    indexSides.foreach { side =>
      val shuffles = side.collect { case e: ShuffleExchangeLike => e }
      assert(shuffles.isEmpty,
        "index side of the delete join re-shuffled:\n" + side.treeString.take(2000))
    }
  }
}

package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The persisted inverted text index ([[TextIndex]]): every lifecycle
  * verb must equal a from-scratch rebuild, and the probe must be the
  * tx30 kernel bit-for-bit — the index is an ACCELERATION STRUCTURE,
  * never a different answer.
  */
class TextIndexSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"
  private lazy val docs = spark.read.parquet(s"$sf/documents.parquet")
    .select("doc_id", "text")

  private def fresh(tag: String): String =
    TestSpark.tmpDir(tag).toString + "/index"

  private def probe(dir: String, qid: Long,
      tombs: Option[String] = None): DataFrame =
    TextIndex.probeTextIndex(spark, dir,
      TextIndex.queryTerms(docs, qid), k = 10, tombsPath = tombs)

  private def sameRows(a: DataFrame, b: DataFrame): Unit = {
    assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0,
      s"result sets differ:\n${a.collect().mkString("\n")}\nvs\n${b.collect().mkString("\n")}")
  }

  test("index probe == the from-scratch tx30 kernel, bit for bit") {
    val dir = fresh("graft_ti_base_")
    TextIndex.buildTextIndex(docs, dir)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(PrefixSum.onePart(col("doc_id")))
      .orderBy(col("iscore").desc, col("doc_id"))
    val scratch = TextOps.bm25Scores(
        spark.read.parquet(s"$sf/documents.parquet"), queryDocId = 43)
      .orderBy(col("iscore").desc, col("doc_id")).limit(10)
      .withColumn("rn", row_number().over(w))
      .select(col("doc_id"), col("rn").cast("long").as("rnk"),
        round(col("iscore").cast("double") / lit(1000000), 4).as("score"))
    sameRows(probe(dir, 43), scratch)
  }

  test("append == rebuild over the union corpus") {
    val incr = fresh("graft_ti_incr_")
    TextIndex.buildTextIndex(docs.filter(col("doc_id") % 10 =!= 9), incr)
    TextIndex.appendTextIndex(docs.filter(col("doc_id") % 10 === 9),
      incr, batch = 1L)
    val rebuilt = fresh("graft_ti_full_")
    TextIndex.buildTextIndex(docs, rebuilt)
    sameRows(probe(incr, 42), probe(rebuilt, 42))
    // a replayed batch overwrites itself — no double counting
    TextIndex.appendTextIndex(docs.filter(col("doc_id") % 10 === 9),
      incr, batch = 1L)
    sameRows(probe(incr, 42), probe(rebuilt, 42))
  }

  test("merge-on-read delete == rebuild over survivors, and visibly changes the answer") {
    val dir = fresh("graft_ti_del_")
    TextIndex.buildTextIndex(docs, dir)
    val tombs = fresh("graft_ti_tomb_")
    TextIndex.deleteFromTextIndex(docs.filter(col("doc_id") % 25 === 3), tombs)
    val survivors = fresh("graft_ti_surv_")
    TextIndex.buildTextIndex(docs.filter(col("doc_id") % 25 =!= 3), survivors)
    val deleted = probe(dir, 43, tombs = Some(tombs))
    sameRows(deleted, probe(survivors, 43))
    // no tombstoned doc can appear
    assert(deleted.filter(col("doc_id") % 25 === 3).count() == 0)
    // N/avgdl/df all shift, so scores (not just membership) must move
    val before = probe(dir, 43).select("doc_id", "score").collect().toSet
    val after = deleted.select("doc_id", "score").collect().toSet
    assert(before != after, "takedown must shift the retrieval answer")
  }

  test("vacuum folds the sidecar in: vacuumed-without-tombs == base-with-tombs == survivor rebuild") {
    val dir = fresh("graft_ti_vac_base_")
    TextIndex.buildTextIndex(docs, dir)
    val tombs = fresh("graft_ti_vac_tomb_")
    TextIndex.deleteFromTextIndex(docs.filter(col("doc_id") % 25 === 3), tombs)
    val vacuumed = fresh("graft_ti_vac_out_")
    TextIndex.vacuumTextIndex(spark, dir, tombs, vacuumed)
    val mor = probe(dir, 43, tombs = Some(tombs))
    sameRows(probe(vacuumed, 43), mor)
    val survivors = fresh("graft_ti_vac_surv_")
    TextIndex.buildTextIndex(docs.filter(col("doc_id") % 25 =!= 3), survivors)
    sameRows(probe(vacuumed, 43), probe(survivors, 43))
  }

  test("re-version == rebuild over the edited lake; the edited doc serves its NEW version") {
    val dir = fresh("graft_ti_rev_base_")
    TextIndex.buildTextIndex(docs, dir)
    val edited = docs.filter(col("doc_id") % 20 === 7)
    val newV = edited.select(col("doc_id"),
      concat_ws(" ", col("text"), col("text")).as("text"))
    val out = fresh("graft_ti_rev_out_")
    TextIndex.reVersionTextIndex(spark, edited, newV, dir, out)
    val rebuilt = fresh("graft_ti_rev_full_")
    TextIndex.buildTextIndex(
      docs.filter(col("doc_id") % 20 =!= 7).unionByName(newV), rebuilt)
    sameRows(probe(out, 43), probe(rebuilt, 43))
    // an edited doc probing ITSELF must retrieve its new version as
    // its own top hit (doubled text still matches its own terms)
    val selfId = edited.filter(length(trim(col("text"))) > 0)
      .agg(min("doc_id")).head().getLong(0)
    val self = probe(out, selfId).filter(col("rnk") === 1).head()
    assert(self.getAs[Long]("doc_id") == selfId,
      s"edited doc $selfId must be its own top hit, got $self")
  }

  test("re-version order is load-bearing: append before vacuum shadows the new version") {
    val dir = fresh("graft_ti_shadow_base_")
    TextIndex.buildTextIndex(docs, dir)
    val edited = docs.filter(col("doc_id") % 20 === 7)
    val newV = edited.select(col("doc_id"),
      concat_ws(" ", col("text"), col("text")).as("text"))
    // WRONG order: append the new versions while the sidecar is live —
    // the doc_id-keyed tombstones kill old AND new rows alike
    val tombs = fresh("graft_ti_shadow_tomb_")
    TextIndex.deleteFromTextIndex(edited, tombs)
    TextIndex.appendTextIndex(newV, dir, batch = 1L)
    val shadowed = probe(dir, 43, tombs = Some(tombs))
    assert(shadowed.filter(col("doc_id") % 20 === 7).count() == 0,
      "with a live doc_id sidecar, re-appended versions are shadowed — " +
        "this is WHY reVersionTextIndex vacuums before appending")
  }

  test("retention expiry == rebuild over the surviving batches; all-expired store is quiet") {
    val dir = fresh("graft_ti_exp_")
    (0L to 2L).foreach(b => TextIndex.appendTextIndex(
      docs.filter(pmod(col("doc_id"), lit(3)) === b), dir, b))
    TextIndex.expireTextIndex(spark, dir, cutoffBatch = 1L)
    val survivors = fresh("graft_ti_exp_surv_")
    TextIndex.buildTextIndex(docs.filter(col("doc_id") % 3 =!= 0), survivors)
    sameRows(probe(dir, 43), probe(survivors, 43))
    assert(probe(dir, 43).filter(col("doc_id") % 3 === 0).count() == 0,
      "no expired-batch doc may surface")
    // drop everything: the quiet store must probe to zero rows, not throw
    TextIndex.expireTextIndex(spark, dir, cutoffBatch = Long.MaxValue)
    assert(probe(dir, 43).count() == 0)
  }

  test("batch serve == the single probe, query by query") {
    val dir = fresh("graft_ti_multi_")
    TextIndex.buildTextIndex(docs, dir)
    val multi = TextIndex.probeTextIndexMulti(spark, dir,
      TextIndex.queryTermsMulti(docs, col("doc_id").between(40, 44)), k = 5)
    (40L to 44L).foreach { qid =>
      val single = TextIndex.probeTextIndex(spark, dir,
          TextIndex.queryTerms(docs, qid), k = 5, excludeDocId = Some(qid))
        .select(lit(qid).as("qid"), col("doc_id"), col("rnk"), col("score"))
      sameRows(multi.filter(col("qid") === qid), single)
    }
  }

  test("audit: a healthy store is consistent on every batch; a lost shard flips it") {
    val dir = fresh("graft_ti_audit_")
    (0L to 2L).foreach(b => TextIndex.appendTextIndex(
      docs.filter(pmod(col("doc_id"), lit(3)) === b), dir, b))
    val healthy = TextIndex.auditTextIndex(spark, dir).collect()
    assert(healthy.length == 3 &&
      healthy.forall(_.getAs[Long]("consistent") == 1L),
      s"fresh 3-batch store must audit clean: ${healthy.mkString(";")}")
    // sabotage: drop batch 1's POSTING shard but keep its stats row —
    // exactly the drift a partial ingest failure leaves behind
    val p = java.nio.file.Paths.get(dir, "postings", "batch=1")
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
      .foreach(java.nio.file.Files.delete)
    val broken = TextIndex.auditTextIndex(spark, dir).collect()
      .map(r => r.getAs[Long]("batch") -> r.getAs[Long]("consistent")).toMap
    assert(broken(1L) == 0L, "batch 1 lost its postings — audit must flag it")
    assert(broken(0L) == 1L && broken(2L) == 1L,
      "untouched batches must still audit clean")
  }

  test("probe scan is pruned to the query terms' tp partitions (DPP) — single and batch") {
    val dir = fresh("graft_ti_dpp_")
    TextIndex.buildTextIndex(docs, dir)
    val p = probe(dir, 43)
    assert(p.queryExecution.executedPlan.treeString.contains("dynamicpruning"),
      "posting scan must carry a dynamic partition pruning filter on tp")
    val m = TextIndex.probeTextIndexMulti(spark, dir,
      TextIndex.queryTermsMulti(docs, col("doc_id").between(40, 44)), k = 5)
    assert(m.queryExecution.executedPlan.treeString.contains("dynamicpruning"),
      "the batch probe's scan must prune identically")
  }
}

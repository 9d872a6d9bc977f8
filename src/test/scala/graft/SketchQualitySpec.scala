package graft

import org.scalatest.funsuite.AnyFunSuite

/** Enforces the quality floors the committed SKETCH_QUALITY.json
  * artifact advertises — same computation
  * ([[SketchQuality.metrics]]), so the artifact can't drift from what
  * the suite guarantees. Since r7 the registered dd02/dd03/dd04 are
  * md5-portable and oracle-exact; the floors here cover the
  * algorithmic recall of their candidate stages. */
class SketchQualitySpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  private lazy val m: Map[String, Map[String, Double]] =
    SketchQuality.metrics(spark, sf).map { case (k, v) => k -> v.toMap }.toMap

  test("near-dup sketches: exact-verified precision 1.0, recall >= 0.95 vs the dd06 tier") {
    // ALL THREE near-dup sketches end in the exact-Jaccard verify
    // stage (dd03 since the r5 calibration — no pure Hamming threshold
    // cleared p>=0.97 at r>=0.95), so false pairs are structurally
    // impossible: precision must be EXACTLY 1.0, not approximately.
    for (name <- Seq("dd02_minhash_lsh", "dd03_simhash", "dd04_ngram_jaccard")) {
      val p = m(name)("precision_vs_dd06")
      val r = m(name)("recall_vs_dd06")
      assert(p == 1.0, s"$name precision $p (verify stage admitted a false pair)")
      assert(r >= 0.95, s"$name recall $r")
      assert(m(name)("n_pairs") > 0, name)
    }
    // dd02/dd04 candidate generation is recall-total on this corpus
    assert(m("dd02_minhash_lsh")("recall_vs_dd06") == 1.0)
    assert(m("dd04_ngram_jaccard")("recall_vs_dd06") == 1.0)
  }

  test("vs10 nprobe->recall curve: monotone non-decreasing, exact at full probe") {
    val curve = Seq(1, 2, 4, 8).map(np => m("vs10_nprobe_recall_curve")(s"recall_nprobe_$np"))
    assert(curve.zip(curve.tail).forall { case (lo, hi) => lo <= hi },
      s"curve not monotone: $curve")
    // probing all 8 cells makes the candidate set all pairs — the
    // exact kernel — so full-probe recall is 1.0 BY CONSTRUCTION; a
    // miss here means the celled plan drops pairs for some other
    // reason than probe selection
    assert(curve.last == 1.0, s"full-probe recall ${curve.last}")
    // the REGISTERED operating point (nprobe = 4 since r8 — picked
    // off this curve: the 2→4 step buys the largest recall increment
    // for ~2× probe reads) sits on the curve — the artifact's headline
    // vs10 recall is the curve's third point
    assert(m("vs10_mutual_knn")("recall_vs_exact") == curve(2),
      s"registered point ${m("vs10_mutual_knn")("recall_vs_exact")} vs curve ${curve(2)}")
  }

  test("ev14 quantiles: sample and GK tiers both within 1% rank error") {
    // rank error is the contract metric for both tiers; value distance
    // to the INTERPOLATED exact percentile includes irreducible
    // order-statistic gaps and is recorded informationally only. The
    // registered bottom-k sample tier is EXACT below its k=10^4 cap
    // (all audit-SF groups), so its rank error here is zero.
    for (name <- Seq("ev14_approx_quantiles", "ev14_native_gk"); k <- Seq("p50", "p95"))
      assert(m(name)(s"max_rank_err_$k") <= 0.01, m(name).toString)
  }

  test("q18 approx distinct: KMV and HLL++ tiers both within 1% of exact") {
    // registered q18 is the portable KMV synopsis (r7) — EXACT below
    // its k=1024 cap, which every audit SF's per-group cardinality is
    // under or near; the builtin HLL++ keeps its accuracy-param floor
    assert(m("q18_approx_distinct")("max_rel_err") <= 0.01,
      m("q18_approx_distinct").toString)
    assert(m("q18_native_hll")("max_rel_err") <= 0.01,
      m("q18_native_hll").toString)
  }
}

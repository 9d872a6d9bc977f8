package graft

import org.scalatest.funsuite.AnyFunSuite

/** Asserts the sub-quadratic runtime growth the SCALING.json artifact
  * advertises — same computation ([[Scaling.measure]]), re-measured
  * live so the artifact can't drift from what the suite guarantees.
  * Bounds are deliberately loose (timing under the shared local[4]
  * test session is noisy): an all-pairs regression shows up as an
  * exponent near 2 (100× runtime at 10× input), far above every
  * threshold here; measured values on an idle box are 0.0–0.7.
  */
class ScalingSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  test("headline kernels scale sub-quadratically over 1x/3x/10x slices") {
    val m = Scaling.measure(spark, "/root/testdata/sf0.1", reps = 2)
    assert(m.map(_._1).toSet == Set("dd02_minhash_lsh", "dd06_exact_ppjoin",
      "dd17_index_probe", "vs02_ivf_probe", "tx33_text_probe",
      "tx34_index_append", "tx36_index_vacuum", "dd20_index_delete",
      "vs26_ivf_reversion", "tx43_bpe_train", "mm16_payload_minhash", "merge_files"))
    for ((name, points, exp) <- m) {
      assert(points.forall(_._2 > 0), s"$name: non-positive timing $points")
      assert(exp <= 1.7, s"$name exponent $exp (points $points) — " +
        "approaching all-pairs growth")
    }
    def expOf(name: String) = m.find(_._1 == name).get._3
    // the O(batch) probe claim: a FIXED batch against a 10x lake must
    // stay well below linear growth in the lake (idle-box measurement
    // is flat at ~-0.03; 0.8 leaves room for load noise, while an
    // accidental O(lake) re-shingle regression — the bug r7 caught —
    // measures ~1.0)
    assert(expOf("dd17_index_probe") <= 0.8,
      "dd17 probe cost is growing with the lake, not the batch")
    // the write-side O(batch) claim (r8 verdict task 6): a FIXED batch
    // appended to a 10x store writes the same posting mass — an
    // exponent near 1 means the append is re-reading the store
    assert(expOf("tx34_index_append") <= 0.8,
      "tx34 append cost is growing with the store, not the batch")
    // the one-corpus-pass claim (r9 ADVICE): BPE's merge loop must run
    // on the VOCAB-bounded dictionary, never the corpus — Scaling.scala
    // documents that a corpus-scale step inside the loop would read
    // exponent ~1 with a 6x constant, and this pin makes that exact
    // regression fail the build (measured 0.06 idle; same headroom
    // rationale as dd17/tx34)
    assert(expOf("tx43_bpe_train") <= 0.8,
      "tx43 merge-loop cost is growing with the corpus, not the vocab")
    // the media near-dup kernel is a FULL-LAKE op whose single-pass
    // windowing scan is ~linear in lake bytes BY DESIGN (r10 verdict
    // task 5: the r10 row's 0.78 was measured on a kernel that
    // windowed the lake twice; the single-pass kernel reads 0.69 with
    // clean point-to-point growth). 1.3 = linear plus load margin —
    // an all-pairs regression in the banding reads ~1.9 and fails
    // both this and the generic bound.
    assert(expOf("mm16_payload_minhash") <= 1.3,
      "mm16 payload kernel is growing faster than its linear-in-bytes design")
    // the merge tool's own sequence is a listing, a stat and a footer
    // read per file plus one write of every row: linear by design (0.83
    // measured over 100/300/1000 files). Work per file that grew with
    // the file count (a rescan per file, say) would read ~2.
    assert(expOf("merge_files") <= 1.3,
      "merge_files is growing faster than linearly in the file count")
    // tx36 vacuum / dd20 delete / vs26 re-version are O(index) /
    // O(touched cells) BY DESIGN — the generic <= 1.7 above is their
    // claim (sub-quadratic, never all-pairs); no tighter pin because
    // linear growth is the documented economics.
  }
}

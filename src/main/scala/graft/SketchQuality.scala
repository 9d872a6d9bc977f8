package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.core.Session

/** Quality audit of the sketch-tier operators against their exact
  * tiers — the numbers behind the "cross-checked in specs" claim, made
  * bench-visible: run
  *   sbt 'runMain graft.SketchQuality [sfDir] [outFile]'
  * and the per-sketch precision / recall / error bounds land in
  * SKETCH_QUALITY.json. SketchQualitySpec asserts the same metrics
  * (via [[metrics]]) above the thresholds recorded in the artifact, so
  * the committed JSON cannot silently drift from what the suite
  * enforces.
  *
  * Since r7 NO registered query is rows-only: dd02/dd03/dd04 use the
  * md5-portable hash family, q18 the portable KMV synopsis, and ev14
  * the portable bottom-k-by-hash sample — all oracle-exact — so their
  * rows here document sketch quality as an algorithm property, and
  * the q18_native_hll / ev14_native_gk rows carry the quality floors
  * for the builtin HLL/GK paths whose engine-internal state no
  * external oracle can reproduce.
  *
  * Exact tiers: dd06 (all-pairs Jaccard >= 0.8, oracle-exact) for the
  * near-dup sketches; built-in exact `percentile` for ev14's GK
  * sketch; exact `count_distinct` for q18's HLL++.
  */
object SketchQuality {

  /** name -> metric -> value, all doubles for uniform JSON.
    *
    * The pair-set collects here are QA-tooling collects, bounded by the
    * audit corpus (sketch-tier pair sets at sf0.001/sf0.01), not engine
    * data paths — the quality audit is driver-side by design. */
  def metrics(spark: SparkSession, sfDir: String): Seq[(String, Seq[(String, Double)])] = {
    val exactPairs = SparkEntry.queries("dd06_exact_jaccard")(spark, sfDir)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    def pairMetrics(name: String): (String, Seq[(String, Double)]) = {
      // bounded by the audit corpus' pair count (QA tooling, see above)
      val got = SparkEntry.queries(name)(spark, sfDir).select("a", "b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val tp = (got intersect exactPairs).size.toDouble
      (name, Seq(
        "n_pairs" -> got.size.toDouble,
        "n_exact_tier_pairs" -> exactPairs.size.toDouble,
        "precision_vs_dd06" -> (if (got.isEmpty) 1.0 else tp / got.size),
        "recall_vs_dd06" -> (if (exactPairs.isEmpty) 1.0 else tp / exactPairs.size)))
    }

    // ev14's GK sketch returns an ACTUAL data value, while the exact
    // `percentile` interpolates between order statistics — so value
    // distance includes the irreducible gap between adjacent tail
    // values and is only reported informationally. The enforceable
    // metric is RANK error: how far (in rank space) the returned
    // value's rank interval [count(<x)/n, count(<=x)/n] sits from the
    // target quantile — GK guarantees <= 1/accuracy.
    val ev = Tables.events(spark, sfDir)
    def quantileMetrics(name: String,
        approxQ: org.apache.spark.sql.DataFrame): (String, Seq[(String, Double)]) = {
      val ranked = ev.join(approxQ, "event_type").groupBy("event_type").agg(
        count(lit(1)).cast("double").as("n"),
        max(col("p50_approx")).as("a50"), max(col("p95_approx")).as("a95"),
        sum(when(col("value") < col("p50_approx"), 1L).otherwise(0L)).cast("double").as("lt50"),
        sum(when(col("value") <= col("p50_approx"), 1L).otherwise(0L)).cast("double").as("le50"),
        sum(when(col("value") < col("p95_approx"), 1L).otherwise(0L)).cast("double").as("lt95"),
        sum(when(col("value") <= col("p95_approx"), 1L).otherwise(0L)).cast("double").as("le95"))
      def rankErr(lt: String, le: String, q: Double) =
        greatest(col(lt) / col("n") - lit(q), lit(q) - col(le) / col("n"), lit(0.0))
      val exactQ = ev.groupBy("event_type").agg(
        percentile(col("value"), lit(0.5)).as("e50"),
        percentile(col("value"), lit(0.95)).as("e95"))
      val qErr = ranked.join(exactQ, "event_type")
        .select(
          max(rankErr("lt50", "le50", 0.5)).as("k50"),
          max(rankErr("lt95", "le95", 0.95)).as("k95"),
          max(abs(col("a50") - col("e50"))).as("m50"),
          max(abs(col("a95") - col("e95"))).as("m95"))
        .head()
      (name, Seq(
        "max_rank_err_p50" -> qErr.getDouble(0),
        "max_rank_err_p95" -> qErr.getDouble(1),
        "max_abs_err_p50" -> qErr.getDouble(2),
        "max_abs_err_p95" -> qErr.getDouble(3)))
    }
    // registered ev14 is the portable bottom-k sample since r7
    // (oracle-exact as a computation; this row records its ESTIMATOR
    // error vs exact — zero whenever groups are under the k=10⁴ cap)
    val ev14 = quantileMetrics("ev14_approx_quantiles",
      SparkEntry.queries("ev14_approx_quantiles")(spark, sfDir))
    // the builtin GK tier (merge-order-dependent internals, no
    // external oracle possible) keeps its own rank-error floor here
    val ev14n = quantileMetrics("ev14_native_gk",
      ev.groupBy("event_type")
        .agg(percentile_approx(col("value"), array(lit(0.5), lit(0.95)), lit(10000))
          .as("qs"))
        .select(col("event_type"),
          element_at(col("qs"), 1).as("p50_approx"),
          element_at(col("qs"), 2).as("p95_approx")))

    val ord = Tables(spark, sfDir, "orders")
    val exactD = ord.groupBy("o_orderstatus")
      .agg(countDistinct("o_custkey").as("nd"))
    // registered q18 is the KMV synopsis since r7 (oracle-exact as a
    // computation; this row records its ESTIMATOR error vs exact)
    val dErr = SparkEntry.queries("q18_approx_distinct")(spark, sfDir)
      .join(exactD, "o_orderstatus")
      .select(max(abs(col("n_cust_approx") - col("nd"))
        / col("nd").cast("double")).as("mr"))
      .head()
    val q18 = ("q18_approx_distinct", Seq(
      "max_rel_err" -> dErr.getDouble(0)))
    // the builtin HLL++ tier (engine-internal registers, rows-only by
    // nature) keeps its own accuracy floor here
    val hllErr = ord.groupBy("o_orderstatus")
      .agg(approx_count_distinct(col("o_custkey"), 0.01).as("n_hll"))
      .join(exactD, "o_orderstatus")
      .select(max(abs(col("n_hll") - col("nd"))
        / col("nd").cast("double")).as("mr"))
      .head()
    val q18n = ("q18_native_hll", Seq(
      "max_rel_err" -> hllErr.getDouble(0)))

    // vs10's IVF-celled mutual-kNN vs its exact N² kernel. Recorded,
    // not thresholded: IVF recall is data-dependent and this corpus is
    // near-uniform (weak neighbors scattered across cells — the
    // adversarial case). IvfIndexSpec pins >= 0.95 on a clustered
    // corpus, the regime the index exists for.
    val emb = Tables(spark, sfDir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    // both edge sets bounded by the audit corpus (QA tooling, see above)
    val exactEdges = graft.ops.VectorOps.mutualKnnExact(emb)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val celledEdges = SparkEntry.queries("vs10_mutual_knn")(spark, sfDir)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val vtp = (celledEdges intersect exactEdges).size.toDouble
    // Measured numbers ONLY under the r2-r4 key names (cross-round
    // diffability; r5's key rename + embedded 0.95 floor constant were
    // flagged by ADVICE as a pseudo-metric — the floor is enforced in
    // IvfIndexSpec, and the uniform-corpus caveat rides in the
    // top-level "_notes" field of the artifact instead).
    val vs10 = ("vs10_mutual_knn", Seq(
      "n_pairs" -> celledEdges.size.toDouble,
      "n_exact_tier_pairs" -> exactEdges.size.toDouble,
      "precision_vs_exact" -> (if (celledEdges.isEmpty) 1.0 else vtp / celledEdges.size),
      "recall_vs_exact" -> (if (exactEdges.isEmpty) 1.0 else vtp / exactEdges.size)))

    // vs10's nprobe -> recall curve on the SAME corpus and cells as the
    // registered query (r6 verdict task 3: a measured operating-point
    // curve, not just a caveat). At nprobe = |cells| the candidate set
    // is all pairs, so recall is 1.0 by construction — the curve shows
    // what each extra probe buys on the adversarial near-uniform
    // corpus. IvfIndexSpec asserts the curve's shape (monotone, exact
    // at full probe).
    val cents = graft.ops.VectorOps.seedCells(emb) // the registered vs10's cells
    val vs10Curve = ("vs10_nprobe_recall_curve", Seq(1, 2, 4, 8).map { np =>
      // bounded by the audit corpus' mutual-kNN edge set (<= 3 edges
      // per vector at the audit SFs) — QA tooling, see header note
      val edges = graft.ops.VectorOps.mutualKnnCelled(emb, cents, nprobe = np)
        .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val tp = (edges intersect exactEdges).size.toDouble
      s"recall_nprobe_$np" ->
        (if (exactEdges.isEmpty) 1.0 else tp / exactEdges.size)
    })

    Seq(pairMetrics("dd02_minhash_lsh"), pairMetrics("dd03_simhash"),
      pairMetrics("dd04_ngram_jaccard"), ev14, ev14n, q18, q18n, vs10, vs10Curve)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.lift(0).getOrElse("/root/testdata/sf0.01")
    val outFile = args.lift(1).getOrElse("SKETCH_QUALITY.json")
    val spark = Session.local(Session.cpus)
    val m = metrics(spark, sfDir)
    def f(v: Double): String = if (v == v.floor && v.abs < 1e15) v.toLong.toString
      else f"$v%.6f"
    val notes =
      "All registered queries are oracle-exact since r7; the *_native_* rows " +
        "carry the accuracy floors for the builtin engine-internal sketches. " +
        "ev14 (registered) is the portable bottom-k-by-hash sample quantile: " +
        "EXACT below its k=10^4 cap (every audit SF's groups; rank error 0 here), " +
        "a deterministic ~sqrt(q(1-q)/k) sample estimator above it — sf0.1's " +
        "20k-row groups exercise that sampled tier under the driver's bit-parity " +
        "gate; ev14_native_gk carries the builtin GK (percentile_approx) " +
        "rank-error floor, whose merge-order-dependent summary is the part no " +
        "external oracle can replay. " +
        "q18 (registered) is the portable KMV synopsis since r7 and oracle-exact; " +
        "q18_native_hll carries the builtin HLL++ accuracy floor. " +
        "dd02/dd03/dd04 (registered) are md5-portable and ORACLE-EXACT since r7 — " +
        "their rows here measure algorithmic recall of the LSH/bottom-k/simhash " +
        "candidate stages vs the dd06 exact tier, not correctness; they are the " +
        "only near-dup tier (the xxhash tier, whose recall matched theirs, was " +
        "removed). " +
        "vs10: numbers are the adversarial near-uniform test-corpus datapoint, " +
        "not the index's quality claim (vs10 the query is oracle-exact by plan " +
        "definition; IvfIndexSpec enforces recall >= 0.95 on a clustered corpus, " +
        "the regime IVF exists for); vs10_nprobe_recall_curve shows what each " +
        "extra probe buys on that corpus — recall_nprobe_8 = 1.0 because probing " +
        "all 8 cells IS the exact kernel (IvfIndexSpec asserts the shape). " +
        "ev14: the CONTRACT metric is rank error (GK's actual guarantee, " +
        "floor-enforced in SketchQualitySpec); abs-err columns are value-scale " +
        "context on a heavy tail, not thresholds."
    val json = m.map { case (name, kvs) =>
      s"""  "$name": {${kvs.map { case (k, v) => s""""$k": ${f(v)}""" }.mkString(", ")}}"""
    }.mkString("{\n", ",\n", s",\n  \"_notes\": \"$notes\",\n  \"sf_dir\": \"$sfDir\"\n}\n")
    Files.writeString(Paths.get(outFile), json)
    println(s"[sketch-quality] wrote $outFile")
    spark.stop()
  }
}

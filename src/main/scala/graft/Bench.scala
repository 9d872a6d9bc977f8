package graft
import graft.core.Session
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = Session.cpus
    // Optional regex filter for local iteration on a subset
    // (e.g. SPARK_GRAFT_BENCH_FILTER='q3[789]|tx14'); unset = all.
    val selected = Runner.select(sys.env.get("SPARK_GRAFT_BENCH_FILTER"))
    val timedRuns = Session.positiveInt("SPARK_GRAFT_BENCH_RUNS",
      sys.env.get("SPARK_GRAFT_BENCH_RUNS"), 3)
    val spark = Session.local(Session.withJitHeadroom(cpus))
    // lifecycle queries publish their build/verb splits (r9 task 4);
    // enabling here keeps Verify/tests/library callers at zero overhead
    graft.core.PhaseTimer.enable()
    // Warmup: absorb one-time JVM/engine costs (Janino + whole-stage
    // codegen infrastructure, parquet reader + Hadoop FS init, JIT)
    // so the first measured query isn't charged ~7s of cold-start.
    // Exercises scan + shuffle + join + window + HOF codegen paths.
    try {
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.functions._
      val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
        .select("l_orderkey", "l_quantity", "l_returnflag")
      Runner.force(li.groupBy("l_returnflag").agg(sum("l_quantity")))
      Runner.force(li.withColumn("rn",
          row_number().over(Window.partitionBy("l_returnflag").orderBy("l_orderkey")))
        .filter(col("rn") === 1))
      Runner.force(spark.range(100).select(
        aggregate(transform(sequence(lit(1), lit(5)), x => x * col("id")),
          lit(0L), (a, x) => a + x).as("s")))
    } catch { case e: Throwable =>
      System.err.println(s"[bench] warmup failed (non-fatal): ${e.getMessage}")
    }
    // One timed execution of a query; -1 marks failure (a failed query
    // must not masquerade as a fast run). Returns the PhaseTimer split
    // the body published (empty for non-lifecycle queries).
    def once(q: QueryDef): (Double, Map[String, Double]) = {
      graft.core.PhaseTimer.reset()
      val t0 = System.nanoTime()
      Runner.run("bench", spark, sfDir, q)(Runner.force) match {
        case Right(_) => ((System.nanoTime() - t0) / 1e9, graft.core.PhaseTimer.snapshot())
        case Left(_)  => (-1.0, Map.empty)
      }
    }
    // Per query: ONE warm-up execution (excluded from timing — it
    // absorbs that query's codegen/JIT compilation, parquet-footer
    // caching, and any per-SF fixture construction: base indexes and
    // streaming landing dirs are built once per JVM by Scratch.fixture,
    // so timed runs measure the engine, not the test rig) then THREE
    // timed runs, keep the min ("agg" declares this in the output).
    // Each run is its own query scope: the pins and checkpoints the
    // warm-up made are released when it ends, so a timed run computes
    // its own intermediates instead of reading the warm-up's cache. The r4 bench proved min-of-2 with no per-query warm-up
    // can't separate structural cost from JIT noise: run "a" was
    // routinely 2-5x run "b" on unchanged code (e.g. vs11 a=1.80
    // b=0.34), and queries early in the fixed order paid the
    // compilation of later queries' shared helper classes. Min-of-3
    // after a warm-up reports the engine's steady state.

    // ---- Contamination sentinel (r9 verdict task 1) ----------------
    // r9 shipped three mutually contradictory totals for one engine
    // (141.5s idle / 203.8s snapshot / 386.5s driver) because nothing
    // in the artifact recorded whether the box was quiet. Two fixed
    // cheap queries (scan+agg, scan+explode+agg — plans untouched
    // since r1/r3) are re-timed min-of-3 at the start, every ~48
    // queries, and at the end. The artifact marks ITSELF dirty when
    // (a) any sentinel drifts >1.3x across passes — contention arrived
    // mid-run — or (b) on the 32-cpu sf0.1 reference config, a
    // sentinel exceeds 1.3x its recorded idle floor (floors measured
    // r10 on the driver box class; see COVERAGE.md "Bench trust").
    // A dirty artifact is still printed — the flag travels WITH the
    // numbers so no downstream reader can quote them as a baseline.
    // Floors measured r10 on an idle 32-cpu box (q01 0.267/0.276,
    // tx02 0.193/0.218 across a full run's steady-state passes and a
    // quiet filtered run). NOTE the floor is HOST-CLASS-relative: the
    // r9 box ran q01 at 0.192 — ~1.5x faster — and that same 1.51x
    // sentinel ratio predicted the r10/r9 full-registry total ratio
    // (1.54x over 274 common queries, median per-query 1.46x), which
    // is exactly the cross-box normalization the sentinel exists to
    // expose: totals are only comparable through the sentinel ratio.
    // A faster box reads floor_ratio < 1 (clean); a contended or
    // slower-than-class box breaches 1.3 and the artifact says so.
    val sentinelNames = Seq("q01_pricing_summary", "tx02_token_counts")
    val sentinelFloorSf01 = Map(
      "q01_pricing_summary" -> 0.26, "tx02_token_counts" -> 0.19)
    val floorApplies = sfDir.contains("sf0.1") && cpus >= 16
    val sentinelPasses =
      scala.collection.mutable.ArrayBuffer.empty[Map[String, Double]]
    def sentinelPass(): Unit = {
      val pass = sentinelNames.flatMap { n =>
        SparkEntry.defs.find(_.name == n).map { q =>
          once(q) // warm-up, excluded
          n -> Seq.fill(3)(once(q)._1).filter(_ >= 0).minOption
            .getOrElse(-1.0)
        }
      }.toMap
      sentinelPasses += pass
      System.err.println("[bench] sentinel " + pass.toSeq.sortBy(_._1)
        .map { case (n, v) => f"$n=$v%.3f" }.mkString(" "))
    }

    def runOne(q: QueryDef): (String, Double, Map[String, Double]) = {
      val (w, _) = once(q) // warm-up, excluded
      val runs = Seq.fill(timedRuns)(once(q))
      val timings = runs.map(_._1)
      // the phase split travels with the run that produced the min
      val best = runs.filter(_._1 >= 0).minByOption(_._1)
      val phases = best.map(_._2).getOrElse(Map.empty)
      val phaseStr = if (phases.isEmpty) "" else phases.toSeq.sortBy(_._1)
        .map { case (p, t) => f"$p=$t%.3f" }.mkString(" phases{", ",", "}")
      System.err.println(f"[bench] ${q.name}%-24s w=$w%.3f " +
        timings.zipWithIndex.map { case (t, i) => f"r${i + 1}=$t%.3f" }
          .mkString(" ") + phaseStr)
      (q.name,
        if (w < 0 || timings.exists(_ < 0)) -1.0 else timings.min,
        phases)
    }

    // ---- Self-healing sections (r10 verdict task 1) ----------------
    // The driver box produced a contaminated artifact two rounds
    // running; r10's sentinel made the artifact CONFESS, but confession
    // is not a clean number. The run is therefore segmented into ~48-
    // query sections, each closed by a sentinel pass that is
    // adjudicated IN-FLIGHT: if the closing pass reads >1.3x the best
    // value any earlier pass recorded for that sentinel (the run's own
    // best-known quiet state — the opening pass only ever LOWERS
    // sensitivity, since JIT warm-up inflates it), or breaches the
    // recorded idle floor on the reference config, the section it
    // closes is re-run ONCE and the per-query min across both attempts
    // kept — a transient mid-run blip then yields a recovered-CLEAN
    // artifact instead of a dirty one. The breached pass is replaced by
    // the elementwise min of (breached, post-retry) passes — the box's
    // demonstrated best state — and recorded verbatim in the artifact's
    // `breaches` list, so recovery never hides that the blip happened.
    // Sustained contention still reads dirty: the retry is bounded to
    // one per section, and a still-elevated merged pass fails the final
    // median/floor adjudication exactly as before.
    val breaches =
      scala.collection.mutable.ArrayBuffer.empty[(Int, Map[String, Double])]
    def closingPassBreached(): Boolean = {
      val cur = sentinelPasses.last
      sentinelNames.exists { n =>
        val v = cur.getOrElse(n, -1.0)
        val ref = sentinelPasses.dropRight(1).flatMap(_.get(n))
          .filter(_ > 0).minOption
        (v > 0 && ref.exists(r => v / r > 1.3)) ||
          (floorApplies && v > 1.3 * sentinelFloorSf01(n))
      }
    }

    sentinelPass()
    val results = selected
      .grouped(48).toSeq.flatMap { section =>
        val first = section.map(runOne)
        sentinelPass()
        if (!closingPassBreached()) first
        else {
          System.err.println(s"[bench] sentinel breach — re-running the " +
            s"${section.size}-query section once (bounded retry)")
          val second = section.map(runOne)
          sentinelPass()
          // merge the breached and post-retry closing passes into the
          // box's best demonstrated state; keep the breached values
          val post = sentinelPasses.remove(sentinelPasses.size - 1)
          val breached = sentinelPasses.remove(sentinelPasses.size - 1)
          breaches += ((sentinelPasses.size, breached))
          val merged = sentinelNames.map { n =>
            n -> Seq(breached.getOrElse(n, -1.0), post.getOrElse(n, -1.0))
              .filter(_ >= 0).minOption.getOrElse(-1.0)
          }.toMap
          sentinelPasses += merged
          System.err.println("[bench] sentinel-merge " + merged.toSeq
            .sortBy(_._1).map { case (n, v) => f"$n=$v%.3f" }.mkString(" "))
          first.zip(second).map { case ((n, v1, p1), (_, v2, p2)) =>
            if (v2 >= 0 && (v1 < 0 || v2 < v1)) (n, v2, p2) else (n, v1, p1)
          }
        }
      }

    // Dirty adjudication EXCLUDES pass 0: measured on an idle box,
    // the opening pass reads ~2x its own end-of-run value because the
    // JVM is still JIT-compiling the shared query machinery minutes
    // into the run — that's warm-up physics, not contention, and
    // adjudicating it would mark every clean run dirty. Pass 0 stays
    // in the published record for the reader; passes 1..n (every ~48
    // queries + the closing pass) are the steady-state signal.
    //
    // Drift compares each pass to the run's MEDIAN pass, not max/min:
    // a ~0.25s sentinel min-of-3 carries ±15-20% ambient timer noise
    // in BOTH directions, and max/min double-counts it (one
    // lucky-fast pass marks an ordinary run dirty — observed on four
    // same-day r10 runs whose max/min read 1.32-1.38 while every
    // pass sat within 1.26x of the median). Max/median asks the
    // actual contamination question — "was any section slower than
    // this run's typical state by >1.3x?" — and re-classifies those
    // four runs correctly: the genuinely blipped run (one pass 1.65x
    // median) and the loaded run (floor 1.72x) stay dirty, the
    // merely-noisy ones read clean. The floor check anchors the
    // typical state itself against the recorded idle baseline.
    val adjudicated = sentinelPasses.drop(1)
    // true median (average of the two middle values for even sizes —
    // r10 ADVICE: the upper-middle pick biased leniently, and 2-pass
    // runs read max/max = 1.0 unconditionally; those short runs are
    // now MARKED underpowered instead of implying a clean verdict)
    def ratioAcross(n: String): Double = {
      val vs = adjudicated.flatMap(_.get(n)).filter(_ > 0).sorted
      if (vs.size < 2) 1.0
      else {
        val med =
          if (vs.size % 2 == 1) vs(vs.size / 2)
          else (vs(vs.size / 2 - 1) + vs(vs.size / 2)) / 2
        vs.max / med
      }
    }
    val underpowered = adjudicated.size < 3
    val drift = sentinelNames.map(ratioAcross).max
    val floorRatio =
      if (!floorApplies) -1.0
      else sentinelNames.map { n =>
        val vs = adjudicated.flatMap(_.get(n)).filter(_ > 0)
        if (vs.isEmpty) 1.0 else vs.min / sentinelFloorSf01(n)
      }.max
    val dirty = drift > 1.3 || (floorApplies && floorRatio > 1.3)

    // total covers successful queries only; -1 markers must not shrink it
    val total = results.map(_._2).filter(_ >= 0).sum
    // The consumer captures only the last ~2000 chars of output, so the
    // JSON line must stay well under that: per-query seconds for a fixed
    // headline subset + per-family subtotals over ALL queries. Full
    // per-query detail (incl. lifecycle phase splits) goes to the
    // artifact file below and the [bench] stderr lines.
    val headline = Seq(
      "q01_pricing_summary", "q03_segment_revenue", "q04_region_customers",
      "q08_window_topk", "q25_salted_join", "q37_multiset_ops",
      "q39_json_roundtrip", "dd01_exact_dedup", "dd02_minhash_lsh",
      "dd05_dup_clusters", "dd06_exact_jaccard", "ev01_hourly_counts",
      "ev03_sessionize", "ev06_asof_join", "ev08_funnel",
      "tx02_token_counts", "tx04_lang_id", "tx09_tfidf", "tx14_containment",
      "vs01_topk_bruteforce", "vs02_ivf_topk", "vs03_embed_neardup",
      "sp02_stratified_sample", "rj01_range_join", "mm04_batch_inference",
      "pp01_training_pipeline", "pp02_llm_corpus_pipeline",
      "st03_stream_interval_join",
      // session-3 flagships: engine recursion, CDC chunking, two-stage
      // binary retrieval
      "q62_recursive_cte", "dd16_cdc_chunks", "vs22_hamming_rerank",
      // round-5 flagships: native PQ codes, IVF-celled mutual-kNN,
      // calibrated SimHash, mergeable epoch-shuffle manifest, exact
      // percentile winsorization, all-pairs threshold sweep
      "vs09_pq_codes", "vs10_mutual_knn", "dd03_simhash",
      "sp12_shuffled_shards", "q49_winsorize", "dd15_threshold_sweep")
    def f3(v: Double): String = f"$v%.3f"
    val byName = results.map(r => r._1 -> r._2).toMap
    val qs = headline.flatMap(n => byName.get(n).map(v => s""""$n":${f3(v)}"""))
      .mkString("{", ",", "}")
    val fams = results.filter(_._2 >= 0)
      .groupBy { case (n, _, _) => n.takeWhile(_.isLetter) }.toSeq.sortBy(_._1)
      .map { case (fam, rs) => s""""$fam":${f3(rs.map(_._2).sum)}""" }
      .mkString("{", ",", "}")
    val sentinelJson = {
      def passJson(p: Map[String, Double]) = p.toSeq.sortBy(_._1)
        .map { case (n, v) => s""""${n.take(4)}":${f3(v)}""" }
        .mkString("{", ",", "}")
      val passes = sentinelPasses.map(passJson).mkString("[", ",", "]")
      // breaches: the raw pre-retry closing passes the self-healing
      // loop replaced (empty on an undisturbed run) — recovery is
      // recorded, never hidden
      val br = breaches.map { case (i, p) =>
        s"""{"pass":$i,"values":${passJson(p)}}""" }.mkString("[", ",", "]")
      s"""{"passes":$passes,"drift":${f3(drift)},"floor_ratio":${f3(floorRatio)},"dirty":$dirty,"underpowered":$underpowered,"retried_sections":${breaches.size},"breaches":$br}"""
    }

    // Full artifact: everything the 2000-char stdout line cannot carry
    // (all per-query mins + runs + phase splits + the sentinel record).
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      "/tmp/graft_bench_full.json")
    try {
      val perQuery = results.map { case (n, v, phases) =>
        val ph = if (phases.isEmpty) ""
          else phases.toSeq.sortBy(_._1)
            .map { case (p, t) => s""""$p":${f3(t)}""" }
            .mkString(""","phases":{""", ",", "}")
        s""""$n":{"sec":${f3(v)}$ph}"""
      }.mkString("{", ",", "}")
      java.nio.file.Files.writeString(java.nio.file.Paths.get(outPath),
        s"""{"metric":"total","value":${f3(total)},"unit":"sec","sf":"$sfDir","cpus":$cpus,"runs_per_query":$timedRuns,"warmup_runs":1,"agg":"min","n_queries":${results.size},"sentinel":$sentinelJson,"queries":$perQuery}""")
    } catch { case e: Throwable =>
      System.err.println(s"[bench] artifact write failed (non-fatal): ${e.getMessage}")
    }

    println(s"""{"metric":"total","value":${f3(total)},"unit":"sec","queries":$qs,"families":$fams,"n_queries":${results.size},"sf":"$sfDir","cpus":$cpus,"runs_per_query":$timedRuns,"warmup_runs":1,"agg":"min","sentinel":$sentinelJson}""")
    spark.stop()
  }
}

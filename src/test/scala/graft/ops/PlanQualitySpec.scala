package graft.ops

import org.scalatest.funsuite.AnyFunSuite

import graft.{RegistrySweep, SparkEntry, TestSpark}

/** Plan-quality regression guard: the properties verified by hand via
  * graft.Explain, frozen as assertions. A future edit that silently
  * drops a pushdown, breaks a broadcast, or introduces a cartesian
  * product fails here, not at 100 TB. */
class PlanQualitySpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.treeString

  test("q02: filters push down to the parquet scan; scan is pruned to 3 columns") {
    val p = plan("q02_filter_sum")
    assert(p.contains("PushedFilters: [IsNotNull(l_quantity)"))
    assert(p.contains("ReadSchema: struct<l_quantity:double,l_extendedprice:double,l_discount:double>"))
  }

  test("q04: both dimension joins broadcast") {
    val p = plan("q04_region_customers")
    assert("BroadcastHashJoin".r.findAllIn(p).size == 2)
    assert(!p.contains("SortMergeJoin"))
  }

  test("q05/q06: semi and anti joins use hash strategies") {
    assert(plan("q05_semi_join").contains("LeftSemi"))
    assert(plan("q06_anti_join").contains("LeftAnti"))
  }

  test("dd10: benchmark span set broadcasts (corpus side never shuffles for the join)") {
    val p = plan("dd10_decontaminate")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"))
  }

  test("sp09: per-class top-k pushes a partial WindowGroupLimit below its single shuffle") {
    val p = plan("sp09_balanced_sample")
    assert(p.contains("WindowGroupLimit"))
    assert("Exchange".r.findAllIn(p).size == 1,
      "window shuffle should be reused by the final per-class aggregate")
  }

  test("no query plans a CartesianProduct") {
    val offenders = RegistrySweep.offenders { (_, f) =>
      Option.when(f.plan.contains("CartesianProduct"))("CartesianProduct")
    }
    assert(offenders.isEmpty, s"cartesian products in: $offenders")
  }

  test("BroadcastNestedLoopJoin appears only in the intended ANN scoring queries") {
    // vs01/vs02: corpus streams once against broadcast probes/centroids;
    // q26: 1-row broadcast scalar threshold; tx09: 1-row broadcast corpus
    // count N — all intentional BNLJ uses
    val allowed = Set("vs01_topk_bruteforce", "vs02_ivf_topk",
      "vs05_kmeans_step", "vs06_recall_eval", "vs07_dim_truncation",
      "vs08_centroid_shift", "q26_scalar_subquery", "tx09_tfidf",
      "tx15_keyword_extraction", "ev08_funnel", "ev15_windowed_funnel",
      // tx16: 1-row broadcast corpus bigram count; vs09: corpus streams
      // once against the broadcast 8-centroid codebook; vs10: all-pairs
      // scoring streams the corpus once against its broadcast self
      "tx16_pmi", "vs09_pq_codes", "vs10_mutual_knn",
      // vs11: corpus streams once against broadcast probes (MIPS);
      // dd12: cell assignment streams the corpus once against the
      // broadcast 8-centroid set (the in-cell pair join is an equi-join)
      // vs12/vs14: same broadcast 8-centroid assignment cross as dd12;
      // q53: 1-row × 1-row scalar combine (FK count × table row count);
      // vs16: vs01's broadcast-probe corpus stream (range search)
      "vs11_mips_topk", "dd12_semantic_dedup", "vs12_cell_balance",
      "vs14_ivf_pq_search", "q53_constraint_audit", "vs16_range_search",
      // vs17: vs01's broadcast-probe ground-truth pass + the broadcast
      // 8-centroid cell ranking (the candidate pass itself equi-joins);
      // tx27: 1-row broadcast corpus token total (tx09's N pattern);
      // vs18: 8x8 broadcast codebook self-cross (KB-scale both sides);
      // vs19: vs09's broadcast-codebook block-assignment cross
      "vs17_multiprobe_recall", "tx27_kl_divergence",
      "vs18_centroid_separation", "vs19_pq_distortion",
      // vs20: vs01's broadcast-probe corpus stream over the lang-
      // filtered candidate set (the metadata filter itself is a
      // semi equi-join); pp05/sp17/ev42: 1-row broadcast total
      // (corpus token budget / total weight / session count)
      "vs20_filtered_ann", "pp05_mixture_schedule",
      "sp17_systematic_resample", "ev42_session_histogram",
      // vs21: vs01's broadcast-probe corpus stream on packed signatures;
      // vs22: the same signature screen (stage 2 re-ranks via equi-join)
      "vs21_hamming_topk", "vs22_hamming_rerank",
      // dd19: 1-row broadcast node count N seeding the PageRank grid
      "dd19_authority_rank",
      // tx30: 1-row broadcast corpus stats (N, avgdl) into BM25 scoring
      "tx30_bm25_topk",
      // vs25: tx30's stats broadcast + vs01's 1-row broadcast probe
      "vs25_hybrid_rrf",
      // tx31: the same 1-row corpus-stats broadcast (batch BM25 leg)
      "tx31_hard_negatives",
      // sp19: 1-row broadcast (total_tokens, n_bins) into the census;
      // sp20: 1-row broadcast budget + 1-row broadcast leftover over
      // the bounded cell table
      "sp19_sequence_packing", "sp20_quota_apportion",
      // vs27: tx31's corpus-stats broadcast (BM25 leg) + the dense
      // leg's 5-row broadcast probe stream (vs01's pattern)
      "vs27_retrieval_recall",
      // vs28: the broadcast 8-centroid assignment cross (dd12/vs12's
      // pattern); the in-cell pair join itself is an equi-join on cid
      "vs28_semdedup",
      // sp21: sp20's shape — 1-row broadcast budget/weight-sum/leftover
      // over the bounded language table
      "sp21_temperature_mix",
      // tx33/34/35: the 1-row broadcast N/avgdl stats fold from the
      // index's stats log (tx30's single-row corpus-stats cross, read
      // from the store instead of computed from text)
      "tx33_text_index_topk", "tx34_text_index_append",
      "tx35_text_index_delete", "tx36_text_index_vacuum",
      "st16_stream_text_ingest",
      // vs29: the text-index probe's 1-row stats cross (lexical leg)
      "vs29_index_served_rrf",
      // mm18: vs29's serving shape over media assets — the same
      // 1-row stats cross in its caption-index lexical leg
      "mm18_crossmodal_serve",
      // pp07: sp21's quota computation inside it (1-row broadcast
      // budget/weight-sum/leftover crosses over the language table)
      "pp07_temperature_mix_build",
      // r9 text-index consumers: all carry the SAME 1-row broadcast
      // N/avgdl stats cross as tx33 (the probe's storeStats fold) —
      // tx39/tx40 probe post-maintenance stores, tx42 is the batch
      // probe, st17 the TTL'd ingest's final probe, pp08 the fused
      // serve's lexical leg, pp09 the passage store's probe
      "tx39_text_index_update", "tx40_text_index_expire",
      "tx42_text_index_batch_serve", "st17_stream_text_ttl",
      "pp08_day2_index_serving", "pp09_rag_passage_pipeline",
      // vs32: tx42's batch-probe stats cross (lexical leg)
      "vs32_batch_hybrid_serve",
      // vs35: the recall curve's brute-force TRUTH leg is vs01's 5-row
      // broadcast probe cross (eval-time calibration, not a query
      // path) — the interrupted r11 build added the query without
      // registering it here
      "vs35_filtered_recall",
      // pp10/mm15: sp19's packing-census shape — the 1-row broadcast
      // (total tokens/cost, n_bins) cross into the census rollup
      "pp10_tokenizer_pipeline", "mm15_vlm_packing")
    val offenders = RegistrySweep.offenders { (n, f) =>
      Option.when(!allowed(n) && f.plan.contains("BroadcastNestedLoopJoin"))(
        "BroadcastNestedLoopJoin")
    }
    assert(offenders.isEmpty, s"unexpected BNLJ in: $offenders")
  }

  test("q61: every dimension of the star join broadcasts") {
    val p = plan("q61_star_join")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 3,
      s"customer/nation/region should all broadcast:\n$p")
  }

  test("q60: nested-schema pruning cuts the struct scan to the two referenced leaves") {
    val p = plan("q60_nested_pruning")
    assert(p.contains("ReadSchema: struct<who:struct<custkey:bigint>," +
      "money:struct<priority:string>>"),
      s"nested leaves not pruned:\n$p")
  }

  test("pp03: the corpus branch scans only the fingerprint inputs, never full rows") {
    // incremental dedup's whole point: the existing lake contributes a
    // pruned 2-column scan (text→md5 + the source filter), not a rescan
    val p = plan("pp03_incremental_update")
    assert(p.contains("ReadSchema: struct<text:string,source:string>"),
      s"corpus-side scan not pruned to (text, source):\n$p")
  }

  test("tx22: trigram counts combine map-side — explode output never shuffles raw") {
    // one exchange for the (lang, trigram) aggregate, one for the
    // per-lang top-k window; the exploded trigram stream itself must
    // be partially aggregated before either
    val p = plan("tx22_char_ngrams")
    assert("Exchange".r.findAllIn(p).size == 2,
      s"tx22 shuffle budget grew:\n$p")
  }

  test("q51: the partition predicate prunes at the directory level") {
    // the read-back scan must carry the predicate as a PartitionFilter
    // (directory pruning), NOT as a data filter over all partitions
    val p = plan("q51_partition_prune")
    assert("PartitionFilters: \\[[^\\]]*l_returnflag".r.findFirstIn(p).isDefined,
      s"partition predicate not pushed to directory pruning:\n$p")
  }

  test("the merge fast path is a single multi-path scan (no union legs)") {
    val df = graft.core.Merge.alignedUnion(spark,
      Seq(s"$sf/lineitem.parquet", s"$sf/lineitem.parquet"))
    val p = df.queryExecution.executedPlan.treeString
    assert(!p.contains("Union"))
  }

  test("no unpartitioned WindowExec over unbounded-cardinality inputs") {
    // A Window with an empty partition spec moves ALL its input through
    // ONE task — fatal at 100 TB when the input scales with the data.
    // PrefixSum / GridQuantile.rankKeys / topk aggregates exist for
    // those shapes; this pins that no registered query regresses to a
    // global window EXCEPT over inputs bounded by construction:
    val allowed = Set(
      // calendar-bounded aggregates (hours/days/months, not rows):
      "ev09_daily_rollup", "ev16_zero_fill", "ev19_interpolate",
      "ev18_rolling_wau", "ev25_cusum_drift",
      "ev33_seasonal_anomaly", "ev36_seasonal_backtest",
      "ev38_stickiness", "ev39_alert_episodes", "q63_rolling_mom",
      "q58_mom_growth",
      // domain-bounded aggregates: |event types| (ev04), the
      // returnflag×linestatus contingency grid (q57), the 8-cell IVF
      // codebook (vs12):
      "ev04_type_share", "q57_chi_square", "vs12_cell_balance",
      // post-agg ranks over fixed small domains (grouping-set/segment
      // counts, k-bounded lists):
      "q62_recursive_cte", "ev42_session_histogram")
    // detection logic lives in the library itself (PlanAudit
    // .unpartitionedWindows) so users can lint their own plans
    val offenders = RegistrySweep.offenders { (n, f) =>
      if (allowed(n)) Nil else f.unpartitionedWindows
    }
    assert(offenders.isEmpty, s"unpartitioned windows in: $offenders")
  }

  test("column pruning holds engine-wide: no query scans a wide table full-width") {
    // "A scan that reads all columns for a 2-column projection is
    // wrong" — at 100 TB an unpruned lineitem scan reads 5x the bytes
    // the query needs. Audit EVERY registered query via the library's
    // own PlanAudit (which traverses scans hidden under AQE wrappers
    // and Pin's InMemory cache nodes) and require requiredSchema <
    // full width on every >=5-column table. One allowlisted full-width
    // scan exists in the whole engine: q15's scalar-function showcase
    // genuinely computes over all 6 part columns. The table widths are
    // RegistrySweep.tableWidths.
    val allowed = Set(("q15_scalar_funcs", "part"))
    val offenders = RegistrySweep.offenders { (name, f) =>
      f.fullWidthScans
        .filter(_.contains("/root/testdata/"))
        .filterNot(line => allowed.exists { case (q, t) =>
          q == name && line.startsWith(s"$t ") })
    }
    assert(offenders.isEmpty, s"unpruned scans: $offenders")
  }

  test("shuffle budgets: map-only ops plan ZERO exchanges; pipelines stay within budget") {
    def shuffles(name: String): Int = "Exchange".r.findAllIn(plan(name)).size
    // pure map-side ops — the shapes that must scan-and-go at 100 TB
    for (n <- Seq("sp01_hash_sample", "tx02_token_counts", "tx03_quality_score",
        "tx12_gopher_rules", "mm01_media_meta", "q34_zorder_key", "vs04_quantize",
        "tx21_normalize",
        // r5: the native pq_block_codes expression made vs09 a pure
        // scan→score→explode pass (the codebook rides as a plan
        // reference object, not a join side)
        "vs09_pq_codes"))
      assert(shuffles(n) == 0, s"$n should be map-only, got ${shuffles(n)} exchanges")
    // prefix dedup: one shuffle on the 16-token digest feeds BOTH the
    // survivor window and the group count
    assert(shuffles("dd13_prefix_dedup") <= 2,
      s"dd13 grew to ${shuffles("dd13_prefix_dedup")} exchanges")
    // the full prep pipeline: fingerprint window + final agg (+ AQE reuse)
    assert(shuffles("pp01_training_pipeline") <= 3,
      s"pp01 grew to ${shuffles("pp01_training_pipeline")} exchanges")
    // exact dedup: one fingerprint shuffle (agg partial/final pair)
    assert(shuffles("dd01_exact_dedup") <= 2)
  }
}

package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Headroom proof ABOVE the gated scale: the bench corpus (sf0.1)
  * unioned 10× — ~6M lineitem rows — through the engine's three
  * heavy plan shapes (hash agg, shuffle join + broadcast dim, content
  * dedup). Each result is checked EXACTLY against the 1× result scaled,
  * which a plan that spills wrong, drops partitions, or overflows
  * cannot fake. The multiplication uses unionByName of the same scan
  * (Catalyst plans one multi-child union over cached file listings), so
  * the test adds IO-trivial cost and stays in-suite.
  *
  * This is a 10× SCALE step under local[*]; the 1000-executor story
  * rests on the plan shapes PlanQualitySpec freezes (pruned scans,
  * broadcast dims, map-side partials, bounded shuffles) — this spec
  * pins that those shapes still produce exact answers when the data
  * outgrows the per-partition comfort zone the small SFs never leave.
  */
class ScaleStressSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.1"

  private def times10(df: org.apache.spark.sql.DataFrame) =
    (1 until 10).map(_ => df).foldLeft(df)(_ unionByName _)

  test("hash aggregation at 10x bench scale: every group exactly 10x the 1x rollup") {
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
      .select(col("l_returnflag"), col("l_quantity").cast("long").as("q"))
    val base = li.groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"), sum("q").as("qs"))
    val big = times10(li).groupBy("l_returnflag")
      .agg(count(lit(1)).as("n10"), sum("q").as("qs10"))
    val mismatched = base.join(big, "l_returnflag")
      .filter(col("n10") =!= col("n") * 10 || col("qs10") =!= col("qs") * 10)
    assert(mismatched.count() == 0)
  }

  test("shuffle join at 10x bench scale: fact x10 against orders lands exactly 10x matches") {
    val li = spark.read.parquet(s"$sf/lineitem.parquet").select("l_orderkey")
    val ord = spark.read.parquet(s"$sf/orders.parquet")
      .select("o_orderkey", "o_orderpriority")
    val baseN = li.join(ord, col("l_orderkey") === col("o_orderkey")).count()
    val big = times10(li).join(ord, col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderpriority").agg(count(lit(1)).as("n"))
    assert(big.agg(sum("n")).head.getLong(0) == 10 * baseN)
  }

  test("two-phase prefix sum over 5M rows: every running total closed-form exact") {
    // the machinery behind tx17/mm07/sp11/sp12/sp14/sp17/tx26 at ~50x
    // their bench input: keys 0..N-1 with v = k % 7 give every row a
    // closed-form expected cumsum (21·(k DIV 7) + r(r+1)/2, r = k % 7),
    // so 5M prefix values are checked exactly with no reference window
    val n = 5000000L
    val df = spark.range(n).toDF("k").repartition(64)
      .withColumn("v", pmod(col("k"), lit(7L)))
    val got = PrefixSum.byLongKey(df, "k", Nil, col("v"), "cum", inclusive = true)
    val want = lit(21L) * expr("k DIV 7") + expr("(k % 7) * (k % 7 + 1) DIV 2")
    assert(got.filter(col("cum") =!= want).count() == 0)
    assert(got.count() == n)
  }

  test("rolling-distinct coverage over 2M users: every WAU value closed-form exact") {
    // ev18/ev38's machinery (per-user interval merge + day-grained
    // delta prefix) at ~70x its bench input. Each user is active on
    // days u%D and u%D+3 — the two 7-day coverage intervals OVERLAP,
    // so a plan that skips the per-user merge double-counts every day
    // in [s+3, s+6]. Merged coverage is [s, s+9], hence
    // wau(d) = m · |[d-9, d] ∩ [0, D-1]| exactly, for every output day.
    val U = 2000000L
    val D = 1000L
    val m = U / D
    val users = spark.range(U).toDF("user_id").repartition(64)
      .withColumn("s", pmod(col("user_id"), lit(D)))
    val ud = users.select(col("user_id"), col("s").as("day_idx"))
      .unionByName(users.select(col("user_id"), (col("s") + 3).as("day_idx")))
    val got = EventOps.rollingDistinctDays(ud, 7, "wau")
    val want = lit(m) *
      (least(col("day_idx"), lit(D - 1)) - greatest(col("day_idx") - 9, lit(0L)) + 1)
    assert(got.filter(col("wau") =!= want).count() == 0)
  }

  test("content dedup at 10x bench scale: replicated corpus collapses to the base digest set") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(md5(encode(col("text"), "UTF-8")).as("h"))
    val distinctBase = docs.distinct().count()
    val distinctBig = times10(docs).distinct().count()
    assert(distinctBig == distinctBase)
  }

  test("dd06 PPJoin at 10x corpus: pair count matches its closed form exactly") {
    // The heaviest dedup kernel under a 10x scale-up, checked against a
    // COMBINATORIAL closed form instead of a reference join: take 10
    // id-shifted copies of the corpus. Copies of the same doc are J=1.0
    // pairs (C(10,2) = 45 per doc with a nonempty shingle set), and
    // every base pair with J >= 0.8 appears once per copy combination
    // (10·10 = 100, all id-distinct). So
    //   pairs(10x) = 100·pairs(1x) + 45·|eligible docs|
    // — a prefix filter that loses recall under the 10x-hotter posting
    // lists, a size gate off by one, or a dedup bug in candidate
    // generation all break the equality. sf0.001 keeps the 10x corpus
    // at dd06's sf0.01 bench scale.
    val base = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    val p1 = DedupOps.exactJaccardPairs(base).count()
    val big = (0 until 10).map(i => base.select(
        (col("doc_id") + lit(i * 1000000L)).as("doc_id"), col("text")))
      .reduce(_ unionByName _)
    val p10 = DedupOps.exactJaccardPairs(big).count()
    val eligible = base.filter(
      size(graft.functions.GraftFunctions.word_shingles(col("text"), 3)) > 0).count()
    assert(p10 == 100L * p1 + 45L * eligible,
      s"p10=$p10 p1=$p1 eligible=$eligible")
  }

  test("tx14 containment at 10x corpus: pair count matches its closed form exactly") {
    // Containment is DIRECTIONAL and tied to id order (the kernel
    // reports cont(a in b) only for a < b), so the closed form needs
    // both direction counts: p1 = pairs where the smaller-id doc is
    // contained (the 1x answer), q1 = pairs where the LARGER-id doc is
    // contained — obtained by running the kernel with ids negated
    // (order flips, texts unchanged). Across 10 id-shifted copies a
    // base pair (a, b) appears as (a_i, b_j) for i <= j (55 orderings,
    // qualifying iff p-direction) and as (b_j, a_i) for j < i (45,
    // qualifying iff q-direction); identical-copy pairs (cont = 1.0)
    // add C(10,2) = 45 per eligible doc:
    //   pairs(10x) = 55·p1 + 45·q1 + 45·eligible
    // A prefix filter losing recall on the 10x-hotter postings, or the
    // size-ratio gate off by one, breaks the equality.
    val base = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    val p1 = TextOps.containmentPairs(base).count()
    val q1 = TextOps.containmentPairs(
      base.select((lit(10000000L) - col("doc_id")).as("doc_id"), col("text"))).count()
    val eligible = base.filter(
      size(graft.functions.GraftFunctions.word_shingles(col("text"), 3)) > 0).count()
    val big = (0 until 10).map(i => base.select(
        (col("doc_id") + lit(i * 1000000L)).as("doc_id"), col("text")))
      .reduce(_ unionByName _)
    val p10 = TextOps.containmentPairs(big).count()
    assert(p10 == 55L * p1 + 45L * q1 + 45L * eligible,
      s"p10=$p10 p1=$p1 q1=$q1 eligible=$eligible")
  }

  test("dd15 threshold sweep at 10x corpus: every tier count matches its closed form") {
    // The sweep's predicates are SYMMETRIC in the pair (shared-shingle
    // candidacy and the integral tier gates depend only on i, na, nb),
    // so each base candidate pair multiplies by the full 10² = 100
    // copy combinations, and the C(10,2) = 45 identical-copy pairs per
    // eligible doc are candidates in EVERY tier (J = 1):
    //   c(10x) = 100·c(1x) + 45·eligible   for all five audit columns.
    val base = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    val r1 = DedupOps.thresholdSweep(base).head()
    val eligible = base.filter(
      size(graft.functions.GraftFunctions.word_shingles(col("text"), 3)) > 0).count()
    val big = (0 until 10).map(i => base.select(
        (col("doc_id") + lit(i * 1000000L)).as("doc_id"), col("text")))
      .reduce(_ unionByName _)
    val r10 = DedupOps.thresholdSweep(big).head()
    for (c <- Seq("n_candidate_pairs", "n_ge_03", "n_ge_05", "n_ge_07", "n_ge_09"))
      assert(r10.getAs[Long](c) == 100L * r1.getAs[Long](c) + 45L * eligible,
        s"$c: 10x=${r10.getAs[Long](c)} 1x=${r1.getAs[Long](c)} eligible=$eligible")
  }

  test("vs03 sign-LSH near-dup at 10x corpus: pair count matches its closed form exactly") {
    // The vector-family instance of the pattern: signatures are a pure
    // function of the vector, so 10 id-shifted copies replicate every
    // bucket; the pair predicate (shared signature + cosine > 0.99) is
    // symmetric, so each base pair appears for all 10² copy
    // combinations, and the C(10,2) identical-copy pairs per
    // NONZERO-norm vector (zero vectors yield null cosine and never
    // pair) are all above any threshold < 1:
    //   pairs(10x) = 100·p1 + 45·|nonzero vectors|
    // A bucketing bug under 100x-hotter buckets or a cosine-null
    // regression breaks the equality.
    val base = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val p1 = VectorOps.signNearDups(base).count()
    val nonzero = base.filter(
      graft.functions.GraftFunctions.dot_product(col("v"), col("v")) > 0).count()
    val big = (0 until 10).map(i => base.select(
        (col("vec_id") + lit(i * 1000000L)).as("vec_id"), col("v")))
      .reduce(_ unionByName _)
    val p10 = VectorOps.signNearDups(big).count()
    assert(p10 == 100L * p1 + 45L * nonzero,
      s"p10=$p10 p1=$p1 nonzero=$nonzero")
  }

  test("rj03 interval overlap at 10x users: all four audit columns closed-form exact") {
    // 10 user-shifted copies of the event log. Sessions of ONE user
    // never overlap each other (30-min-gap construction), but every
    // session overlaps ITSELF across two copies of its user, so the
    // same-user cross-copy contribution is exactly C(10,2) = 45 × the
    // session count (and each such overlap spans the full session).
    // Cross-user contributions multiply by the 100 copy combinations
    // (the overlap predicate and the emitted row are symmetric in the
    // pair; Σ density² scaling is what this stresses). A user-copy in
    // copies 0..8 always has an `ua` row (its own later copy), one in
    // the last copy only if the base user did:
    //   n_overlaps(10x)        = 100·n1 + 45·S
    //   total_overlap_us(10x)  = 100·t1 + 45·D
    //   max_overlap_us(10x)    = max(m1, maxDur)
    //   n_users_with_overlap   = 9·U + u1
    // with S/D/maxDur the session count / total / max duration and U
    // the user count of the base log.
    val e = graft.Tables.events(spark, "/root/testdata/sf0.001")
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"))
    val sess = RangeJoin.sessionizeUs(e)
      .agg(count(lit(1)).as("s"), sum(col("e_us") - col("s_us")).as("d"),
        max(col("e_us") - col("s_us")).as("m"),
        countDistinct("user_id").as("u")).head()
    val (nSess, durSum, durMax, nUsers) =
      (sess.getLong(0), sess.getLong(1), sess.getLong(2), sess.getLong(3))
    val r1 = RangeJoin.sessionOverlapStats(e).head()
    val big = (0 until 10).map(i =>
        e.select((col("user_id") + lit(i * 1000000L)).as("user_id"),
          col("event_id"), col("us")))
      .reduce(_ unionByName _)
    val r10 = RangeJoin.sessionOverlapStats(big).head()
    assert(r10.getAs[Long]("n_overlaps") ==
      100L * r1.getAs[Long]("n_overlaps") + 45L * nSess)
    assert(r10.getAs[Long]("total_overlap_us") ==
      100L * Option(r1.getAs[java.lang.Long]("total_overlap_us")).map(_.toLong).getOrElse(0L) +
        45L * durSum)
    assert(r10.getAs[Long]("max_overlap_us") ==
      math.max(Option(r1.getAs[java.lang.Long]("max_overlap_us")).map(_.toLong).getOrElse(0L),
        durMax))
    assert(r10.getAs[Long]("n_users_with_overlap") ==
      9L * nUsers + r1.getAs[Long]("n_users_with_overlap"))
  }

  test("dd17 indexed probe against a 10x lake: batch pair count closed-form exact, both index layouts") {
    // The incremental probe under a lake 10× hotter than its bench
    // scale, checked combinatorially: the lake is k = 10 id-shifted
    // copies of the corpus, the batch one more copy, probe UNCAPPED.
    // Copies share identical texts, hence identical band keys, so
    // every bucket carries k+1 copies of each member — exactly the
    // hot-posting regime an ingest's index drifts into. Each eligible
    // base doc contributes k same-text lake pairs to its batch copy,
    // and each capless one-shot base pair (x, y) contributes its two
    // batch members × k lake copies of the other, plus the in-batch
    // pair itself:
    //   probe(k) = (2k+1)·pairs(1x) + k·|eligible docs|
    // A consolidation bug in the sharded path, recall loss on the
    // 11×-hot posting lists, or a candidate dedup error cannot satisfy
    // the equality; both the consolidated-index and the one-shard-per-
    // copy layouts must hit the same number.
    val base = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    val k = 10
    val copies = (0 until k).map(i => base.select(
      (col("doc_id") + lit(i * 1000000L)).as("doc_id"), col("text")))
    val lake = copies.reduce(_ unionByName _)
    val batch = base.select(
      (col("doc_id") + lit(k * 1000000L)).as("doc_id"), col("text"))
    val texts = lake.unionByName(batch)
    val emptyIdx = DedupOps.lshBandIndex(base.filter(col("doc_id") < 0))
    val p1 = DedupOps.lshShardedProbe(base, emptyIdx, base).count()
    val eligible = base.filter(
      size(graft.functions.GraftFunctions.word_shingles(col("text"), 3)) > 0).count()
    val expected = (2L * k + 1L) * p1 + k.toLong * eligible
    val viaIndex = DedupOps.lshIndexProbe(batch, DedupOps.lshBandIndex(lake),
      texts, maxBucket = Int.MaxValue).count()
    assert(viaIndex == expected,
      s"viaIndex=$viaIndex expected=$expected p1=$p1 eligible=$eligible")
    val shards = copies.map(c => DedupOps.lshBandIndex(c)).reduce(_ unionByName _)
    val viaShards = DedupOps.lshShardedProbe(batch, shards, texts).count()
    assert(viaShards == expected, s"viaShards=$viaShards expected=$expected")
  }

  test("dd20 delete-then-probe against a 10x lake: rebuild identity and batch closed form") {
    // The takedown verb under hot postings: the lake is k = 10
    // id-shifted copies, and the takedown removes every copy of the
    // base docs with doc_id % 7 == 0 — a shift-invariant removal, so
    // the survivor lake is exactly k copies of the base survivors.
    // Two checks: (1) the targeted delete must equal a full rebuild
    // over the 10x survivors ROW-FOR-ROW — on 11x-hot posting lists a
    // stale id, an emptied-bucket leak, or an sz drift cannot hide;
    // (2) an uncapped probe of one more survivor copy against the
    // pruned index must hit dd17's closed form computed on the
    // SURVIVOR corpus: probe(k) = (2k+1)·pairs_surv(1x) +
    // k·|eligible survivors| — a deletion bug re-surfacing removed
    // sources breaks the equality upward, over-deletion downward.
    val base = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    val survBase = base.filter(col("doc_id") % 7 =!= 0)
    val remBase = base.filter(col("doc_id") % 7 === 0)
    val k = 10
    def copies(df: org.apache.spark.sql.DataFrame) = (0 until k).map(i =>
      df.select((col("doc_id") + lit(i * 1000000L)).as("doc_id"), col("text")))
    val lake = copies(base).reduce(_ unionByName _)
    val removed = copies(remBase).reduce(_ unionByName _)
    val survivors = copies(survBase).reduce(_ unionByName _)

    val pruned = DedupOps.lshIndexDelete(
      DedupOps.lshBandIndex(lake), DedupOps.lshBandIndex(removed))
    val rebuilt = DedupOps.lshBandIndex(survivors)
    assert(pruned.exceptAll(rebuilt).isEmpty && rebuilt.exceptAll(pruned).isEmpty,
      "10x targeted delete diverged from the survivor rebuild")

    val batch = survBase.select(
      (col("doc_id") + lit(k * 1000000L)).as("doc_id"), col("text"))
    val emptyIdx = DedupOps.lshBandIndex(base.filter(col("doc_id") < 0))
    val p1 = DedupOps.lshShardedProbe(survBase, emptyIdx, survBase).count()
    val eligible = survBase.filter(
      size(graft.functions.GraftFunctions.word_shingles(col("text"), 3)) > 0).count()
    val expected = (2L * k + 1L) * p1 + k.toLong * eligible
    val viaPruned = DedupOps.lshIndexProbe(batch, pruned,
      survivors.unionByName(batch), maxBucket = Int.MaxValue).count()
    assert(viaPruned == expected,
      s"viaPruned=$viaPruned expected=$expected p1=$p1 eligible=$eligible")
  }

  test("dd21 upsert at 10x lake: row-for-row rebuild identity on hot postings") {
    // The re-version verb under the same 10x construction: a
    // shift-invariant edit set (every base doc with doc_id % 4 == 0,
    // "rev " prepended, in every copy) is upserted into the 10x lake's
    // index — the result must ROW-FOR-ROW equal a rebuild over the 10x
    // EDITED lake. On 11x-hot posting lists this exercises the
    // delete's array_except and the merge's concat+sort across every
    // bucket shape: a doc left in its old bucket, lost from its new
    // one, or double-counted where old and new collide cannot hide.
    val base = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    val k = 10
    def copies(df: org.apache.spark.sql.DataFrame) = (0 until k).map(i =>
      df.select((col("doc_id") + lit(i * 1000000L)).as("doc_id"), col("text")))
      .reduce(_ unionByName _)
    val oldU = copies(base.filter(col("doc_id") % 4 === 0))
    val newU = oldU.select(col("doc_id"), concat(lit("rev "), col("text")).as("text"))
    val edited = copies(base.filter(col("doc_id") % 4 =!= 0)).unionByName(newU)
    val updated = DedupOps.lshIndexUpsert(DedupOps.lshBandIndex(copies(base)),
      DedupOps.lshBandIndex(oldU), DedupOps.lshBandIndex(newU))
    val rebuilt = DedupOps.lshBandIndex(edited)
    assert(updated.exceptAll(rebuilt).isEmpty && rebuilt.exceptAll(updated).isEmpty,
      "10x upsert diverged from the edited-lake rebuild")
  }

  test("dd19 authorityRank at 10x graph: every copy bit-equals the padded single-copy closed form") {
    // PageRank is component-LOCAL except for the node count nn in the
    // teleport term. So on 10 id-shifted copies of the similarity
    // graph, copy i's rank vector must BIT-equal the rank vector of
    // ONE copy padded with 9N isolated nodes (identical components,
    // identical nn = 10N ⇒ identical integer arithmetic, floor for
    // floor). A partition-order-sensitive sum, an overflowing mass
    // grid, or contribution rows lost between 10x-hotter shuffle
    // partitions cannot produce 10 identical copies of the reference
    // vector; the padding nodes must also sit exactly on the teleport
    // floor (isolated-node fixpoint).
    val base = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    val pairs = DedupOps.exactJaccardPairs(base)
      .select(col("a"), col("b"), round(col("jaccard") * 10000).cast("long").as("w"))
    val nodes = base.select("doc_id")
    val k = 10
    val n = nodes.count()
    val bigNodes = (0 until k).map(i => nodes.select(
        (col("doc_id") + lit(i * 1000000L)).as("doc_id")))
      .reduce(_ unionByName _)
    val bigPairs = (0 until k).map(i => pairs.select(
        (col("a") + lit(i * 1000000L)).as("a"),
        (col("b") + lit(i * 1000000L)).as("b"), col("w")))
      .reduce(_ unionByName _)
    val big = DedupOps.authorityRank(bigNodes, bigPairs)
    val padded = nodes.unionByName(
      spark.range((k - 1) * n).select((col("id") + lit(500000000L)).as("doc_id")))
    val ref = DedupOps.authorityRank(padded, pairs)
    val refBase = ref.join(nodes, "doc_id")
      .select(col("doc_id").as("base_id"), col("pr").as("pr_ref"))
    val mapped = big.select(
      pmod(col("doc_id"), lit(1000000L)).as("base_id"), col("pr"))
    assert(big.count() == k * n)
    val joined = mapped.join(refBase, "base_id")
    assert(joined.count() == k * n, "every 10x node must map onto a reference node")
    assert(joined.filter(col("pr") =!= col("pr_ref")).count() == 0,
      "some copy diverged from the padded single-copy reference vector")
    val floor = (1000000000000L * 15 / 100) / (k * n)
    assert(ref.filter(col("doc_id") >= 500000000L)
      .filter(col("pr") =!= floor).count() == 0,
      "padding nodes must sit exactly on the teleport floor")
  }

  test("tx32 decontamination at 10x corpus: every planted leak keeps its exact overlap") {
    // 10 id-shifted copies of the contaminated corpus against the
    // FIXED benchmark (the realistic shape: eval sets don't grow with
    // the lake). The gram stream is a pure per-doc function, so each
    // copy's planted leak must pair with its bench source at overlap
    // == that doc's exact distinct-5-gram count — a broadcast-join
    // recall loss under 10x-hotter gram buckets, or a count drift from
    // duplicate posting rows, breaks the per-pair equality, not just a
    // total.
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    val bench = docs.filter(col("doc_id") % 17 === 0)
    def grams(df: org.apache.spark.sql.DataFrame, idCol: String) = df
      .select(col(idCol), explode(graft.functions.GraftFunctions
        .word_shingles(col("text"), 5)).as("g"))
      .select(col(idCol),
        graft.functions.GraftFunctions.md5_low60(col("g")).as("h"))
    val leaks1 = bench.select((col("doc_id") + lit(1000000L)).as("doc_id"),
      col("text"))
    val corpus10 = (0 until 10).map(i => docs
        .filter(col("doc_id") % 17 =!= 0).unionByName(leaks1)
        .select((col("doc_id") + lit(i * 100000000L)).as("doc_id"),
          col("text")))
      .reduce(_ unionByName _)
    val found = grams(corpus10, "doc_id")
      .join(broadcast(grams(bench.withColumnRenamed("doc_id", "bench_id"),
        "bench_id")), "h")
      .groupBy("doc_id", "bench_id")
      .agg(count(lit(1)).as("overlap"))
      .filter(col("overlap") >= 3)
    val ng = bench.select(col("doc_id").as("bench_id"),
      size(graft.functions.GraftFunctions.word_shingles(col("text"), 5))
        .cast("long").as("ng")).filter(col("ng") >= 3)
    val planted = found
      .filter(pmod(col("doc_id"), lit(100000000L)) === col("bench_id") + 1000000L)
      .join(ng, "bench_id")
    assert(planted.count() == 10L * ng.count(),
      "each of the 10 copies' planted leaks must be detected")
    assert(planted.filter(col("overlap") =!= col("ng")).count() == 0,
      "a planted leak's overlap must equal its doc's exact gram count")
  }

  test("text index at 10x lake: probe == from-scratch BM25 on the same 10x corpus") {
    // The inverted index's visibility/stats/pruning logic at 10x the
    // gated scale: build the posting store over 10 id-shifted copies,
    // probe with a FIXED query, and demand bit-equality with the
    // from-scratch tx30 kernel on the identical 10x frame — a stats-log
    // fold error, a dropped posting partition, or a DPP prune that
    // loses a bucket cannot survive the comparison.
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    val big = (0 until 10).map(i => docs.select(
        (col("doc_id") + lit(i * 1000000L)).as("doc_id"), col("text")))
      .reduce(_ unionByName _)
    val dir = TestSpark.tmpDir("graft_sss_txtidx_").toString + "/index"
    TextIndex.buildTextIndex(big, dir)
    val probe = TextIndex.probeTextIndex(spark, dir,
      TextIndex.queryTerms(docs, 42), k = 10)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(PrefixSum.onePart(col("doc_id")))
      .orderBy(col("iscore").desc, col("doc_id"))
    val scratch = TextOps.bm25ScoresMulti(big,
        col("doc_id") === 42).drop("qid")
      .orderBy(col("iscore").desc, col("doc_id")).limit(10)
      .withColumn("rn", row_number().over(w))
      .select(col("doc_id"), col("rn").cast("long").as("rnk"),
        round(col("iscore").cast("double") / lit(1000000), 4).as("score"))
    assert(probe.exceptAll(scratch).count() == 0 &&
      scratch.exceptAll(probe).count() == 0,
      "10x index probe must equal the from-scratch kernel bit-for-bit")
  }
}

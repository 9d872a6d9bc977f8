package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Closed-form invariants for the round-8 additions — properties the
  * oracle hash cannot express (they must hold for ANY corpus, not
  * just reproduce on this one): conservation laws, exact-sum
  * contracts, and structural guarantees.
  */
class RoundEightSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  private def q(name: String): DataFrame =
    graft.SparkEntry.queries(name)(spark, sf)

  private lazy val docs = spark.read.parquet(s"$sf/documents.parquet")

  test("sp19: token mass conserved, context count is exact ceiling") {
    val rows = q("sp19_sequence_packing").collect()
    val totalTokens = rows.head.getAs[Long]("total_tokens")
    val nBins = rows.head.getAs[Long]("n_bins")
    assert(rows.map(_.getAs[Long]("sum_tokens")).sum == totalTokens,
      "per-spans token mass must sum to the corpus total")
    assert(nBins == (totalTokens + 255) / 256)
    assert(rows.map(_.getAs[Long]("n_docs")).sum == docs.count())
    // a doc of t tokens can straddle at most ceil(t/256) boundaries
    assert(rows.map(_.getAs[Long]("spans")).forall(_ >= 0))
  }

  test("sp20: quotas are integers summing EXACTLY to the budget, each within 1 of proportional") {
    val rows = q("sp20_quota_apportion").collect()
    val n = rows.map(_.getAs[Long]("n_docs")).sum
    val b = n / 2
    assert(rows.map(_.getAs[Long]("quota")).sum == b,
      "largest-remainder apportionment must hit the budget exactly")
    rows.foreach { r =>
      val exact = BigInt(b) * r.getAs[Long]("n_docs") / BigInt(n)
      val quota = BigInt(r.getAs[Long]("quota"))
      assert(quota == exact || quota == exact + 1,
        s"quota $quota vs floor share $exact for $r")
    }
  }

  test("dd24: total postings = bands x non-empty docs (each doc posts one key per band)") {
    val rows = q("dd24_index_health").collect()
    val nonEmpty = docs
      .filter(size(filter(split(col("text"), " "), x => x =!= "")) > 0)
      .count()
    assert(rows.map(_.getAs[Long]("postings")).sum == 16L * nonEmpty,
      "a lost or duplicated posting row would break this conservation law")
    rows.foreach { r =>
      assert(r.getAs[Long]("postings") ==
        r.getAs[Long]("sz") * r.getAs[Long]("n_keys"))
      val expected = if (r.getAs[Long]("sz") > 2) "blocklist" else "probe"
      assert(r.getAs[String]("policy") == expected)
    }
  }

  test("vs28: every vector counted once; kept set has one canonical per group") {
    val rows = q("vs28_semdedup").collect()
    val nVecs = spark.read.parquet(s"$sf/embeddings.parquet").count()
    assert(rows.map(_.getAs[Long]("n_vectors")).sum == 2 * nVecs,
      "corpus = embeddings + injected copies, partitioned by cell")
    // each injected copy pairs with its original at cos = 1.0, so at
    // most half the corpus survives; at least one doc per non-empty
    // cell does
    val kept = rows.map(_.getAs[Long]("n_kept")).sum
    assert(kept <= nVecs && kept > 0, s"kept $kept of $nVecs")
    rows.foreach(r => assert(r.getAs[Long]("n_kept") > 0 ||
      r.getAs[Long]("n_vectors") == 0))
  }

  test("tx32: every planted leak is found, with the exact full-overlap count") {
    val rows = q("tx32_contamination").collect()
    val benchGrams = docs.filter(col("doc_id") % 17 === 0)
      .select(col("doc_id"),
        size(graft.functions.GraftFunctions.word_shingles(col("text"), 5))
          .cast("long").as("ng"))
      .filter(col("ng") > 0).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    benchGrams.foreach { case (b, ng) =>
      val leak = rows.find(r => r.getAs[Long]("doc_id") == b + 1000000L &&
        r.getAs[Long]("bench_id") == b)
      assert(leak.isDefined, s"planted leak of bench doc $b not detected")
      assert(leak.get.getAs[Long]("overlap") == ng,
        s"identical text must share ALL $ng distinct 5-grams of doc $b")
    }
  }

  test("dd26: fingerprint is word-order-insensitive and groups cover all exact-text dups") {
    val fpOf = (t: org.apache.spark.sql.Column) => md5(concat_ws(" ",
      array_sort(array_distinct(filter(split(t, " "), x => x =!= "")))))
    val mismatches = docs.select(col("doc_id"),
        fpOf(col("text")).as("a"),
        fpOf(concat_ws(" ", reverse(split(col("text"), " ")))).as("b"))
      .filter(col("a") =!= col("b")).count()
    assert(mismatches == 0, "reversing word order must not change the fingerprint")
    // word-set groups are a coarsening of exact-text groups: every doc
    // in an exact-dup group must be in some returned word-set group
    val exactDupDocs = docs.groupBy("text").count().filter(col("count") >= 2)
      .agg(coalesce(sum("count"), lit(0L))).head().getLong(0)
    val wordSetDocs = q("dd26_wordset_dedup").agg(coalesce(sum("n_docs"), lit(0L)))
      .head().getLong(0)
    assert(wordSetDocs >= exactDupDocs,
      "word-set dedup must catch at least everything exact dedup catches")
  }

  test("sp21: temperature quotas sum EXACTLY to the budget, each within 1 of its weighted share") {
    val rows = q("sp21_temperature_mix").collect()
    val total = rows.map(_.getAs[Long]("n_docs")).sum
    val b = total / 4
    assert(rows.map(_.getAs[Long]("quota")).sum == b,
      "largest-remainder apportionment must hit the budget exactly")
    val wsum = rows.map(_.getAs[Long]("weight")).sum
    rows.foreach { r =>
      val n = r.getAs[Long]("n_docs")
      assert(r.getAs[Long]("weight") ==
        math.floor(math.sqrt(n.toDouble) * 1000000 + 0.5).toLong,
        "weight must be the integerized sqrt(n) grid point")
      val floorShare = BigInt(b) * r.getAs[Long]("weight") / BigInt(wsum)
      val quota = BigInt(r.getAs[Long]("quota"))
      assert(quota == floorShare || quota == floorShare + 1,
        s"quota $quota vs floor share $floorShare for $r")
    }
  }

  test("sp22: k-fold is leak-free — every doc and its injected twin share a fold") {
    val rows = q("sp22_kfold_split").collect()
    assert(rows.map(_.getAs[Long]("n_docs")).sum == 2 * docs.count(),
      "folds must partition the duplicated corpus")
    assert(rows.map(_.getAs[Long]("fold")).toSet.size == rows.length,
      "one census row per fold")
    // recompute per-doc folds: both copies of a doc are exact dups
    // (J = 1 edge), so they share a cluster, hence a fold — the
    // property a per-doc hash split cannot give
    val base = docs.select("doc_id", "text")
    val u = base.unionByName(base.select(
      (col("doc_id") + lit(100000L)).as("doc_id"), col("text")))
    val cc = DedupOps.connectedComponents(
      u.select(col("doc_id").as("id")),
      DedupOps.exactJaccardPairs(u).select("a", "b"))
    val perDoc = cc.select(col("id").as("doc_id"),
      pmod(graft.functions.GraftFunctions.md5_low60(
        col("label").cast("string")), lit(5)).as("fold"))
    val straddlers = perDoc.filter(col("doc_id") < 100000L)
      .join(perDoc.filter(col("doc_id") >= 100000L)
        .select((col("doc_id") - 100000L).as("doc_id"),
          col("fold").as("fold2")), "doc_id")
      .filter(col("fold") =!= col("fold2")).count()
    assert(straddlers == 0, "a doc and its twin landed in different folds")
  }

  test("tx37: passages count exactly ceil(n/24) per doc and cover every token") {
    val rows = q("tx37_passage_chunk").collect()
    val perDoc = rows.groupBy(_.getAs[Long]("doc_id"))
    val docLens = docs
      .select(col("doc_id"),
        size(filter(split(col("text"), " "), x => x =!= ""))
          .cast("long").as("n"))
      .filter(col("n") > 0).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(perDoc.keySet == docLens.keySet,
      "every tokenizable doc chunks, nothing else does")
    for ((id, n) <- docLens) {
      val ps = perDoc(id)
      assert(ps.length == ((n - 1) / 24 + 1).toInt,
        s"doc $id with $n tokens: wrong passage count ${ps.length}")
      assert(ps.map(_.getAs[Long]("pid")).sorted.toSeq ==
        (1L to ps.length).toSeq, s"doc $id: pids must be dense from 1")
      // stride 24 < window 32: windows overlap, so summed passage
      // lengths must cover the doc with exactly 8-token double counts
      // between consecutive FULL windows
      val total = ps.map(_.getAs[Long]("n_tokens")).sum
      assert(total >= n, s"doc $id: passages must cover all $n tokens")
    }
  }

  test("sp23: mask plan is structurally sound and lands near the 15% design mass") {
    val rows = q("sp23_span_corruption").collect()
    val nDocs = docs
      .filter(size(filter(split(col("text"), " "), x => x =!= "")) > 0)
      .count()
    assert(rows.length == nDocs, "one mask plan per tokenizable doc")
    rows.foreach { r =>
      val (n, m, sp) = (r.getAs[Long]("n_tokens"),
        r.getAs[Long]("n_masked"), r.getAs[Long]("n_spans"))
      assert(m <= n, s"mask cannot exceed the doc: $r")
      assert(sp <= m, s"spans cannot exceed masked tokens: $r")
      assert((sp == 0) == (m == 0), s"empty mask iff zero spans: $r")
    }
    val mass = rows.map(_.getAs[Long]("n_masked")).sum.toDouble /
      rows.map(_.getAs[Long]("n_tokens")).sum
    assert(mass > 0.08 && mass < 0.25,
      f"corpus mask mass $mass%.3f strayed from the ~15%% design point")
    // same rows, same masks — the property that makes resume/ablation
    // reproducible
    val again = q("sp23_span_corruption").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("mask_fp")).toMap
    rows.foreach(r => assert(
      again(r.getAs[Long]("doc_id")) == r.getAs[String]("mask_fp")))
  }

  test("tx38: repetition census conserves gram mass and stays on the grid") {
    val rows = q("tx38_repetition_census").collect()
    val expected = docs
      .select(size(filter(split(col("text"), " "), x => x =!= "")).as("n"))
      .filter(col("n") >= 3)
      .agg(count(lit(1)), sum(col("n") - 2)).head()
    assert(rows.length == expected.getLong(0),
      "one census row per doc with >= 3 tokens")
    assert(rows.map(_.getAs[Long]("total_3grams")).sum == expected.getLong(1),
      "total gram occurrences must equal sum(n - 2) — nothing dropped")
    rows.foreach { r =>
      val (t, dst, q) = (r.getAs[Long]("total_3grams"),
        r.getAs[Long]("distinct_3grams"), r.getAs[Long]("rep_q"))
      assert(dst >= 1 && dst <= t, s"distinct out of range: $r")
      assert(q == (t - dst) * 10000 / t, s"rep_q off the integer grid: $r")
    }
  }

  test("vs30: every dimension audits every vector exactly once") {
    val rows = q("vs30_embedding_audit").collect()
    val nVecs = spark.read.parquet(s"$sf/embeddings.parquet").count()
    assert(rows.length == 64, "one audit row per embedding dimension")
    assert(rows.map(_.getAs[Long]("dim")).sorted.toSeq == (0L until 64L).toSeq)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_values") == nVecs,
        s"a dimension missed or double-counted vectors: $r")
      assert(r.getAs[Long]("min_q") <= r.getAs[Long]("max_q"))
      assert(r.getAs[Long]("n_zero") <= nVecs)
    }
  }

  test("pp07: the built mixture hits every temperature quota exactly") {
    val rows = q("pp07_temperature_mix_build").collect()
    rows.foreach(r => assert(
      r.getAs[Long]("n_selected") == r.getAs[Long]("quota"),
      s"selection must fill its quota exactly: $r"))
    val total = docs.count()
    assert(rows.map(_.getAs[Long]("n_selected")).sum == total / 4,
      "the built mixture must hit the hard budget B = total/4 exactly")
  }

  test("pp06: snake deal balances shards within each split to +-1 doc") {
    val rows = q("pp06_incremental_corpus").collect()
    for (split <- Seq("train", "test")) {
      val ns = rows.filter(_.getAs[String]("split") == split)
        .map(_.getAs[Long]("n"))
      assert(ns.nonEmpty, s"$split produced no shards")
      assert(ns.max - ns.min <= 1,
        s"$split shard sizes $ns — snake deal must balance to +-1")
    }
  }
}

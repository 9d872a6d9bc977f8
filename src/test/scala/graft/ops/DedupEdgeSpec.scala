package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Edge cases of the near-dup pipeline on constructed corpora. */
class DedupEdgeSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("blank documents: an exact-duplicate pair of empty texts is still found (0/0 = 1.0)") {
    val corpus = Seq(
      (1L, ""), (2L, ""),              // blank duplicates
      (3L, "   "),                      // whitespace-only: the same (empty) shingle set
      (10L, "alpha beta gamma delta"),
      (11L, "alpha beta gamma delta"), // normal duplicates
      (20L, "totally different words here")
    ).toDF("doc_id", "text")
    // the verify stage defines two empty sets as identical: a blank
    // candidate pair verifies at 1.0, not the NULL 0/0 would give
    val blank = DedupOps.verifyJaccard(Seq((1L, 2L), (1L, 3L)).toDF("a", "b"),
      DedupOps.shingleSets(corpus), threshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(blank == Set((1L, 2L, 1.0), (1L, 3L, 1.0)), s"blank verify: $blank")
    // the MinHash tier drops documents with empty shingle sets before
    // banding (they have no band keys), so blanks pair with nothing,
    // while the normal duplicate pair is still found
    val pairs = DedupOps.minHashNearDupsPortable(corpus)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(pairs == Set((10L, 11L, 1.0)), s"pairs: $pairs")
  }

  test("single-token documents dedup correctly") {
    val corpus = Seq((1L, "solo"), (2L, "solo"), (3L, "other")).toDF("doc_id", "text")
    val pairs = DedupOps.minHashNearDupsPortable(corpus)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L)))
  }

  /** Reference tier for the prefix-filter equivalence check: the naive
    * unfiltered inverted-index posting join (every shared shingle
    * generates its pair) — exact by construction, quadratic in hot
    * postings. */
  private def naiveJaccardPairs(corpus: org.apache.spark.sql.DataFrame) = {
    val sets = corpus.select(col("doc_id"),
        graft.functions.GraftFunctions.word_shingles(col("text"), 3).as("shs"))
      .filter(size(col("shs")) > 0)
    val post = sets.select(col("doc_id"),
      size(col("shs")).cast("long").as("n"), explode(col("shs")).as("s0"))
      .select(col("doc_id"), col("n"), xxhash64(col("s0")).as("sh"))
    val pairs = post.groupBy("sh")
      .agg(sort_array(collect_set(struct(col("doc_id"), col("n")))).as("ids"))
      .select(graft.functions.GraftFunctions.pair_sized(col("ids")))
      .groupBy("a", "b", "na", "nb")
      .agg(count(lit(1)).as("i"))
    val j = col("i").cast("double") /
      (col("na") + col("nb") - col("i")).cast("double")
    pairs.filter(j >= 0.8)
      .select(col("a"), col("b"), round(j, 4).as("jaccard"))
  }

  test("prefix-filtered exact Jaccard equals the unfiltered posting join (recall 1.0)") {
    // real corpus + shifted duplicates: same shape dd06 runs on
    val base = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    val corpus = base.unionByName(
      base.withColumn("doc_id", col("doc_id") + 100000L))
    val got = graft.ops.DedupOps.exactJaccardPairs(corpus)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val want = naiveJaccardPairs(corpus)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == want, s"prefix filter changed the result: " +
      s"missing=${(want -- got).take(5)} extra=${(got -- want).take(5)}")
    assert(got.nonEmpty)
  }

  test("df=1-heavy corpus: the prefix prune's rank compensation equals the naive join") {
    // r11 VERDICT item 2: exactJaccardPairs drops df=1 postings before
    // the prefix-rank window and compensates each doc's prefix budget
    // arithmetically (rk + u <= k with u = n - m). The doubled-corpus
    // fixture above has NO df=1 shingles (every doc has an exact
    // copy), so the u > 0 path was untested. This corpus makes df=1
    // shingles the norm ON THE PAIR-EMITTING DOCS themselves:
    //  - 5 near-dup pairs, each over a pair-private 35-word vocabulary
    //    with ONE word substituted mid-doc -> n=33 shingles, 30 shared
    //    (df=2), 3 unique (df=1) per doc -> u=3 > 0, J=30/36=0.8333;
    //    prefix budget k=7 so df>=2 postings survive only at rk <= 4
    //  - a near-miss pair with TWO substitutions -> u=6, J=27/39 < 0.8
    //  - a low-overlap pair sharing 3 shingles -> u=30 >= k=7: its
    //    prefix is ALL df=1 slots, no df>=2 posting survives
    //  - 4 fully-unique docs (every shingle df=1, m=0)
    val words = (p: Int) => (0 until 35).map(i => s"p${p}w$i")
    def sub(ws: Seq[String], at: Int, w: String) = ws.updated(at, w)
    val pairDocs = (0 until 5).flatMap { p =>
      val base = words(p)
      Seq((2L * p, base.mkString(" ")),
        (2L * p + 1, sub(base, 17, s"p${p}uniq").mkString(" ")))
    }
    val nearMiss = {
      val base = words(90)
      Seq((180L, base.mkString(" ")),
        (181L, sub(sub(base, 8, "nmA"), 25, "nmB").mkString(" ")))
    }
    val lowOverlap = Seq(
      (190L, ((0 until 30).map(i => s"loA$i") ++ (0 until 5).map(i => s"shared$i")).mkString(" ")),
      (191L, ((0 until 30).map(i => s"loB$i") ++ (0 until 5).map(i => s"shared$i")).mkString(" ")))
    val unique = (0 until 4).map(j =>
      (200L + j, (0 until 35).map(i => s"u${j}x$i").mkString(" ")))
    val corpus = (pairDocs ++ nearMiss ++ lowOverlap ++ unique)
      .toDF("doc_id", "text")
    // sanity: the corpus really carries df=1 shingles (the prune path)
    val df1 = corpus.select(explode(
        graft.functions.GraftFunctions.word_shingles(col("text"), 3)).as("s"))
      .groupBy("s").count().filter(col("count") === 1).count()
    assert(df1 > 100, s"fixture lost its df=1 shingles ($df1)")
    val got = graft.ops.DedupOps.exactJaccardPairs(corpus)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val want = naiveJaccardPairs(corpus)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == want, s"df=1 prune changed the result: " +
      s"missing=${(want -- got).take(5)} extra=${(got -- want).take(5)}")
    // the planted pairs (u=3 per doc) are found through compensated ranks
    assert(got.map(p => (p._1, p._2)) ==
      (0 until 5).map(p => (2L * p, 2L * p + 1)).toSet)
  }

  test("prefix filter is exact on a hot-shingle corpus and prunes the hot postings") {
    // 60 docs sharing one boilerplate sentence (a hot shingle block)
    // plus per-doc unique tails; 3 true near-dup pairs planted. The
    // boilerplate shingles have df=60 — a naive posting join pairs all
    // C(60,2) docs through them; the df-ordered prefixes are the rare
    // tail shingles, so only genuinely similar pairs become candidates.
    val boiler = "terms of service apply to all users of this site"
    val docs = (0 until 60).map { i =>
      val tail = if (i % 20 == 19) s"unique tail ${i - 1} alpha beta gamma delta"
      else s"unique tail $i alpha beta gamma delta"
      (i.toLong, s"$boiler $tail")
    }.toDF("doc_id", "text")
    val got = graft.ops.DedupOps.exactJaccardPairs(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val want = naiveJaccardPairs(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == want)
    assert(got.map(p => (p._1, p._2)) == Set((18L, 19L), (38L, 39L), (58L, 59L)))
  }
}

package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{QueryDef, Tables}

/** Deduplication operators for training-data pipelines: exact
  * (hash-groupBy), MinHash+LSH near-dup, SimHash near-dup, and
  * embedding-space near-dup — each designed as shuffle-minimal
  * distributed plans:
  *
  *  - exact dedup: one shuffle on the content digest; the window keeps
  *    the lowest doc_id per group (deterministic survivor).
  *  - MinHash: 64 portable md5-family minima per document, computed
  *    per row in one pass; LSH banding turns the O(n²) pair search into
  *    a grouping on (band, band key) — the only quadratic work left is
  *    within-bucket, and the exact-Jaccard verify runs only on surviving
  *    candidate pairs.
  *  - SimHash: 60 per-bit majority sums over md5 token hashes, per row;
  *    4×15-bit bands guarantee (pigeonhole) recall for Hamming distance
  *    <= 3.
  *  - embedding near-dup: 16-bit random-hyperplane signature bucketing,
  *    then exact cosine only within buckets.
  *
  * The driver testdata is duplicate-free, so each op injects a shifted
  * copy of the corpus (doc_id/vec_id + 100000) — the dedup then has real
  * work to do and a deterministic expected answer.
  */
object DedupOps {

  private val Shift = 100000L

  private def docs(s: SparkSession, d: String) = Tables(s, d, "documents")

  /** `copies` shifted copies of the documents table (ids offset by
    * i*Shift): every text appears `copies` times under distinct ids. */
  private def dupDocs(s: SparkSession, d: String, copies: Int = 2): DataFrame = {
    val base = docs(s, d)
    (1 until copies)
      .map(i => base.withColumn("doc_id", col("doc_id") + lit(i * Shift)))
      .foldLeft(base)(_ unionByName _)
  }

  /** Distinct word-3-shingles of `text` via the native one-pass
    * expression (the HOF composition — array_distinct over transform/
    * slice/concat_ws — interprets four lambdas per shingle and
    * dominated dd04's profile). */
  private def shingles(text: Column): Column =
    graft.functions.GraftFunctions.word_shingles(text, 3)

  /** (doc_id, shingles array) — compact per-doc set, used for exact
    * verification without re-exploding per candidate pair. */
  def shingleSets(u: DataFrame): DataFrame =
    u.select(col("doc_id"), shingles(col("text")).as("shs"))

  /** PORTABLE 60-bit hash: the low 60 bits (first 15 hex chars) of
    * md5, as a non-negative BIGINT. Every engine with `md5` derives
    * the identical value — DuckDB spells it
    * `CAST('0x' || substr(md5(x), 1, 15) AS BIGINT)` — which is what
    * lets the dd02/dd03/dd04 sketch pipelines be oracle-checked
    * bit-for-bit (r6 verdict tasks 1/8): signatures, bands, candidate
    * sets, and verified pairs all coincide by construction. The
    * engine computes the value with the native
    * [[graft.functions.Md5Low60]] kernel (thread-local MessageDigest,
    * no hex round-trip — the builtin `conv(substring(md5(...)))`
    * composition is ~50× slower per hash; PortableMd5Spec pins their
    * bit-parity). It is the only near-duplicate sketch hash family, so
    * every sketch pipeline stays oracle-checkable. */
  private[ops] def portableHash60(c: Column): Column =
    graft.functions.GraftFunctions.md5_low60(c)

  /** EXACT all-pairs shingle-Jaccard >= `threshold` over (doc_id, text)
    * via PPJoin-style PREFIX FILTERING (Chaudhuri/Bayardo/Xiao): under
    * ANY global shingle order, two sets with J >= t must both contain
    * their smallest shared shingle within their first n - ceil(t·n) + 1
    * shingles (else the intersection can't reach ceil(t·n) elements) —
    * so candidate pairs need only be enumerated from PREFIX postings,
    * and ordering shingles by (document-frequency ASC, hash) makes
    * prefixes the RARE shingles: hot boilerplate postings that explode
    * a naive posting join quadratically at 100 TB never generate pairs.
    * Recall stays exactly 1.0 (DedupEdgeSpec pins equivalence to the
    * unfiltered posting join).
    *
    * Plan: shingle+hash once (materialized — 8-byte hashes, not
    * strings), df rollup, per-doc prefix rank (doc-partitioned window,
    * bounded by doc length), prefix-bucket pair generation with the
    * size-ratio gate (J >= t forces min·1/t >= max... here t=0.8:
    * 5·min >= 4·max), then exact verification of candidates on the full
    * hash arrays (two doc-keyed joins + array_intersect). */
  def exactJaccardPairs(corpus: DataFrame, threshold: Double = 0.8): DataFrame = {
    require(threshold == 0.8, "prefix length + size gate are derived for t=0.8")
    val sets = shingleSets(corpus).filter(size(col("shs")) > 0)
    // hs sorted ONCE per doc (O(n log n) on ~doc-length arrays) so the
    // per-PAIR verify below is an allocation-free merge count — at
    // scale pairs dwarf docs, so the sort is the cheap side.
    val hashed = Pin.once( // shingle the corpus ONCE for all 3 uses
      sets.select(col("doc_id"),
        size(col("shs")).cast("long").as("n"),
        graft.functions.GraftFunctions.sorted_xxhash64(col("shs")).as("hs")))
    val post = hashed.select(col("doc_id"), col("n"),
      explode(col("hs")).as("sh"))
    val dfreq = post.groupBy("sh").agg(count(lit(1)).as("df"))
    val wDoc = Window.partitionBy("doc_id").orderBy(col("df"), col("sh"))
    // df=1 shingles can never generate a candidate (their posting list
    // is one doc), but under the (df ASC, sh) order they sort FIRST and
    // on a mostly-unique corpus they are the bulk of every prefix — so
    // the pre-r11 shape shuffled them through the doc-partitioned rank
    // window AND the candidate groupBy for nothing. Rank only the
    // df >= 2 postings (dfreq is filtered BEFORE the inner join, so
    // df=1 postings drop inside the join instead of traveling through
    // two more exchanges) and account for the df=1 slots each doc's
    // prefix spends arithmetically: the doc has u = n - m unique
    // shingles (m = its df>=2 posting count, a frameless count over
    // the SAME window partitioning — no extra exchange), all of which
    // precede every df>=2 posting in the global order, so a df>=2
    // posting is in the prefix iff u + rank-among-df>=2 <= k. The
    // candidate set is EXACTLY the old prefix's df>=2 members
    // (DedupEdgeSpec pins final-pair equality with the naive posting
    // join; the doubled-corpus fixtures have no df=1 shingles and are
    // bit-identical through here).
    val prefix = post
      .join(dfreq.filter(col("df") >= 2), "sh")
      .withColumn("rk", row_number().over(wDoc))
      .withColumn("m", count(lit(1)).over(Window.partitionBy("doc_id")))
      .filter(col("rk") + (col("n") - col("m")) <=
        col("n") - expr("(4 * n + 4) DIV 5") + 1)
    val cand = prefix.groupBy("sh")
      .agg(sort_array(collect_set(struct(col("doc_id"), col("n")))).as("ids"))
      .select(graft.functions.GraftFunctions.pair_sized(col("ids")))
      .where(lit(5) * least(col("na"), col("nb")) >=
        lit(4) * greatest(col("na"), col("nb")))
      .select("a", "b").distinct()
    val j = col("i").cast("double") /
      (col("na") + col("nb") - col("i")).cast("double")
    cand
      .join(hashed.select(col("doc_id").as("a"), col("n").as("na"),
        col("hs").as("ha")), "a")
      .join(hashed.select(col("doc_id").as("b"), col("n").as("nb"),
        col("hs").as("hb")), "b")
      .withColumn("i",
        graft.functions.GraftFunctions.sorted_intersect_count(col("ha"), col("hb")))
      .filter(j >= threshold)
      .select(col("a"), col("b"), round(j, 4).as("jaccard"))
  }


  val defs: Seq[QueryDef] = Seq(

    QueryDef(
      "dd01_exact_dedup",
      Some("""WITH u AS (
             |  SELECT * FROM documents
             |  UNION ALL
             |  SELECT doc_id + 100000 AS doc_id, text, lang, source, n_chars FROM documents
             |), h AS (
             |  SELECT doc_id, lang, md5(text) AS h FROM u
             |), r AS (
             |  SELECT doc_id, lang, h,
             |    row_number() OVER (PARTITION BY h ORDER BY doc_id) AS rn FROM h)
             |SELECT doc_id, lang, h FROM r WHERE rn = 1""".stripMargin),
      (s, d) => {
        val w = Window.partitionBy("h").orderBy("doc_id")
        dupDocs(s, d)
          .select(col("doc_id"), col("lang"), md5(encode(col("text"), "UTF-8")).as("h"))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .drop("rn")
      }),

    // MinHash+LSH with the portable md5 hash family: the ENTIRE
    // pipeline — KM double-hashing signatures, band keys, bucket cap, candidate
    // pairs, exact verify — is re-derived by the oracle, so the sketch
    // is bit-checked end to end (r6 verdict task 1). The sh CTE is
    // dd06's proven word_shingles re-derivation.
    QueryDef(
      "dd02_minhash_lsh",
      Some("""WITH u AS (
             |  SELECT doc_id, text FROM documents
             |  UNION ALL
             |  SELECT doc_id + 100000, text FROM documents
             |), tk AS (
             |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks FROM u),
             |sh AS (
             |  SELECT doc_id,
             |    list_distinct(list_transform(
             |      range(1, greatest(len(toks) - 2, 1) + 1),
             |      i -> array_to_string(list_slice(toks, i, least(i + 2, len(toks))), ' '))) AS shs
             |  FROM tk WHERE len(toks) > 0),
             |hp AS (
             |  SELECT doc_id, list_transform(shs, s -> struct_pack(
             |    h1 := CAST(concat('0x', substr(md5(concat('0:', s)), 1, 15)) AS BIGINT) % 144115188075855859,
             |    h2 := CAST(concat('0x', substr(md5(concat('0:', s)), 16, 15)) AS BIGINT) % 144115188075855859)) AS hs
             |  FROM sh),
             |sig AS (
             |  SELECT doc_id,
             |    list_transform(range(0, 64), g ->
             |      list_min(list_transform(hs, t ->
             |        (t.h1 + (g * t.h2) % 144115188075855859) % 144115188075855859))) AS mh
             |  FROM hp),
             |bands AS (
             |  SELECT doc_id, bd, mh[4*bd + 1] AS k1, mh[4*bd + 2] AS k2,
             |    mh[4*bd + 3] AS k3, mh[4*bd + 4] AS k4
             |  FROM sig, range(0, 16) t(bd)),
             |bc AS (SELECT bd, k1, k2, k3, k4 FROM bands
             |       GROUP BY bd, k1, k2, k3, k4 HAVING count(*) BETWEEN 2 AND 100),
             |cand AS (
             |  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
             |  FROM bands x JOIN bc USING (bd, k1, k2, k3, k4)
             |  JOIN bands y ON y.bd = x.bd AND y.k1 = x.k1 AND y.k2 = x.k2
             |    AND y.k3 = x.k3 AND y.k4 = x.k4 AND x.doc_id < y.doc_id),
             |v AS (
             |  SELECT a, b, len(list_intersect(sa.shs, sb.shs)) AS i,
             |    len(sa.shs) AS na, len(sb.shs) AS nb
             |  FROM cand JOIN sh sa ON sa.doc_id = a JOIN sh sb ON sb.doc_id = b)
             |SELECT a, b, round(CAST(i AS DOUBLE) / (na + nb - i), 4) AS jaccard
             |FROM v WHERE CAST(i AS DOUBLE) / (na + nb - i) >= 0.8""".stripMargin),
      (s, d) => minHashNearDupsPortable(dupDocs(s, d))),

    // SimHash as CANDIDATE GENERATOR + exact Jaccard verify — the same
    // two-stage discipline as dd02/dd04 (candidates may be loose, the
    // verify admits no false pair). The r4 calibration sweep on sf0.01
    // showed no pure Hamming threshold clears precision 0.97 at recall
    // 0.95 (h<=2: p .972 / r .927; h<=3: p .917 / r .953), so the
    // Hamming gate is opened to <=5 for candidate recall (0.98) and
    // precision comes from the exact verify (1.0 by construction).
    // Portable md5 fingerprints since r7, so the whole pipeline is
    // oracle-checked.
    QueryDef(
      "dd03_simhash",
      Some("""WITH u AS (
             |  SELECT doc_id, text FROM documents
             |  UNION ALL
             |  SELECT doc_id + 100000, text FROM documents
             |), tk AS (
             |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks FROM u),
             |sh AS (
             |  SELECT doc_id,
             |    list_distinct(list_transform(
             |      range(1, greatest(len(toks) - 2, 1) + 1),
             |      i -> array_to_string(list_slice(toks, i, least(i + 2, len(toks))), ' '))) AS shs
             |  FROM tk WHERE len(toks) > 0),
             |hv AS (
             |  SELECT doc_id, list_transform(toks, t ->
             |    CAST(concat('0x', substr(md5(t), 1, 15)) AS BIGINT)) AS hs
             |  FROM tk WHERE len(toks) > 0),
             |sm AS (
             |  SELECT doc_id,
             |    CAST(list_sum(list_transform(range(0, 60), b ->
             |      CASE WHEN list_sum(list_transform(hs, x -> ((x >> b) & 1) * 2 - 1)) > 0
             |           THEN (CAST(1 AS BIGINT) << b) ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS sim
             |  FROM hv),
             |bands AS (
             |  SELECT doc_id, sim, k, (sim >> CAST(k*15 AS INTEGER)) & 32767 AS bv
             |  FROM sm, range(0, 4) t(k)),
             |cand AS (
             |  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
             |  FROM bands x JOIN bands y ON y.k = x.k AND y.bv = x.bv AND x.doc_id < y.doc_id
             |  WHERE bit_count(xor(x.sim, y.sim)) <= 5),
             |v AS (
             |  SELECT a, b, len(list_intersect(sa.shs, sb.shs)) AS i,
             |    len(sa.shs) AS na, len(sb.shs) AS nb
             |  FROM cand JOIN sh sa ON sa.doc_id = a JOIN sh sb ON sb.doc_id = b)
             |SELECT a, b, round(CAST(i AS DOUBLE) / (na + nb - i), 4) AS jaccard
             |FROM v WHERE CAST(i AS DOUBLE) / (na + nb - i) >= 0.8""".stripMargin),
      (s, d) => simHashNearDupsPortable(dupDocs(s, d))),

    // Exact n-gram Jaccard via an inverted-index candidate join, with
    // the portable bottom-k sketch. Scale guards, in order: (1) each
    // doc posts only its 12 smallest-by-hash shingles into the index
    // (identical docs post identical keys, so exact-dup recall is
    // total and high-Jaccard recall near-total, while posting-list
    // joins shrink quadratically); (2) keys seen in >50 docs are
    // dropped (a stopword shingle is a quadratic hot bucket); (3) a
    // pair must share >= least(5, nka, nkb) keys before the exact
    // verify — the gate adapts to tiny documents so exact-duplicate
    // recall stays total. The oracle re-derives keys, posting lists,
    // gates and verified pairs bit-for-bit (r6 verdict task 1).
    QueryDef(
      "dd04_ngram_jaccard",
      Some("""WITH u AS (
             |  SELECT doc_id, text FROM documents
             |  UNION ALL
             |  SELECT doc_id + 100000, text FROM documents
             |), tk AS (
             |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks FROM u),
             |sh AS (
             |  SELECT doc_id,
             |    list_distinct(list_transform(
             |      range(1, greatest(len(toks) - 2, 1) + 1),
             |      i -> array_to_string(list_slice(toks, i, least(i + 2, len(toks))), ' '))) AS shs
             |  FROM tk WHERE len(toks) > 0),
             |kd AS (
             |  SELECT doc_id, shs,
             |    list_slice(list_sort(list_transform(shs, s ->
             |      CAST(concat('0x', substr(md5(s), 1, 15)) AS BIGINT))), 1, 12) AS ks
             |  FROM sh),
             |posts AS (SELECT doc_id, unnest(ks) AS k FROM kd),
             |pc AS (SELECT k FROM posts GROUP BY k HAVING count(*) BETWEEN 2 AND 50),
             |nk AS (SELECT doc_id, len(ks) AS nkeys FROM kd),
             |cand AS (
             |  SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS ncommon
             |  FROM posts x JOIN pc USING (k)
             |  JOIN posts y ON y.k = x.k AND x.doc_id < y.doc_id
             |  GROUP BY 1, 2),
             |gated AS (
             |  SELECT a, b FROM cand
             |  JOIN nk xa ON xa.doc_id = a JOIN nk xb ON xb.doc_id = b
             |  WHERE ncommon >= least(5, xa.nkeys, xb.nkeys)),
             |v AS (
             |  SELECT a, b, len(list_intersect(sa.shs, sb.shs)) AS i,
             |    len(sa.shs) AS na, len(sb.shs) AS nb
             |  FROM gated JOIN sh sa ON sa.doc_id = a JOIN sh sb ON sb.doc_id = b)
             |SELECT a, b, round(CAST(i AS DOUBLE) / (na + nb - i), 4) AS jaccard
             |FROM v WHERE CAST(i AS DOUBLE) / (na + nb - i) >= 0.8""".stripMargin),
      (s, d) => bottomKNearDupsPortable(dupDocs(s, d))),

    QueryDef(
      "dd05_dup_clusters",
      // Three copies of every doc (ids +0/+100k/+200k) linked in a
      // CHAIN (edges only between consecutive copies), so the canonical
      // id genuinely requires transitive closure. Oracle: recursive CTE.
      Some("""WITH u AS (
             |  SELECT doc_id, text FROM documents
             |  UNION ALL SELECT doc_id + 100000, text FROM documents
             |  UNION ALL SELECT doc_id + 200000, text FROM documents
             |), h AS (SELECT doc_id, md5(text) AS hh FROM u),
             |edges AS (
             |  SELECT x.doc_id AS a, y.doc_id AS b
             |  FROM h x JOIN h y ON x.hh = y.hh AND y.doc_id = x.doc_id + 100000),
             |sym AS (SELECT a AS src, b AS dst FROM edges
             |        UNION ALL SELECT b, a FROM edges),
             |reach AS (
             |  WITH RECURSIVE r(node, lbl) AS (
             |    SELECT doc_id, doc_id FROM h
             |    UNION
             |    SELECT s.src, r.lbl FROM r JOIN sym s ON s.dst = r.node)
             |  SELECT node, lbl FROM r)
             |SELECT node AS doc_id, CAST(min(lbl) AS BIGINT) AS canonical
             |FROM reach GROUP BY node""".stripMargin),
      (s, d) => {
        val h = dupDocs(s, d, copies = 3)
          .select(col("doc_id"), md5(encode(col("text"), "UTF-8")).as("hh"))
        val edges = h.select(col("doc_id").as("a"), col("hh"))
          .join(h.select(col("doc_id").as("b"), col("hh")), "hh")
          .filter(col("b") === col("a") + lit(Shift))
          .select("a", "b")
        connectedComponents(h.select(col("doc_id").as("id")), edges)
          .select(col("id").as("doc_id"), col("label").as("canonical"))
      }),

    QueryDef(
      "dd06_exact_jaccard",
      // EXACT all-pairs shingle Jaccard >= 0.8 — the oracle-checkable
      // tier of the near-dup family (dd02/dd04 are its sketch-
      // accelerated scale paths). Recall is total by construction: any
      // pair with J >= 0.8 > 0 shares a shingle, so the inverted-index
      // equi-join enumerates it; no bucket caps, no posting sketches.
      // The DuckDB oracle re-derives word_shingles' tokenization with
      // list lambdas (space-split, empties dropped, distinct 3-gram
      // windows, short docs collapse to one whole-text shingle).
      Some("""WITH u AS (
             |  SELECT doc_id, text FROM documents
             |  UNION ALL
             |  SELECT doc_id + 100000, text FROM documents
             |), tk AS (
             |  SELECT doc_id,
             |    list_filter(string_split(text, ' '), x -> x <> '') AS toks
             |  FROM u),
             |sh AS (
             |  SELECT doc_id,
             |    list_distinct(list_transform(
             |      range(1, greatest(len(toks) - 2, 1) + 1),
             |      i -> array_to_string(
             |             list_slice(toks, i, least(i + 2, len(toks))), ' '))) AS shs
             |  FROM tk WHERE len(toks) > 0),
             |post AS (SELECT doc_id, unnest(shs) AS s FROM sh),
             |inter AS (
             |  SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS i
             |  FROM post x JOIN post y ON x.s = y.s AND x.doc_id < y.doc_id
             |  GROUP BY 1, 2),
             |sz AS (SELECT doc_id, len(shs) AS n FROM sh)
             |SELECT a, b,
             |  round(CAST(i AS DOUBLE) / (sa.n + sb.n - i), 4) AS jaccard
             |FROM inter
             |JOIN sz sa ON sa.doc_id = a
             |JOIN sz sb ON sb.doc_id = b
             |WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.8""".stripMargin),
      // Implementation: [[exactJaccardPairs]] — exact PPJoin prefix
      // filtering; candidate pairs come only from each doc's RAREST
      // (df-ordered) shingle prefix, so hot boilerplate postings never
      // blow up quadratically, with provably zero recall loss at t=0.8.
      (s, d) => exactJaccardPairs(dupDocs(s, d))),

    QueryDef(
      "dd07_span_dedup",
      // Span-level (sub-document) duplication profile: for every doc,
      // the fraction of its distinct 5-token spans that also occur in
      // some OTHER document — the signal behind substring-level train-
      // set decontamination ("dedup the repeated boilerplate, keep the
      // doc"). Cross-doc sharing is computed with one window over the
      // exploded span postings (per-doc spans are already distinct, so
      // `count over (partition by span)` IS the doc-frequency) — no
      // self-join, two shuffles total. The oracle re-derives
      // word_shingles(5) with DuckDB list lambdas (cf. dd06).
      Some("""WITH tk AS (
             |  SELECT doc_id,
             |    list_filter(string_split(text, ' '), x -> x <> '') AS toks
             |  FROM documents),
             |sh AS (
             |  SELECT doc_id,
             |    list_distinct(list_transform(
             |      range(1, greatest(len(toks) - 4, 1) + 1),
             |      i -> array_to_string(
             |             list_slice(toks, i, least(i + 4, len(toks))), ' '))) AS shs
             |  FROM tk WHERE len(toks) > 0),
             |post AS (SELECT doc_id, unnest(shs) AS sh FROM sh),
             |n AS (SELECT doc_id, count(*) OVER (PARTITION BY sh) AS ndocs FROM post)
             |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
             |  CAST(sum(CASE WHEN ndocs >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_spans,
             |  round(sum(CASE WHEN ndocs >= 2 THEN 1 ELSE 0 END)
             |        / CAST(count(*) AS DOUBLE), 4) AS dup_frac
             |FROM n GROUP BY doc_id""".stripMargin),
      (s, d) => {
        val sets = docs(s, d)
          .select(col("doc_id"),
            graft.functions.GraftFunctions.word_shingles(col("text"), 5).as("shs"))
          .filter(size(col("shs")) > 0)
        val post = sets.select(col("doc_id"), explode(col("shs")).as("sh"))
        val dupFlag = when(count(lit(1)).over(Window.partitionBy("sh")) >= 2, 1L).otherwise(0L)
        post
          .withColumn("is_dup", dupFlag)
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_spans"),
            sum("is_dup").cast("long").as("n_dup_spans"),
            round(sum("is_dup") / count(lit(1)).cast("double"), 4).as("dup_frac"))
      }),

    QueryDef(
      "dd08_incremental_dedup",
      // INCREMENTAL dedup — the production shape: a new batch dedups
      // against the existing corpus WITHOUT re-deduplicating the
      // corpus. One left_anti join on the content fingerprint; corpus
      // cost is a fingerprint scan, and at 100 TB the corpus side is a
      // pre-materialized fingerprint table, so daily batches never
      // touch the raw lake. Batch = shifted doc ids 100000-100249 with
      // the same texts as corpus docs 0-249 (dupes) plus 100250+ whose
      // originals are NOT in the corpus (novel content to admit).
      Some("""WITH corpus AS (
             |  SELECT md5(text) AS h FROM documents WHERE doc_id < 250),
             |batch AS (
             |  SELECT doc_id + 100000 AS doc_id, md5(text) AS h, lang
             |  FROM documents)
             |SELECT b.doc_id, b.lang FROM batch b
             |WHERE NOT EXISTS (SELECT 1 FROM corpus c WHERE c.h = b.h)""".stripMargin),
      (s, d) => {
        val corpus = docs(s, d).filter(col("doc_id") < 250)
          .select(md5(encode(col("text"), "UTF-8")).as("h"))
        val batch = docs(s, d)
          .select((col("doc_id") + Shift).as("doc_id"),
            md5(encode(col("text"), "UTF-8")).as("h"), col("lang"))
        batch.join(corpus, Seq("h"), "left_anti")
          .select(col("doc_id"), col("lang"))
      }),

    QueryDef(
      "dd09_cluster_stats",
      // Cluster-size audit after transitive resolution — the
      // measurement a dedup run reports ("how big do dup families
      // get?"). Same chained 3-copy corpus as dd05; the connected-
      // components labels roll up to per-cluster sizes, then to a
      // size histogram (two cheap aggregates after the CC fixpoint).
      Some("""WITH u AS (
             |  SELECT doc_id, text FROM documents
             |  UNION ALL SELECT doc_id + 100000, text FROM documents
             |  UNION ALL SELECT doc_id + 200000, text FROM documents
             |), h AS (SELECT doc_id, md5(text) AS hh FROM u),
             |edges AS (
             |  SELECT x.doc_id AS a, y.doc_id AS b
             |  FROM h x JOIN h y ON x.hh = y.hh AND y.doc_id = x.doc_id + 100000),
             |sym AS (SELECT a AS src, b AS dst FROM edges
             |        UNION ALL SELECT b, a FROM edges),
             |reach AS (
             |  WITH RECURSIVE r(node, lbl) AS (
             |    SELECT doc_id, doc_id FROM h
             |    UNION
             |    SELECT s.src, r.lbl FROM r JOIN sym s ON s.dst = r.node)
             |  SELECT node, lbl FROM r),
             |canon AS (
             |  SELECT node, min(lbl) AS canonical FROM reach GROUP BY node),
             |sizes AS (
             |  SELECT canonical, count(*) AS cluster_size FROM canon GROUP BY 1)
             |SELECT CAST(cluster_size AS BIGINT) AS cluster_size,
             |  CAST(count(*) AS BIGINT) AS n_clusters
             |FROM sizes GROUP BY 1""".stripMargin),
      (s, d) => {
        val h = dupDocs(s, d, copies = 3)
          .select(col("doc_id"), md5(encode(col("text"), "UTF-8")).as("hh"))
        val edges = h.select(col("doc_id").as("a"), col("hh"))
          .join(h.select(col("doc_id").as("b"), col("hh")), "hh")
          .filter(col("b") === col("a") + lit(Shift))
          .select("a", "b")
        connectedComponents(h.select(col("doc_id").as("id")), edges)
          .groupBy("label").agg(count(lit(1)).as("cluster_size"))
          .groupBy("cluster_size").agg(count(lit(1)).as("n_clusters"))
          .select(col("cluster_size").cast("long").as("cluster_size"), col("n_clusters"))
      }),

    QueryDef(
      "dd10_decontaminate",
      // Benchmark decontamination: flag training docs whose 5-token
      // spans substantially overlap a (small) held-out benchmark set —
      // the eval-leakage gate every training corpus runs. doc_id < 25
      // plays the benchmark; a corpus doc is contaminated when >= half
      // its distinct spans appear in ANY benchmark doc (integral 2*hit
      // >= n gate — no float boundary). Plan shape: corpus spans
      // semi-hit against the DISTINCT benchmark span set via a
      // broadcast join (benchmarks are tiny by definition), then one
      // per-doc aggregate — scan-proportional, no pair enumeration.
      Some("""WITH tk AS (
             |  SELECT doc_id,
             |    list_filter(string_split(text, ' '), x -> x <> '') AS toks
             |  FROM documents),
             |sh AS (
             |  SELECT doc_id,
             |    list_distinct(list_transform(
             |      range(1, greatest(len(toks) - 4, 1) + 1),
             |      i -> array_to_string(
             |             list_slice(toks, i, least(i + 4, len(toks))), ' '))) AS shs
             |  FROM tk WHERE len(toks) > 0),
             |bench AS (
             |  SELECT DISTINCT unnest(shs) AS sh FROM sh WHERE doc_id < 25),
             |corpus AS (
             |  SELECT doc_id, unnest(shs) AS sh FROM sh WHERE doc_id >= 25),
             |hits AS (
             |  SELECT c.doc_id,
             |    CASE WHEN b.sh IS NOT NULL THEN 1 ELSE 0 END AS hit
             |  FROM corpus c LEFT JOIN bench b ON c.sh = b.sh)
             |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
             |  CAST(sum(hit) AS BIGINT) AS n_hit,
             |  CASE WHEN 2 * sum(hit) >= count(*) THEN 1 ELSE 0 END AS contaminated
             |FROM hits GROUP BY doc_id""".stripMargin),
      (s, d) => {
        val sets = docs(s, d)
          .select(col("doc_id"),
            graft.functions.GraftFunctions.word_shingles(col("text"), 5).as("shs"))
          .filter(size(col("shs")) > 0)
        val bench = sets.filter(col("doc_id") < 25)
          .select(explode(col("shs")).as("sh")).distinct()
        val corpus = sets.filter(col("doc_id") >= 25)
          .select(col("doc_id"), explode(col("shs")).as("sh"))
        corpus
          .join(broadcast(bench.withColumn("hit_mark", lit(1))), Seq("sh"), "left")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_spans"),
            sum(when(col("hit_mark").isNotNull, 1L).otherwise(0L)).cast("long").as("n_hit"))
          .select(col("doc_id"), col("n_spans"), col("n_hit"),
            when(lit(2) * col("n_hit") >= col("n_spans"), 1).otherwise(0)
              .as("contaminated"))
      }),

    QueryDef(
      "dd11_canonical_pick",
      // Representative selection — the step AFTER cluster resolution:
      // from each dup family keep exactly one document, chosen by a
      // quality score with a total-order tie-break (here the score is a
      // deterministic doc_id-derived stand-in; in production it is
      // tx03/tx12's quality output). Same chained 3-copy corpus and CC
      // fixpoint as dd05; selection is one argmax window over the
      // cluster label — cost scales with cluster count, and clusters
      // partition independently so no skew beyond the largest family.
      Some("""WITH u AS (
             |  SELECT doc_id, text FROM documents
             |  UNION ALL SELECT doc_id + 100000, text FROM documents
             |  UNION ALL SELECT doc_id + 200000, text FROM documents
             |), h AS (SELECT doc_id, md5(text) AS hh FROM u),
             |edges AS (
             |  SELECT x.doc_id AS a, y.doc_id AS b
             |  FROM h x JOIN h y ON x.hh = y.hh AND y.doc_id = x.doc_id + 100000),
             |sym AS (SELECT a AS src, b AS dst FROM edges
             |        UNION ALL SELECT b, a FROM edges),
             |reach AS (
             |  WITH RECURSIVE r(node, lbl) AS (
             |    SELECT doc_id, doc_id FROM h
             |    UNION
             |    SELECT s.src, r.lbl FROM r JOIN sym s ON s.dst = r.node)
             |  SELECT node, lbl FROM r),
             |canon AS (
             |  SELECT node AS doc_id, min(lbl) AS canonical FROM reach GROUP BY node),
             |sel AS (
             |  SELECT canonical, doc_id,
             |    row_number() OVER (PARTITION BY canonical
             |      ORDER BY doc_id % 7 DESC, doc_id) AS rn,
             |    count(*) OVER (PARTITION BY canonical) AS sz
             |  FROM canon)
             |SELECT canonical, doc_id AS rep_id,
             |  CAST(sz AS BIGINT) AS cluster_size
             |FROM sel WHERE rn = 1""".stripMargin),
      (s, d) => {
        val h = dupDocs(s, d, copies = 3)
          .select(col("doc_id"), md5(encode(col("text"), "UTF-8")).as("hh"))
        val edges = h.select(col("doc_id").as("a"), col("hh"))
          .join(h.select(col("doc_id").as("b"), col("hh")), "hh")
          .filter(col("b") === col("a") + lit(Shift))
          .select("a", "b")
        val w = Window.partitionBy("canonical")
          .orderBy((col("doc_id") % 7).desc, col("doc_id"))
        connectedComponents(h.select(col("doc_id").as("id")), edges)
          .select(col("id").as("doc_id"), col("label").as("canonical"))
          .withColumn("rn", row_number().over(w))
          .withColumn("sz", count(lit(1)).over(Window.partitionBy("canonical")))
          .filter(col("rn") === 1)
          .select(col("canonical"), col("doc_id").as("rep_id"),
            col("sz").cast("long").as("cluster_size"))
      }),

    QueryDef(
      "dd12_semantic_dedup",
      // SemDeDup (Abbas et al. 2023): near-duplicate removal in
      // EMBEDDING space, with the pairwise search confined to k-means
      // cells — the semantic complement of the lexical dd02/dd03/dd04
      // family (it catches paraphrases that share no shingles). Every
      // vector is assigned to its nearest centroid (one broadcast
      // cross, vs02's coarse quantizer), and cosine comparisons run
      // only WITHIN a cell: cost drops from O(n²) to O(Σ cell²), and
      // cells partition independently — at 100 TB each cell's pair
      // search is a local self-join after one shuffle on cell id,
      // with oversized cells recursively re-split. A vector drops iff
      // a smaller-id vector in the same cell scores above the
      // threshold (greedy keep-first — deterministic). Corpus =
      // embeddings plus a shifted exact copy so the dedup has real
      // work; output is the per-cell audit with kept-id checksum.
      Some("""WITH u AS (
             |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
             |  UNION ALL
             |  SELECT vec_id + 100000, embedding::DOUBLE[] FROM embeddings),
             |c AS (SELECT vec_id AS cid, embedding::DOUBLE[] AS cv
             |      FROM embeddings WHERE vec_id < 8),
             |a AS (SELECT u.vec_id, u.v, cid,
             |        row_number() OVER (PARTITION BY u.vec_id
             |          ORDER BY floor(list_cosine_similarity(v, cv) * 1000000 + 0.5) DESC, cid) AS arn
             |      FROM u, c),
             |asg AS (SELECT vec_id, v, cid FROM a WHERE arn = 1),
             |drops AS (
             |  SELECT DISTINCT y.vec_id AS b
             |  FROM asg x JOIN asg y ON x.cid = y.cid AND x.vec_id < y.vec_id
             |  WHERE list_cosine_similarity(x.v, y.v) > 0.99)
             |SELECT cid, CAST(count(*) AS BIGINT) AS n_vecs,
             |  CAST(sum(CASE WHEN b IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             |    AS n_dropped,
             |  CAST(sum(CASE WHEN b IS NULL THEN asg.vec_id ELSE 0 END) AS BIGINT)
             |    AS kept_id_sum
             |FROM asg LEFT JOIN drops ON asg.vec_id = drops.b
             |GROUP BY cid""".stripMargin),
      (s, d) => {
        val e = Tables(s, d, "embeddings")
          .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
        val u = e.unionByName(e.withColumn("vec_id", col("vec_id") + lit(Shift)))
        val cents = e.filter(col("vec_id") < 8)
          .select(col("vec_id").as("cid"), col("v").as("cv"))
        val asg = VectorOps.assignClusters(u, cents)
        val right = asg.select(col("cid"), col("vec_id").as("b"), col("v").as("vb"))
        val drops = asg.select(col("cid"), col("vec_id").as("a"), col("v").as("va"))
          .join(right, "cid")
          .filter(col("a") < col("b") &&
            VectorOps.cosine(col("va"), col("vb")) > 0.99)
          .select("b").distinct()
        asg.join(drops, asg("vec_id") === drops("b"), "left")
          .groupBy("cid")
          .agg(count(lit(1)).as("n_vecs"),
            sum(when(col("b").isNotNull, 1L).otherwise(0L)).cast("long")
              .as("n_dropped"),
            sum(when(col("b").isNull, col("vec_id")).otherwise(0L)).cast("long")
              .as("kept_id_sum"))
      }),

    QueryDef(
      "dd13_prefix_dedup",
      // Boilerplate/prefix dedup: documents whose first 16 tokens are
      // identical collapse to the earliest doc_id — the cheap pass that
      // catches templated headers and mirror-site copies dd01's
      // whole-text hash misses (their tails differ). Map-only digest +
      // one shuffle on it; the prefix digest is 16 tokens regardless of
      // document length, so at 100 TB the key compute is O(1) per doc
      // (no full-text hashing) and pushes only a 16-token slice through
      // the shuffle. Corpus = documents + a shifted copy with a mutated
      // TAIL (suffix appended), which prefix-dedup must still collapse.
      Some("""WITH u AS (
             |  SELECT doc_id, text FROM documents
             |  UNION ALL
             |  SELECT doc_id + 100000, text || ' tail mutation' FROM documents),
             |k AS (
             |  SELECT doc_id,
             |    md5(array_to_string(list_slice(string_split(text, ' '), 1, 16), ' '))
             |      AS pfx
             |  FROM u),
             |r AS (
             |  SELECT doc_id, pfx,
             |    row_number() OVER (PARTITION BY pfx ORDER BY doc_id) AS rn,
             |    count(*) OVER (PARTITION BY pfx) AS grp_n
             |  FROM k)
             |SELECT doc_id, CAST(grp_n AS BIGINT) AS n_dups
             |FROM r WHERE rn = 1""".stripMargin),
      (s, d) => {
        val base = docs(s, d).select(col("doc_id"), col("text"))
        val u = base.unionByName(base.select(
          (col("doc_id") + lit(Shift)).as("doc_id"),
          concat(col("text"), lit(" tail mutation")).as("text")))
        val k = u.select(col("doc_id"),
          md5(concat_ws(" ", slice(split(col("text"), " "), 1, 16))).as("pfx"))
        val w = Window.partitionBy("pfx")
        k.select(col("doc_id"),
            row_number().over(w.orderBy("doc_id")).as("rn"),
            count(lit(1)).over(w).cast("long").as("n_dups"))
          .filter(col("rn") === 1)
          .select("doc_id", "n_dups")
      }),

    QueryDef(
      "dd14_span_scrub",
      // Repeated-span SCRUBBING — the surgery dd07 only profiles: every
      // token covered by a 5-gram that also occurs in another document
      // is REMOVED, and the op emits the scrubbed text's md5 (pinning
      // the exact edited bytes) plus removal accounting. This is the
      // substring-level dedup of Lee et al. 2022 ("Deduplicating
      // Training Data Makes Language Models Better") in relational
      // form: positional 5-gram postings → cross-doc doc-frequency →
      // covered-position set per doc → index-filtered token
      // reconstruction. Scale shape: one distinct+count over postings
      // (span df), one equi-join back, one per-doc collect of covered
      // STARTS (bounded by doc length), all array surgery map-side.
      Some("""WITH tk AS (
             |  SELECT doc_id,
             |    list_filter(string_split(text, ' '), x -> x <> '') AS toks
             |  FROM documents),
             |sp AS (
             |  SELECT doc_id,
             |    unnest(range(1, greatest(len(toks) - 4, 0) + 1)) AS p,
             |    unnest(list_transform(range(1, greatest(len(toks) - 4, 0) + 1),
             |      i -> array_to_string(list_slice(toks, i, i + 4), ' '))) AS s
             |  FROM tk WHERE len(toks) >= 5),
             |df AS (
             |  SELECT s FROM (
             |    SELECT s, count(DISTINCT doc_id) AS nd FROM sp GROUP BY s) t
             |  WHERE nd >= 2),
             |cov AS (
             |  SELECT sp.doc_id,
             |    list_distinct(flatten(list_transform(list(sp.p),
             |      q -> range(q, q + 5)))) AS cps
             |  FROM sp JOIN df USING (s) GROUP BY sp.doc_id),
             |o AS (
             |  SELECT tk.doc_id, toks, coalesce(cps, []) AS cps
             |  FROM tk LEFT JOIN cov USING (doc_id))
             |SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
             |  CAST(len(cps) AS BIGINT) AS n_removed,
             |  md5(coalesce(array_to_string(
             |    list_filter(toks, (x, i) -> NOT list_contains(cps, CAST(i AS BIGINT))),
             |    ' '), '')) AS scrub_md5
             |FROM o""".stripMargin),
      (s, d) => {
        val tk = docs(s, d).select(col("doc_id"),
          filter(split(col("text"), " "), x => x =!= "").as("toks"))
        val sp = tk.filter(size(col("toks")) >= 5)
          .select(col("doc_id"), explode(transform(
            sequence(lit(1), size(col("toks")) - 4),
            i => struct(i.as("p"),
              concat_ws(" ", slice(col("toks"), i, lit(5))).as("s")))).as("u"))
          // span keys hash to longs at creation: both downstream
          // shuffles (df groupBy + the cov equi-join) ship 8 bytes per
          // span instead of a ~30-byte string (dd06's hashed-posting
          // move; equality is all either side needs)
          .select(col("doc_id"), col("u.p").as("p"), xxhash64(col("u.s")).as("s"))
        // The df side needs only DISTINCT spans per doc — the native
        // one-pass word_shingles, not the positional explode. This also
        // keeps the heavy positional subtree out of the plan twice
        // (Catalyst re-executes shared subtrees; measured ~35% of the
        // query). Sub-5-token docs emit a whole-text shingle that can
        // never equal a true 5-gram (fewer separators), so no filter
        // is needed on this side.
        val dfSpans = docs(s, d)
          .select(col("doc_id"),
            explode(graft.functions.GraftFunctions.word_shingles(col("text"), 5)).as("s0"))
          .select(col("doc_id"), xxhash64(col("s0")).as("s"))
          .groupBy("s").agg(count(lit(1)).as("nd"))
          .filter(col("nd") >= 2).select("s")
        val cov = sp.join(dfSpans, "s")
          .groupBy("doc_id")
          .agg(array_distinct(flatten(collect_list(
            sequence(col("p"), col("p") + 4)))).as("cps"))
        tk.join(cov, Seq("doc_id"), "left")
          .select(col("doc_id"),
            size(col("toks")).cast("long").as("n_tokens"),
            when(col("cps").isNull, 0L).otherwise(size(col("cps")))
              .cast("long").as("n_removed"),
            md5(concat_ws(" ", filter(col("toks"),
              (x, i) => when(col("cps").isNull, lit(true))
                .otherwise(!array_contains(col("cps"), i + 1))))).as("scrub_md5"))
      }),

    QueryDef(
      "dd15_threshold_sweep",
      // Near-dup threshold TUNING: how many pairs would each Jaccard
      // cutoff keep? One dd06 posting pass over the plain corpus with
      // INTEGRAL tier gates (10·i ⋛ t·(union size) — no float
      // boundaries), rolled into a single audit row. This is the sweep
      // a pipeline owner runs before fixing the dedup threshold; cost
      // is identical to one dd06 pass, not four.
      Some("""WITH tk AS (
             |  SELECT doc_id,
             |    list_filter(string_split(text, ' '), x -> x <> '') AS toks
             |  FROM documents),
             |sh AS (
             |  SELECT doc_id,
             |    list_distinct(list_transform(
             |      range(1, greatest(len(toks) - 2, 1) + 1),
             |      i -> array_to_string(
             |             list_slice(toks, i, least(i + 2, len(toks))), ' '))) AS shs
             |  FROM tk WHERE len(toks) > 0),
             |post AS (SELECT doc_id, len(shs) AS n, unnest(shs) AS s FROM sh),
             |inter AS (
             |  SELECT x.doc_id AS a, y.doc_id AS b, x.n AS na, y.n AS nb,
             |    count(*) AS i
             |  FROM post x JOIN post y ON x.s = y.s AND x.doc_id < y.doc_id
             |  GROUP BY 1, 2, 3, 4)
             |SELECT CAST(count(*) AS BIGINT) AS n_candidate_pairs,
             |  CAST(sum(CASE WHEN 10 * i >= 3 * (na + nb - i) THEN 1 ELSE 0 END)
             |    AS BIGINT) AS n_ge_03,
             |  CAST(sum(CASE WHEN 10 * i >= 5 * (na + nb - i) THEN 1 ELSE 0 END)
             |    AS BIGINT) AS n_ge_05,
             |  CAST(sum(CASE WHEN 10 * i >= 7 * (na + nb - i) THEN 1 ELSE 0 END)
             |    AS BIGINT) AS n_ge_07,
             |  CAST(sum(CASE WHEN 10 * i >= 9 * (na + nb - i) THEN 1 ELSE 0 END)
             |    AS BIGINT) AS n_ge_09
             |FROM inter""".stripMargin),
      (s, d) => thresholdSweep(docs(s, d))),

    QueryDef(
      "dd16_cdc_chunks",
      // Content-defined chunking (the FastCDC/rsync discipline applied
      // at token granularity): a chunk boundary falls after token i
      // whenever the hash of the trailing 3-token window ≡ 0 (mod 16) —
      // a pure function of CONTENT, so an insertion early in a document
      // shifts every byte offset but only the chunks that actually
      // changed get new identities (fixed-size blocks would invalidate
      // every block after the edit). Chunks are hashed and counted
      // across the corpus: the repeated-chunk census is the dedup-
      // storage audit ("how many bytes does chunk-level dedup save?")
      // that block stores and training-data lakes run at petabyte
      // scale. Expected chunk length is 16 tokens (geometric); the md5
      // boundary hash is the engine-portable choice (oracle-parity),
      // with xxhash64 the cheaper production swap. One window sort per
      // doc computes boundary flags AND chunk ids (lag + running sum
      // share the (doc_id, pos) ordering); one shuffle groups chunk
      // instances; the census rollup is map-combinable.
      Some("""WITH u AS (
             |  SELECT doc_id, text FROM documents
             |  UNION ALL SELECT doc_id + 100000, text FROM documents),
             |tk AS (
             |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
             |  FROM u),
             |p AS (
             |  SELECT doc_id,
             |    unnest(list_transform(range(1, len(toks) + 1),
             |      i -> {'pos': i - 1, 'tok': list_extract(toks, i)}), recursive := true)
             |  FROM tk WHERE len(toks) > 0),
             |b AS (
             |  SELECT doc_id, pos, tok,
             |    CASE WHEN pos >= 2 AND CAST('0x' || substr(md5(
             |        lag(tok, 2) OVER w || ' ' || lag(tok, 1) OVER w || ' ' || tok), 1, 8)
             |        AS BIGINT) % 16 = 0 THEN 1 ELSE 0 END AS f
             |  FROM p WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
             |c AS (
             |  SELECT doc_id, pos, tok,
             |    coalesce(sum(f) OVER (PARTITION BY doc_id ORDER BY pos
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cid
             |  FROM b),
             |ch AS (
             |  SELECT doc_id, cid, string_agg(tok, ' ' ORDER BY pos) AS ctext
             |  FROM c GROUP BY 1, 2),
             |g AS (
             |  SELECT md5(ctext) AS h, count(*) AS df, min(length(ctext)) AS len
             |  FROM ch GROUP BY 1)
             |SELECT CAST(sum(df) AS BIGINT) AS n_chunks,
             |  CAST(count(*) AS BIGINT) AS n_distinct_chunks,
             |  CAST(sum(df - 1) AS BIGINT) AS n_dup_instances,
             |  CAST(sum((df - 1) * len) AS BIGINT) AS chars_saved,
             |  CAST(sum(df * len) AS BIGINT) AS total_chunk_chars
             |FROM g""".stripMargin),
      (s, d) =>
        contentDefinedChunks(dupDocs(s, d))
          .groupBy(md5(col("ctext")).as("h"))
          .agg(count(lit(1)).as("df"), min(length(col("ctext"))).as("len"))
          .agg(sum(col("df")).cast("long").as("n_chunks"),
            count(lit(1)).cast("long").as("n_distinct_chunks"),
            sum(col("df") - 1).cast("long").as("n_dup_instances"),
            sum((col("df") - 1) * col("len")).cast("long").as("chars_saved"),
            sum(col("df") * col("len")).cast("long").as("total_chunk_chars"))),

    QueryDef(
      "dd17_incremental_lsh",
      // Incremental NEAR-dedup — the daily-ingest counterpart of dd02,
      // extending dd08's incremental-exact contract to the sketch
      // tier: the lake's LSH band keys are materialized ONCE as a
      // bucketed posting-list index ([[writePortableLshIndex]]); each arriving
      // batch derives its own band keys (batch-sized signature pass)
      // and probes the index for every pair it introduces — against
      // the lake and within itself. The combined per-bucket cap makes
      // the result EXACTLY the one-shot dd02 kernel over lake ∪ batch
      // restricted to batch-involving pairs (IncrementalLshSpec pins
      // the set identity; this oracle replays that definition, so the
      // incremental path is held to the full-recompute's answer).
      // Scale: probe cost is O(batch signatures + touched buckets) —
      // the lake is read only through the index (150 B/doc vs KB of
      // text) and the candidates' verify lookups; the bucketed layout
      // means the index side never exchanges, whatever the batch size.
      // Here the batch is every 10th document arriving as a new id —
      // each an exact copy of a lake doc, so every batch doc must find
      // its source (plus any natural near-dups that cross the split).
      Some("""WITH u AS (
             |  SELECT doc_id, text FROM documents
             |  UNION ALL
             |  SELECT doc_id + 100000, text FROM documents WHERE doc_id % 10 = 0
             |), tk AS (
             |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks FROM u),
             |sh AS (
             |  SELECT doc_id,
             |    list_distinct(list_transform(
             |      range(1, greatest(len(toks) - 2, 1) + 1),
             |      i -> array_to_string(list_slice(toks, i, least(i + 2, len(toks))), ' '))) AS shs
             |  FROM tk WHERE len(toks) > 0),
             |hp AS (
             |  SELECT doc_id, list_transform(shs, s -> struct_pack(
             |    h1 := CAST(concat('0x', substr(md5(concat('0:', s)), 1, 15)) AS BIGINT) % 144115188075855859,
             |    h2 := CAST(concat('0x', substr(md5(concat('0:', s)), 16, 15)) AS BIGINT) % 144115188075855859)) AS hs
             |  FROM sh),
             |sig AS (
             |  SELECT doc_id,
             |    list_transform(range(0, 64), g ->
             |      list_min(list_transform(hs, t ->
             |        (t.h1 + (g * t.h2) % 144115188075855859) % 144115188075855859))) AS mh
             |  FROM hp),
             |bands AS (
             |  SELECT doc_id, bd, mh[4*bd + 1] AS k1, mh[4*bd + 2] AS k2,
             |    mh[4*bd + 3] AS k3, mh[4*bd + 4] AS k4
             |  FROM sig, range(0, 16) t(bd)),
             |bc AS (SELECT bd, k1, k2, k3, k4 FROM bands
             |       GROUP BY bd, k1, k2, k3, k4 HAVING count(*) BETWEEN 2 AND 100),
             |cand AS (
             |  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
             |  FROM bands x JOIN bc USING (bd, k1, k2, k3, k4)
             |  JOIN bands y ON y.bd = x.bd AND y.k1 = x.k1 AND y.k2 = x.k2
             |    AND y.k3 = x.k3 AND y.k4 = x.k4 AND x.doc_id < y.doc_id),
             |v AS (
             |  SELECT a, b, len(list_intersect(sa.shs, sb.shs)) AS i,
             |    len(sa.shs) AS na, len(sb.shs) AS nb
             |  FROM cand JOIN sh sa ON sa.doc_id = a JOIN sh sb ON sb.doc_id = b)
             |SELECT a, b, round(CAST(i AS DOUBLE) / (na + nb - i), 4) AS jaccard
             |FROM v WHERE CAST(i AS DOUBLE) / (na + nb - i) >= 0.8
             |  AND b >= 100000""".stripMargin),
      (s, d) => {
        val lake = docs(s, d).select("doc_id", "text")
        val batch = docs(s, d).filter(col("doc_id") % 10 === 0)
          .select((col("doc_id") + lit(Shift)).as("doc_id"), col("text"))
        lshIndexProbe(batch, s.table(baseLshIndex(s, d)),
          lake.unionByName(batch))
      }),

    QueryDef(
      "dd18_band_blocklist",
      // dd17's indexed probe under a HOT-BUCKET BLOCKLIST — the
      // production knob for degenerate buckets (boilerplate shingle
      // sets) in a continuous ingest. [[hotBandKeys]] derives the
      // blocked keys from the LAKE index's posting sizes (> 2 here — a
      // real block set on this corpus), a deterministic function of
      // the corpus rather than of arrival order: unlike a combined-
      // size cap, the same keys are blocked wherever the micro-batch
      // boundaries fall, so DedupStream's slicing invariance survives
      // (BlocklistSpec). A blocked key generates no candidates, but a
      // pair it would have surfaced can still arrive through its 15
      // other bands — LSH's redundancy is the point, and the oracle
      // replays exactly that semantics: lake band keys with posting
      // count > 2 are excluded from candidate generation, everything
      // else is dd17 verbatim.
      Some("""WITH u AS (
             |  SELECT doc_id, text FROM documents
             |  UNION ALL
             |  SELECT doc_id + 100000, text FROM documents WHERE doc_id % 10 = 0
             |), tk AS (
             |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks FROM u),
             |sh AS (
             |  SELECT doc_id,
             |    list_distinct(list_transform(
             |      range(1, greatest(len(toks) - 2, 1) + 1),
             |      i -> array_to_string(list_slice(toks, i, least(i + 2, len(toks))), ' '))) AS shs
             |  FROM tk WHERE len(toks) > 0),
             |hp AS (
             |  SELECT doc_id, list_transform(shs, s -> struct_pack(
             |    h1 := CAST(concat('0x', substr(md5(concat('0:', s)), 1, 15)) AS BIGINT) % 144115188075855859,
             |    h2 := CAST(concat('0x', substr(md5(concat('0:', s)), 16, 15)) AS BIGINT) % 144115188075855859)) AS hs
             |  FROM sh),
             |sig AS (
             |  SELECT doc_id,
             |    list_transform(range(0, 64), g ->
             |      list_min(list_transform(hs, t ->
             |        (t.h1 + (g * t.h2) % 144115188075855859) % 144115188075855859))) AS mh
             |  FROM hp),
             |bands AS (
             |  SELECT doc_id, bd, mh[4*bd + 1] AS k1, mh[4*bd + 2] AS k2,
             |    mh[4*bd + 3] AS k3, mh[4*bd + 4] AS k4
             |  FROM sig, range(0, 16) t(bd)),
             |blocked AS (
             |  SELECT bd, k1, k2, k3, k4 FROM bands WHERE doc_id < 100000
             |  GROUP BY bd, k1, k2, k3, k4 HAVING count(*) > 2),
             |bc AS (
             |  SELECT bd, k1, k2, k3, k4 FROM bands
             |  GROUP BY bd, k1, k2, k3, k4 HAVING count(*) BETWEEN 2 AND 100),
             |bc2 AS (
             |  SELECT * FROM bc WHERE NOT EXISTS (
             |    SELECT 1 FROM blocked bl WHERE bl.bd = bc.bd AND bl.k1 = bc.k1
             |      AND bl.k2 = bc.k2 AND bl.k3 = bc.k3 AND bl.k4 = bc.k4)),
             |cand AS (
             |  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
             |  FROM bands x JOIN bc2 USING (bd, k1, k2, k3, k4)
             |  JOIN bands y ON y.bd = x.bd AND y.k1 = x.k1 AND y.k2 = x.k2
             |    AND y.k3 = x.k3 AND y.k4 = x.k4 AND x.doc_id < y.doc_id),
             |v AS (
             |  SELECT a, b, len(list_intersect(sa.shs, sb.shs)) AS i,
             |    len(sa.shs) AS na, len(sb.shs) AS nb
             |  FROM cand JOIN sh sa ON sa.doc_id = a JOIN sh sb ON sb.doc_id = b)
             |SELECT a, b, round(CAST(i AS DOUBLE) / (na + nb - i), 4) AS jaccard
             |FROM v WHERE CAST(i AS DOUBLE) / (na + nb - i) >= 0.8
             |  AND b >= 100000""".stripMargin),
      (s, d) => {
        val lake = docs(s, d).select("doc_id", "text")
        val batch = docs(s, d).filter(col("doc_id") % 10 === 0)
          .select((col("doc_id") + lit(Shift)).as("doc_id"), col("text"))
        val idx = s.table(baseLshIndex(s, d))
        lshIndexProbe(batch, idx, lake.unionByName(batch),
          blockKeys = Some(hotBandKeys(idx, maxPosting = 2)))
      }),

    QueryDef(
      "dd19_authority_rank",
      // AUTHORITY-RANKED canonical selection: weighted PageRank over
      // the exact near-dup similarity graph (dd06's J >= 0.8 pairs,
      // edge weight = jaccard on the 1e-4 grid). In a dup cluster the
      // highest-authority doc is the one most strongly similar to the
      // most others — the centrality complement of dd11's
      // quality-argmax pick, and the iterative-graph sibling of dd05's
      // connected components. Determinism across engines comes from
      // the INTEGER GRID: rank mass lives on a 1e12 scale as BIGINTs,
      // every division is integral (Spark `DIV` ≡ DuckDB `//` on
      // non-negatives), so 3 power-method iterations are bit-exact on
      // both sides — the oracle simply unrolls them as CTEs. Scale:
      // edge generation is dd06's PPJoin (never all-pairs); each
      // iteration is one equi-join + one map-combinable sum over the
      // edge set — the standard distributed PageRank shape, with the
      // pinned edge list reused across iterations.
      Some("""WITH u AS (
             |  SELECT doc_id, text FROM documents
             |  UNION ALL
             |  SELECT doc_id + 100000, text FROM documents
             |), tk AS (
             |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks FROM u),
             |sh AS (
             |  SELECT doc_id,
             |    list_distinct(list_transform(
             |      range(1, greatest(len(toks) - 2, 1) + 1),
             |      i -> array_to_string(list_slice(toks, i, least(i + 2, len(toks))), ' '))) AS shs
             |  FROM tk WHERE len(toks) > 0),
             |post AS (SELECT doc_id, unnest(shs) AS s FROM sh),
             |inter AS (
             |  SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS i
             |  FROM post x JOIN post y ON x.s = y.s AND x.doc_id < y.doc_id
             |  GROUP BY 1, 2),
             |sz AS (SELECT doc_id, len(shs) AS n FROM sh),
             |pw AS (
             |  SELECT a, b,
             |    CAST(round(round(CAST(i AS DOUBLE) / (sa.n + sb.n - i), 4) * 10000) AS BIGINT) AS w
             |  FROM inter JOIN sz sa ON sa.doc_id = a JOIN sz sb ON sb.doc_id = b
             |  WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.8),
             |sym AS (SELECT a AS src, b AS dst, w FROM pw
             |        UNION ALL SELECT b, a, w FROM pw),
             |ow AS (SELECT src, CAST(sum(w) AS BIGINT) AS ow FROM sym GROUP BY src),
             |e AS (SELECT s.src, s.dst, s.w, o.ow FROM sym s JOIN ow o ON o.src = s.src),
             |nn AS (SELECT count(*) AS nn FROM u),
             |p0 AS (SELECT doc_id, 1000000000000 // nn AS pr FROM u CROSS JOIN nn),
             |c1 AS (SELECT e.dst, CAST(sum((85 * p.pr * e.w) // (100 * e.ow)) AS BIGINT) AS c
             |       FROM e JOIN p0 p ON p.doc_id = e.src GROUP BY e.dst),
             |p1 AS (SELECT u.doc_id, (150000000000 // nn) + coalesce(c.c, 0) AS pr
             |       FROM u CROSS JOIN nn LEFT JOIN c1 c ON c.dst = u.doc_id),
             |c2 AS (SELECT e.dst, CAST(sum((85 * p.pr * e.w) // (100 * e.ow)) AS BIGINT) AS c
             |       FROM e JOIN p1 p ON p.doc_id = e.src GROUP BY e.dst),
             |p2 AS (SELECT u.doc_id, (150000000000 // nn) + coalesce(c.c, 0) AS pr
             |       FROM u CROSS JOIN nn LEFT JOIN c2 c ON c.dst = u.doc_id),
             |c3 AS (SELECT e.dst, CAST(sum((85 * p.pr * e.w) // (100 * e.ow)) AS BIGINT) AS c
             |       FROM e JOIN p2 p ON p.doc_id = e.src GROUP BY e.dst),
             |p3 AS (SELECT u.doc_id, (150000000000 // nn) + coalesce(c.c, 0) AS pr
             |       FROM u CROSS JOIN nn LEFT JOIN c3 c ON c.dst = u.doc_id)
             |SELECT doc_id, CAST(pr AS BIGINT) AS pr FROM p3
             |ORDER BY pr DESC, doc_id LIMIT 100""".stripMargin),
      (s, d) => {
        val pairs = exactJaccardPairs(dupDocs(s, d))
          .select(col("a"), col("b"),
            round(col("jaccard") * 10000).cast("long").as("w"))
        authorityRank(dupDocs(s, d).select("doc_id"), pairs)
          .orderBy(col("pr").desc, col("doc_id")).limit(100)
      }),

    QueryDef(
      "dd20_index_delete",
      // TAKEDOWN in the incremental near-dedup cycle: every 7th lake
      // doc is deleted from the persisted LSH index
      // ([[lshIndexDelete]] — band keys are a pure function of
      // content, so re-hashing the removed docs names exactly the
      // buckets holding them, and the targeted posting-list rewrite
      // provably equals a full rebuild over the survivors), the pruned
      // index is persisted back in the bucketed layout, and dd17's
      // batch (every 10th doc re-arriving under a new id) probes it.
      // Docs with id % 70 == 0 are in BOTH sets — their exact-copy
      // source is gone, so the probe must NOT report those pairs:
      // deletion has to actually change answers, not just shrink
      // postings. The oracle is dd17's with the lake leg filtered to
      // survivors — the delete path is held to the full-recompute
      // answer over lake ∖ removed.
      Some("""WITH u AS (
             |  SELECT doc_id, text FROM documents WHERE doc_id % 7 <> 0
             |  UNION ALL
             |  SELECT doc_id + 100000, text FROM documents WHERE doc_id % 10 = 0
             |), tk AS (
             |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks FROM u),
             |sh AS (
             |  SELECT doc_id,
             |    list_distinct(list_transform(
             |      range(1, greatest(len(toks) - 2, 1) + 1),
             |      i -> array_to_string(list_slice(toks, i, least(i + 2, len(toks))), ' '))) AS shs
             |  FROM tk WHERE len(toks) > 0),
             |hp AS (
             |  SELECT doc_id, list_transform(shs, s -> struct_pack(
             |    h1 := CAST(concat('0x', substr(md5(concat('0:', s)), 1, 15)) AS BIGINT) % 144115188075855859,
             |    h2 := CAST(concat('0x', substr(md5(concat('0:', s)), 16, 15)) AS BIGINT) % 144115188075855859)) AS hs
             |  FROM sh),
             |sig AS (
             |  SELECT doc_id,
             |    list_transform(range(0, 64), g ->
             |      list_min(list_transform(hs, t ->
             |        (t.h1 + (g * t.h2) % 144115188075855859) % 144115188075855859))) AS mh
             |  FROM hp),
             |bands AS (
             |  SELECT doc_id, bd, mh[4*bd + 1] AS k1, mh[4*bd + 2] AS k2,
             |    mh[4*bd + 3] AS k3, mh[4*bd + 4] AS k4
             |  FROM sig, range(0, 16) t(bd)),
             |bc AS (SELECT bd, k1, k2, k3, k4 FROM bands
             |       GROUP BY bd, k1, k2, k3, k4 HAVING count(*) BETWEEN 2 AND 100),
             |cand AS (
             |  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
             |  FROM bands x JOIN bc USING (bd, k1, k2, k3, k4)
             |  JOIN bands y ON y.bd = x.bd AND y.k1 = x.k1 AND y.k2 = x.k2
             |    AND y.k3 = x.k3 AND y.k4 = x.k4 AND x.doc_id < y.doc_id),
             |v AS (
             |  SELECT a, b, len(list_intersect(sa.shs, sb.shs)) AS i,
             |    len(sa.shs) AS na, len(sb.shs) AS nb
             |  FROM cand JOIN sh sa ON sa.doc_id = a JOIN sh sb ON sb.doc_id = b)
             |SELECT a, b, round(CAST(i AS DOUBLE) / (na + nb - i), 4) AS jaccard
             |FROM v WHERE CAST(i AS DOUBLE) / (na + nb - i) >= 0.8
             |  AND b >= 100000""".stripMargin),
      (s, d) => {
        val all = docs(s, d).select("doc_id", "text")
        val removed = all.filter(col("doc_id") % 7 === 0)
        val survivors = all.filter(col("doc_id") % 7 =!= 0)
        val batch = docs(s, d).filter(col("doc_id") % 10 === 0)
          .select((col("doc_id") + lit(Shift)).as("doc_id"), col("text"))
        val tmp = graft.core.Scratch.dir("graft_lsh_del_")
        graft.core.PhaseTimer.phase("delete") {
          writeLshIndexRows(
            lshIndexDelete(s.table(baseLshIndex(s, d)), lshBandIndex(removed)),
            "dd20_lsh_index_v2", s"$tmp/index_v2")
        }
        lshIndexProbe(batch, s.table("dd20_lsh_index_v2"),
          survivors.unionByName(batch))
      }),

    QueryDef(
      "dd21_index_update",
      // RE-VERSION in the incremental near-dedup cycle — the UPDATE
      // verb ([[lshIndexUpsert]]): every 9th lake doc is edited (a
      // "v2 " token prepended — shingles change, the doc stays
      // near-dup-similar to its old neighborhood), the persisted index
      // is updated in place at batch cost (delete the OLD text's keys,
      // merge the NEW text's keys — both content-addressed), and
      // dd17's batch (every 10th doc re-arriving under a new id with
      // its ORIGINAL text) probes the updated index. Docs with id %
      // 90 == 0 are edited AND re-arrive: the batch copy carries the
      // old text while the lake now holds v2, so those pairs' Jaccard
      // genuinely moves — the update must change answers, not just
      // rewrite postings. The oracle recomputes dd17's one-shot kernel
      // over the EDITED lake ∪ batch: the in-place update is held to
      // the full-rebuild answer.
      Some("""WITH u AS (
             |  SELECT doc_id, CASE WHEN doc_id % 9 = 0
             |    THEN concat('v2 ', text) ELSE text END AS text
             |  FROM documents
             |  UNION ALL
             |  SELECT doc_id + 100000, text FROM documents WHERE doc_id % 10 = 0
             |), tk AS (
             |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks FROM u),
             |sh AS (
             |  SELECT doc_id,
             |    list_distinct(list_transform(
             |      range(1, greatest(len(toks) - 2, 1) + 1),
             |      i -> array_to_string(list_slice(toks, i, least(i + 2, len(toks))), ' '))) AS shs
             |  FROM tk WHERE len(toks) > 0),
             |hp AS (
             |  SELECT doc_id, list_transform(shs, s -> struct_pack(
             |    h1 := CAST(concat('0x', substr(md5(concat('0:', s)), 1, 15)) AS BIGINT) % 144115188075855859,
             |    h2 := CAST(concat('0x', substr(md5(concat('0:', s)), 16, 15)) AS BIGINT) % 144115188075855859)) AS hs
             |  FROM sh),
             |sig AS (
             |  SELECT doc_id,
             |    list_transform(range(0, 64), g ->
             |      list_min(list_transform(hs, t ->
             |        (t.h1 + (g * t.h2) % 144115188075855859) % 144115188075855859))) AS mh
             |  FROM hp),
             |bands AS (
             |  SELECT doc_id, bd, mh[4*bd + 1] AS k1, mh[4*bd + 2] AS k2,
             |    mh[4*bd + 3] AS k3, mh[4*bd + 4] AS k4
             |  FROM sig, range(0, 16) t(bd)),
             |bc AS (SELECT bd, k1, k2, k3, k4 FROM bands
             |       GROUP BY bd, k1, k2, k3, k4 HAVING count(*) BETWEEN 2 AND 100),
             |cand AS (
             |  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
             |  FROM bands x JOIN bc USING (bd, k1, k2, k3, k4)
             |  JOIN bands y ON y.bd = x.bd AND y.k1 = x.k1 AND y.k2 = x.k2
             |    AND y.k3 = x.k3 AND y.k4 = x.k4 AND x.doc_id < y.doc_id),
             |v AS (
             |  SELECT a, b, len(list_intersect(sa.shs, sb.shs)) AS i,
             |    len(sa.shs) AS na, len(sb.shs) AS nb
             |  FROM cand JOIN sh sa ON sa.doc_id = a JOIN sh sb ON sb.doc_id = b)
             |SELECT a, b, round(CAST(i AS DOUBLE) / (na + nb - i), 4) AS jaccard
             |FROM v WHERE CAST(i AS DOUBLE) / (na + nb - i) >= 0.8
             |  AND b >= 100000""".stripMargin),
      (s, d) => {
        val all = docs(s, d).select("doc_id", "text")
        val oldU = all.filter(col("doc_id") % 9 === 0)
        val newU = oldU.select(col("doc_id"),
          concat(lit("v2 "), col("text")).as("text"))
        val lakeV2 = all.filter(col("doc_id") % 9 =!= 0).unionByName(newU)
        val batch = docs(s, d).filter(col("doc_id") % 10 === 0)
          .select((col("doc_id") + lit(Shift)).as("doc_id"), col("text"))
        val tmp = graft.core.Scratch.dir("graft_lsh_upd_")
        graft.core.PhaseTimer.phase("update") {
          writeLshIndexRows(
            lshIndexUpsert(s.table(baseLshIndex(s, d)),
              lshBandIndex(oldU), lshBandIndex(newU)),
            "dd21_lsh_index_v2", s"$tmp/index_v2")
        }
        lshIndexProbe(batch, s.table("dd21_lsh_index_v2"),
          lakeV2.unionByName(batch))
      }),

    QueryDef(
      "dd22_retention_expiry",
      // RETENTION EXPIRY — the third deletion economics
      // ([[expireLshShards]]): the lake's postings are sharded by
      // ingest day (`day=N/` dirs, disjoint ids — the layout a
      // streaming ingest writes naturally; here day = doc_id mod 3),
      // and expiring everything before the cutoff is DROPPING whole
      // shard directories: O(1) metadata per shard, no read, no
      // rewrite, no tombstone debt — make the partition key the
      // retention key and deletes cost nothing. dd17's batch then
      // probes the surviving shards; day-0 sources are expired, so
      // their re-arrivals must NOT find them (answers change, files
      // merely vanishing isn't enough). The oracle recomputes the
      // one-shot kernel over the surviving days' docs ∪ batch — the
      // directory drop is held to the full-recompute answer.
      Some("""WITH u AS (
             |  SELECT doc_id, text FROM documents WHERE doc_id % 3 <> 0
             |  UNION ALL
             |  SELECT doc_id + 100000, text FROM documents WHERE doc_id % 10 = 0
             |), tk AS (
             |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks FROM u),
             |sh AS (
             |  SELECT doc_id,
             |    list_distinct(list_transform(
             |      range(1, greatest(len(toks) - 2, 1) + 1),
             |      i -> array_to_string(list_slice(toks, i, least(i + 2, len(toks))), ' '))) AS shs
             |  FROM tk WHERE len(toks) > 0),
             |hp AS (
             |  SELECT doc_id, list_transform(shs, s -> struct_pack(
             |    h1 := CAST(concat('0x', substr(md5(concat('0:', s)), 1, 15)) AS BIGINT) % 144115188075855859,
             |    h2 := CAST(concat('0x', substr(md5(concat('0:', s)), 16, 15)) AS BIGINT) % 144115188075855859)) AS hs
             |  FROM sh),
             |sig AS (
             |  SELECT doc_id,
             |    list_transform(range(0, 64), g ->
             |      list_min(list_transform(hs, t ->
             |        (t.h1 + (g * t.h2) % 144115188075855859) % 144115188075855859))) AS mh
             |  FROM hp),
             |bands AS (
             |  SELECT doc_id, bd, mh[4*bd + 1] AS k1, mh[4*bd + 2] AS k2,
             |    mh[4*bd + 3] AS k3, mh[4*bd + 4] AS k4
             |  FROM sig, range(0, 16) t(bd)),
             |bc AS (SELECT bd, k1, k2, k3, k4 FROM bands
             |       GROUP BY bd, k1, k2, k3, k4 HAVING count(*) BETWEEN 2 AND 100),
             |cand AS (
             |  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
             |  FROM bands x JOIN bc USING (bd, k1, k2, k3, k4)
             |  JOIN bands y ON y.bd = x.bd AND y.k1 = x.k1 AND y.k2 = x.k2
             |    AND y.k3 = x.k3 AND y.k4 = x.k4 AND x.doc_id < y.doc_id),
             |v AS (
             |  SELECT a, b, len(list_intersect(sa.shs, sb.shs)) AS i,
             |    len(sa.shs) AS na, len(sb.shs) AS nb
             |  FROM cand JOIN sh sa ON sa.doc_id = a JOIN sh sb ON sb.doc_id = b)
             |SELECT a, b, round(CAST(i AS DOUBLE) / (na + nb - i), 4) AS jaccard
             |FROM v WHERE CAST(i AS DOUBLE) / (na + nb - i) >= 0.8
             |  AND b >= 100000""".stripMargin),
      (s, d) => {
        val all = docs(s, d).select("doc_id", "text")
        // the day-sharded store is an input fixture (what the ingest
        // wrote over three days), cached per sf dir like baseLshIndex;
        // re-running the expiry against it is an idempotent no-op
        // (RetentionSpec pins that), so every execution measures the
        // verb: O(1) dir drops + the sharded probe
        val store = graft.core.Scratch.fixture(s"dd22_shard_store:$d") { root =>
          val st = s"$root/shards"
          (0 until 3).foreach { day =>
            lshBandIndex(all.filter(pmod(col("doc_id"), lit(3)) === day))
              .write.parquet(s"$st/day=$day")
          }
          st
        }
        expireLshShards(s, store, cutoffDay = 1)
        val surviving = all.filter(pmod(col("doc_id"), lit(3)) =!= 0)
        val batch = docs(s, d).filter(col("doc_id") % 10 === 0)
          .select((col("doc_id") + lit(Shift)).as("doc_id"), col("text"))
        lshShardedProbe(batch, s.read.parquet(store).drop("day"),
          surviving.unionByName(batch), maxBucket = 100)
      }),

    QueryDef(
      "dd23_leakfree_split",
      // LEAKAGE-FREE train/test split — the split discipline a
      // training pipeline actually needs: a plain per-doc hash split
      // puts near-duplicates of a training doc into the test set
      // (evaluation leakage). Here the split key is the near-dup
      // CLUSTER: dd06's exact J >= 0.8 pairs are the edges, dd05's
      // min-label connected components give every doc its canonical
      // cluster id, and the portable md5 hash of THAT id (sp-family
      // retry-stable discipline) assigns the whole cluster to
      // train (80%) or test — no cluster can straddle, by
      // construction (LeakFreeSplitSpec also proves the per-doc hash
      // WOULD straddle on this corpus, so the property has teeth).
      // Scale: edges via the never-all-pairs PPJoin, CC via the
      // min-propagation loop (one equi-join + map-combinable min per
      // round, O(diameter) rounds — near-dup clusters are shallow),
      // split assignment map-only.
      Some("""WITH u AS (
             |  SELECT doc_id, text FROM documents
             |  UNION ALL
             |  SELECT doc_id + 100000, text FROM documents
             |), tk AS (
             |  SELECT doc_id,
             |    list_filter(string_split(text, ' '), x -> x <> '') AS toks
             |  FROM u),
             |sh AS (
             |  SELECT doc_id,
             |    list_distinct(list_transform(
             |      range(1, greatest(len(toks) - 2, 1) + 1),
             |      i -> array_to_string(
             |             list_slice(toks, i, least(i + 2, len(toks))), ' '))) AS shs
             |  FROM tk WHERE len(toks) > 0),
             |post AS (SELECT doc_id, unnest(shs) AS s FROM sh),
             |inter AS (
             |  SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS i
             |  FROM post x JOIN post y ON x.s = y.s AND x.doc_id < y.doc_id
             |  GROUP BY 1, 2),
             |sz AS (SELECT doc_id, len(shs) AS n FROM sh),
             |edges AS (
             |  SELECT a, b FROM inter
             |  JOIN sz sa ON sa.doc_id = a
             |  JOIN sz sb ON sb.doc_id = b
             |  WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.8),
             |sym AS (SELECT a AS src, b AS dst FROM edges
             |        UNION ALL SELECT b, a FROM edges),
             |reach AS (
             |  WITH RECURSIVE r(node, lbl) AS (
             |    SELECT doc_id, doc_id FROM u
             |    UNION
             |    SELECT s.src, r.lbl FROM r JOIN sym s ON s.dst = r.node)
             |  SELECT node, lbl FROM r),
             |cc AS (SELECT node AS doc_id, min(lbl) AS canonical
             |       FROM reach GROUP BY node)
             |SELECT doc_id, CAST(canonical AS BIGINT) AS canonical,
             |  CASE WHEN CAST(concat('0x',
             |      substr(md5(CAST(canonical AS VARCHAR)), 1, 15)) AS BIGINT)
             |      % 10 < 8
             |    THEN 'train' ELSE 'test' END AS split
             |FROM cc""".stripMargin),
      (s, d) => {
        val u = dupDocs(s, d)
        val edges = exactJaccardPairs(u).select("a", "b")
        val cc = connectedComponents(u.select(col("doc_id").as("id")), edges)
        cc.select(col("id").as("doc_id"),
          col("label").cast("long").as("canonical"),
          when(pmod(portableHash60(col("label").cast("string")), lit(10)) < 8,
            lit("train")).otherwise(lit("test")).as("split"))
      }),

    QueryDef(
      "dd24_index_health",
      // INDEX HEALTH AUDIT — the LSH counterpart of vs12's IVF
      // cell-balance audit, and the monitoring query that decides the
      // lifecycle verbs' cadence: the posting-size HISTOGRAM of the
      // persisted index (how many band keys hold 1, 2, … docs),
      // annotated with the dd18 blocklist policy's verdict per size
      // class. Rising mass in the hot tail (sz > maxPosting) is the
      // signal to refresh the blocklist; rising singleton share after
      // heavy deletes signals a compaction/rebuild. Reads ONLY the
      // index's 8-byte key + sz columns (column-pruned scan of the
      // posting store — never the lake), aggregates on a domain
      // bounded by the largest posting list, and the oracle re-derives
      // the whole histogram from the raw documents — so the audit is
      // held to the content-defined truth of what the index SHOULD
      // hold, which also makes it an end-to-end index-integrity check
      // (a lost or duplicated posting row shifts a bucket count).
      Some("""WITH tk AS (
             |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
             |  FROM documents),
             |sh AS (
             |  SELECT doc_id,
             |    list_distinct(list_transform(
             |      range(1, greatest(len(toks) - 2, 1) + 1),
             |      i -> array_to_string(list_slice(toks, i, least(i + 2, len(toks))), ' '))) AS shs
             |  FROM tk WHERE len(toks) > 0),
             |hp AS (
             |  SELECT doc_id, list_transform(shs, s -> struct_pack(
             |    h1 := CAST(concat('0x', substr(md5(concat('0:', s)), 1, 15)) AS BIGINT) % 144115188075855859,
             |    h2 := CAST(concat('0x', substr(md5(concat('0:', s)), 16, 15)) AS BIGINT) % 144115188075855859)) AS hs
             |  FROM sh),
             |sig AS (
             |  SELECT doc_id,
             |    list_transform(range(0, 64), g ->
             |      list_min(list_transform(hs, t ->
             |        (t.h1 + (g * t.h2) % 144115188075855859) % 144115188075855859))) AS mh
             |  FROM hp),
             |bands AS (
             |  SELECT doc_id, bd, mh[4*bd + 1] AS k1, mh[4*bd + 2] AS k2,
             |    mh[4*bd + 3] AS k3, mh[4*bd + 4] AS k4
             |  FROM sig, range(0, 16) t(bd)),
             |k AS (SELECT bd, k1, k2, k3, k4, count(*) AS sz FROM bands
             |      GROUP BY 1, 2, 3, 4, 5)
             |SELECT CAST(sz AS BIGINT) AS sz,
             |  CAST(count(*) AS BIGINT) AS n_keys,
             |  CAST(sum(sz) AS BIGINT) AS postings,
             |  CASE WHEN sz > 2 THEN 'blocklist' ELSE 'probe' END AS policy
             |FROM k GROUP BY sz""".stripMargin),
      (s, d) =>
        s.table(baseLshIndex(s, d))
          .groupBy(col("sz"))
          .agg(count(lit(1)).as("n_keys"), sum(col("sz")).as("postings"))
          .select(col("sz"), col("n_keys"), col("postings"),
            when(col("sz") > 2, lit("blocklist")).otherwise(lit("probe"))
              .as("policy"))),

    QueryDef(
      "dd26_wordset_dedup",
      // BAG-OF-WORDS (word-SET) dedup — the cheapest order-insensitive
      // tier of the near-dup ladder: fingerprint = md5 of the sorted
      // distinct token set, so re-orderings, repetition-padding and
      // template permutations of the same vocabulary collapse into one
      // group, where dd01's exact hash sees distinct texts and the
      // dd02/dd06 shingle tiers see low Jaccard (shingles are
      // order-SENSITIVE). On this corpus the groups are real: every
      // group the gate returns holds >= 2 DIFFERENT texts over the
      // same word set (n_texts > 1), which is exactly the class of
      // duplicate the lexical tiers cannot call. Scale shape: map-only
      // fingerprint (sort cost is per-doc-vocabulary, bounded by doc
      // length) + one digest-keyed shuffle — identical economics to
      // dd01, so it slots into the same incremental/index machinery.
      Some("""WITH f AS (
             |  SELECT doc_id, text,
             |    md5(array_to_string(list_sort(list_distinct(
             |      list_filter(string_split(text, ' '), x -> x <> ''))), ' ')) AS fp
             |  FROM documents)
             |SELECT fp, CAST(min(doc_id) AS BIGINT) AS canonical,
             |  CAST(count(*) AS BIGINT) AS n_docs,
             |  CAST(count(DISTINCT text) AS BIGINT) AS n_texts,
             |  CAST(sum(doc_id) AS BIGINT) AS id_sum
             |FROM f GROUP BY fp HAVING count(*) >= 2""".stripMargin),
      (s, d) =>
        docs(s, d)
          .select(col("doc_id"), col("text"),
            md5(concat_ws(" ", array_sort(array_distinct(
              filter(split(col("text"), " "), x => x =!= ""))))).as("fp"))
          .groupBy("fp")
          .agg(min("doc_id").cast("long").as("canonical"),
            count(lit(1)).as("n_docs"),
            countDistinct(col("text")).as("n_texts"),
            sum("doc_id").cast("long").as("id_sum"))
          .filter(col("n_docs") >= 2))
  )

  /** Integer-grid weighted PageRank (damping 0.85, 1e12 mass scale):
    * `nodes` = (doc_id), `pairs` = undirected weighted edges
    * (a, b, w > 0). Returns (doc_id, pr) with pr a BIGINT on the 1e12
    * grid — bit-deterministic across engines, partitionings and retry
    * schedules because every step is integer arithmetic (truncating
    * division on non-negatives ≡ floor) and every sum is a
    * commutative integer sum. Per iteration: one equi-join of the pinned
    * edge list against the current ranks + one map-combinable sum —
    * no all-pairs work, no driver round-trips; mass Σpr ≤ 1e12 by
    * construction (floor losses only shrink it). */
  def authorityRank(nodes: DataFrame, pairs: DataFrame, iters: Int = 3): DataFrame = {
    val sym = Pin.once(
      pairs.select(col("a").as("src"), col("b").as("dst"), col("w"))
        .unionByName(pairs.select(col("b").as("src"), col("a").as("dst"), col("w"))))
    val edges = Pin.once(
      sym.join(sym.groupBy("src").agg(sum("w").cast("long").as("ow")), "src"))
    val nRow = nodes.agg(count(lit(1)).as("nn"))
    var pr = nodes.crossJoin(broadcast(nRow))
      .select(col("doc_id"), expr("1000000000000 DIV nn").as("pr"), col("nn"))
    for (_ <- 1 to iters) {
      val contrib = edges
        .join(pr.select(col("doc_id").as("src"), col("pr")), "src")
        .groupBy("dst")
        .agg(sum(expr("(85 * pr * w) DIV (100 * ow)")).as("c"))
      pr = pr.select(col("doc_id"), col("nn"))
        .join(contrib.select(col("dst").as("doc_id"), col("c")), Seq("doc_id"), "left")
        .select(col("doc_id"),
          (expr("150000000000 DIV nn") + coalesce(col("c"), lit(0L))).as("pr"),
          col("nn"))
    }
    pr.select(col("doc_id"), col("pr"))
  }

  /** Content-defined chunking (dd16's kernel, exposed for reuse and
    * spec-level invariants): splits each doc's token stream into chunks
    * whose boundaries are a pure function of the trailing 3-token
    * window's hash — edits shift offsets but not downstream chunk
    * identities. Input: (doc_id, text); output: (doc_id, cid, ctext)
    * with cid numbering chunks 0..k in token order. One window sort per
    * doc (lag + running sum share the ordering), one shuffle to
    * assemble chunks. */
  def contentDefinedChunks(u: DataFrame): DataFrame = {
    val toks = u
      .select(col("doc_id"),
        filter(split(col("text"), " "), x => x =!= "").as("toks"))
      .filter(size(col("toks")) > 0)
      .select(col("doc_id"), posexplode(col("toks")).as(Seq("pos", "tok")))
    val w = Window.partitionBy("doc_id").orderBy("pos")
    // boundary test only fires at pos >= 2, where both lags exist —
    // concat_ws(null-skipping) and DuckDB's null-propagating || are
    // equivalent on the guarded rows
    val gram = concat_ws(" ",
      lag(col("tok"), 2).over(w), lag(col("tok"), 1).over(w), col("tok"))
    val flag = when(col("pos") >= 2 &&
      conv(substring(md5(gram), 1, 8), 16, 10).cast("long") % 16 === 0, 1L)
      .otherwise(0L)
    val cid = coalesce(
      sum(flag).over(w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L))
    toks
      .select(col("doc_id"), col("pos"), col("tok"), cid.as("cid"))
      .groupBy("doc_id", "cid")
      .agg(array_join(transform(
        sort_array(collect_list(struct(col("pos"), col("tok")))),
        st => st.getField("tok")), " ").as("ctext"))
  }

  /** Connected components by iterative min-label propagation — the
    * duplicate-CLUSTER resolution step after pair finding: every doc
    * gets the smallest doc_id reachable through dup edges as its
    * canonical id. Driver-coordinated loop over distributed joins;
    * `localCheckpoint` truncates the growing lineage each round (the
    * standard iterative-algorithm discipline — without it plans double
    * every iteration). Converges in O(diameter) rounds. */
  def connectedComponents(nodes: DataFrame, edges: DataFrame): DataFrame = {
    // nodes: (id); edges: (a, b)
    // LAZY checkpoints throughout the loop: an eager localCheckpoint
    // is a dedicated materialization job, and the loop's frames are
    // all consumed by an aggregate in the same round — marking them
    // for checkpoint and letting THAT aggregate materialize the blocks
    // halves the loop's job count (2 jobs/round -> 1), which dominates
    // the loop's cost at small diameters where each round's data is
    // tiny and per-job overhead is the bill.
    val sym = edges.select(col("a").as("src"), col("b").as("dst"))
      .unionByName(edges.select(col("b").as("src"), col("a").as("dst")))
      .localCheckpoint(false)
    var labels = nodes.select(col("id"), col("id").as("label"))
      .localCheckpoint(false)
    // Convergence check: labels only ever DECREASE (min propagation), so
    // sum(label) strictly decreases until the fixed point — one cheap
    // aggregate per round instead of a join+filter+count over all nodes.
    // decimal(38,0) sum: a bigint sum could wrap at extreme node counts
    // and fake a fixed point
    // coalesce: an EMPTY node set (a quiet partition is routine at
    // scale) sums to NULL, and a null BigDecimal would NPE the
    // convergence compare — fold it to 0 so the loop converges on the
    // first round and returns the empty label frame
    def labelSum(df: org.apache.spark.sql.DataFrame): java.math.BigDecimal =
      df.agg(coalesce(sum(col("label").cast("decimal(38,0)")),
        lit(0).cast("decimal(38,0)"))).head.getDecimal(0)
    var prevSum = labelSum(labels)
    var converged = false
    while (!converged) {
      val prop = sym.join(labels, sym("dst") === labels("id"))
        .select(col("src").as("id"), col("label"))
      val next = labels.unionByName(prop)
        .groupBy("id").agg(min("label").as("label"))
        .localCheckpoint(false)
      // this aggregate materializes next's checkpoint blocks in the
      // same job that computes the convergence sum
      val curSum = labelSum(next)
      converged = curSum.compareTo(prevSum) == 0
      prevSum = curSum
      // release the superseded round's checkpoint blocks — without this
      // every iteration pins a full labels copy in the block manager.
      // NOTE `labels.rdd.unpersist()` (the pre-r11 form) built a NEW
      // deserializing wrapper RDD and unpersisted that — a silent
      // no-op; Pin.releaseCheckpoint frees the LogicalRDD's actual
      // blocks.
      Pin.releaseCheckpoint(labels)
      labels = next
    }
    Pin.releaseCheckpoint(sym)
    Pin.scoped(labels)
  }

  /** Per-doc LSH band keys over the PORTABLE KM double-hashing
    * MinHash family: one row per (doc, band), `bk` = the band's
    * `rowsPerBand` raw signature minima as a struct of longs (fields
    * `k1..kN` — raw minima rather than a hash of them, so the oracle
    * groups on the same values; fixed-width
    * 8·rowsPerBand-byte shuffle keys instead of the ~80-char decimal
    * concat string a first cut used, and the oracle groups on the
    * same values as plain columns). Shared by the one-shot
    * [[minHashNearDupsPortable]] and the [[lshBandIndex]] /
    * [[lshIndexProbe]] incremental pair. */
  private def portableBandKeys(corpus: DataFrame, bands: Int,
      rowsPerBand: Int): DataFrame = {
    val numHashes = bands * rowsPerBand
    val sets = shingleSets(corpus).filter(size(col("shs")) > 0)
    // The signature stage is the CPU-dominant pass (one md5 digest +
    // numHashes mul-mod minima per shingle — the KM double-hashing
    // family; a per-seed family needing numHashes/2 digests per
    // shingle cost ~0.6s more at sf0.1) and runs wherever the scan's
    // input splits put it — on a
    // small local corpus that is 1–2 partitions, serializing ~100 MHz
    // of hashing onto one core. Spread it across the cluster when the
    // plan has fewer partitions than cores (hash-partitioned on
    // doc_id: deterministic, and per-row signatures are partitioning-
    // invariant). At lake scale input splits >> cores, so this branch
    // is a no-op and no shuffle is added.
    val target = corpus.sparkSession.sparkContext.defaultParallelism
    val spread =
      if (sets.rdd.getNumPartitions < target) sets.repartition(target, col("doc_id"))
      else sets
    val sig = spread.select(col("doc_id"),
      graft.functions.GraftFunctions.md5_minhash_sig(col("shs"), numHashes).as("mh"))
    bandExplode(sig, bands, rowsPerBand)
  }

  /** Explode a (doc_id, mh signature array) frame into one row per
    * (doc, band) with the band's `rowsPerBand` minima as a `bk` struct
    * of longs — the banding stage shared by [[portableBandKeys]], the
    * single-pass [[minHashNearDupsPortable]] path, and
    * [[graft.ops.MultimodalOps]]' payload kernel. */
  private[ops] def bandExplode(sig: DataFrame, bands: Int,
      rowsPerBand: Int): DataFrame = {
    val bandCols = (0 until bands).map { b =>
      struct((0 until rowsPerBand)
        .map(r => element_at(col("mh"), b * rowsPerBand + r + 1).as(s"k${r + 1}")): _*)
    }
    sig.select(col("doc_id"), posexplode(array(bandCols: _*)))
      .toDF("doc_id", "band", "bk")
  }

  /** Classic MinHash+LSH near-dup pairs with the PORTABLE md5-derived
    * hash family: 64 KM double-hashing 57-bit hashes (one digest per
    * shingle — [[graft.functions.PortableMd5]]), per-doc minima, 16
    * bands × 4 rows, in-bucket pair generation, exact-Jaccard verify.
    * Every intermediate value is reproducible in ANY engine with md5 —
    * the DuckDB oracle re-derives signatures, band keys, candidate
    * sets and verified pairs bit-for-bit (r6 verdict task 1).
    *
    * Scale shape: signatures are per-ROW — one
    * [[graft.functions.Md5MinHashSig]] call over the shingle array
    * (no explode, no signature shuffle); band keys are a map-only
    * projection, and the bucket stage is a groupBy + in-bucket
    * `pair_ids` (no posting self-join). Buckets >100 docs are
    * degenerate collisions and are skipped — a documented recall
    * knob, not a correctness one (the oracle applies the same cap). */
  def minHashNearDupsPortable(corpus: DataFrame, bands: Int = 16,
      rowsPerBand: Int = 4, threshold: Double = 0.8): DataFrame = {
    val numHashes = bands * rowsPerBand
    val sets = shingleSets(corpus).filter(size(col("shs")) > 0)
    // spread rationale: see [[portableBandKeys]] — deterministic
    // doc_id hash partitioning when the scan yields fewer partitions
    // than cores; a no-op at lake scale
    val target = corpus.sparkSession.sparkContext.defaultParallelism
    val spread =
      if (sets.rdd.getNumPartitions < target) sets.repartition(target, col("doc_id"))
      else sets
    // ONE shingle pass (r10 verdict task 4, the payload kernel's audit
    // extended here): pre-r11 this kernel shingled the corpus once for
    // the band keys and AGAIN for the verify side (plus the verify's
    // own per-join recompute unless exchange reuse caught it). The
    // (signature, hashed-shingle-set) projection is materialized with
    // an eager localCheckpoint so the band path and both verify joins
    // read stored blocks — the shingle+hash pass over the corpus text,
    // the CPU-dominant stage, runs exactly once per invocation. The
    // empty-shingle docs dropped above can never be candidates (no
    // band keys), so excluding them from the verify side too is
    // value-identical to the old unfiltered verify input.
    // Pin.checkpointed (not a bare localCheckpoint): the stored blocks
    // are released when the query's scope closes, so back-to-back
    // invocations (min-of-3 bench, pipeline compositions) can't pile
    // dead block copies into the storage pool and evict live frames.
    val base = Pin.checkpointed(spread.select(col("doc_id"),
        graft.functions.GraftFunctions.md5_minhash_sig(col("shs"), numHashes).as("mh"),
        graft.functions.GraftFunctions.sorted_xxhash64(col("shs")).as("hshs")))
    val banded = bandExplode(base.select("doc_id", "mh"), bands, rowsPerBand)
    val buckets = banded.groupBy("band", "bk")
      .agg(sort_array(collect_set(col("doc_id"))).as("ids"))
      .filter(size(col("ids")).between(2, 100))
    val cand = buckets
      .select(graft.functions.GraftFunctions.pair_ids(col("ids")))
      .distinct()
    verifyJaccardHashed(cand,
      base.select(col("doc_id"), col("hshs").as("shs")), threshold)
  }

  /** The LSH band-key index of a corpus in POSTING-LIST form: one row
    * per (band, k1..k4) key with the sorted doc-id posting list and
    * its size — the persistent artifact that turns near-dedup from a
    * lake-cost into a batch-cost job (the near-dup analog of dd08's
    * fingerprint index). Keys are [[portableBandKeys]] minima
    * flattened to plain long columns so the table can be BUCKETED on
    * them. */
  def lshBandIndex(lake: DataFrame, bands: Int = 16,
      rowsPerBand: Int = 4): DataFrame =
    portableBandKeys(lake, bands, rowsPerBand)
      .groupBy("band", "bk")
      .agg(sort_array(collect_set(col("doc_id"))).as("ids"))
      .select(Seq(col("band")) ++
        (1 to rowsPerBand).map(r => col(s"bk.k$r").as(s"k$r")) ++
        Seq(col("ids"), size(col("ids")).cast("long").as("sz")): _*)

  /** Materialize [[lshBandIndex]] bucketed + sorted on the band key.
    * The layout is why the index NEVER shuffles on a probe: a small
    * batch broadcasts against it, and a large batch sort-merge-joins
    * with only the batch side exchanging (the bucketed scan already
    * satisfies the join's clustering — IncrementalLshSpec pins the
    * zero-index-Exchange plan). Rebuild cadence is the same as any
    * LSH index: append-heavy lakes re-bucket when bucket skew drifts.
    *
    * This is the full incremental dd02 — portable hashes, per-bucket
    * posting lists with the combined cap, and the exact-Jaccard
    * verify — whose end result the DuckDB oracle replays. */
  def writePortableLshIndex(lake: DataFrame, table: String, path: String,
      bands: Int = 16, rowsPerBand: Int = 4): Unit =
    graft.core.PhaseTimer.phase("build") {
      writeBucketedIndex(lshBandIndex(lake, bands, rowsPerBand), table, path,
        rowsPerBand)
    }

  /** The lake's base posting-list index, built AT MOST ONCE per sf dir
    * and shared by the index-lifecycle queries (dd17 probe, dd18
    * blocklist, dd20 delete, dd21 update): a production probe,
    * takedown or re-version runs against an index that already EXISTS
    * — the base build is immutable input state, not the verb being
    * measured — so a min-of-3 bench measures the operator instead of
    * re-staging its input four times (the same input-fixture rationale
    * as [[graft.streaming.StreamQueries]]' landing cache). Answers are
    * identical either way: the index is a pure function of the lake.
    * One per sf dir per JVM; dd22's day-sharded store is another. */
  private[ops] def baseLshIndex(s: SparkSession, d: String): String =
    graft.core.Scratch.fixture(s"dd_base_lsh_index:$d") { tmp =>
      val table = s"lsh_base_${d.hashCode & 0x7fffffff}"
      writePortableLshIndex(docs(s, d).select("doc_id", "text"),
        table, s"$tmp/index")
      table
    }

  /** Persist index rows already in [[lshBandIndex]] layout with the
    * bucketed-on-band-key physical layout the zero-Exchange probe plan
    * needs — the write half shared by [[writePortableLshIndex]] (fresh
    * build), [[compactLshIndex]] (shard consolidation) and a
    * [[lshIndexDelete]] write-back (takedown). Always write to a NEW
    * path/table version: Spark cannot overwrite a table from a plan
    * that reads it. */
  def writeLshIndexRows(index: DataFrame, table: String,
      path: String, rowsPerBand: Int = 4): Unit =
    index.write
      .bucketBy(8, "band", (1 to rowsPerBand).map(r => s"k$r"): _*)
      .sortBy("band", (1 to rowsPerBand).map(r => s"k$r"): _*)
      .option("path", path).mode("overwrite").saveAsTable(table)

  private def writeBucketedIndex(index: DataFrame, table: String,
      path: String, rowsPerBand: Int): Unit =
    writeLshIndexRows(index, table, path, rowsPerBand)

  /** Compact an ingest's append-only shard store
    * ([[graft.streaming.DedupStream]] writes one shard per
    * micro-batch) back into the bucketed [[writePortableLshIndex]]
    * layout, restoring the zero-Exchange probe plan. Because every
    * shard's ids are disjoint (each doc indexed exactly once),
    * consolidation is a pure regrouping — sort-flatten rebuilds each
    * key's posting list exactly, so compaction can never change a
    * probe's answer (ShardedProbeSpec pins the equivalence). This is
    * the index's analog of the merge service's file compaction:
    * run it when shard count makes probe-side listing/joining
    * noticeable, at O(index) cost amortized over the batches since
    * the last compaction. */
  def compactLshIndex(spark: SparkSession, indexDir: String, table: String,
      path: String, rowsPerBand: Int = 4): Unit =
      graft.core.PhaseTimer.phase("compact") {
    val keyCols = Seq("band") ++ (1 to rowsPerBand).map(r => s"k$r")
    val consolidated = spark.read.parquet(indexDir)
      .groupBy(keyCols.head, keyCols.tail: _*)
      .agg(sort_array(flatten(collect_list(col("ids")))).as("ids"),
        sum(col("sz")).as("sz"))
    writeBucketedIndex(consolidated, table, path, rowsPerBand)
  }

  /** Targeted DELETE from the LSH posting index (takedowns, retention
    * expiry): remove `removedKeys`' doc ids from their posting lists
    * and drop emptied buckets. `removedKeys` is the removed docs' own
    * [[lshBandIndex]] — derived from their TEXT, which is the whole
    * trick: band keys are a pure function of content, so a doc can
    * only ever sit in the buckets its own keys name, and touching
    * exactly those buckets provably equals a full rebuild over the
    * survivors (LshDeleteSpec pins `lshIndexDelete(idx, keys(R)) ≡
    * lshBandIndex(lake ∖ R)` row-for-row, on the consolidated AND the
    * sharded layout — shards hold disjoint ids, so the same per-row
    * subtraction applies). Scale: one equi-join on the band key — the
    * bucketed index side joins without an Exchange, the removed side
    * is batch-sized, untouched buckets pass through unchanged; cost is
    * O(index rows + removed keys), with only the touched lists
    * rewritten. Persist the result via [[writeLshIndexRows]] (to a new
    * version path) to restore the zero-Exchange probe plan; `sz` is
    * recomputed, so downstream caps and [[hotBandKeys]] blocklists see
    * the post-delete posting sizes. */
  def lshIndexDelete(index: DataFrame, removedKeys: DataFrame,
      rowsPerBand: Int = 4): DataFrame = {
    val keyCols = Seq("band") ++ (1 to rowsPerBand).map(r => s"k$r")
    val r = removedKeys.select(keyCols.map(col) :+ col("ids").as("rids"): _*)
    index.join(r, keyCols, "left")
      .select(keyCols.map(col) :+ array_except(col("ids"),
        coalesce(col("rids"), array().cast("array<long>"))).as("ids"): _*)
      .filter(size(col("ids")) > 0)
      .select(keyCols.map(col) :+ col("ids") :+
        size(col("ids")).cast("long").as("sz"): _*)
  }

  /** Targeted UPDATE of the LSH posting index — a doc RE-VERSION
    * (same doc_id, new text): [[lshIndexDelete]] the old versions'
    * keys, then merge the new versions' [[lshBandIndex]] into the
    * pruned postings, in ONE plan. Both legs are content-addressed:
    * `removedKeys` derives from the OLD text (names exactly the
    * buckets the old version occupies), `addedKeys` from the NEW text.
    * The merge is a full-outer join on the band key — the bucketed
    * index side satisfies the join's clustering without an Exchange
    * and the delete's left-join output stays clustered for it, so the
    * only shuffle is the batch-sized edited set; a bucket can hold a
    * doc_id at most once (its old occurrence was just deleted), so
    * concat + sort_array rebuilds each posting list exactly.
    * LshUpsertSpec pins `lshIndexUpsert(idx, keys(old U),
    * keys(new U)) ≡ lshBandIndex((lake ∖ U) ∪ U')` row-for-row, plus
    * the pure-insert / pure-delete degenerations. Persist via
    * [[writeLshIndexRows]] to a NEW version path; `sz` is recomputed
    * for downstream caps and [[hotBandKeys]] blocklists. Completes the
    * index lifecycle verbs: build, append (st12), compact, delete
    * (dd20), update (dd21), probe (dd17). */
  def lshIndexUpsert(index: DataFrame, removedKeys: DataFrame,
      addedKeys: DataFrame, rowsPerBand: Int = 4): DataFrame = {
    val keyCols = Seq("band") ++ (1 to rowsPerBand).map(r => s"k$r")
    val noIds = array().cast("array<long>")
    val pruned = lshIndexDelete(index, removedKeys, rowsPerBand)
      .select(keyCols.map(col) :+ col("ids").as("kept"): _*)
    pruned.join(
        addedKeys.select(keyCols.map(col) :+ col("ids").as("nids"): _*),
        keyCols, "full_outer")
      .select(keyCols.map(col) :+ sort_array(concat(
        coalesce(col("kept"), noIds), coalesce(col("nids"), noIds))).as("ids"): _*)
      .select(keyCols.map(col) :+ col("ids") :+
        size(col("ids")).cast("long").as("sz"): _*)
  }

  /** Retention expiry on a DAY-SHARDED posting store — the THIRD
    * deletion economics, after [[lshIndexDelete]] (copy-on-write
    * targeted rewrite) and [[graft.ops.VectorOps.tombstoneIvfDelete]]
    * (merge-on-read sidecar): when the index is sharded by ingest day
    * (`dir/day=N/`, the layout a [[graft.streaming.DedupStream]]-style
    * ingest writes naturally — each day's docs indexed into their own
    * shard, ids disjoint across shards), expiring data older than
    * `cutoffDay` is DROPPING whole shard directories — O(1) metadata
    * per shard, no read, no rewrite, no tombstone debt. Probes read
    * the surviving shards unchanged (the sharded probe path of
    * ShardedProbeSpec), and because shards hold disjoint ids the
    * result provably equals a rebuild over the surviving days' docs
    * (RetentionSpec pins it). This is the deletion mode a 100 TB
    * lake with a retention policy should default to: make the
    * partition key the retention key and deletes cost nothing. */
  def expireLshShards(spark: SparkSession, dir: String,
      cutoffDay: Long): Unit =
    expireShards(spark, dir, "day", cutoffDay)

  /** The generic partition-drop expiry both index stores share:
    * delete every top-level `<partitionCol>=N` shard dir with
    * N < cutoff. Works on any shard store whose partition value is
    * the retention key and whose shards hold disjoint rows — the LSH
    * day shards (dd22) and a streaming IVF ingest's `batch=` shards
    * ([[graft.streaming.VectorStream.ivfIngest]]; IvfDeleteSpec pins
    * probe parity with a rebuild over the surviving batches).
    * Idempotent; ignores non-shard entries. */
  def expireShards(spark: SparkSession, dir: String,
      partitionCol: String, cutoff: Long): Unit =
      graft.core.PhaseTimer.phase("expire") {
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val prefix = s"$partitionCol="
    fs.listStatus(root).foreach { st =>
      val n = st.getPath.getName
      // Tolerate non-numeric partition values (__HIVE_DEFAULT_PARTITION__,
      // stray staging dirs): skip anything that doesn't parse, per the
      // "ignores non-shard entries" contract above.
      val shardValue =
        if (n.startsWith(prefix))
          scala.util.Try(n.drop(prefix.length).toLong).toOption
        else None
      if (shardValue.exists(_ < cutoff)) fs.delete(st.getPath, true)
    }
  }

  /** The band keys whose posting lists exceed `maxPosting` — the
    * degenerate hot buckets (boilerplate shingle sets, near-constant
    * documents) whose in-bucket pair expansion would dominate a probe.
    * Computed from the INDEX's posting sizes, i.e. a deterministic
    * function of the corpus — which is exactly why it is the right
    * hot-bucket knob for a continuous ingest: a combined-size CAP ties
    * a pair's fate to how large its bucket happened to be when its
    * later member arrived (arrival-order-dependent), while a blocklist
    * fixed for the run blocks the same keys wherever the micro-batch
    * boundaries fall, preserving [[graft.streaming.DedupStream]]'s
    * slicing invariance (BlocklistSpec re-slices to prove it). Accepts
    * the consolidated or the sharded index layout (shards sum). */
  def hotBandKeys(index: DataFrame, maxPosting: Long,
      rowsPerBand: Int = 4): DataFrame = {
    val keyCols = Seq("band") ++ (1 to rowsPerBand).map(r => s"k$r")
    index.groupBy(keyCols.head, keyCols.tail: _*)
      .agg(sum(col("sz")).as("tsz"))
      .filter(col("tsz") > maxPosting)
      .select(keyCols.head, keyCols.tail: _*)
  }

  /** Anti-join the batch's per-bucket rows against an optional
    * band-key blocklist: a blocked key generates NO candidates (its
    * pairs can still surface through the other bands — LSH's
    * redundancy is the point; BlocklistSpec pins that exact-duplicate
    * pairs survive single-key blocks). */
  private def applyBlocklist(bb: DataFrame, blockKeys: Option[DataFrame],
      keyCols: Seq[String]): DataFrame =
    blockKeys.fold(bb)(b => bb.join(b, keyCols, "left_anti"))

  /** Incremental near-dedup: find every near-dup pair the `batch`
    * introduces against an indexed lake — and within itself — WITHOUT
    * re-running LSH over the lake. Batch docs derive their band keys
    * (batch-sized signature pass), group to per-bucket id lists, and
    * LEFT-join the posting-list index: only buckets the batch touches
    * matter, lake-only buckets never produce a row. The combined
    * bucket `sz + |bids|` is capped exactly like the one-shot path,
    * so the result is EXACTLY
    * `minHashNearDupsPortable(lake ∪ batch)` restricted to pairs that
    * involve a batch doc (IncrementalLshSpec asserts the set identity;
    * the dd17 oracle replays it in SQL). Pair generation keeps only
    * pairs with a batch member; the exact-Jaccard verify then shingles
    * CANDIDATE docs only — `texts` (the doc_id+text store; at lake
    * scale, the lake's text table) is semi-join-pruned to candidate
    * ids BEFORE the shingle pass, so per-probe verify CPU is
    * O(candidates), never O(store).
    *
    * Contract: batch doc_ids must be disjoint from lake doc_ids (new
    * arrivals), mirroring dd08's incremental contract. */
  def lshIndexProbe(batch: DataFrame, index: DataFrame, texts: DataFrame,
      bands: Int = 16, rowsPerBand: Int = 4, threshold: Double = 0.8,
      maxBucket: Int = 100, blockKeys: Option[DataFrame] = None): DataFrame = {
    val keyCols = Seq("band") ++ (1 to rowsPerBand).map(r => s"k$r")
    val bb = applyBlocklist(
      portableBandKeys(batch, bands, rowsPerBand)
        .groupBy("band", "bk")
        .agg(sort_array(collect_set(col("doc_id"))).as("bids"))
        .select(Seq(col("band")) ++
          (1 to rowsPerBand).map(r => col(s"bk.k$r").as(s"k$r")) ++
          Seq(col("bids")): _*),
      blockKeys, keyCols)
    val merged = bb.join(index, keyCols, "left")
      .select(
        sort_array(concat(coalesce(col("ids"),
          array().cast("array<long>")), col("bids"))).as("all_ids"),
        col("bids"),
        (coalesce(col("sz"), lit(0L)) + size(col("bids"))).as("csz"))
    probePairs(merged, texts, threshold, maxBucket)
  }

  /** Shared tail of the index probes: cap on the COMBINED bucket size,
    * in-bucket pair generation restricted to batch-involving pairs,
    * exact-Jaccard verify over candidate docs only. `merged` cols:
    * (all_ids: sorted ids of the whole combined bucket, bids: the
    * batch's ids in it, csz: combined size); `texts` = the doc_id+text
    * store the verify stage reads. */
  private def probePairs(merged: DataFrame, texts: DataFrame,
      threshold: Double, maxBucket: Int): DataFrame =
    probePairsOver(merged,
      ids => shingleSets(texts.join(ids, Seq("doc_id"), "left_semi")),
      threshold, maxBucket)

  /** [[probePairs]] generalized over the verify-set derivation so
    * non-text stores can ride the same probe tail (mm17's payload
    * byte-window index): `setsOfCandidates` receives the candidate
    * doc_ids and must return their DISTINCT comparison sets
    * (doc_id, shs). The callback contract preserves the pruning
    * discipline below: derive sets for CANDIDATE docs only, never
    * the store. */
  private[ops] def probePairsOver(merged: DataFrame,
      setsOfCandidates: DataFrame => DataFrame,
      threshold: Double, maxBucket: Int): DataFrame = {
    val cand = merged
      .filter(col("csz").between(2, maxBucket))
      .select(col("bids"), graft.functions.GraftFunctions.pair_ids(col("all_ids")))
      .filter(array_contains(col("bids"), col("a")) ||
        array_contains(col("bids"), col("b")))
      .select("a", "b").distinct()
    // Shingle CANDIDATE docs only: prune the store to candidate
    // ids BEFORE the shingle pass, keeping per-probe verify CPU
    // O(candidates), never O(store) — the probe's whole point. (A
    // semi-join ABOVE an already-shingled relation would not help:
    // the projection below the join still shingles every store row.)
    // cand appears in two subtrees; its shuffles are ReusedExchange.
    val candIds = cand
      .select(explode(array(col("a"), col("b"))).as("doc_id")).distinct()
    verifyJaccard(cand, setsOfCandidates(candIds), threshold)
  }

  /** The band-key join half of [[lshIndexProbe]], generalized over
    * the key derivation: probe a persisted posting index with
    * PRECOMPUTED batch band keys (doc_id, band, bk struct). Used by
    * [[graft.ops.MultimodalOps.payloadIndexProbe]] (byte-window keys)
    * with the same combined-cap semantics as the text probe, so the
    * incremental result equals the one-shot kernel over store ∪ batch
    * restricted to batch-involving pairs. */
  private[ops] def indexProbeWithKeys(batchKeys: DataFrame, index: DataFrame,
      setsOfCandidates: DataFrame => DataFrame, rowsPerBand: Int = 4,
      threshold: Double = 0.8, maxBucket: Int = 100): DataFrame = {
    val keyCols = Seq("band") ++ (1 to rowsPerBand).map(r => s"k$r")
    val bb = batchKeys
      .groupBy("band", "bk")
      .agg(sort_array(collect_set(col("doc_id"))).as("bids"))
      .select(Seq(col("band")) ++
        (1 to rowsPerBand).map(r => col(s"bk.k$r").as(s"k$r")) ++
        Seq(col("bids")): _*)
    val merged = bb.join(index, keyCols, "left")
      .select(
        sort_array(concat(coalesce(col("ids"),
          array().cast("array<long>")), col("bids"))).as("all_ids"),
        col("bids"),
        (coalesce(col("sz"), lit(0L)) + size(col("bids"))).as("csz"))
    probePairsOver(merged, setsOfCandidates, threshold, maxBucket)
  }

  /** [[lshIndexProbe]] against a SHARDED posting index: the append-only
    * form a continuous ingest maintains ([[graft.streaming.DedupStream]]
    * writes one shard per micro-batch), where a band key may hold one
    * posting-list ROW PER SHARD instead of one consolidated list.
    * Consolidation happens AFTER the key join, so it touches only the
    * buckets the batch probes — per-probe cost stays
    * O(batch + touched postings), never O(index) — and since every
    * shard holds ids disjoint from every other (the new-arrivals
    * contract: a doc is indexed exactly once), flattening the matched
    * lists rebuilds exactly the consolidated posting list.
    * ShardedProbeSpec pins identity with [[lshIndexProbe]] over the
    * consolidated index; periodic compaction back to the bucketed
    * [[writePortableLshIndex]] layout restores the zero-Exchange probe
    * plan without changing any answer. */
  def lshShardedProbe(batch: DataFrame, shards: DataFrame, texts: DataFrame,
      bands: Int = 16, rowsPerBand: Int = 4, threshold: Double = 0.8,
      maxBucket: Int = Int.MaxValue,
      blockKeys: Option[DataFrame] = None): DataFrame =
    lshShardedProbeKeys(lshBandIndex(batch, bands, rowsPerBand), shards, texts,
      rowsPerBand, threshold, maxBucket, blockKeys)

  /** [[lshShardedProbe]] from PRECOMPUTED batch postings (`batchKeys`
    * in [[lshBandIndex]] layout) — the entry point for an ingest that
    * has already written the batch's shard and probes off it, so the
    * signature pass (the CPU-dominant stage) runs exactly once per
    * batch ([[graft.streaming.DedupStream]] reads the shard it just
    * committed back as 8-byte key columns instead of re-hashing the
    * text). */
  def lshShardedProbeKeys(batchKeys: DataFrame, shards: DataFrame,
      texts: DataFrame, rowsPerBand: Int = 4, threshold: Double = 0.8,
      maxBucket: Int = Int.MaxValue,
      blockKeys: Option[DataFrame] = None): DataFrame = {
    val keyCols = Seq("band") ++ (1 to rowsPerBand).map(r => s"k$r")
    val bb = applyBlocklist(
      batchKeys.select(keyCols.map(col) :+ col("ids").as("bids"): _*),
      blockKeys, keyCols)
    val merged = bb.join(shards, keyCols, "left")
      // consolidate the touched keys only: collect_list skips the
      // left-join nulls of untouched-index keys, so an unmatched
      // bucket reduces to the batch's own ids
      .groupBy(keyCols.head, keyCols.tail: _*)
      .agg(first(col("bids")).as("bids"),
        flatten(collect_list(col("ids"))).as("lake_ids"),
        sum(coalesce(col("sz"), lit(0L))).as("lsz"))
      .select(
        sort_array(concat(col("lake_ids"), col("bids"))).as("all_ids"),
        col("bids"),
        (col("lsz") + size(col("bids"))).as("csz"))
    probePairs(merged, texts, threshold, maxBucket)
  }

  /** dd04's bottom-k inverted-index near-dup with the PORTABLE hash
    * ([[portableHash60]]): each doc posts its 12 smallest-by-md5
    * shingle hashes, posting lists of 2..50 docs generate candidates,
    * a pair must share >= least(5, nka, nkb) keys, then the
    * exact-Jaccard verify.
    * The bottom-k here is `slice(sort_array(transform(...)), 1, k)` —
    * an O(n log n) per-doc array sort on ~doc-length arrays, which the
    * oracle reproduces with `list_slice(list_sort(list_transform))`. */
  def bottomKNearDupsPortable(corpus: DataFrame, k: Int = 12,
      threshold: Double = 0.8): DataFrame = {
    val sets = shingleSets(corpus)
    val kd = sets.select(col("doc_id"),
      slice(sort_array(transform(col("shs"), s => portableHash60(s))), 1, k).as("ks"))
    val keyed = kd.select(col("doc_id"), explode(col("ks")).as("sh"))
    val posts = keyed.groupBy("sh").agg(sort_array(collect_set(col("doc_id"))).as("ids"))
      .filter(size(col("ids")).between(2, 50))
    val keyCounts = keyed.groupBy("doc_id").agg(count(lit(1)).as("nk"))
    val cand = posts
      .select(graft.functions.GraftFunctions.pair_ids(col("ids")))
      .groupBy("a", "b").agg(count(lit(1)).as("n_keys_common"))
      .join(keyCounts.select(col("doc_id").as("a"), col("nk").as("nka")), "a")
      .join(keyCounts.select(col("doc_id").as("b"), col("nk").as("nkb")), "b")
      .filter(col("n_keys_common") >= least(lit(5), col("nka"), col("nkb")))
      .select("a", "b")
    verifyJaccard(cand, sets, threshold)
  }

  /** dd15's kernel on an arbitrary (doc_id, text) corpus: the
    * threshold-tuning sweep — candidate pairs (any shared shingle) and
    * how many survive each INTEGRAL Jaccard tier gate
    * (10·i ⋛ t·(union size) — no float boundaries), as one audit row.
    *
    * Pair enumeration is a posting SELF-JOIN, not collect_set +
    * expand: the sweep's semantics are inherently all-co-occurring-
    * pairs (tiers go down to 0.3 — no prefix filter applies), so a
    * hot shingle's pairs are unavoidable work, but the join STREAMS
    * them through the pair aggregation with O(posting-list) memory
    * per task, where a collect_set buffer would materialize the
    * whole hot bucket (and its D²/2 expansion) inside one
    * aggregation row — the single-task shape this repo bans. At
    * 100 TB this sweep runs on a sample regardless (take a
    * hash-stable doc sample — e.g. `pmod(xxhash64(doc_id), k) = 0`,
    * SampleOps' discipline — BEFORE shingling; the tier ratios are
    * what the sweep estimates and survive sampling, the absolute
    * counts scale by ~1/k²); the join shape keeps even the
    * full-corpus run memory-safe. ScaleStressSpec proves the kernel
    * exact under a 10× corpus via a combinatorial closed form. */
  def thresholdSweep(corpus: DataFrame): DataFrame = {
    val sets = shingleSets(corpus).filter(size(col("shs")) > 0)
    // hashed posting keys — see dd06
    val post = sets.select(col("doc_id"),
      size(col("shs")).cast("long").as("n"), explode(col("shs")).as("s0"))
      .select(col("doc_id"), col("n"), xxhash64(col("s0")).as("sh"))
    val pairs = post
      .select(col("doc_id").as("a"), col("n").as("na"), col("sh"))
      .join(post.select(col("doc_id").as("b"), col("n").as("nb"), col("sh")), "sh")
      .filter(col("a") < col("b"))
      .groupBy("a", "b", "na", "nb")
      .agg(count(lit(1)).as("i"))
    def tier(t: Int) =
      sum(when(lit(10) * col("i") >= lit(t) * (col("na") + col("nb") - col("i")), 1L)
        .otherwise(0L)).cast("long")
    pairs.agg(count(lit(1)).cast("long").as("n_candidate_pairs"),
      tier(3).as("n_ge_03"), tier(5).as("n_ge_05"),
      tier(7).as("n_ge_07"), tier(9).as("n_ge_09"))
  }

  /** Exact shingle-set Jaccard for candidate (a, b) pairs, computed on
    * compact per-doc shingle arrays — one row per pair (array_intersect
    * / array_union), never a per-shingle re-explosion. Two EMPTY sets
    * (blank documents) are identical: 0/0 is defined as 1.0, not the
    * NULL Spark's division would produce (which would silently drop an
    * exact-duplicate pair of blank docs). */
  private[ops] def verifyJaccard(cand: DataFrame, sets: DataFrame, threshold: Double): DataFrame =
    // Set sizes are all Jaccard needs, and the shingle sets are already
    // distinct, so hash each shingle to a long first: the two pair
    // joins shuffle 8-byte array elements instead of ~25-byte strings
    // and the intersect/union compare longs (dd06's hashed-posting
    // move applied to the verify stage).
    verifyJaccardHashed(cand, sets.select(col("doc_id"),
      graft.functions.GraftFunctions.sorted_xxhash64(col("shs")).as("shs")), threshold)

  /** [[verifyJaccard]] over PRE-HASHED sets — `hsets` is (doc_id, shs
    * sorted array<long> of per-element xxhash64 values). The entry
    * point for single-pass kernels ([[minHashNearDupsPortable]],
    * [[MultimodalOps.payloadNearDups]]) that hash their sets once in
    * the same projection as the MinHash signature instead of paying a
    * second set-construction pass here. */
  private[ops] def verifyJaccardHashed(cand: DataFrame, hsets: DataFrame, threshold: Double): DataFrame = {
    // sorted per-doc hash arrays: the per-pair intersect is then the
    // allocation-free merge count, and |A ∪ B| = |A| + |B| − |A ∩ B|
    // (shs is distinct per doc) replaces the array_union materialization
    val inter = graft.functions.GraftFunctions
      .sorted_intersect_count(col("shs_a"), col("shs_b"))
    cand
      .join(hsets.select(col("doc_id").as("a"), col("shs").as("shs_a")), "a")
      .join(hsets.select(col("doc_id").as("b"), col("shs").as("shs_b")), "b")
      .withColumn("i", inter)
      .withColumn("u", (size(col("shs_a")) + size(col("shs_b"))).cast("long") - col("i"))
      .select(col("a"), col("b"),
        when(col("u") === 0, lit(1.0))
          .otherwise(col("i").cast("double") / col("u").cast("double"))
          .as("j"))
      .filter(col("j") >= threshold)
      .select(col("a"), col("b"), round(col("j"), 4).as("jaccard"))
  }

  /** PORTABLE SimHash candidate generator ([[portableHash60]] family):
    * 60-bit fingerprints — sign bits of the 60 per-bit ±1 majority
    * sums over the doc's token-bag md5 hashes — banded into 4×15 bits
    * (pigeonhole: any pair within Hamming distance <= 3 shares a
    * band), candidates gated at Hamming <= `maxHamming` (the
    * r4-calibrated Hamming <= 5 gate), then the exact-Jaccard verify.
    * Every fingerprint bit is reproducible in any engine with md5, so
    * the DuckDB oracle re-derives signatures, bands, candidates and
    * verified pairs bit-for-bit (r6 verdict task 8 — this leaves only
    * the genuinely engine-internal sketches, q18 HLL and ev14 GK,
    * outside the oracle gate).
    *
    * The signature stage is per-ROW — one
    * [[graft.functions.Md5SimHashSig]] call over the token bag (one
    * md5 per token, 60·|tokens| bit ops in a primitive loop), no
    * explode and no shuffle; the only shuffles are the band-bucket
    * join and the verify joins.
    * Returns verified (a, b, jaccard). */
  def simHashNearDupsPortable(corpus: DataFrame, maxHamming: Int = 5,
      threshold: Double = 0.8): DataFrame = {
    val toks = filter(split(col("text"), " "), t => t =!= "")
    val sim = corpus
      .select(col("doc_id"), toks.as("toks"))
      .filter(size(col("toks")) > 0)
      .select(col("doc_id"),
        graft.functions.GraftFunctions.md5_simhash_sig(col("toks")).as("sim"))
    val bandCols = (0 until 4).map(k =>
      shiftrightunsigned(col("sim"), k * 15).bitwiseAND(lit(0x7FFFL)))
    val banded = sim.select(col("doc_id"), col("sim"), posexplode(array(bandCols: _*)))
      .toDF("doc_id", "sim", "band", "bv")
    val cand = banded
      .select(col("doc_id").as("a"), col("sim").as("sima"), col("band"), col("bv"))
      .join(banded.select(col("doc_id").as("b"), col("sim").as("simb"),
        col("band"), col("bv")), Seq("band", "bv"))
      .filter(col("a") < col("b") &&
        bit_count(col("sima").bitwiseXOR(col("simb"))) <= maxHamming)
      .select("a", "b").distinct()
    verifyJaccard(cand, shingleSets(corpus), threshold)
  }
}

package graft.ops

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{QueryDef, Tables}

/** Text-analysis operators over the `documents` table — the
  * language-ID / quality-scoring / token-counting / fingerprinting
  * family a training-data pipeline runs at 100 TB. Everything here is
  * pure codegen'd `functions._` expressions (no UDFs), so the whole
  * pipeline stays inside WholeStageCodegen and scales linearly with a
  * parquet scan; the only shuffles are the final aggregations.
  */
object TextOps {

  private def docs(s: SparkSession, d: String) = Tables(s, d, "documents")

  /** Occurrences of `pat` in `c`, via the engine-portable replace trick
    * ((len(s) - len(replace(s, pat, ''))) / len(pat)) — identical
    * left-to-right non-overlapping semantics in Spark and DuckDB. */
  private def cnt(c: Column, pat: String): Column =
    (length(c) - length(replace(c, lit(pat), lit("")))) / pat.length

  /** Marker-stopword score used by the language-ID heuristic. The text
    * is space-padded so word-boundary markers match at the edges. */
  private def langScore(padded: Column, markers: Seq[String]): Column =
    markers.map(m => cnt(padded, s" $m ")).reduce(_ + _)

  val defs: Seq[QueryDef] = Seq(

    QueryDef(
      "tx01_corpus_stats",
      Some("""SELECT lang, count(*) AS n_docs,
             |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
             |  round(CAST(sum(CAST(length(text) AS BIGINT)) AS DOUBLE) / count(*), 4) AS avg_len,
             |  CAST(sum(length(text) - length(replace(text, ' ', ''))) + count(*) AS BIGINT) AS n_tokens
             |FROM documents GROUP BY lang""".stripMargin),
      (s, d) =>
        docs(s, d).groupBy("lang").agg(
          count(lit(1)).as("n_docs"),
          sum("n_chars").cast("long").as("total_chars"),
          round(sum(length(col("text")).cast("long")).cast("double") / count(lit(1)), 4).as("avg_len"),
          (sum(length(col("text")) - length(replace(col("text"), lit(" "), lit("")))) + count(lit(1)))
            .cast("long").as("n_tokens"))),

    QueryDef(
      "tx02_token_counts",
      Some("""SELECT doc_id,
             |  CAST(length(string_split_regex(trim(text), '\s+')) AS BIGINT) AS ws_tokens,
             |  CAST(length(regexp_extract_all(text, '[a-z]+|[0-9]+')) AS BIGINT) AS bpe_ish_tokens,
             |  CAST(length(text) AS BIGINT) AS n_chars_obs
             |FROM documents""".stripMargin),
      (s, d) =>
        docs(s, d).select(
          col("doc_id"),
          size(split(trim(col("text")), "\\s+")).cast("long").as("ws_tokens"),
          size(regexp_extract_all(col("text"), lit("[a-z]+|[0-9]+"), lit(0))).cast("long")
            .as("bpe_ish_tokens"),
          length(col("text")).cast("long").as("n_chars_obs"))),

    QueryDef(
      "tx03_quality_score",
      Some("""SELECT doc_id, lang,
             |  CAST(length(text) AS BIGINT) AS len,
             |  round(CAST(length(replace(text, ' ', '')) AS DOUBLE)
             |        / length(string_split_regex(trim(text), '\s+')), 4) AS avg_word_len,
             |  CASE WHEN length(text) < 100 THEN 'short'
             |       WHEN length(text) < 300 THEN 'medium'
             |       ELSE 'long' END AS len_bucket
             |FROM documents""".stripMargin),
      (s, d) =>
        docs(s, d).select(
          col("doc_id"), col("lang"),
          length(col("text")).cast("long").as("len"),
          round(
            length(replace(col("text"), lit(" "), lit(""))).cast("double") /
              size(split(trim(col("text")), "\\s+")), 4).as("avg_word_len"),
          when(length(col("text")) < 100, "short")
            .when(length(col("text")) < 300, "medium")
            .otherwise("long").as("len_bucket"))),

    QueryDef(
      "tx04_lang_id",
      Some("""WITH s AS (
             |  SELECT lang, ' ' || text || ' ' AS p FROM documents
             |), sc AS (
             |  SELECT lang,
             |    (length(p) - length(replace(p, ' the ', ''))) / 5.0
             |      + (length(p) - length(replace(p, ' and ', ''))) / 5.0 AS s_en,
             |    (length(p) - length(replace(p, ' der ', ''))) / 5.0
             |      + (length(p) - length(replace(p, ' und ', ''))) / 5.0 AS s_de,
             |    (length(p) - length(replace(p, ' el ', ''))) / 4.0
             |      + (length(p) - length(replace(p, ' los ', ''))) / 5.0 AS s_es,
             |    (length(p) - length(replace(p, ' le ', ''))) / 4.0
             |      + (length(p) - length(replace(p, ' et ', ''))) / 4.0 AS s_fr
             |  FROM s)
             |SELECT lang,
             |  CASE WHEN s_de > 0 AND s_de >= greatest(s_en, s_es, s_fr) THEN 'de'
             |       WHEN s_fr > 0 AND s_fr >= greatest(s_en, s_es) THEN 'fr'
             |       WHEN s_es > 0 AND s_es >= s_en THEN 'es'
             |       WHEN s_en > 0 THEN 'en'
             |       ELSE 'unknown' END AS predicted,
             |  count(*) AS n
             |FROM sc GROUP BY 1, 2""".stripMargin),
      (s, d) => {
        val padded = concat(lit(" "), col("text"), lit(" "))
        val sEn = langScore(padded, Seq("the", "and"))
        val sDe = langScore(padded, Seq("der", "und"))
        val sEs = langScore(padded, Seq("el", "los"))
        val sFr = langScore(padded, Seq("le", "et"))
        docs(s, d)
          .select(col("lang"),
            when(sDe > 0 && sDe >= greatest(sEn, sEs, sFr), "de")
              .when(sFr > 0 && sFr >= greatest(sEn, sEs), "fr")
              .when(sEs > 0 && sEs >= sEn, "es")
              .when(sEn > 0, "en")
              .otherwise("unknown").as("predicted"))
          .groupBy("lang", "predicted")
          .agg(count(lit(1)).as("n"))
      }),

    QueryDef(
      "tx06_vocab_topk",
      Some("""SELECT tok, n, rnk FROM (
             |  SELECT tok, count(*) AS n,
             |    CAST(row_number() OVER (ORDER BY count(*) DESC, tok) AS BIGINT) AS rnk
             |  FROM (SELECT unnest(string_split_regex(trim(text), '\s+')) AS tok
             |        FROM documents) t
             |  GROUP BY tok) r
             |WHERE rnk <= 20""".stripMargin),
      // Ranking runs through the MERGEABLE native top-k aggregate
      // (topk_freq, cf. tx28 which froze the equivalence): each map task
      // reduces its vocabulary slice to a k-entry buffer and buffers
      // merge associatively — O(k·partitions) shuffle rows instead of a
      // whole-vocabulary single-partition window sort.
      (s, d) =>
        docs(s, d)
          .select(explode(split(trim(col("text")), "\\s+")).as("tok"))
          .groupBy("tok").agg(count(lit(1)).as("n"))
          .agg(graft.functions.GraftFunctions
            .topk_freq(col("tok"), col("n"), 20).as("tk"))
          .select(posexplode(col("tk")))
          .select(col("col.tok").as("tok"), col("col.n").as("n"),
            (col("pos") + 1).cast("long").as("rnk"))),

    QueryDef(
      "tx08_stopword_filter",
      // content-token stream after stopword removal — the normalize step
      // before shingling/training. array_remove-chain keeps it codegen'd.
      Some("""SELECT lang, count(*) AS n_content_tokens,
             |  CAST(count(DISTINCT tok) AS BIGINT) AS n_distinct
             |FROM (
             |  SELECT lang, unnest(string_split_regex(trim(text), '\s+')) AS tok
             |  FROM documents) t
             |WHERE tok NOT IN ('the', 'a', 'and', 'of', 'to')
             |GROUP BY lang""".stripMargin),
      (s, d) => {
        val stop = Seq("the", "a", "and", "of", "to")
        docs(s, d)
          .select(col("lang"), explode(split(trim(col("text")), "\\s+")).as("tok"))
          .filter(!col("tok").isin(stop: _*))
          .groupBy("lang")
          .agg(count(lit(1)).as("n_content_tokens"),
            countDistinct(col("tok")).as("n_distinct"))
      }),

    QueryDef(
      "tx07_heavy_hitters",
      // k=64 exceeds the corpus vocabulary, so the Misra-Gries summary
      // is exact and oracle-checkable; with k < |vocab| the same
      // aggregate degrades gracefully to guaranteed heavy-hitter
      // candidates (see HeavyHittersSpec).
      Some("""SELECT tok, count(*) AS cnt FROM (
             |  SELECT unnest(string_split_regex(trim(text), '\s+')) AS tok
             |  FROM documents) t
             |GROUP BY tok""".stripMargin),
      (s, d) =>
        docs(s, d)
          .select(explode(split(trim(col("text")), "\\s+")).as("tok"))
          .agg(graft.functions.GraftFunctions.heavy_hitters(col("tok"), 64).as("hh"))
          .select(explode(col("hh")))
          .toDF("tok", "cnt")),

    QueryDef(
      "tx05_fingerprint",
      Some("""SELECT md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS fp,
             |  count(*) AS n, min(doc_id) AS first_doc
             |FROM (SELECT * FROM documents
             |      UNION ALL SELECT * FROM documents) u
             |GROUP BY 1""".stripMargin),
      (s, d) => {
        val u = docs(s, d).unionAll(docs(s, d))
        u.groupBy(md5(encode(regexp_replace(lower(col("text")), "\\s+", " "), "UTF-8")).as("fp"))
          .agg(count(lit(1)).as("n"), min("doc_id").as("first_doc"))
      }),

    QueryDef(
      "tx09_tfidf",
      // TF-IDF per (doc, term), the weighting step before embedding /
      // near-dup ranking. tf groups the exploded token stream (map-side
      // combinable) and is materialized ONCE; df is then a map-side-
      // combinable rollup of tf's already-distinct (doc, tok) rows —
      // the shuffle ships vocab-sized partial counts, NOT the full tf
      // table through a per-token window sort (the r3 formulation,
      // 1.5x slower) — joined back by token (AQE broadcasts while the
      // vocab is small; at 100 TB it degrades to the same token-keyed
      // shuffle the window needed, so this is never worse). The tf >= 2
      // gate prunes the probe side BEFORE the join — valid now that df
      // is computed independently of it.
      // N arrives via a broadcast single-row cross join (no collect).
      Some("""WITH tok AS (
             |  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS tok
             |  FROM documents),
             |tf AS (SELECT doc_id, tok, count(*) AS tf FROM tok GROUP BY 1, 2),
             |df AS (SELECT tok, count(*) AS df FROM tf GROUP BY 1),
             |n AS (SELECT count(*) AS n FROM documents)
             |SELECT t.doc_id, t.tok, CAST(t.tf AS BIGINT) AS tf,
             |  CAST(d.df AS BIGINT) AS df,
             |  round(t.tf * ln(CAST(n.n AS DOUBLE) / d.df), 4) AS tfidf
             |FROM tf t JOIN df d USING (tok) CROSS JOIN n
             |WHERE t.tf >= 2""".stripMargin),
      (s, d) => {
        val tok = docs(s, d)
          .select(col("doc_id"), explode(split(trim(col("text")), "\\s+")).as("tok"))
        val tf = Pin.once( // tokenize once; df + main reuse it
          tok.groupBy("doc_id", "tok").agg(count(lit(1)).as("tf")))
        val dfreq = tf.groupBy("tok").agg(count(lit(1)).as("df"))
        val n = docs(s, d).select(count(lit(1)).as("n"))
        tf.filter(col("tf") >= 2)
          .join(dfreq, "tok")
          .crossJoin(broadcast(n))
          .select(col("doc_id"), col("tok"), col("tf"), col("df"),
            round(col("tf") * log(col("n").cast("double") / col("df")), 4).as("tfidf"))
      }),

    QueryDef(
      "tx10_bigram_lm",
      // Bigram conditional probabilities p(w2|w1) — the n-gram LM
      // statistics pass of a text pipeline. Bigrams keep multiplicity
      // (an HOF over the token array, map-side; word_shingles dedups so
      // it can't be used here); the conditioning total c(w1·) is a
      // window over the bigram counts — no second tokenize pass, no
      // join. The c >= 3 gate is integral; p is a ratio of exact
      // counts (IEEE-identical division, rounded 4dp).
      Some("""WITH tk AS (
             |  SELECT string_split_regex(trim(text), '\s+') AS toks
             |  FROM documents WHERE len(string_split_regex(trim(text), '\s+')) >= 2),
             |bg AS (
             |  SELECT unnest(list_transform(range(1, len(toks)),
             |    i -> toks[i] || ' ' || toks[i + 1])) AS bigram
             |  FROM tk),
             |c AS (SELECT bigram, count(*) AS c FROM bg GROUP BY 1)
             |SELECT bigram, c, p FROM (
             |  SELECT bigram, CAST(c AS BIGINT) AS c,
             |    round(c / CAST(sum(c) OVER (
             |      PARTITION BY split_part(bigram, ' ', 1)) AS DOUBLE), 4) AS p
             |  FROM c) t
             |WHERE c >= 3""".stripMargin),
      (s, d) => {
        // materialize the token array as an attribute FIRST: embedding
        // the split() expression inside the lambda re-splits the text
        // on every element_at — O(tokens²) per document
        val bigrams = docs(s, d)
          .select(split(trim(col("text")), "\\s+").as("toks"))
          .filter(size(col("toks")) >= 2)
          .select(explode(transform(sequence(lit(1), size(col("toks")) - 1),
            i => concat(element_at(col("toks"), i), lit(" "),
              element_at(col("toks"), i + 1)))).as("bigram"))
        val counts = bigrams.groupBy("bigram").agg(count(lit(1)).as("c"))
        val w = Window.partitionBy(substring_index(col("bigram"), " ", 1))
        counts
          .withColumn("p", round(col("c") / sum("c").over(w).cast("double"), 4))
          .filter(col("c") >= 3)
          .select(col("bigram"), col("c"), col("p"))
      }),

    QueryDef(
      "tx11_repetition",
      // Repetition statistics per document (the Gopher-style "repetition
      // removal" signal): duplicated-bigram fraction and the share of
      // the single most frequent bigram. Bigrams keep multiplicity (HOF
      // over the materialized token array, cf. tx10); both ratios are
      // exact-integer divisions, so the 4dp rounding is boundary-safe.
      // One explode + two map-side-combinable aggregations.
      Some("""WITH tk AS (
             |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
             |  FROM documents WHERE len(string_split_regex(trim(text), '\s+')) >= 2),
             |bg AS (
             |  SELECT doc_id, unnest(list_transform(range(1, len(toks)),
             |    i -> toks[i] || ' ' || toks[i + 1])) AS bigram
             |  FROM tk),
             |c AS (SELECT doc_id, bigram, count(*) AS c FROM bg GROUP BY 1, 2)
             |SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bigrams,
             |  CAST(count(*) AS BIGINT) AS n_distinct,
             |  round(1 - count(*) / CAST(sum(c) AS DOUBLE), 4) AS dup_frac,
             |  round(max(c) / CAST(sum(c) AS DOUBLE), 4) AS top_share
             |FROM c GROUP BY doc_id""".stripMargin),
      (s, d) => {
        val bigrams = docs(s, d)
          .select(col("doc_id"), split(trim(col("text")), "\\s+").as("toks"))
          .filter(size(col("toks")) >= 2)
          .select(col("doc_id"),
            explode(transform(sequence(lit(1), size(col("toks")) - 1),
              i => concat(element_at(col("toks"), i), lit(" "),
                element_at(col("toks"), i + 1)))).as("bigram"))
        bigrams.groupBy("doc_id", "bigram").agg(count(lit(1)).as("c"))
          .groupBy("doc_id")
          .agg(
            sum("c").cast("long").as("n_bigrams"),
            count(lit(1)).as("n_distinct"),
            round(lit(1) - count(lit(1)) / sum("c").cast("double"), 4).as("dup_frac"),
            round(max("c") / sum("c").cast("double"), 4).as("top_share"))
      }),

    QueryDef(
      "tx12_gopher_rules",
      // Gopher-style document-quality rule flags. Every flag is an
      // INTEGER comparison (mean-word-length bounds become
      // 2*n_words <= n_chars <= 12*n_words; digit-ratio <= 0.2 becomes
      // 5*n_digits <= len) — no float boundaries anywhere, so the gate
      // selection is engine-exact. Map-only: one projection pass, no
      // shuffle; at 100 TB this is the shape of a keep/drop filter stage.
      Some("""WITH m AS (
             |  SELECT doc_id,
             |    CAST(length(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_words,
             |    CAST(length(replace(text, ' ', '')) AS BIGINT) AS n_chars,
             |    CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS BIGINT) AS n_digits,
             |    CAST(length(text) AS BIGINT) AS len,
             |    CAST(CASE WHEN ' ' || text || ' ' LIKE '% the %' THEN 1 ELSE 0 END
             |       + CASE WHEN ' ' || text || ' ' LIKE '% and %' THEN 1 ELSE 0 END
             |       + CASE WHEN ' ' || text || ' ' LIKE '% of %' THEN 1 ELSE 0 END
             |       + CASE WHEN ' ' || text || ' ' LIKE '% to %' THEN 1 ELSE 0 END
             |       + CASE WHEN ' ' || text || ' ' LIKE '% a %' THEN 1 ELSE 0 END AS BIGINT) AS n_stop
             |  FROM documents)
             |SELECT doc_id, n_words,
             |  CAST(CASE WHEN n_words BETWEEN 10 AND 1000 THEN 1 ELSE 0 END AS BIGINT) AS ok_nwords,
             |  CAST(CASE WHEN n_chars >= 2 * n_words AND n_chars <= 12 * n_words
             |       THEN 1 ELSE 0 END AS BIGINT) AS ok_wordlen,
             |  CAST(CASE WHEN 5 * n_digits <= len THEN 1 ELSE 0 END AS BIGINT) AS ok_symbols,
             |  CAST(CASE WHEN n_stop >= 2 THEN 1 ELSE 0 END AS BIGINT) AS ok_stop,
             |  CAST(CASE WHEN n_words BETWEEN 10 AND 1000
             |        AND n_chars >= 2 * n_words AND n_chars <= 12 * n_words
             |        AND 5 * n_digits <= len AND n_stop >= 2
             |       THEN 1 ELSE 0 END AS BIGINT) AS keep
             |FROM m""".stripMargin),
      (s, d) => {
        // the SAME metric + rule definitions the streaming router's
        // gopherKeep composes — projected here so the per-rule flags
        // are visible (the gate is their conjunction by construction)
        val flag = (c: Column) => when(c, 1L).otherwise(0L)
        val m = docs(s, d).select(
          col("doc_id") +: gopherMetrics(col("text")).map {
            case (n, c) => c.as(n)
          }: _*)
        val rules = gopherRules(col)
        m.select(
          Seq(col("doc_id"), col("n_words")) ++
            rules.map { case (n, c) => flag(c).as(n) } :+
            flag(rules.map(_._2).reduce(_ && _)).as("keep"): _*)
      }),

    QueryDef(
      "tx13_perplexity",
      // Per-document mean negative log-likelihood under the corpus
      // bigram LM (tx10's model, ungated) — the LM-based quality score
      // a filtering pipeline ranks documents by. Probabilities are
      // ratios of exact counts (identical doubles in both engines);
      // the per-doc avg sums a handful of -ln(p) terms whose 4dp
      // rounding is insensitive to summation order. Two shuffles
      // (bigram count, doc rollup) + one shuffle join on bigram.
      Some("""WITH tk AS (
             |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
             |  FROM documents WHERE len(string_split_regex(trim(text), '\s+')) >= 2),
             |bg AS (
             |  SELECT doc_id, unnest(list_transform(range(1, len(toks)),
             |    i -> toks[i] || ' ' || toks[i + 1])) AS bigram
             |  FROM tk),
             |c AS (SELECT bigram, count(*) AS c FROM bg GROUP BY 1),
             |p AS (SELECT bigram, c / CAST(sum(c) OVER (
             |        PARTITION BY split_part(bigram, ' ', 1)) AS DOUBLE) AS p
             |      FROM c)
             |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
             |  round(avg(-ln(p.p)), 4) AS nll
             |FROM bg JOIN p USING (bigram)
             |GROUP BY doc_id""".stripMargin),
      (s, d) => {
        val bigrams = docs(s, d)
          .select(col("doc_id"), split(trim(col("text")), "\\s+").as("toks"))
          .filter(size(col("toks")) >= 2)
          .select(col("doc_id"),
            explode(transform(sequence(lit(1), size(col("toks")) - 1),
              i => concat(element_at(col("toks"), i), lit(" "),
                element_at(col("toks"), i + 1)))).as("bigram"))
        val w = Window.partitionBy(substring_index(col("bigram"), " ", 1))
        val probs = bigrams.groupBy("bigram").agg(count(lit(1)).as("c"))
          .select(col("bigram"), (col("c") / sum("c").over(w).cast("double")).as("p"))
        bigrams.join(probs, "bigram")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_bigrams"),
            round(avg(-log(col("p"))), 4).as("nll"))
      }),

    QueryDef(
      "tx14_containment",
      // CONTAINMENT similarity |A∩B| / |A| — the asymmetric companion
      // to dd06's Jaccard: detects when one document's shingle set is
      // (nearly) a subset of another's, which symmetric Jaccard misses
      // for very different sizes. Same two-shuffle inverted-index plan
      // as dd06 (sizes ride in the postings); emitted per direction
      // with an integral-count >= gate evaluated on exact ints.
      Some("""WITH u AS (
             |  SELECT doc_id, text FROM documents
             |  UNION ALL
             |  SELECT doc_id + 100000, text FROM documents),
             |tk AS (
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
             |post AS (SELECT doc_id, len(shs) AS n, unnest(shs) AS s FROM sh),
             |inter AS (
             |  SELECT x.doc_id AS a, y.doc_id AS b, x.n AS na, y.n AS nb,
             |    count(*) AS i
             |  FROM post x JOIN post y ON x.s = y.s AND x.doc_id < y.doc_id
             |  GROUP BY 1, 2, 3, 4)
             |SELECT a, b, round(CAST(i AS DOUBLE) / na, 4) AS cont_a_in_b
             |FROM inter WHERE 10 * i >= 9 * na""".stripMargin),
      (s, d) => {
        val base = docs(s, d)
        val u = base.select(col("doc_id"), col("text"))
          .unionByName(base.select((col("doc_id") + 100000L).as("doc_id"), col("text")))
        containmentPairs(u)
      }),

    QueryDef(
      "tx15_keyword_extraction",
      // Top-3 TF-IDF keywords per document — tx09's weighting composed
      // with a per-doc window top-k: the keyword/tagging stage of a
      // document pipeline. Rank ties break on the token (total order);
      // the tfidf VALUE is only emitted (rounded), never used as a
      // selection boundary — rank selection is deterministic.
      Some("""WITH tok AS (
             |  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS tok
             |  FROM documents),
             |tf AS (SELECT doc_id, tok, count(*) AS tf FROM tok GROUP BY 1, 2),
             |df AS (SELECT tok, count(*) AS df FROM tf GROUP BY 1),
             |n AS (SELECT count(*) AS n FROM documents),
             |scored AS (
             |  SELECT t.doc_id, t.tok,
             |    CAST(row_number() OVER (PARTITION BY t.doc_id
             |      ORDER BY t.tf * ln(CAST(n.n AS DOUBLE) / d.df) DESC, t.tok)
             |      AS BIGINT) AS rnk,
             |    round(t.tf * ln(CAST(n.n AS DOUBLE) / d.df), 4) AS tfidf
             |  FROM tf t JOIN df d USING (tok) CROSS JOIN n)
             |SELECT doc_id, tok, rnk, tfidf FROM scored WHERE rnk <= 3""".stripMargin),
      (s, d) => {
        val tok = docs(s, d)
          .select(col("doc_id"), explode(split(trim(col("text")), "\\s+")).as("tok"))
        val tf = tok.groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
        val withDf = tf.withColumn("df",
          count(lit(1)).over(Window.partitionBy("tok")))
        val n = docs(s, d).select(count(lit(1)).as("n"))
        val score = col("tf") * log(col("n").cast("double") / col("df"))
        val w = Window.partitionBy("doc_id").orderBy(score.desc, col("tok"))
        withDf
          .crossJoin(broadcast(n))
          .withColumn("rnk", row_number().over(w).cast("long"))
          .filter(col("rnk") <= 3)
          .select(col("doc_id"), col("tok"), col("rnk"), round(score, 4).as("tfidf"))
      }),

    QueryDef(
      "tx16_pmi",
      // Pointwise mutual information of adjacent word pairs — the
      // collocation detector ("new york"-style units) a tokenizer/vocab
      // pipeline runs before BPE training. All probabilities stay as
      // exact integer counts until ONE final ln of an exact ratio, so
      // the score is engine-deterministic; ranking is (pmi DESC, bigram)
      // — a total order. The c_ab >= 5 support gate is integral.
      // Scale shape: two hash aggregations over the bigram stream plus
      // broadcast joins of the (vocab-sized) margin tables; the global
      // count is a 1-row broadcast. Nothing is quadratic in corpus size.
      Some("""WITH tok AS (
             |  SELECT string_split_regex(trim(text), '\s+') AS toks FROM documents),
             |bg AS (
             |  SELECT unnest(list_transform(range(1, len(toks)),
             |           i -> toks[i] || ' ' || toks[i+1])) AS bigram
             |  FROM tok WHERE len(toks) >= 2),
             |cb AS (SELECT bigram, CAST(count(*) AS BIGINT) AS c_ab FROM bg GROUP BY 1),
             |tot AS (SELECT CAST(sum(c_ab) AS BIGINT) AS n FROM cb),
             |la AS (SELECT split_part(bigram, ' ', 1) AS w1,
             |         CAST(sum(c_ab) AS BIGINT) AS c_a FROM cb GROUP BY 1),
             |rb AS (SELECT split_part(bigram, ' ', 2) AS w2,
             |         CAST(sum(c_ab) AS BIGINT) AS c_b FROM cb GROUP BY 1),
             |p AS (
             |  SELECT bigram, c_ab,
             |    round(ln(CAST(c_ab * n AS DOUBLE) / (c_a * c_b)), 4) AS pmi
             |  FROM cb CROSS JOIN tot
             |  JOIN la ON la.w1 = split_part(bigram, ' ', 1)
             |  JOIN rb ON rb.w2 = split_part(bigram, ' ', 2)
             |  WHERE c_ab >= 5)
             |SELECT bigram, c_ab, pmi FROM (
             |  SELECT *, row_number() OVER (ORDER BY pmi DESC, bigram) AS rn FROM p) t
             |WHERE rn <= 20""".stripMargin),
      (s, d) => {
        val bg = docs(s, d)
          .select(split(trim(col("text")), "\\s+").as("toks"))
          .filter(size(col("toks")) >= 2)
          .select(explode(transform(sequence(lit(1), size(col("toks")) - 1),
            i => concat(element_at(col("toks"), i), lit(" "),
              element_at(col("toks"), i + 1)))).as("bigram"))
        val cb = bg.groupBy("bigram").agg(count(lit(1)).as("c_ab"))
          .withColumn("w1", substring_index(col("bigram"), " ", 1))
          .withColumn("w2", substring_index(col("bigram"), " ", -1))
        val tot = cb.agg(sum("c_ab").cast("long").as("n"))
        val la = cb.groupBy("w1").agg(sum("c_ab").cast("long").as("c_a"))
        val rb = cb.groupBy("w2").agg(sum("c_ab").cast("long").as("c_b"))
        // Distributed exact top-20 in two stages: per-salt-bucket local
        // top-20 (64 parallel partitioned windows over the bigram vocab)
        // then a final window over the <= 64·20 local winners — bounded
        // by construction, with a non-foldable constant partition key so
        // it is never a WindowExec-without-partitioning over unbounded
        // input. Global top-20 ⊆ union of local top-20s, so this is
        // EXACT with the oracle's double-ordering semantics untouched
        // (pmi is a computed double; the string-keyed topk aggregates
        // don't fit, cf. tx06's count-keyed case which uses topk_freq).
        val salt = pmod(xxhash64(col("bigram")), lit(64L))
        val wLoc = Window.partitionBy(salt).orderBy(col("pmi").desc, col("bigram"))
        val w = Window.partitionBy(pmod(xxhash64(col("bigram")), lit(1L)))
          .orderBy(col("pmi").desc, col("bigram"))
        cb.crossJoin(broadcast(tot))
          .join(broadcast(la), "w1")
          .join(broadcast(rb), "w2")
          .filter(col("c_ab") >= 5)
          .withColumn("pmi",
            round(log((col("c_ab") * col("n")).cast("double")
              / (col("c_a") * col("c_b"))), 4))
          .withColumn("lrn", row_number().over(wLoc))
          .filter(col("lrn") <= 20)
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 20)
          .select(col("bigram"), col("c_ab"), col("pmi"))
      }),

    QueryDef(
      "tx17_sequence_pack",
      // Sequence packing: lay the corpus out as one continuous token
      // stream cut into fixed 2048-token training sequences (documents
      // crossing a boundary are split — the standard pretraining
      // packing, zero padding waste). Everything is exact integer
      // arithmetic over ONE running-sum window in doc_id order: each
      // doc gets its bin, its offset in the bin, and whether it spans a
      // boundary. The running sum is the two-phase distributed prefix
      // sum ([[PrefixSum.byLongKey]]): doc_id-range buckets in parallel
      // + broadcast bucket offsets — no single-partition window, so the
      // packing layout parallelizes at 100 TB.
      Some("""WITH t AS (
             |  SELECT doc_id,
             |    CAST(len(list_filter(string_split_regex(trim(text), '\s+'),
             |      x -> x <> '')) AS BIGINT) AS n_tok
             |  FROM documents),
             |c AS (
             |  SELECT doc_id, n_tok,
             |    CAST(coalesce(sum(n_tok) OVER (ORDER BY doc_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             |      AS BIGINT) AS cum
             |  FROM t)
             |SELECT doc_id, n_tok, cum // 2048 AS bin, cum % 2048 AS off,
             |  CASE WHEN (cum + n_tok - 1) // 2048 > cum // 2048
             |       THEN 1 ELSE 0 END AS spans_boundary
             |FROM c WHERE n_tok > 0""".stripMargin),
      (s, d) => {
        val t = docs(s, d).select(col("doc_id"),
          size(filter(split(trim(col("text")), "\\s+"), x => x =!= ""))
            .cast("long").as("n_tok"))
        // zero-token docs contribute 0 to every prefix: filtering them
        // BEFORE the running sum leaves all cum values unchanged
        PrefixSum.byLongKey(t.filter(col("n_tok") > 0), "doc_id", Nil,
            col("n_tok"), "cum", inclusive = false)
          .select(col("doc_id"), col("n_tok"),
            expr("cum DIV 2048").as("bin"),          // integer floor div,
            pmod(col("cum"), lit(2048L)).as("off"),  // exactly DuckDB // and %
            when(expr("(cum + n_tok - 1) DIV 2048") > expr("cum DIV 2048"), 1)
              .otherwise(0).as("spans_boundary"))
      }),

    QueryDef(
      "tx18_token_entropy",
      // Shannon entropy of each document's token distribution — the
      // lexical-diversity quality signal (near-zero entropy = degenerate
      // repetition; tx11 catches bigram loops, this catches unigram
      // ones). Probabilities are ratios of exact counts; the per-doc
      // -sum(p ln p) rounds at 4dp (tx13's discipline). Plan: explode →
      // (doc, token) count → per-doc rollup — two shuffles, both keyed
      // by doc so the corpus parallelizes by document.
      Some("""WITH tk AS (
             |  SELECT doc_id,
             |    unnest(string_split_regex(trim(text), '\s+')) AS tok
             |  FROM documents),
             |c AS (
             |  SELECT doc_id, tok, count(*) AS c FROM tk GROUP BY 1, 2),
             |n AS (SELECT doc_id, sum(c) AS n FROM c GROUP BY 1)
             |SELECT c.doc_id, CAST(any_value(n.n) AS BIGINT) AS n_tokens,
             |  CAST(count(*) AS BIGINT) AS n_distinct,
             |  round(-sum((c / CAST(n.n AS DOUBLE))
             |    * ln(c / CAST(n.n AS DOUBLE))), 4) AS entropy
             |FROM c JOIN n USING (doc_id)
             |GROUP BY c.doc_id""".stripMargin),
      (s, d) => {
        val counts = docs(s, d)
          .select(col("doc_id"),
            explode(split(trim(col("text")), "\\s+")).as("tok"))
          .groupBy("doc_id", "tok").agg(count(lit(1)).as("c"))
        val w = Window.partitionBy("doc_id")
        counts
          .withColumn("n", sum("c").over(w))
          .groupBy("doc_id")
          .agg(first(col("n")).cast("long").as("n_tokens"),
            count(lit(1)).as("n_distinct"),
            round(-sum((col("c") / col("n").cast("double"))
              * log(col("c") / col("n").cast("double"))), 4).as("entropy"))
      }),

    QueryDef(
      "tx19_pii_scrub",
      // PII redaction — the compliance pass every training corpus runs:
      // detect and mask email addresses and phone-shaped tokens via
      // regex, reporting per-doc match counts and the md5 of the
      // redacted text (which pins the exact redaction output, not just
      // the counts). Synthetic PII is appended deterministically from
      // doc_id so the testdata actually exercises the patterns; both
      // regexes stay inside the Java-regex ∩ RE2 common subset so the
      // engines match identically. Map-only — no shuffle at any scale.
      Some("""WITH x AS (
             |  SELECT doc_id,
             |    text || ' contact user' || CAST(doc_id AS VARCHAR)
             |      || '@example.com or call 555-0'
             |      || CAST(doc_id % 1000 AS VARCHAR) || ' now' AS t
             |  FROM documents)
             |SELECT doc_id,
             |  CAST(len(regexp_extract_all(t,
             |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT)
             |    AS n_emails,
             |  CAST(len(regexp_extract_all(t, '555-[0-9]{1,4}')) AS BIGINT)
             |    AS n_phones,
             |  md5(regexp_replace(regexp_replace(t,
             |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>',
             |    'g'), '555-[0-9]{1,4}', '<PHONE>', 'g')) AS redacted_md5
             |FROM x""".stripMargin),
      (s, d) => {
        val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
        val phoneRe = "555-[0-9]{1,4}"
        docs(s, d)
          .select(col("doc_id"),
            concat(col("text"), lit(" contact user"),
              col("doc_id").cast("string"), lit("@example.com or call 555-0"),
              (col("doc_id") % 1000).cast("string"), lit(" now")).as("t"))
          .select(col("doc_id"),
            size(regexp_extract_all(col("t"), lit(emailRe), lit(0)))
              .cast("long").as("n_emails"),
            size(regexp_extract_all(col("t"), lit(phoneRe), lit(0)))
              .cast("long").as("n_phones"),
            md5(regexp_replace(
              regexp_replace(col("t"), emailRe, "<EMAIL>"),
              phoneRe, "<PHONE>")).as("redacted_md5"))
      }),

    QueryDef(
      "tx20_template_detect",
      // Template / boilerplate detection by shared document prefix —
      // the screen for machine-generated filler (scraped pages that
      // open with the same banner text): group on the first-2-token
      // prefix and keep groups covering more than one document. One
      // map-side prefix extraction + one hash aggregation; at 100 TB
      // the prefix key is tiny (bounded bytes/doc) so the shuffle
      // carries keys + counts, never document text.
      Some("""WITH k AS (
             |  SELECT doc_id, lang,
             |    array_to_string(list_slice(string_split(text, ' '), 1, 2), ' ')
             |      AS prefix
             |  FROM documents)
             |SELECT prefix, CAST(count(*) AS BIGINT) AS n_docs,
             |  CAST(min(doc_id) AS BIGINT) AS rep_id,
             |  CAST(count(DISTINCT lang) AS BIGINT) AS n_langs
             |FROM k GROUP BY prefix HAVING count(*) > 1""".stripMargin),
      (s, d) =>
        docs(s, d)
          .select(col("doc_id"), col("lang"),
            concat_ws(" ", slice(split(col("text"), " "), 1, 2)).as("prefix"))
          .groupBy("prefix")
          .agg(count(lit(1)).as("n_docs"),
            min("doc_id").cast("long").as("rep_id"),
            countDistinct("lang").cast("long").as("n_langs"))
          .filter(col("n_docs") > 1)),

    QueryDef(
      "tx21_normalize",
      // Canonical text normalization — the pass every dedup/fingerprint
      // stage assumes upstream: lowercase, strip non-alphanumerics to
      // spaces, collapse whitespace runs, trim. Output pins the EXACT
      // normalized bytes via md5 plus the shrinkage accounting. Pure
      // map-only regex work in the Java∩RE2-portable subset (tx19's
      // discipline) — zero shuffles, scales as a scan.
      Some("""SELECT doc_id,
             |  md5(trim(regexp_replace(regexp_replace(lower(text),
             |    '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))) AS norm_md5,
             |  CAST(length(text) AS BIGINT) AS raw_len,
             |  CAST(length(trim(regexp_replace(regexp_replace(lower(text),
             |    '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))) AS BIGINT) AS norm_len
             |FROM documents""".stripMargin),
      (s, d) => {
        val norm = trim(regexp_replace(regexp_replace(lower(col("text")),
          "[^a-z0-9 ]", " "), " +", " "))
        docs(s, d).select(col("doc_id"),
          md5(norm).as("norm_md5"),
          length(col("text")).cast("long").as("raw_len"),
          length(norm).cast("long").as("norm_len"))
      }),

    QueryDef(
      "tx22_char_ngrams",
      // Per-language character-trigram profile — the feature table a
      // real language-ID model trains on (tx04 uses marker words; this
      // is the statistical upgrade path). Trigrams come from the native
      // one-pass char_ngrams expression (the HOF sequence+substr
      // composition re-scans the string per position — O(len²) byte
      // seeks that dominated this query's profile), explode to
      // (lang, trigram) pairs, and the top-5 per language is a
      // WindowGroupLimit over the aggregated counts — the explode's
      // output is map-side-combined BEFORE the shuffle, so the wire
      // carries |langs|×|trigrams| partial counts, not 100 TB of
      // trigram rows.
      Some("""WITH g AS (
             |  SELECT lang, unnest(list_transform(
             |    range(1, length(text) - 1), i -> substr(text, i, 3))) AS tg
             |  FROM documents),
             |c AS (SELECT lang, tg, count(*) AS n FROM g GROUP BY 1, 2),
             |r AS (SELECT lang, tg, n, row_number() OVER (
             |    PARTITION BY lang ORDER BY n DESC, tg) AS rnk FROM c)
             |SELECT lang, tg, CAST(n AS BIGINT) AS n, CAST(rnk AS BIGINT) AS rnk
             |FROM r WHERE rnk <= 5""".stripMargin),
      (s, d) => {
        val w = Window.partitionBy("lang").orderBy(col("n").desc, col("tg"))
        docs(s, d)
          .select(col("lang"), explode(
            graft.functions.GraftFunctions.char_ngrams(col("text"), 3)).as("tg"))
          .groupBy("lang", "tg")
          .agg(count(lit(1)).as("n"))
          .withColumn("rnk", row_number().over(w))
          .filter(col("rnk") <= 5)
          .select(col("lang"), col("tg"), col("n").cast("long").as("n"),
            col("rnk").cast("long").as("rnk"))
      }),

    QueryDef(
      "tx23_lexical_diversity",
      // Lexical diversity per document: type-token ratio and hapax
      // (once-only token) rate — the vocabulary-richness signals that
      // complement tx18's entropy (TTR penalizes repetition linearly,
      // entropy logarithmically). Map-only array surgery; the hapax
      // count is an in-doc O(types·tokens) lambda (tx10's accepted
      // discipline at these document lengths — the corpus-level
      // alternative is a full token explode for a per-doc stat).
      Some("""WITH tk AS (
             |  SELECT doc_id,
             |    list_filter(string_split(text, ' '), x -> x <> '') AS toks
             |  FROM documents)
             |SELECT doc_id,
             |  CAST(len(toks) AS BIGINT) AS n_tokens,
             |  CAST(len(list_distinct(toks)) AS BIGINT) AS n_types,
             |  round(CAST(len(list_distinct(toks)) AS DOUBLE)
             |    / greatest(len(toks), 1), 4) AS ttr,
             |  CAST(len(list_filter(list_distinct(toks),
             |    t -> len(list_filter(toks, x -> x = t)) = 1)) AS BIGINT)
             |    AS n_hapax
             |FROM tk""".stripMargin),
      (s, d) => {
        val toks = filter(split(col("text"), " "), x => x =!= "")
        docs(s, d)
          .select(col("doc_id"), toks.as("toks"))
          .select(col("doc_id"),
            size(col("toks")).cast("long").as("n_tokens"),
            size(array_distinct(col("toks"))).cast("long").as("n_types"),
            round(size(array_distinct(col("toks"))).cast("double") /
              greatest(size(col("toks")), lit(1)), 4).as("ttr"),
            size(filter(array_distinct(col("toks")),
              t => size(filter(col("toks"), x => x === t)) === 1))
              .cast("long").as("n_hapax"))
      }),

    QueryDef(
      "tx24_blocklist_gate",
      // Blocklist content gating — the term-list safety filter every
      // corpus runs (here with a neutral stand-in list; swap the
      // terms, keep the plan): per-doc hit counts for each blocked
      // term via the space-padded occurrence-count trick (word
      // boundaries included, same left-to-right semantics both
      // engines), an integral block decision (any hit), and the
      // per-lang admission audit. Map-only scan; the term list is a
      // compile-time constant (at scale: a broadcast variable) so no
      // join is involved at all.
      Some("""WITH s AS (
             |  SELECT doc_id, lang, ' ' || text || ' ' AS p FROM documents),
             |h AS (
             |  SELECT doc_id, lang,
             |    (length(p) - length(replace(p, ' slow ', ''))) / 6 AS h1,
             |    (length(p) - length(replace(p, ' dup ', ''))) / 5 AS h2,
             |    (length(p) - length(replace(p, ' vector ', ''))) / 8 AS h3
             |  FROM s)
             |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
             |  CAST(sum(CASE WHEN h1 + h2 + h3 > 0 THEN 1 ELSE 0 END) AS BIGINT)
             |    AS n_blocked,
             |  CAST(sum(h1 + h2 + h3) AS BIGINT) AS total_hits,
             |  CAST(sum(CASE WHEN h1 + h2 + h3 = 0 THEN doc_id ELSE 0 END)
             |    AS BIGINT) AS admitted_id_sum
             |FROM h GROUP BY lang""".stripMargin),
      (s, d) => {
        val padded = concat(lit(" "), col("text"), lit(" "))
        val hits = cnt(padded, " slow ") + cnt(padded, " dup ") +
          cnt(padded, " vector ")
        docs(s, d)
          .select(col("doc_id"), col("lang"), hits.as("h"))
          .groupBy("lang")
          .agg(count(lit(1)).cast("long").as("n_docs"),
            sum(when(col("h") > 0, 1L).otherwise(0L)).cast("long")
              .as("n_blocked"),
            sum("h").cast("long").as("total_hits"),
            sum(when(col("h") === 0, col("doc_id")).otherwise(0L))
              .cast("long").as("admitted_id_sum"))
      }),

    QueryDef(
      "tx25_feature_scale",
      // Per-group z-score feature scaling — the normalization step in
      // front of any quality-score model: each document's length
      // standardized against its LANGUAGE's distribution (cross-lingual
      // lengths aren't comparable raw). The group moments stay exact
      // BIGINTs (n, Σx, Σx²; population variance = (nΣx²−(Σx)²)/n²),
      // and the float pipeline — mean = Σx/n, sd = √(nΣx²−(Σx)²)/n,
      // z = (x−mean)/sd — is written as the IDENTICAL IEEE expression
      // in both engines, so per-row results hash-match with no
      // accumulation-order exposure. The tiny per-lang stats broadcast
      // back onto the scan: map-side after one rollup, no window over
      // a skewed lang partition.
      Some("""WITH s AS (
             |  SELECT lang, count(*) AS n, sum(n_chars) AS sx,
             |    sum(n_chars * n_chars) AS sxx
             |  FROM documents GROUP BY 1)
             |SELECT d.doc_id, d.lang, CAST(d.n_chars AS BIGINT) AS n_chars,
             |  round((CAST(d.n_chars AS DOUBLE) - CAST(sx AS DOUBLE) / n)
             |        / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE)) / n), 4) + 0.0 AS z
             |FROM documents d JOIN s ON d.lang = s.lang
             |WHERE n * sxx - sx * sx > 0""".stripMargin),
      (s, d) => {
        val st = docs(s, d).groupBy("lang")
          .agg(count(lit(1)).as("n"), sum("n_chars").as("sx"),
            sum(col("n_chars") * col("n_chars")).as("sxx"))
          .filter(col("n") * col("sxx") - col("sx") * col("sx") > 0)
        docs(s, d).join(broadcast(st), "lang")
          .select(col("doc_id"), col("lang"),
            col("n_chars").cast("long").as("n_chars"),
            // + 0.0: a z-score in (-5e-5, 0) rounds to IEEE -0.0 in
            // DuckDB but +0.0 in Spark — bit-level hash hazard (r6)
            (round((col("n_chars").cast("double")
                - col("sx").cast("double") / col("n"))
              / (sqrt((col("n") * col("sxx") - col("sx") * col("sx"))
                  .cast("double")) / col("n")), 4) + lit(0.0)).as("z"))
      }),

    QueryDef(
      "tx26_zipf_fit",
      // Zipf's-law fit of the corpus vocabulary: OLS slope of
      // ln(count) against ln(rank) — natural corpora run near −1, so
      // the fitted slope is a one-number "does this look like natural
      // language" screen (synthetic/templated corpora flatten it).
      // ln() itself bit-matches across engines (established by
      // tx09/tx13/tx16/tx18), but SUMS of ln terms across rows would
      // be accumulation-order-dependent — so each log is quantized to
      // an exact 1e-6 grid integer first (floor(ln·1e6+0.5), the vs04
      // rounding discipline) and the regression runs on pure BIGINTs:
      // ev40's closed form, ONE final double division.
      //
      // The rank stage needs NO global window: ly depends only on the
      // token's count c, and the (c DESC, tok) total order gives every
      // count-class a contiguous rank range — so the regression sums
      // are invariant to which token holds which rank within a class.
      // Plan: vocab rollup → counts-of-counts (tiny) → two-phase prefix
      // offsets ([[PrefixSum]]) → rank ranges expanded in 64Ki chunks,
      // REPARTITIONED by (c, chunk) so the fat c=1 class fans out
      // across the cluster instead of through one task.
      Some("""WITH v AS (
             |  SELECT tok, count(*) AS c,
             |    row_number() OVER (ORDER BY count(*) DESC, tok) AS r
             |  FROM (SELECT unnest(string_split_regex(trim(text), '\s+')) AS tok
             |        FROM documents) t
             |  GROUP BY tok),
             |q AS (
             |  SELECT CAST(floor(ln(CAST(r AS DOUBLE)) * 1000000 + 0.5) AS BIGINT) AS lx,
             |    CAST(floor(ln(CAST(c AS DOUBLE)) * 1000000 + 0.5) AS BIGINT) AS ly
             |  FROM v),
             |s AS (
             |  SELECT count(*) AS n, sum(lx) AS sx, sum(ly) AS sy,
             |    sum(lx * ly) AS sxy, sum(lx * lx) AS sxx
             |  FROM q)
             |SELECT CAST(n AS BIGINT) AS n_terms,
             |  round(CAST(n * sxy - sx * sy AS DOUBLE)
             |        / CAST(n * sxx - sx * sx AS DOUBLE), 4) + 0.0 AS zipf_slope
             |FROM s WHERE n * sxx - sx * sx <> 0""".stripMargin),
      (s, d) => {
        val cc = docs(s, d)
          .select(explode(split(trim(col("text")), "\\s+")).as("tok"))
          .groupBy("tok").agg(count(lit(1)).as("c"))
          .groupBy("c").agg(count(lit(1)).as("m"))
        // rank offset of count-class c = #tokens in classes ranked
        // before it (higher c) = exclusive prefix of m in c DESC order
        val off = PrefixSum.byLongKey(cc.withColumn("negc", -col("c")),
          "negc", Nil, col("m"), "a", inclusive = false)
        off.select(col("c"), col("a"), col("m"),
            explode(sequence(lit(0L), expr("(m - 1) DIV 65536"))).as("ch"))
          .repartition(col("c"), col("ch"))
          .select(col("c"),
            explode(sequence(col("a") + col("ch") * 65536 + 1,
              least(col("a") + col("m"),
                col("a") + (col("ch") + 1) * 65536))).as("r"))
          .select(
            floor(log(col("r").cast("double")) * 1e6 + lit(0.5)).as("lx"),
            floor(log(col("c").cast("double")) * 1e6 + lit(0.5)).as("ly"))
          .agg(count(lit(1)).as("n"), sum("lx").as("sx"), sum("ly").as("sy"),
            sum(col("lx") * col("ly")).as("sxy"),
            sum(col("lx") * col("lx")).as("sxx"))
          .filter(col("n") * col("sxx") - col("sx") * col("sx") =!= 0)
          .select(col("n").cast("long").as("n_terms"),
            (round((col("n") * col("sxy") - col("sx") * col("sy")).cast("double")
              / (col("n") * col("sxx") - col("sx") * col("sx")).cast("double"),
              4) + lit(0.0)).as("zipf_slope"))
      }),

    QueryDef(
      "tx27_kl_divergence",
      // Per-language vocabulary DRIFT: KL(lang unigram dist ‖ corpus
      // unigram dist) — the data-mixing diagnostic that flags a source
      // whose token distribution diverges from the blend it feeds
      // (language subsets ARE drifted sub-corpora here, so the numbers
      // are non-trivial by construction). KL = Σ pᵢ·ln(pᵢ/qᵢ) with
      // pᵢ = cᵢ/N_lang, qᵢ = dᵢ/M_corpus; every log RATIO is taken on
      // one double built from exact int64 cross-products
      // (ln(c·M / (d·N)) — IEEE-identical both engines) and quantized
      // to a 1e-6-grid integer (tx26's discipline), so the per-lang
      // sum is Σ cᵢ·kᵢ — pure BIGINT, order-independent — with ONE
      // final division. Costs: one token rollup + two vocab-sized
      // broadcasts; scan-dominated at any corpus size.
      Some("""WITH t AS (
             |  SELECT lang, unnest(string_split_regex(trim(text), '\s+')) AS tok
             |  FROM documents),
             |lc AS (SELECT lang, tok, count(*) AS c FROM t GROUP BY 1, 2),
             |nl AS (SELECT lang, sum(c) AS nl FROM lc GROUP BY 1),
             |cc AS (SELECT tok, count(*) AS dc FROM t GROUP BY 1),
             |m AS (SELECT sum(dc) AS mm FROM cc),
             |k AS (
             |  SELECT lc.lang, lc.c, nl.nl,
             |    CAST(floor(ln(CAST(lc.c * m.mm AS DOUBLE)
             |                  / CAST(cc.dc * nl.nl AS DOUBLE)) * 1000000 + 0.5)
             |      AS BIGINT) AS ki
             |  FROM lc JOIN cc USING (tok) JOIN nl ON lc.lang = nl.lang
             |  CROSS JOIN m)
             |SELECT lang, CAST(count(*) AS BIGINT) AS n_terms,
             |  round(CAST(sum(c * ki) AS DOUBLE)
             |        / (CAST(max(nl) AS DOUBLE) * 1000000), 6) AS kl
             |FROM k GROUP BY lang""".stripMargin),
      (s, d) => {
        val t = docs(s, d)
          .select(col("lang"), explode(split(trim(col("text")), "\\s+")).as("tok"))
        val lc = t.groupBy("lang", "tok").agg(count(lit(1)).as("c"))
        val nl = lc.groupBy("lang").agg(sum("c").as("nl"))
        val cc = lc.groupBy("tok").agg(sum("c").as("dc"))
        val mm = cc.agg(sum("dc").as("mm"))
        lc.join(broadcast(cc), "tok")
          .join(broadcast(nl), "lang")
          .crossJoin(broadcast(mm))
          .withColumn("ki",
            floor(log((col("c") * col("mm")).cast("double")
                / (col("dc") * col("nl")).cast("double")) * 1e6 + lit(0.5)))
          .groupBy("lang")
          .agg(count(lit(1)).cast("long").as("n_terms"),
            round(sum(col("c") * col("ki")).cast("double")
              / (max("nl").cast("double") * 1e6), 6).as("kl"))
      }),

    QueryDef(
      "tx28_topk_agg",
      // tx06's vocabulary top-20 computed by the native MERGEABLE
      // top-k aggregate (`topk_freq`, a TypedImperativeAggregate)
      // instead of a global window sort: each map task reduces its
      // slice of the vocabulary to a k-entry buffer and buffers merge
      // associatively, so the ranking step ships O(k·partitions) rows
      // — independent of vocabulary size — where the window plans a
      // whole-vocabulary single-partition sort. Same oracle as tx06
      // (identical output contract); TopKFreqSpec freezes the
      // equivalence and the buffer's eviction ordering.
      Some("""SELECT tok, n, rnk FROM (
             |  SELECT tok, count(*) AS n,
             |    CAST(row_number() OVER (ORDER BY count(*) DESC, tok) AS BIGINT) AS rnk
             |  FROM (SELECT unnest(string_split_regex(trim(text), '\s+')) AS tok
             |        FROM documents) t
             |  GROUP BY tok) r
             |WHERE rnk <= 20""".stripMargin),
      (s, d) =>
        docs(s, d)
          .select(explode(split(trim(col("text")), "\\s+")).as("tok"))
          .groupBy("tok").agg(count(lit(1)).as("n"))
          .agg(graft.functions.GraftFunctions
            .topk_freq(col("tok"), col("n"), 20).as("tk"))
          .select(posexplode(col("tk")))
          .select(col("col.tok").as("tok"), col("col.n").as("n"),
            (col("pos") + 1).cast("long").as("rnk"))),

    QueryDef(
      "tx29_pair_merge_step",
      // The counting step of a BPE/WordPiece tokenizer-training round:
      // frequency of every ADJACENT token pair in the corpus, top-20 —
      // the next merge candidates. Pairs are built per-row with a
      // higher-order transform over index positions (no self-join on
      // position, no second explode), counted map-side-combinably, and
      // ranked by the mergeable native top-k aggregate, so the global
      // step ships O(k·partitions) rows no matter how large the pair
      // vocabulary gets — the property that makes iterated merge
      // rounds feasible at 100 TB (pair vocab is O(vocab²)).
      Some("""SELECT pair, n, rnk FROM (
             |  SELECT pair, count(*) AS n,
             |    CAST(row_number() OVER (ORDER BY count(*) DESC, pair) AS BIGINT) AS rnk
             |  FROM (
             |    SELECT unnest(list_transform(range(1, len(a)),
             |             i -> a[i] || ' ' || a[i+1])) AS pair
             |    FROM (SELECT string_split_regex(trim(text), '\s+') AS a
             |          FROM documents WHERE length(trim(text)) > 0) t
             |    WHERE len(a) > 1) p
             |  GROUP BY pair) r
             |WHERE rnk <= 20""".stripMargin),
      (s, d) =>
        docs(s, d)
          .filter(length(trim(col("text"))) > 0)
          .select(split(trim(col("text")), "\\s+").as("a"))
          .filter(size(col("a")) > 1)
          .select(explode(transform(sequence(lit(1), size(col("a")) - 1),
            i => concat(element_at(col("a"), i), lit(" "),
              element_at(col("a"), i + 1)))).as("pair"))
          .groupBy("pair").agg(count(lit(1)).as("n"))
          .agg(graft.functions.GraftFunctions
            .topk_freq(col("pair"), col("n"), 20).as("tk"))
          .select(posexplode(col("tk")))
          .select(col("col.tok").as("pair"), col("col.n").as("n"),
            (col("pos") + 1).cast("long").as("rnk")))
  ,

    QueryDef(
      "tx30_bm25_topk",
      // BM25 ranked retrieval — the LEXICAL complement of vs01's
      // vector top-k: given a query (here: the distinct tokens of doc
      // 42, a "more-like-this" probe both engines derive identically),
      // score every matching doc by Okapi BM25 (k1=1.2, b=0.75) and
      // return the top 10. Determinism discipline: every per-(doc,
      // term) contribution is a pure IEEE expression of EXACT counts
      // (tf, df, N, dl, avgdl = exact-int sum/count), quantized to the
      // 1e-6 integer grid BEFORE the per-doc sum — so the sum is
      // 64-bit integer arithmetic, immune to summation order across
      // partitions AND engines (the dd19/vs05 grid discipline; tx13's
      // "rounding absorbs it" would be unsafe here because ranking
      // compares sums). Scale: posting join is pruned to the query's
      // terms FIRST (candidate postings only), stats broadcast as a
      // single-row aggregate, one groupBy on doc_id; the global top-10
      // is a single bounded window over per-doc scores.
      Some("""WITH tk AS (
             |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
             |  FROM documents),
             |tk2 AS (SELECT doc_id, toks FROM tk WHERE len(toks) > 0),
             |terms AS (SELECT DISTINCT unnest(toks) AS term FROM tk2 WHERE doc_id = 42),
             |posts AS (SELECT doc_id, unnest(toks) AS term FROM tk2),
             |qposts AS (SELECT doc_id, term FROM posts JOIN terms USING (term)),
             |tf AS (SELECT doc_id, term, count(*) AS tf FROM qposts GROUP BY 1, 2),
             |dl AS (SELECT doc_id, len(toks) AS dl FROM tk2),
             |stats AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM dl),
             |dfq AS (SELECT term, count(DISTINCT doc_id) AS df FROM qposts GROUP BY 1),
             |sc AS (
             |  SELECT tf.doc_id,
             |    CAST(floor(ln((n - df + 0.5) / (df + 0.5) + 1.0)
             |      * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))
             |      * 1000000 + 0.5) AS BIGINT) AS q
             |  FROM tf JOIN dfq USING (term) JOIN dl USING (doc_id), stats),
             |agg AS (SELECT doc_id, sum(q) AS iscore FROM sc GROUP BY doc_id),
             |r AS (SELECT doc_id, iscore,
             |        row_number() OVER (ORDER BY iscore DESC, doc_id) AS rn
             |      FROM agg)
             |SELECT doc_id, CAST(rn AS BIGINT) AS rnk,
             |  round(CAST(iscore AS DOUBLE) / 1000000, 4) AS score
             |FROM r WHERE rn <= 10""".stripMargin),
      (s, d) => {
        // global top-10 via distributed sort+limit (TakeOrderedAndProject
        // — per-partition local top-10, bounded merge on the driver);
        // the rank window then runs over <= 10 rows (onePart marker)
        val w = Window.partitionBy(graft.ops.PrefixSum.onePart(col("doc_id")))
          .orderBy(col("iscore").desc, col("doc_id"))
        bm25Scores(docs(s, d), queryDocId = 42)
          .orderBy(col("iscore").desc, col("doc_id")).limit(10)
          .withColumn("rn", row_number().over(w))
          .select(col("doc_id"), col("rn").cast("long").as("rnk"),
            round(col("iscore").cast("double") / lit(1000000), 4).as("score"))
      }),

    QueryDef(
      "tx31_hard_negatives",
      // HARD-NEGATIVE MINING for contrastive training: for each probe
      // doc (40–44), the top-5 BM25-most-similar docs that are NOT
      // near-duplicates — similar enough to be informative negatives,
      // distinct enough not to be false negatives. The corpus carries
      // an injected exact copy of every doc (ids +100000), so each
      // probe's copy TOPS its raw BM25 ranking and the near-dup
      // exclusion (dd06's exact J >= 0.8 pairs, both directions, plus
      // self) must genuinely bite — a broken exclusion surfaces the
      // duplicate as rank 1. One plan: [[bm25ScoresMulti]] (batch
      // retrieval — term df/stats computed once, postings fan out only
      // by the 5 probes' term lists), the never-all-pairs PPJoin edge
      // kernel, an anti-join, and a per-probe top-5 window.
      Some("""WITH u AS (
             |  SELECT doc_id, text FROM documents
             |  UNION ALL
             |  SELECT doc_id + 100000, text FROM documents
             |), tk AS (
             |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
             |  FROM u),
             |tk2 AS (SELECT doc_id, toks FROM tk WHERE len(toks) > 0),
             |terms AS (SELECT doc_id AS qid, unnest(list_distinct(toks)) AS term
             |          FROM tk2 WHERE doc_id BETWEEN 40 AND 44),
             |posts AS (SELECT doc_id, unnest(toks) AS term FROM tk2),
             |qposts AS (SELECT qid, doc_id, term FROM posts JOIN terms USING (term)),
             |tf AS (SELECT qid, doc_id, term, count(*) AS tf FROM qposts GROUP BY 1, 2, 3),
             |dl AS (SELECT doc_id, len(toks) AS dl FROM tk2),
             |stats AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM dl),
             |dfq AS (SELECT term, count(DISTINCT doc_id) AS df FROM qposts GROUP BY 1),
             |sc AS (
             |  SELECT qid, tf.doc_id,
             |    CAST(floor(ln((n - df + 0.5) / (df + 0.5) + 1.0)
             |      * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))
             |      * 1000000 + 0.5) AS BIGINT) AS q
             |  FROM tf JOIN dfq USING (term) JOIN dl ON dl.doc_id = tf.doc_id, stats),
             |agg AS (SELECT qid, doc_id, sum(q) AS iscore FROM sc
             |        WHERE doc_id <> qid GROUP BY 1, 2),
             |sh AS (
             |  SELECT doc_id,
             |    list_distinct(list_transform(
             |      range(1, greatest(len(toks) - 2, 1) + 1),
             |      i -> array_to_string(list_slice(toks, i, least(i + 2, len(toks))), ' '))) AS shs
             |  FROM tk2),
             |post2 AS (SELECT doc_id, unnest(shs) AS s FROM sh),
             |inter AS (
             |  SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS i
             |  FROM post2 x JOIN post2 y ON x.s = y.s AND x.doc_id < y.doc_id
             |  GROUP BY 1, 2),
             |sz AS (SELECT doc_id, len(shs) AS n2 FROM sh),
             |edges AS (
             |  SELECT a, b FROM inter
             |  JOIN sz sa ON sa.doc_id = a
             |  JOIN sz sb ON sb.doc_id = b
             |  WHERE CAST(i AS DOUBLE) / (sa.n2 + sb.n2 - i) >= 0.8),
             |ex AS (SELECT a AS qid, b AS doc_id FROM edges
             |       UNION ALL SELECT b, a FROM edges),
             |neg AS (SELECT agg.qid, agg.doc_id, agg.iscore FROM agg
             |        WHERE NOT EXISTS (SELECT 1 FROM ex
             |          WHERE ex.qid = agg.qid AND ex.doc_id = agg.doc_id)),
             |r AS (SELECT qid, doc_id, iscore,
             |        row_number() OVER (PARTITION BY qid
             |          ORDER BY iscore DESC, doc_id) AS rn
             |      FROM neg)
             |SELECT qid, doc_id, CAST(rn AS BIGINT) AS rnk,
             |  round(CAST(iscore AS DOUBLE) / 1000000, 4) AS score
             |FROM r WHERE rn <= 5""".stripMargin),
      (s, d) => {
        val base = docs(s, d).select("doc_id", "text")
        val u = base.unionByName(base.select(
          (col("doc_id") + lit(100000L)).as("doc_id"), col("text")))
        val scored = bm25ScoresMulti(u, col("doc_id").between(40, 44))
          .filter(col("doc_id") =!= col("qid"))
        // Probe-restricted near-dup exclusion — the scale shape: only
        // J(probe, scored doc) can matter, so broadcast the 5 probes'
        // sorted shingle hashes and verify exactly the scored pairs
        // with the zero-alloc merge kernel (tx14's discipline) — no
        // corpus-wide edge enumeration for a 5-probe batch. The
        // J >= 0.8 gate is integral: 5i >= 4(qn+dn-i) ⇔ 9i >= 4(qn+dn).
        // Shingle the store once (NOT semi-join-pruned to scored ids:
        // that re-executes the whole scoring subplan as the prune's
        // build side, and a term-sharing candidate set covers most of
        // the corpus anyway — measured 2.4s -> 3.7s; the lshIndexProbe
        // prune pays off only when candidates are selective relative
        // to the store)
        val hs = DedupOps.shingleSets(u).select(col("doc_id"),
          size(col("shs")).cast("long").as("n"),
          graft.functions.GraftFunctions.sorted_xxhash64(col("shs")).as("hx"))
        val probeHs = hs.filter(col("doc_id").between(40, 44))
          .select(col("doc_id").as("qid"), col("n").as("qn"), col("hx").as("qh"))
        val w = Window.partitionBy("qid")
          .orderBy(col("iscore").desc, col("doc_id"))
        scored.join(broadcast(probeHs), "qid").join(hs, "doc_id")
          .withColumn("i", graft.functions.GraftFunctions
            .sorted_intersect_count(col("qh"), col("hx")))
          .filter(lit(9) * col("i") < lit(4) * (col("qn") + col("n")))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 5)
          .select(col("qid"), col("doc_id"), col("rn").cast("long").as("rnk"),
            round(col("iscore").cast("double") / lit(1000000), 4).as("score"))
      }),

    QueryDef(
      "tx32_contamination",
      // BENCHMARK DECONTAMINATION (the GPT-3 appendix-C / PaLM method,
      // arXiv:2005.14165 §C): a training document is contaminated if
      // it shares >= 3 distinct word-5-grams with any benchmark
      // document. The corpus here carries planted leaks — every bench
      // doc re-inserted under id+1000000 — so the scan has ground
      // truth to find; bench membership is doc_id % 17 = 0 (both
      // engines derive the same split). Scale shape: the BENCHMARK
      // side is small by definition (eval sets are MBs against a
      // 100 TB lake), so its 8-byte gram hashes broadcast and the
      // corpus-side gram stream is gated map-side by the broadcast
      // hash join BEFORE the only shuffle — the per-(doc, bench) count
      // aggregates only surviving matches, so the pass is
      // scan-dominated no matter the lake size. Grams are hashed with
      // the portable md5-low60 kernel (8-byte join keys, not strings)
      // and the oracle replays signature, join and census bit-exactly.
      Some("""WITH corpus AS (
             |  SELECT doc_id, text FROM documents WHERE doc_id % 17 <> 0
             |  UNION ALL
             |  SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 17 = 0),
             |bench AS (SELECT doc_id AS bench_id, text FROM documents
             |          WHERE doc_id % 17 = 0),
             |cg AS (
             |  SELECT doc_id,
             |    CAST(concat('0x', substr(md5(unnest(gs)), 1, 15)) AS BIGINT) AS h
             |  FROM (
             |    SELECT doc_id, list_distinct(list_transform(
             |      range(1, greatest(len(toks) - 4, 1) + 1),
             |      i -> array_to_string(list_slice(toks, i, least(i + 4, len(toks))), ' '))) AS gs
             |    FROM (SELECT doc_id,
             |            list_filter(string_split(text, ' '), x -> x <> '') AS toks
             |          FROM corpus) t WHERE len(toks) > 0) g),
             |bg AS (
             |  SELECT bench_id,
             |    CAST(concat('0x', substr(md5(unnest(gs)), 1, 15)) AS BIGINT) AS h
             |  FROM (
             |    SELECT bench_id, list_distinct(list_transform(
             |      range(1, greatest(len(toks) - 4, 1) + 1),
             |      i -> array_to_string(list_slice(toks, i, least(i + 4, len(toks))), ' '))) AS gs
             |    FROM (SELECT bench_id,
             |            list_filter(string_split(text, ' '), x -> x <> '') AS toks
             |          FROM bench) t WHERE len(toks) > 0) g)
             |SELECT c.doc_id, b.bench_id, CAST(count(*) AS BIGINT) AS overlap
             |FROM cg c JOIN bg b ON c.h = b.h
             |GROUP BY 1, 2 HAVING count(*) >= 3""".stripMargin),
      (s, d) => {
        val base = docs(s, d).select("doc_id", "text")
        val bench = base.filter(col("doc_id") % 17 === 0)
        val corpus = base.filter(col("doc_id") % 17 =!= 0).unionByName(
          bench.select((col("doc_id") + lit(1000000L)).as("doc_id"),
            col("text")))
        def grams(df: org.apache.spark.sql.DataFrame, idCol: String): org.apache.spark.sql.DataFrame = df
          .select(col(idCol),
            explode(graft.functions.GraftFunctions
              .word_shingles(col("text"), 5)).as("g"))
          .select(col(idCol), graft.functions.GraftFunctions
            .md5_low60(col("g")).as("h"))
        grams(corpus, "doc_id")
          .join(broadcast(grams(bench
            .withColumnRenamed("doc_id", "bench_id"), "bench_id")), "h")
          .groupBy("doc_id", "bench_id")
          .agg(count(lit(1)).as("overlap"))
          .filter(col("overlap") >= 3)
      }),

    QueryDef(
      "tx33_text_index_topk",
      // PERSISTED inverted-index BM25 serving ([[TextIndex]]): tx30's
      // retrieval, but against a pre-built posting store instead of
      // re-deriving postings from text per query — the difference
      // between a 100 TB scan per query and a partition-pruned read of
      // the query terms' posting lists. The probe must equal the
      // from-scratch kernel bit-for-bit (TextIndexSpec pins it); the
      // oracle replays the whole th-keyed pipeline from raw documents,
      // so a lost/duplicated posting row, a stale stats-log row, or a
      // df drift all surface as a hash mismatch. Probe doc 43
      // (tx30 demonstrates 42 from scratch).
      Some(bm25IndexOracle("", probeId = 43)),
      (s, d) =>
        TextIndex.probeTextIndex(s, baseTextIndex(s, d),
          TextIndex.queryTerms(docs(s, d), 43), k = 10)),

    QueryDef(
      "tx34_text_index_append",
      // Inverted-index APPEND: the index holds 90% of the corpus
      // (doc_id % 10 <> 9, the cached input fixture); the verb ingests
      // the remaining 10% as an arriving batch — new posting rows into
      // their tp partitions plus one stats-log row, nothing rewritten
      // — and the probe must then equal the FULL-corpus from-scratch
      // answer (which is exactly what the oracle computes): tf, df, N
      // and avgdl must all absorb the new mass. The batch write is
      // idempotent (overwrites its own batch= subdirs), so replays
      // cannot double-count.
      Some(bm25IndexOracle("", probeId = 42)),
      (s, d) => {
        val idx = base90TextIndex(s, d)
        TextIndex.appendTextIndex(
          docs(s, d).filter(col("doc_id") % 10 === 9)
            .select("doc_id", "text"), idx, batch = 1L)
        TextIndex.probeTextIndex(s, idx,
          TextIndex.queryTerms(docs(s, d), 42), k = 10)
      }),

    QueryDef(
      "tx35_text_index_delete",
      // Inverted-index DELETE, merge-on-read (the vs24 idiom for the
      // text side): a takedown of every (doc_id % 25 = 3) doc writes
      // (doc_id, dl) tombstones to a sidecar — the docs' own text
      // names what they contributed, no index scan — and probes
      // subtract them via a broadcast anti-join while the base
      // snapshot stays immutable. The oracle replays retrieval over
      // the SURVIVOR lake, so the gate proves the subtraction shifts
      // every factor (df, N, avgdl, candidate set) exactly as a
      // rebuild would. The sidecar is per-execution scratch: the
      // shared base fixture is never poisoned for tx33.
      Some(bm25IndexOracle(" WHERE doc_id % 25 <> 3", probeId = 43)),
      (s, d) => {
        val idx = baseTextIndex(s, d)
        val tombs = graft.core.Scratch.dir("graft_txt_tomb_") + "/t"
        TextIndex.deleteFromTextIndex(
          docs(s, d).filter(col("doc_id") % 25 === 3)
            .select("doc_id", "text"), tombs)
        TextIndex.probeTextIndex(s, idx,
          TextIndex.queryTerms(docs(s, d), 43), k = 10,
          tombsPath = Some(tombs))
      }),

    QueryDef(
      "tx36_text_index_vacuum",
      // Inverted-index VACUUM as a registered verb: fold tx35's
      // tombstone sidecar into a fresh single-batch snapshot, then
      // probe WITHOUT the sidecar — the same survivor-lake oracle as
      // tx35, so merge-on-read and its compaction are proven to agree
      // through the gate, not just through TextIndexSpec. Doc-granular
      // deletes touch every tp partition (a doomed doc's terms hash
      // everywhere), so the rewrite is O(index) BY DESIGN — the cost
      // merge-on-read defers; running both verbs under one oracle is
      // the point.
      Some(bm25IndexOracle(" WHERE doc_id % 25 <> 3", probeId = 43)),
      (s, d) => {
        val idx = baseTextIndex(s, d)
        val tombs = graft.core.Scratch.dir("graft_txt_tomb36_") + "/t"
        TextIndex.deleteFromTextIndex(
          docs(s, d).filter(col("doc_id") % 25 === 3)
            .select("doc_id", "text"), tombs)
        val out = graft.core.Scratch.dir("graft_txt_vac_") + "/index"
        TextIndex.vacuumTextIndex(s, idx, tombs, out)
        TextIndex.probeTextIndex(s, out,
          TextIndex.queryTerms(docs(s, d), 43), k = 10)
      }),

    QueryDef(
      "tx37_passage_chunk",
      // PASSAGE CHUNKING — sliding-window document segmentation (the
      // RAG-retrieval / long-context preprocessing standard): windows
      // of W = 32 tokens at stride S = 24 (8-token overlap so no
      // boundary-straddling fact is lost to retrieval), the
      // DOCUMENT-level complement of sp19's corpus-level
      // concat-then-chunk. Every passage is a pure function of
      // (doc, start): map-only generate via one transform over the
      // stride sequence + posexplode — embarrassingly parallel, no
      // shuffle at all (the census columns ride per row). Output rows
      // carry the passage fingerprint rather than its text — at lake
      // scale the chunker feeds embedding/indexing stages that
      // re-read text by (doc_id, pid) range, not by copy.
      Some("""WITH tk AS (
             |  SELECT doc_id,
             |    list_filter(string_split(text, ' '), x -> x <> '') AS toks
             |  FROM documents),
             |t2 AS (SELECT doc_id, toks, len(toks) AS n FROM tk WHERE len(toks) > 0),
             |p AS (
             |  SELECT doc_id, CAST((st - 1) // 24 + 1 AS BIGINT) AS pid,
             |    CAST(least(CAST(st + 31 AS BIGINT), n) - st + 1 AS BIGINT) AS n_tokens,
             |    md5(array_to_string(
             |      list_slice(toks, CAST(st AS INT), CAST(least(CAST(st + 31 AS BIGINT), n) AS INT)), ' ')) AS fp
             |  FROM t2, unnest(range(1, n + 1, 24)) u(st))
             |SELECT doc_id, pid, n_tokens, fp FROM p""".stripMargin),
      (s, d) => {
        val tk = docs(s, d)
          .select(col("doc_id"),
            filter(split(col("text"), " "), x => x =!= "").as("toks"))
          .filter(size(col("toks")) > 0)
          .withColumn("n", size(col("toks")).cast("long"))
        tk.select(col("doc_id"), col("n"),
            posexplode(transform(
              sequence(lit(1L), col("n"), lit(24L)),
              st => concat_ws(" ", slice(col("toks"),
                st.cast("int"), lit(32))))))
          .select(col("doc_id"),
            (col("pos") + 1).cast("long").as("pid"),
            least(lit(1L) + col("pos") * 24 + 31, col("n"))
              .minus(lit(1L) + col("pos") * 24).plus(1L)
              .cast("long").as("n_tokens"),
            md5(col("col")).as("fp"))
      }),

    QueryDef(
      "tx38_repetition_census",
      // WITHIN-DOCUMENT REPETITION — the Gopher rep-filter signal
      // (arXiv:2112.11446 table A1: duplicate n-gram fraction) the
      // tx12 gate doesn't carry: the fraction of a doc's 3-gram
      // OCCURRENCES that are repeats of an earlier 3-gram in the same
      // doc. Boilerplate, looped generations and template spam score
      // high; natural prose scores near zero. The fraction lives on
      // the integer grid via pure floor division
      // ((total − distinct)·10⁴ DIV total — no float anywhere), so
      // the census is trivially engine- and partition-exact. Map-only:
      // per-doc array algebra, zero shuffles — at 100 TB this rides
      // the same single corpus pass as every other per-doc signal.
      Some("""WITH tk AS (
             |  SELECT doc_id, lang,
             |    list_filter(string_split(text, ' '), x -> x <> '') AS toks
             |  FROM documents),
             |g AS (
             |  SELECT doc_id, lang,
             |    list_transform(range(1, len(toks) - 1),
             |      i -> array_to_string(list_slice(toks, i, i + 2), ' ')) AS grams
             |  FROM tk WHERE len(toks) >= 3)
             |SELECT doc_id, lang,
             |  CAST(len(grams) AS BIGINT) AS total_3grams,
             |  CAST(len(list_distinct(grams)) AS BIGINT) AS distinct_3grams,
             |  CAST(((len(grams) - len(list_distinct(grams))) * 10000)
             |    // len(grams) AS BIGINT) AS rep_q
             |FROM g""".stripMargin),
      (s, d) =>
        docs(s, d)
          .select(col("doc_id"), col("lang"),
            filter(split(col("text"), " "), x => x =!= "").as("toks"))
          .filter(size(col("toks")) >= 3)
          .withColumn("grams", transform(
            sequence(lit(1), size(col("toks")) - 2),
            i => concat_ws(" ", slice(col("toks"), i, lit(3)))))
          .select(col("doc_id"), col("lang"),
            size(col("grams")).cast("long").as("total_3grams"),
            size(array_distinct(col("grams"))).cast("long")
              .as("distinct_3grams"))
          .withColumn("rep_q", expr(
            "((total_3grams - distinct_3grams) * 10000) DIV total_3grams"))),

    QueryDef(
      "tx39_text_index_update",
      // Inverted-index UPDATE — the RE-VERSION verb
      // ([[TextIndex.reVersionTextIndex]]), closing the text index's
      // CRUD symmetry with the LSH index (dd21) and the IVF index
      // (vs26): every (doc_id % 20 = 7) doc is edited to a new
      // version (v2 = its text doubled — same doc_id, double dl and
      // per-term tf, so EVERY BM25 factor the index maintains must
      // move: tf, dl, avgdl, and N must NOT change). The verb is
      // tombstone-old → vacuum → append-new, in that order — a new
      // version appended while the sidecar is live would be SHADOWED
      // by its own takedown (the same-batch hazard vs26's discipline
      // maps; TextIndexSpec pins it). The oracle replays retrieval
      // from scratch over the EDITED lake, holding the in-place verb
      // to the full-rebuild answer. Probe doc 43 (43 % 20 = 3,
      // unedited) — but edited docs rank in its results, so a stale
      // old version, a shadowed new version, or an unshifted avgdl
      // all break the hash.
      Some(bm25IndexOracleOver(
        """SELECT doc_id,
          |  CASE WHEN doc_id % 20 = 7 THEN text || ' ' || text
          |       ELSE text END AS text
          |FROM documents""".stripMargin, probeId = 43)),
      (s, d) => {
        val idx = baseTextIndex(s, d)
        val edited = docs(s, d).filter(col("doc_id") % 20 === 7)
          .select("doc_id", "text")
        val newV = edited.select(col("doc_id"),
          concat_ws(" ", col("text"), col("text")).as("text"))
        val out = graft.core.Scratch.dir("graft_txt_rev_") + "/index"
        TextIndex.reVersionTextIndex(s, edited, newV, idx, out)
        TextIndex.probeTextIndex(s, out,
          TextIndex.queryTerms(docs(s, d), 43), k = 10)
      }),

    QueryDef(
      "tx40_text_index_expire",
      // Inverted-index RETENTION EXPIRY
      // ([[TextIndex.expireTextIndex]]) — the dd22 partition-drop
      // economics on the text side, completing the third deletion
      // mode across all three index families: the corpus arrives as
      // three ingest batches (doc_id % 3, the layout a streaming feed
      // writes naturally), retention drops every batch below the
      // cutoff — whole batch= dirs, postings AND stats-log rows
      // together, O(1) metadata per shard, no read, no rewrite, no
      // tombstone debt. The oracle replays retrieval over the
      // SURVIVING batches' docs from scratch: the probe's tf/df come
      // from surviving postings and N/avgdl from the surviving
      // stats-log rows, so an undropped shard, a stale stats row, or
      // a half-dropped batch all break the hash. Probe doc 43
      // (43 % 3 = 1, a survivor).
      Some(bm25IndexOracle(" WHERE doc_id % 3 <> 0", probeId = 43)),
      (s, d) => {
        // per-execution store: expiry mutates it, so no shared fixture
        val dir = graft.core.Scratch.dir("graft_txt_exp_") + "/index"
        val base = docs(s, d).select("doc_id", "text")
        (0L to 2L).foreach(b => TextIndex.appendTextIndex(
          base.filter(pmod(col("doc_id"), lit(3)) === b), dir, b))
        TextIndex.expireTextIndex(s, dir, cutoffBatch = 1L)
        TextIndex.probeTextIndex(s, dir,
          TextIndex.queryTerms(docs(s, d), 43), k = 10)
      }),

    QueryDef(
      "tx41_text_index_audit",
      // TEXT-INDEX HEALTH AUDIT ([[TextIndex.auditTextIndex]]) — the
      // monitoring query completing the symmetry with dd24 (LSH
      // posting health) and vs30 (embedding-lake QA): per ingest
      // batch, the POSTING STORE is reconciled against the STATS LOG,
      // the two separately-written artifacts every probe trusts.
      // `consistent` ties them with two conservation laws: distinct
      // posted docs = logged doc count, and Σtf = logged Σdl (every
      // token of an indexed doc lands in exactly one posting row's
      // tf). Reads ONLY the store; the oracle re-derives both sides
      // from raw documents, so the gate doubles as an end-to-end
      // store-integrity check — one lost posting file, doubled log
      // row, or writer drift shifts a census cell. Store = the %3
      // three-batch layout (tx40's), so the audit exercises a
      // multi-batch log.
      Some("""WITH tk AS (
             |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
             |  FROM documents),
             |tk2 AS (SELECT doc_id, toks FROM tk WHERE len(toks) > 0),
             |g AS (SELECT CAST(doc_id % 3 AS BIGINT) AS batch, doc_id,
             |        CAST(concat('0x', substr(md5(unnest(toks)), 1, 15)) AS BIGINT) AS th
             |      FROM tk2),
             |tf AS (SELECT batch, doc_id, th, count(*) AS tf FROM g GROUP BY 1, 2, 3),
             |p AS (SELECT batch,
             |        CAST(count(*) AS BIGINT) AS n_postings,
             |        CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs_posted,
             |        CAST(count(DISTINCT th) AS BIGINT) AS n_terms,
             |        CAST(sum(tf) AS BIGINT) AS sum_tf
             |      FROM tf GROUP BY 1),
             |l AS (SELECT CAST(doc_id % 3 AS BIGINT) AS batch,
             |        CAST(count(*) AS BIGINT) AS n_docs_logged,
             |        CAST(sum(len(toks)) AS BIGINT) AS sum_dl_logged
             |      FROM tk2 GROUP BY 1)
             |SELECT batch, n_postings, n_docs_posted, n_terms, sum_tf,
             |  n_docs_logged, sum_dl_logged,
             |  CAST(CASE WHEN n_docs_posted = n_docs_logged
             |         AND sum_tf = sum_dl_logged THEN 1 ELSE 0 END AS BIGINT)
             |    AS consistent
             |FROM p JOIN l USING (batch)""".stripMargin),
      // the audit READS the store, never mutates it, so the 3-batch
      // fixture is shared per sf dir (dd24's input-fixture economics:
      // a monitoring query runs against a store that already exists);
      // tx40's expiry MUTATES, so it keeps its per-execution build
      (s, d) => TextIndex.auditTextIndex(s, threeBatchTextIndex(s, d))),

    QueryDef(
      "tx42_text_index_batch_serve",
      // BATCH SERVING from the persisted index
      // ([[TextIndex.probeTextIndexMulti]]): top-5 more-like-this for
      // EVERY probe doc (40–44) in ONE plan — the offline-retrieval
      // shape ("neighbors for each of today's arrivals"), amortizing
      // one partition-pruned posting read across the probe batch
      // instead of N probes × N scans. The index-served complement of
      // tx31's from-scratch bm25ScoresMulti: df and the grid
      // quantization are query-independent and computed ONCE from the
      // distinct term set; only the qid fan-out join (broadcast —
      // probe batches are small by design) and the per-qid rank
      // window scale with the batch. Each query excludes itself;
      // df/stats include it (the single-probe convention). The oracle
      // replays every query's th-keyed pipeline from raw documents.
      Some(bm25MultiOracle("doc_id BETWEEN 40 AND 44", k = 5)),
      (s, d) =>
        TextIndex.probeTextIndexMulti(s, baseTextIndex(s, d),
          TextIndex.queryTermsMulti(docs(s, d),
            col("doc_id").between(40, 44)), k = 5)),

    QueryDef(
      "tx43_bpe_train",
      // BPE TOKENIZER TRAINING ([[Bpe]]): 6 merge iterations over the
      // corpus word-frequency dictionary — the tokenizer-build stage
      // of a pretraining pipeline (Sennrich arXiv:1508.07909), and the
      // iterated closure of tx29's single pair-merge step. ONE
      // corpus-scale pass (the word-count shuffle); each iteration is
      // then a vocab-bounded aggregate + map-only rewrite — at 100 TB
      // the loop never touches the corpus again, which is the entire
      // feasibility argument for distributed BPE. Exact BIGINT pair
      // counts + a totally-ordered argmax (cnt DESC, pair ASC) make
      // the learned table engine- and partition-exact; DuckDB replays
      // all 6 iterations as chained CTE stages, including the
      // space-doubling greedy-scan replace.
      Some(Bpe.oracleStages(6) + """
             |SELECT step, pair, merged, cnt FROM (
             |  SELECT * FROM m1 UNION ALL SELECT * FROM m2
             |  UNION ALL SELECT * FROM m3 UNION ALL SELECT * FROM m4
             |  UNION ALL SELECT * FROM m5 UNION ALL SELECT * FROM m6)""".stripMargin),
      (s, d) => Bpe.mergeTable(s, d, 6)),

    QueryDef(
      "tx44_bpe_fertility",
      // TOKENIZER APPLICATION + FERTILITY AUDIT: tokenize the corpus
      // under tx43's learned merges and report the per-language token
      // economics a tokenizer build is judged by — fertility
      // (tokens/word) and chars/token, both on the 1e-4 integer grid
      // (pure BIGINT floor division, no float anywhere). Scale shape:
      // tokenization is a corpus words-explode joined to the
      // VOCAB-bounded dictionary — broadcast by design (the dict is
      // the small side at any corpus size), so the whole audit is one
      // explode + one broadcast join + one per-lang aggregate. The
      // oracle replays training (d6) and the join end-to-end.
      Some(Bpe.oracleStages(6) + """,
             |cw AS (
             |  SELECT lang, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS word
             |  FROM documents),
             |tokc AS (SELECT word, CAST(len(string_split(s, ' ')) AS BIGINT) AS n_tok FROM d6),
             |ag AS (
             |  SELECT lang, CAST(count(*) AS BIGINT) AS n_words,
             |    CAST(sum(n_tok) AS BIGINT) AS n_tokens,
             |    CAST(sum(length(word)) AS BIGINT) AS n_chars
             |  FROM cw JOIN tokc USING (word) GROUP BY lang)
             |SELECT lang, n_words, n_tokens, n_chars,
             |  CAST(n_tokens * 10000 // n_words AS BIGINT) AS fert_1e4,
             |  CAST(n_chars * 10000 // n_tokens AS BIGINT) AS cpt_1e4
             |FROM ag""".stripMargin),
      (s, d) => {
        val (dict, _) = Bpe.train(docs(s, d), 6)
        val perWord = dict.select(col("word"),
          size(split(col("s"), " ")).cast("long").as("n_tok"))
        docs(s, d)
          .select(col("lang"),
            explode(filter(split(col("text"), " "), x => x =!= "")).as("word"))
          .join(broadcast(perWord), Seq("word"))
          .groupBy("lang")
          .agg(count(lit(1)).cast("long").as("n_words"),
            sum("n_tok").cast("long").as("n_tokens"),
            sum(length(col("word"))).cast("long").as("n_chars"))
          .select(col("lang"), col("n_words"), col("n_tokens"), col("n_chars"),
            expr("n_tokens * 10000 DIV n_words").as("fert_1e4"),
            expr("n_chars * 10000 DIV n_tokens").as("cpt_1e4"))
      }),

    QueryDef(
      "tx45_gate_eval",
      // QUALITY-GATE CALIBRATION EVAL — vs27's planted-ground-truth
      // discipline applied to the FILTER family: nothing graded the
      // tx12/st14 Gopher gate's actual catch rate until now. Four
      // corruption classes are PLANTED from donor docs 0–9, each a
      // real failure mode the gate exists for, each violating a known
      // rule: `trunc` (first 5 tokens — under the 10-word floor),
      // `digit_spam` (appended digit groups SCALED with donor length:
      // r = max(32, ceil(L/10)) groups of " 0123456789" gives
      // n_digits = 10r and len = L + 11r, and the 5·digits > len rule
      // reduces to 39r > L — true by construction since r ≥ L/10 ⟹
      // 39r ≥ 3.9L. The r9 ADVICE closed the old fixed-320-digit
      // plant, which stopped violating once a donor exceeded ~1248
      // chars; the corpus itself is digit-free),
      // `nostop_spam` (50× a non-stopword token — passes length and
      // word-shape, fails ONLY the stopword rule: the template-spam
      // class), `char_smash` (spaces stripped — one 500-char "word").
      // The gate is the SHARED gopherKeep predicate (tx12/st14's, so
      // this eval grades the very definition the routers run), and
      // the published census — per-class n / n_dropped / drop rate on
      // the 1e-4 grid — is itself oracle-replayed: the metric
      // pipeline is bit-exact, not just the number. The spec pins the
      // calibration: every planted class drops at 10000, and `base`
      // drops exactly tx12's keep-complement. Map-only over base ∪
      // 4×10 planted rows; one census rollup.
      Some("""WITH ev AS (
             |  SELECT 'base' AS cls, text FROM documents
             |  UNION ALL
             |  SELECT 'trunc', array_to_string(
             |    list_slice(list_filter(string_split(text, ' '), x -> x <> ''), 1, 5), ' ')
             |  FROM documents WHERE doc_id < 10
             |  UNION ALL
             |  SELECT 'digit_spam', text || repeat(' 0123456789',
             |    CAST(greatest(32, (length(text) + 9) // 10) AS INT))
             |  FROM documents WHERE doc_id < 10
             |  UNION ALL
             |  SELECT 'nostop_spam', trim(repeat('veryspam ', 50))
             |  FROM documents WHERE doc_id < 10
             |  UNION ALL
             |  SELECT 'char_smash', replace(text, ' ', '')
             |  FROM documents WHERE doc_id < 10),
             |m AS (
             |  SELECT cls,
             |    CAST(length(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_words,
             |    CAST(length(replace(text, ' ', '')) AS BIGINT) AS n_chars,
             |    CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS BIGINT) AS n_digits,
             |    CAST(length(text) AS BIGINT) AS len,
             |    CAST(CASE WHEN ' ' || text || ' ' LIKE '% the %' THEN 1 ELSE 0 END
             |       + CASE WHEN ' ' || text || ' ' LIKE '% and %' THEN 1 ELSE 0 END
             |       + CASE WHEN ' ' || text || ' ' LIKE '% of %' THEN 1 ELSE 0 END
             |       + CASE WHEN ' ' || text || ' ' LIKE '% to %' THEN 1 ELSE 0 END
             |       + CASE WHEN ' ' || text || ' ' LIKE '% a %' THEN 1 ELSE 0 END AS BIGINT) AS n_stop
             |  FROM ev),
             |g AS (
             |  SELECT cls,
             |    CASE WHEN n_words BETWEEN 10 AND 1000
             |          AND n_chars >= 2 * n_words AND n_chars <= 12 * n_words
             |          AND 5 * n_digits <= len AND n_stop >= 2
             |         THEN 0 ELSE 1 END AS dropped
             |  FROM m)
             |SELECT cls, CAST(count(*) AS BIGINT) AS n,
             |  CAST(sum(dropped) AS BIGINT) AS n_dropped,
             |  CAST(sum(dropped) * 10000 // count(*) AS BIGINT) AS drop_1e4
             |FROM g GROUP BY cls""".stripMargin),
      (s, d) => {
        val donors = docs(s, d).filter(col("doc_id") < 10)
        val toks = filter(split(col("text"), " "), x => x =!= "")
        val ev = docs(s, d).select(lit("base").as("cls"), col("text"))
          .unionAll(donors.select(lit("trunc").as("cls"),
            concat_ws(" ", slice(toks, 1, 5)).as("text")))
          .unionAll(donors.select(lit("digit_spam").as("cls"),
            concat(col("text"), expr(
              "repeat(' 0123456789', CAST(greatest(32, (length(text) + 9) DIV 10) AS INT))"
            )).as("text")))
          .unionAll(donors.select(lit("nostop_spam").as("cls"),
            lit(("veryspam " * 50).trim).as("text")))
          .unionAll(donors.select(lit("char_smash").as("cls"),
            replace(col("text"), lit(" "), lit("")).as("text")))
        ev.select(col("cls"),
            when(gopherKeep(col("text")), 0L).otherwise(1L).as("dropped"))
          .groupBy("cls")
          .agg(count(lit(1)).cast("long").as("n"),
            sum("dropped").cast("long").as("n_dropped"))
          .withColumn("drop_1e4", expr("n_dropped * 10000 DIV n"))
      }),

    QueryDef(
      "tx46_tokenizer_transfer",
      // TOKENIZER TRANSFER / DRIFT AUDIT: train tx43's 6 merges on
      // HALF the lake (even doc_ids), then tokenize the WHOLE lake by
      // replaying the learned merge SEQUENCE over each word's
      // character split ([[Bpe.tokenizeExpr]]) — the true BPE apply
      // path, which transfers to words the training corpus never saw
      // (tx44's dict join only covers the training vocabulary). The
      // published census — per-half fertility on the 1e-4 grid — is
      // the drift monitor a tokenizer owner watches: fertility rising
      // on the held-out half means the training snapshot no longer
      // matches the lake. Scale shape: training as tx43 (one
      // half-corpus shuffle + vocab-bounded loop); application is
      // MAP-ONLY — a chain of 6 literal replaces per word occurrence,
      // no join anywhere — then one 2-group rollup. The oracle replays
      // training on the restricted corpus AND the apply chain over
      // the full lake's distinct words.
      Some(Bpe.oracleStages(6, " WHERE doc_id % 2 = 0") +
        Bpe.oracleApplyStages(6) + """,
             |tokc AS (SELECT word, CAST(len(string_split(s, ' ')) AS BIGINT) AS n_tok FROM a6),
             |cw AS (
             |  SELECT doc_id % 2 AS half,
             |    unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS word
             |  FROM documents),
             |ag AS (
             |  SELECT half, CAST(count(*) AS BIGINT) AS n_words,
             |    CAST(sum(n_tok) AS BIGINT) AS n_tokens
             |  FROM cw JOIN tokc USING (word) GROUP BY half)
             |SELECT CAST(half AS BIGINT) AS half, n_words, n_tokens,
             |  CAST(n_tokens * 10000 // n_words AS BIGINT) AS fert_1e4
             |FROM ag""".stripMargin),
      (s, d) => {
        val (_, merges) =
          Bpe.train(docs(s, d).filter(col("doc_id") % 2 === 0), 6)
        docs(s, d)
          .select(pmod(col("doc_id"), lit(2)).cast("long").as("half"),
            explode(filter(split(col("text"), " "), x => x =!= "")).as("word"))
          .withColumn("n_tok",
            size(split(Bpe.tokenizeExpr(col("word"), merges), " ")).cast("long"))
          .groupBy("half")
          .agg(count(lit(1)).cast("long").as("n_words"),
            sum("n_tok").cast("long").as("n_tokens"))
          .select(col("half"), col("n_words"), col("n_tokens"),
            expr("n_tokens * 10000 DIV n_words").as("fert_1e4"))
      })
  )

  /** Per-sf cached base text index (input-fixture rationale, like
    * dd17's baseLshIndex: a production probe runs against an index
    * that already exists), built once per sf dir. */
  private[graft] def baseTextIndex(s: SparkSession, d: String): String =
    graft.core.Scratch.fixture(s"tx_base_index:$d") { dir =>
      TextIndex.buildTextIndex(docs(s, d).select("doc_id", "text"),
        s"$dir/index")
      s"$dir/index"
    }

  /** tx41's 3-batch store (batch b = the doc_id % 3 = b class) — the
    * health audit's READ-ONLY input fixture, cached per sf dir. tx40
    * expires (mutates) the same layout, so it builds its own. */
  private def threeBatchTextIndex(s: SparkSession, d: String): String =
    graft.core.Scratch.fixture(s"tx_three_batch_index:$d") { root =>
      val dir = s"$root/index"
      val base = docs(s, d).select("doc_id", "text")
      (0L to 2L).foreach(b => TextIndex.appendTextIndex(
        base.filter(pmod(col("doc_id"), lit(3)) === b), dir, b))
      dir
    }

  /** tx34's 90%-corpus base index (the append verb's input fixture). */
  private def base90TextIndex(s: SparkSession, d: String): String =
    graft.core.Scratch.fixture(s"tx_base90_index:$d") { dir =>
      TextIndex.buildTextIndex(docs(s, d)
        .filter(col("doc_id") % 10 =!= 9).select("doc_id", "text"),
        s"$dir/index")
      s"$dir/index"
    }

  /** Oracle for the [[TextIndex]] probes: tx30's BM25 replay, keyed on
    * the portable md5-low60 TERM HASH exactly as the index is (so even
    * a th collision reproduces identically), over the lake restricted
    * by `corpusWhere`; query terms always come from the unrestricted
    * lake, mirroring [[TextIndex.queryTerms]]. */
  private[graft] def bm25IndexOracle(corpusWhere: String, probeId: Long): String =
    bm25IndexOracleOver(s"SELECT doc_id, text FROM documents$corpusWhere",
      probeId)

  /** Oracle for the BATCH/STREAMING serving paths
    * ([[TextIndex.probeTextIndexMulti]], st19): every probe doc
    * selected by `probeWhere` gets its full th-keyed BM25 top-`k`
    * replayed from raw documents — each query excludes itself,
    * df/stats include it (the single-probe convention). Shared by
    * tx42 (one batch plan) and st19 (micro-batch serving): the two
    * must answer identically because each query is served
    * independently against the same static store. */
  private[graft] def bm25MultiOracle(probeWhere: String, k: Int): String =
    s"""WITH tk AS (
       |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
       |  FROM documents),
       |tk2 AS (SELECT doc_id, toks FROM tk WHERE len(toks) > 0),
       |q AS (SELECT doc_id AS qid,
       |        list_filter(string_split(text, ' '), x -> x <> '') AS toks
       |      FROM documents WHERE $probeWhere),
       |qt AS (SELECT DISTINCT qid,
       |         CAST(concat('0x', substr(md5(unnest(toks)), 1, 15)) AS BIGINT) AS th
       |       FROM q),
       |posts AS (SELECT doc_id,
       |            CAST(concat('0x', substr(md5(unnest(toks)), 1, 15)) AS BIGINT) AS th
       |          FROM tk2),
       |dterms AS (SELECT DISTINCT th FROM qt),
       |qposts AS (SELECT doc_id, th FROM posts JOIN dterms USING (th)),
       |tf AS (SELECT doc_id, th, count(*) AS tf FROM qposts GROUP BY 1, 2),
       |dl AS (SELECT doc_id, len(toks) AS dl FROM tk2),
       |stats AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM dl),
       |dfq AS (SELECT th, count(DISTINCT doc_id) AS df FROM qposts GROUP BY 1),
       |sc AS (
       |  SELECT qt.qid, tf.doc_id,
       |    CAST(floor(ln((n - df + 0.5) / (df + 0.5) + 1.0)
       |      * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))
       |      * 1000000 + 0.5) AS BIGINT) AS q
       |  FROM tf JOIN qt USING (th) JOIN dfq USING (th)
       |  JOIN dl USING (doc_id), stats
       |  WHERE tf.doc_id <> qt.qid),
       |agg AS (SELECT qid, doc_id, sum(q) AS iscore FROM sc GROUP BY 1, 2),
       |r AS (SELECT qid, doc_id, iscore,
       |        row_number() OVER (PARTITION BY qid
       |          ORDER BY iscore DESC, doc_id) AS rn
       |      FROM agg)
       |SELECT qid, doc_id, CAST(rn AS BIGINT) AS rnk,
       |  round(CAST(iscore AS DOUBLE) / 1000000, 4) AS score
       |FROM r WHERE rn <= $k""".stripMargin

  /** [[bm25IndexOracle]] generalized to an arbitrary corpus SELECT
    * yielding (doc_id, text) — tx39's edited lake, tx40's surviving
    * batches; query terms still come from the unrestricted lake. */
  private[graft] def bm25IndexOracleOver(corpusSql: String, probeId: Long): String =
    s"""WITH tk AS (
       |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
       |  FROM ($corpusSql) corpus),
       |tk2 AS (SELECT doc_id, toks FROM tk WHERE len(toks) > 0),
       |terms AS (
       |  SELECT DISTINCT CAST(concat('0x', substr(md5(unnest(toks)), 1, 15)) AS BIGINT) AS th
       |  FROM (SELECT list_filter(string_split(text, ' '), x -> x <> '') AS toks
       |        FROM documents WHERE doc_id = $probeId) q),
       |posts AS (SELECT doc_id,
       |            CAST(concat('0x', substr(md5(unnest(toks)), 1, 15)) AS BIGINT) AS th
       |          FROM tk2),
       |qposts AS (SELECT doc_id, th FROM posts JOIN terms USING (th)),
       |tf AS (SELECT doc_id, th, count(*) AS tf FROM qposts GROUP BY 1, 2),
       |dl AS (SELECT doc_id, len(toks) AS dl FROM tk2),
       |stats AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM dl),
       |dfq AS (SELECT th, count(DISTINCT doc_id) AS df FROM qposts GROUP BY 1),
       |sc AS (
       |  SELECT tf.doc_id,
       |    CAST(floor(ln((n - df + 0.5) / (df + 0.5) + 1.0)
       |      * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))
       |      * 1000000 + 0.5) AS BIGINT) AS q
       |  FROM tf JOIN dfq USING (th) JOIN dl USING (doc_id), stats),
       |agg AS (SELECT doc_id, sum(q) AS iscore FROM sc GROUP BY doc_id),
       |r AS (SELECT doc_id, iscore,
       |        row_number() OVER (ORDER BY iscore DESC, doc_id) AS rn
       |      FROM agg)
       |SELECT doc_id, CAST(rn AS BIGINT) AS rnk,
       |  round(CAST(iscore AS DOUBLE) / 1000000, 4) AS score
       |FROM r WHERE rn <= 10""".stripMargin

  /** tx30's scoring kernel, reusable by the hybrid fusion (vs25):
    * integer-grid Okapi BM25 (k1=1.2, b=0.75) of every corpus doc
    * against the distinct tokens of `queryDocId`'s text. Returns
    * (doc_id, iscore) where iscore = Σ_terms floor(contrib·1e6 + 0.5)
    * as BIGINT — each per-(doc, term) contribution is a pure IEEE
    * expression of exact counts, so the integer sum (and any ranking
    * on it) is independent of summation order, partitioning, and
    * engine. Postings are pruned to the query's terms before any
    * aggregation; corpus stats (N, avgdl) broadcast as one row. */
  def bm25Scores(corpus: org.apache.spark.sql.DataFrame,
      queryDocId: Long): org.apache.spark.sql.DataFrame =
    bm25ScoresMulti(corpus, col("doc_id") === queryDocId).drop("qid")

  /** Batch (multi-query) BM25 — the shape retrieval runs at scale:
    * score every corpus doc against EVERY query doc selected by
    * `probePred` in one plan. Returns (qid, doc_id, iscore). Term df,
    * corpus stats, and the per-(doc, term) grid quantization are
    * query-independent and computed once; the postings join fans out
    * only by the probes' term lists (broadcast — probe batches are
    * small by design). */
  /** The Gopher gate's METRIC columns, named — the single definition
    * of what gets measured. tx12's batch flags project these under
    * their names; [[gopherKeep]] inlines them — either way the same
    * Column expressions, so the two paths cannot drift (ADVICE r8:
    * they used to be duplicated and pinned only by a spec count). */
  private[graft] def gopherMetrics(text: Column): Seq[(String, Column)] = {
    val padded = concat(lit(" "), text, lit(" "))
    Seq(
      "n_words" -> size(split(trim(text), "\\s+")).cast("long"),
      "n_chars" -> length(replace(text, lit(" "), lit(""))).cast("long"),
      "n_digits" ->
        (length(text) - length(regexp_replace(text, "[0-9]", ""))).cast("long"),
      "len" -> length(text).cast("long"),
      "n_stop" -> Seq("the", "and", "of", "to", "a")
        .map(sw => when(padded.contains(s" $sw "), 1L).otherwise(0L))
        .reduce(_ + _))
  }

  /** The four Gopher rule predicates over the [[gopherMetrics]]
    * columns, resolved through `m` (so tx12 applies them to projected
    * metric COLUMNS and [[gopherKeep]] to the inline expressions).
    * Every bound is an integer comparison (see tx12's comment), hence
    * engine-exact. */
  private[graft] def gopherRules(m: String => Column): Seq[(String, Column)] = Seq(
    "ok_nwords" -> m("n_words").between(10, 1000),
    "ok_wordlen" -> (m("n_chars") >= lit(2) * m("n_words") &&
      m("n_chars") <= lit(12) * m("n_words")),
    "ok_symbols" -> (lit(5) * m("n_digits") <= m("len")),
    "ok_stop" -> (m("n_stop") >= 2))

  /** tx12's combined Gopher gate as ONE reusable predicate — the batch
    * flags (tx12) and st14's STREAMING router consume this same
    * definition ([[gopherMetrics]] ∘ [[gopherRules]]), so the
    * keep/drop policy cannot drift between the batch and streaming
    * paths. */
  def gopherKeep(text: Column): Column = {
    val m = gopherMetrics(text).toMap
    gopherRules(m).map(_._2).reduce(_ && _)
  }

  def bm25ScoresMulti(corpus: org.apache.spark.sql.DataFrame,
      probePred: Column): org.apache.spark.sql.DataFrame = {
    val tk2 = corpus
      .select(col("doc_id"),
        filter(split(col("text"), " "), x => x =!= "").as("toks"))
      .filter(size(col("toks")) > 0)
    val terms = tk2.filter(probePred)
      .select(col("doc_id").as("qid"),
        explode(array_distinct(col("toks"))).as("term"))
    val posts = tk2.select(col("doc_id"), explode(col("toks")).as("term"))
    val qposts = posts.join(broadcast(terms), "term")
    val tf = qposts.groupBy("qid", "doc_id", "term").agg(count(lit(1)).as("tf"))
    val dl = tk2.select(col("doc_id"), size(col("toks")).cast("long").as("dl"))
    // single-row corpus stats: broadcast via crossJoin (bounded)
    val stats = dl.agg(count(lit(1)).as("n"), avg(col("dl")).as("avgdl"))
    // df is a TERM property (query-independent): distinct docs per term
    val dfq = qposts.select("term", "doc_id").distinct()
      .groupBy("term").agg(count(lit(1)).as("df"))
    val contrib = log((col("n") - col("df") + lit(0.5)) /
        (col("df") + lit(0.5)) + lit(1.0)) *
      (col("tf") * lit(2.2)) /
      (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl")))
    tf.join(dfq, "term").join(dl, "doc_id").crossJoin(broadcast(stats))
      .select(col("qid"), col("doc_id"),
        floor(contrib * lit(1000000) + lit(0.5)).cast("long").as("q"))
      .groupBy("qid", "doc_id").agg(sum(col("q")).as("iscore"))
  }

  /** EXACT all-pairs containment C(A,B) = |A∩B|/|A| >= 0.9 over word-3-
    * shingle sets, emitted as (a, b, cont_a_in_b) for a < b — tx14's
    * kernel, exposed for spec-level equivalence checks (the asymmetric
    * companion to [[DedupOps.exactJaccardPairs]]).
    *
    * PPJoin prefix filtering, generalized to ASYMMETRIC containment:
    * C >= 0.9 forces overlap alpha = ceil(0.9·na), so under ANY global
    * shingle order the intersection must touch A's first
    * na - alpha + 1 shingles (else at most alpha - 1 remain) — only
    * the CONTAINED side prefixes; the containing side posts its full
    * set. Ordering by (document-frequency ASC, hash) makes prefixes
    * the RARE shingles, so hot boilerplate never multiplies on the
    * prefix side of the candidate join — the same guard that keeps
    * dd06 off the quadratic path at 100 TB. Postings are keyed by
    * xxhash64(shingle) (8-byte shuffles; widen to 128-bit at corpus
    * scale if 2^-64-per-pair odds matter) and the exact verify is the
    * zero-allocation [[graft.functions.SortedIntersectCount]] merge
    * over per-doc hash arrays sorted once at build. */
  def containmentPairs(u: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val sets = Pin.once(u
      .select(col("doc_id"),
        graft.functions.GraftFunctions.word_shingles(col("text"), 3).as("shs"))
      .filter(size(col("shs")) > 0)
      .select(col("doc_id"), size(col("shs")).cast("long").as("n"),
        graft.functions.GraftFunctions.sorted_xxhash64(col("shs")).as("hs")))
    val post = sets.select(col("doc_id"), col("n"), explode(col("hs")).as("sh"))
    val dfreq = post.groupBy("sh").agg(count(lit(1)).as("df"))
    val wDoc = Window.partitionBy("doc_id").orderBy(col("df"), col("sh"))
    val prefixA = post.join(dfreq, "sh")
      .withColumn("rk", row_number().over(wDoc))
      .filter(col("rk") <= col("n") - expr("(9 * n + 9) DIV 10") + 1)
      .select(col("sh"), col("doc_id").as("a"), col("n").as("na"))
    val cand = prefixA
      .join(post.select(col("sh"), col("doc_id").as("b"), col("n").as("nb")), "sh")
      // emitted direction is a < b (a contained in b), and
      // i <= min(na, nb) makes containment impossible unless
      // 10*nb >= 9*na — both prune per posting row, before distinct
      .filter(col("a") < col("b") && lit(10) * col("nb") >= lit(9) * col("na"))
      .select("a", "b").distinct()
    // exact verify on the pinned sorted hash arrays: the integral
    // count from the zero-allocation merge kernel, gated without a
    // float boundary
    cand
      .join(sets.select(col("doc_id").as("a"), col("n").as("na"),
        col("hs").as("ha")), "a")
      .join(sets.select(col("doc_id").as("b"), col("hs").as("hb")), "b")
      .withColumn("i",
        graft.functions.GraftFunctions.sorted_intersect_count(col("ha"), col("hb")))
      .filter(lit(10) * col("i") >= lit(9) * col("na"))
      .select(col("a"), col("b"),
        round(col("i").cast("double") / col("na"), 4).as("cont_a_in_b"))
  }
}

package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{QueryDef, Tables}

/** End-to-end training-data preparation — the ops composed the way a
  * real corpus build runs them, in one declarative plan:
  *
  *   quality gate (tx12's integer-exact Gopher rules)
  *     → exact dedup (dd01's fingerprint + first-survivor window)
  *       → deterministic train/test split (sp05's hash split)
  *         → per-(lang, split) audit counts
  *
  * Everything stays inside one Catalyst plan: the gate is a map-side
  * filter that pushes into the scan, dedup is the single fingerprint
  * shuffle, the split adds no shuffle (pure hash of the id), and the
  * audit is map-side-combinable. At 100 TB this whole pipeline is a
  * scan + ONE shuffle + a small aggregate — no materialization between
  * stages unless the operator (checkpoint/localCheckpoint) is asked
  * for. The id_sum checksum makes the oracle compare sensitive to
  * MEMBERSHIP, not just counts.
  */
object Pipeline {

  private def docs(s: SparkSession, d: String) = Tables(s, d, "documents")

  val defs: Seq[QueryDef] = Seq(

    QueryDef(
      "pp01_training_pipeline",
      Some("""WITH m AS (
             |  SELECT doc_id, lang, text,
             |    CAST(length(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_words,
             |    CAST(length(replace(text, ' ', '')) AS BIGINT) AS n_chars,
             |    CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS BIGINT) AS n_digits,
             |    CAST(length(text) AS BIGINT) AS len,
             |    CAST(CASE WHEN ' ' || text || ' ' LIKE '% the %' THEN 1 ELSE 0 END
             |       + CASE WHEN ' ' || text || ' ' LIKE '% and %' THEN 1 ELSE 0 END
             |       + CASE WHEN ' ' || text || ' ' LIKE '% of %' THEN 1 ELSE 0 END
             |       + CASE WHEN ' ' || text || ' ' LIKE '% to %' THEN 1 ELSE 0 END
             |       + CASE WHEN ' ' || text || ' ' LIKE '% a %' THEN 1 ELSE 0 END AS BIGINT) AS n_stop
             |  FROM documents),
             |kept AS (
             |  SELECT doc_id, lang, text FROM m
             |  WHERE n_words BETWEEN 10 AND 1000
             |    AND n_chars >= 2 * n_words AND n_chars <= 12 * n_words
             |    AND 5 * n_digits <= len AND n_stop >= 2),
             |dedup AS (
             |  SELECT doc_id, lang FROM (
             |    SELECT doc_id, lang,
             |      row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
             |    FROM kept) r WHERE rn = 1),
             |sp AS (
             |  SELECT doc_id, lang,
             |    CASE WHEN md5(CAST(doc_id AS VARCHAR))
             |           < 'cccccccccccccccccccccccccccccccd'
             |         THEN 'train' ELSE 'test' END AS split
             |  FROM dedup)
             |SELECT lang, split, count(*) AS n,
             |  CAST(sum(doc_id) AS BIGINT) AS id_sum
             |FROM sp GROUP BY 1, 2""".stripMargin),
      (s, d) => {
        val padded = concat(lit(" "), col("text"), lit(" "))
        val flag = (c: Column) => when(c, 1L).otherwise(0L)
        val m = docs(s, d).select(
          col("doc_id"), col("lang"), col("text"),
          size(split(trim(col("text")), "\\s+")).cast("long").as("n_words"),
          length(replace(col("text"), lit(" "), lit(""))).cast("long").as("n_chars"),
          (length(col("text")) - length(regexp_replace(col("text"), "[0-9]", "")))
            .cast("long").as("n_digits"),
          length(col("text")).cast("long").as("len"),
          Seq("the", "and", "of", "to", "a")
            .map(sw => flag(padded.contains(s" $sw ")))
            .reduce(_ + _).as("n_stop"))
        val kept = m.filter(
          col("n_words").between(10, 1000) &&
            col("n_chars") >= lit(2) * col("n_words") &&
            col("n_chars") <= lit(12) * col("n_words") &&
            lit(5) * col("n_digits") <= col("len") &&
            col("n_stop") >= 2)
          .select("doc_id", "lang", "text")
        val w = Window.partitionBy(md5(encode(col("text"), "UTF-8"))).orderBy("doc_id")
        val dedup = kept
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select("doc_id", "lang")
        val hkey = md5(col("doc_id").cast("string").cast("binary"))
        dedup
          .withColumn("split",
            when(hkey < lit("cccccccccccccccccccccccccccccccd"), "train")
              .otherwise("test"))
          .groupBy("lang", "split")
          .agg(count(lit(1)).as("n"), sum("doc_id").cast("long").as("id_sum"))
      }),

    QueryDef(
      "pp02_llm_corpus_pipeline",
      // The full LLM-corpus build in ONE declarative plan — every stage
      // is an operator this engine oracles individually, composed the
      // way a production run chains them:
      //
      //   exact dedup (dd01)  → benchmark decontamination (dd10)
      //     → class-balanced cap (sp09) → sequence packing (tx17)
      //       → per-language audit (counts, tokens, bins, id_sum)
      //
      // doc_id < 25 plays the held-out benchmark; the corpus is
      // everything else. Scale shape: dedup is one fingerprint shuffle;
      // decontamination is a broadcast semi-hit plus one per-doc
      // aggregate; the balance cap is one per-class window; packing
      // runs over the SURVIVORS (bounded by classes × cap, here ≤200
      // rows), so its global running-sum window is trivially small —
      // the stages shrink the data before every expensive step, which
      // is exactly why this ordering is the production one. The id_sum
      // checksum pins exact post-pipeline membership.
      Some("""WITH tc AS (
             |  SELECT doc_id, lang, text,
             |    CAST(len(list_filter(string_split_regex(trim(text), '\s+'),
             |      x -> x <> '')) AS BIGINT) AS n_tok
             |  FROM documents),
             |dd AS (
             |  SELECT doc_id, lang, text, n_tok FROM (
             |    SELECT doc_id, lang, text, n_tok,
             |      row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
             |    FROM tc WHERE doc_id >= 25) t WHERE rn = 1),
             |sh AS (
             |  SELECT doc_id,
             |    list_distinct(list_transform(
             |      range(1, greatest(len(toks) - 4, 1) + 1),
             |      i -> array_to_string(
             |             list_slice(toks, i, least(i + 4, len(toks))), ' '))) AS shs
             |  FROM (SELECT doc_id,
             |          list_filter(string_split(text, ' '), x -> x <> '') AS toks
             |        FROM documents)
             |  WHERE len(toks) > 0),
             |bench AS (SELECT DISTINCT unnest(shs) AS s FROM sh WHERE doc_id < 25),
             |cor AS (SELECT d.doc_id, unnest(sh.shs) AS s
             |        FROM dd d JOIN sh ON sh.doc_id = d.doc_id),
             |dec AS (
             |  SELECT c.doc_id, count(*) AS n_spans,
             |    sum(CASE WHEN b.s IS NOT NULL THEN 1 ELSE 0 END) AS n_hit
             |  FROM cor c LEFT JOIN bench b ON c.s = b.s GROUP BY 1),
             |clean AS (
             |  SELECT d.doc_id, d.lang, d.n_tok FROM dd d
             |  JOIN dec ON dec.doc_id = d.doc_id
             |  WHERE 2 * dec.n_hit < dec.n_spans),
             |bal AS (
             |  SELECT doc_id, lang, n_tok FROM (
             |    SELECT doc_id, lang, n_tok,
             |      row_number() OVER (PARTITION BY lang
             |        ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
             |    FROM clean) t WHERE rn <= 40),
             |pk AS (
             |  SELECT doc_id, lang, n_tok,
             |    CAST(coalesce(sum(n_tok) OVER (ORDER BY doc_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             |      AS BIGINT) AS cum
             |  FROM bal WHERE n_tok > 0)
             |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
             |  CAST(sum(n_tok) AS BIGINT) AS n_tok,
             |  CAST(count(DISTINCT cum // 2048) AS BIGINT) AS n_start_bins,
             |  CAST(sum(doc_id) AS BIGINT) AS id_sum
             |FROM pk GROUP BY lang""".stripMargin),
      (s, d) => {
        val base = docs(s, d)
        val tc = base.select(col("doc_id"), col("lang"), col("text"),
          size(filter(split(trim(col("text")), "\\s+"), x => x =!= ""))
            .cast("long").as("n_tok"))
        val wDedup = Window.partitionBy(md5(encode(col("text"), "UTF-8")))
          .orderBy("doc_id")
        val dd = tc.filter(col("doc_id") >= 25)
          .withColumn("rn", row_number().over(wDedup))
          .filter(col("rn") === 1).drop("rn")
        val sets = base.select(col("doc_id"),
          graft.functions.GraftFunctions.word_shingles(col("text"), 5).as("shs"))
          .filter(size(col("shs")) > 0)
        val bench = sets.filter(col("doc_id") < 25)
          .select(explode(col("shs")).as("s")).distinct()
        val cor = dd.select("doc_id").join(sets, "doc_id")
          .select(col("doc_id"), explode(col("shs")).as("s"))
        val dec = cor
          .join(broadcast(bench.withColumn("hit", lit(1))), Seq("s"), "left")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_spans"),
            sum(when(col("hit").isNotNull, 1L).otherwise(0L)).as("n_hit"))
        val clean = dd.join(
          dec.filter(lit(2) * col("n_hit") < col("n_spans")).select("doc_id"),
          "doc_id")
        val wBal = Window.partitionBy("lang")
          .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
        val bal = clean.withColumn("rn", row_number().over(wBal))
          .filter(col("rn") <= 40).select("doc_id", "lang", "n_tok")
        // The packing cumsum input is BOUNDED by construction: the
        // balance stage keeps <= 40 docs per language, so this window
        // runs over <= 40·|langs| rows — the bounded-aggregate window
        // class (cf. ev19/ev38), not a corpus-cardinality one. The
        // constant partition key makes that explicit (and distinguishes
        // it from the unbounded WindowExec-without-partition class that
        // [[PrefixSum]] exists to eliminate — tx17 runs the SAME cumsum
        // corpus-wide and uses it).
        // (doc_id % 1 — constant 0, but non-foldable so the optimizer
        // can't strip the partition spec the way it folds lit(0) away)
        val wCum = Window.partitionBy(pmod(col("doc_id"), lit(1L)))
          .orderBy("doc_id").rowsBetween(Window.unboundedPreceding, -1)
        bal.filter(col("n_tok") > 0)
          .withColumn("cum", coalesce(sum("n_tok").over(wCum), lit(0L)))
          .groupBy("lang")
          .agg(count(lit(1)).as("n_docs"),
            sum("n_tok").cast("long").as("n_tok"),
            countDistinct(expr("cum DIV 2048")).as("n_start_bins"),
            sum("doc_id").cast("long").as("id_sum"))
      }),

    QueryDef(
      "pp03_incremental_update",
      // The DAILY corpus-update pipeline — what actually runs after the
      // initial pp02 build: a new batch (source src1/src2/...) lands,
      // and only IT is processed; the existing lake (src0 plays the
      // corpus) is touched solely through its fingerprint column:
      //
      //   quality gate (length band, map-side filter)
      //     → batch-internal exact dedup (dd01's survivor window)
      //       → anti-join against corpus fingerprints (dd08's
      //         incremental discipline — never rescans corpus text)
      //         → per-source admission audit with id_sum
      //
      // Funnel counts at each stage are carried as flag columns through
      // ONE plan (no double-scan of the batch): admitted = survived all
      // three gates. At 100 TB the corpus side reads ONE pruned column
      // (the fingerprint), the batch side is day-sized, and the only
      // shuffles are the batch-keyed dedup window and the final tiny
      // rollup.
      Some("""WITH batch AS (
             |  SELECT doc_id, source, text, length(text) AS len,
             |    md5(text) AS fp
             |  FROM documents WHERE source <> 'src0'),
             |corpus AS (
             |  SELECT DISTINCT md5(text) AS fp FROM documents
             |  WHERE source = 'src0'),
             |gated AS (
             |  SELECT doc_id, source, fp,
             |    CASE WHEN len BETWEEN 100 AND 10000 THEN 1 ELSE 0 END AS q_ok
             |  FROM batch),
             |sd AS (
             |  SELECT doc_id, source, fp, q_ok,
             |    CASE WHEN q_ok = 1 AND row_number() OVER (
             |        PARTITION BY fp, q_ok ORDER BY doc_id) = 1
             |      THEN 1 ELSE 0 END AS self_first
             |  FROM gated),
             |fin AS (
             |  SELECT s.doc_id, s.source, s.q_ok, s.self_first,
             |    CASE WHEN s.self_first = 1 AND c.fp IS NULL THEN 1 ELSE 0 END
             |      AS admitted
             |  FROM sd s LEFT JOIN corpus c ON s.fp = c.fp)
             |SELECT source, CAST(count(*) AS BIGINT) AS n_batch,
             |  CAST(sum(q_ok) AS BIGINT) AS n_quality,
             |  CAST(sum(self_first) AS BIGINT) AS n_self_deduped,
             |  CAST(sum(admitted) AS BIGINT) AS n_admitted,
             |  CAST(sum(CASE WHEN admitted = 1 THEN doc_id ELSE 0 END)
             |    AS BIGINT) AS id_sum
             |FROM fin GROUP BY source""".stripMargin),
      (s, d) => {
        val base = docs(s, d)
        val batch = base.filter(col("source") =!= "src0")
          .select(col("doc_id"), col("source"), length(col("text")).as("len"),
            md5(encode(col("text"), "UTF-8")).as("fp"))
        val corpus = base.filter(col("source") === "src0")
          .select(md5(encode(col("text"), "UTF-8")).as("fp")).distinct()
        val wSelf = Window.partitionBy("fp", "q_ok").orderBy("doc_id")
        val sd = batch
          .withColumn("q_ok",
            when(col("len").between(100, 10000), 1).otherwise(0))
          .withColumn("self_first",
            when(col("q_ok") === 1 && row_number().over(wSelf) === 1, 1)
              .otherwise(0))
        sd.join(corpus.withColumn("in_corpus", lit(1)), Seq("fp"), "left")
          .withColumn("admitted",
            when(col("self_first") === 1 && col("in_corpus").isNull, 1)
              .otherwise(0))
          .groupBy("source")
          .agg(count(lit(1)).cast("long").as("n_batch"),
            sum("q_ok").cast("long").as("n_quality"),
            sum("self_first").cast("long").as("n_self_deduped"),
            sum("admitted").cast("long").as("n_admitted"),
            sum(when(col("admitted") === 1, col("doc_id")).otherwise(0L))
              .cast("long").as("id_sum"))
      }),

    QueryDef(
      "pp04_eval_build",
      // EVAL-set construction — the held-out side pp01/pp02 don't
      // build, with the two leaks that ruin evals closed IN the plan:
      // benchmark contamination (dd10's integral 2·hit ≥ n span gate
      // against the doc_id < 25 benchmark, broadcast semi-hit) and
      // train/eval group leakage (sp15's source-keyed fold: fold 0 is
      // eval, so a source's near-duplicates can never sit on both
      // sides). Decontaminated survivors split by fold; the per-split
      // census (docs, chars, sources, id_sum) pins membership. ONE
      // plan: shingle scan → broadcast span probe → per-doc rollup →
      // map-side fold tag → tiny aggregate. Scan-dominated like every
      // pp entry — the eval build rides the same pass shapes as the
      // training build it must stay disjoint from.
      Some("""WITH tk AS (
             |  SELECT doc_id, source,
             |    list_filter(string_split(text, ' '), x -> x <> '') AS toks
             |  FROM documents),
             |sh AS (
             |  SELECT doc_id, source,
             |    list_distinct(list_transform(
             |      range(1, greatest(len(toks) - 4, 1) + 1),
             |      i -> array_to_string(
             |             list_slice(toks, i, least(i + 4, len(toks))), ' '))) AS shs
             |  FROM tk WHERE len(toks) > 0),
             |bench AS (
             |  SELECT DISTINCT unnest(shs) AS sh FROM sh WHERE doc_id < 25),
             |corpus AS (
             |  SELECT doc_id, source, unnest(shs) AS sh FROM sh WHERE doc_id >= 25),
             |clean AS (
             |  SELECT c.doc_id, min(c.source) AS source
             |  FROM corpus c LEFT JOIN bench b ON c.sh = b.sh
             |  GROUP BY c.doc_id
             |  HAVING 2 * sum(CASE WHEN b.sh IS NOT NULL THEN 1 ELSE 0 END)
             |         < count(*)),
             |tagged AS (
             |  SELECT doc_id, source,
             |    CASE WHEN CAST('0x' || substr(md5(source), 1, 8) AS BIGINT) % 5 = 0
             |         THEN 'eval' ELSE 'train' END AS split
             |  FROM clean)
             |SELECT split, CAST(count(*) AS BIGINT) AS n_docs,
             |  CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
             |  CAST(sum(doc_id) AS BIGINT) AS id_sum
             |FROM tagged GROUP BY split""".stripMargin),
      (s, d) => {
        val sets = Tables(s, d, "documents")
          .select(col("doc_id"), col("source"),
            graft.functions.GraftFunctions.word_shingles(col("text"), 5).as("shs"))
          .filter(size(col("shs")) > 0)
        val bench = sets.filter(col("doc_id") < 25)
          .select(explode(col("shs")).as("sh")).distinct()
        sets.filter(col("doc_id") >= 25)
          .select(col("doc_id"), col("source"), explode(col("shs")).as("sh"))
          .join(broadcast(bench.withColumn("hit_mark", lit(1))), Seq("sh"), "left")
          .groupBy("doc_id")
          .agg(min(col("source")).as("source"),
            count(lit(1)).as("n_spans"),
            sum(when(col("hit_mark").isNotNull, 1L).otherwise(0L)).as("n_hit"))
          .filter(lit(2) * col("n_hit") < col("n_spans"))
          .select(col("doc_id"),
            when((conv(substring(md5(col("source").cast("binary")), 1, 8), 16, 10)
              .cast("long") % 5) === 0, "eval").otherwise("train").as("split"),
            col("source"))
          .groupBy("split")
          .agg(count(lit(1)).cast("long").as("n_docs"),
            countDistinct("source").cast("long").as("n_sources"),
            sum("doc_id").cast("long").as("id_sum"))
      }),

    QueryDef(
      "pp05_mixture_schedule",
      // Domain-mixing schedule for a token-budgeted training run: give
      // every source an EQUAL share of a budget set at half the corpus
      // (the DoReMi-style reweighting shape with static uniform
      // weights). Per source: its token mass, the integer target, the
      // sampling rate (down-sample when rate<1) and the epoch count
      // (over-sample when rate>1, ceil'd). Token counts, the budget,
      // and targets are exact BIGINTs — ceil via (a+b-1) DIV b — so
      // the only float is one final rounded division per row. One
      // map-combinable rollup on source + a broadcast single-row
      // total; at 100 TB this is the planner step that decides how
      // many times each domain shard gets replayed.
      Some("""WITH t AS (
             |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
             |    CAST(sum(length(string_split_regex(trim(text), '\s+'))) AS BIGINT) AS tokens
             |  FROM documents GROUP BY source),
             |tot AS (SELECT CAST(sum(tokens) AS BIGINT) AS total,
             |               CAST(count(*) AS BIGINT) AS n_src FROM t),
             |x AS (SELECT source, n_docs, tokens,
             |        (total // 2) // n_src AS target_tokens FROM t, tot)
             |SELECT source, n_docs, tokens,
             |  CAST(target_tokens AS BIGINT) AS target_tokens,
             |  round(CAST(target_tokens AS DOUBLE) / tokens, 4) AS sample_rate,
             |  CAST((target_tokens + tokens - 1) // tokens AS BIGINT) AS epochs
             |FROM x""".stripMargin),
      (s, d) => {
        val t = docs(s, d)
          .groupBy("source")
          .agg(count(lit(1)).cast("long").as("n_docs"),
            sum(size(split(trim(col("text")), "\\s+"))).cast("long").as("tokens"))
        val tot = t.agg(sum("tokens").as("total"), count(lit(1)).as("n_src"))
        t.crossJoin(broadcast(tot))
          .withColumn("target_tokens", expr("(total DIV 2) DIV n_src").cast("long"))
          .select(col("source"), col("n_docs"), col("tokens"), col("target_tokens"),
            round(col("target_tokens").cast("double") / col("tokens"), 4).as("sample_rate"),
            expr("(target_tokens + tokens - 1) DIV tokens").cast("long").as("epochs"))
      }),

    QueryDef(
      "pp06_incremental_corpus",
      // The INCREMENTAL corpus build end-to-end — every index-lifecycle
      // verb composed the way a day-2 production run chains them, in
      // one query, so cross-verb interface drift the per-verb gates
      // (dd17/dd20/dd23/sp11) cannot see is caught here:
      //
      //   takedown: every 13th lake doc is removed — dd20's
      //     content-addressed DELETE prunes the persisted LSH index
      //     (the base index is the shared input fixture)
      //   ingest: dd17's batch (every 10th doc re-arriving under a new
      //     id) probes the PRUNED index against survivors ∪ batch
      //   admission: a batch doc named as the larger end of any
      //     J >= 0.8 probe pair is REJECTED (it duplicates surviving
      //     content, or a smaller-id batch doc — the greedy-by-id
      //     representative rule); docs whose only copy was taken down
      //     are genuinely new and must be ADMITTED, so deletion
      //     changes admission, not just postings
      //   corpus v2 = survivors ∪ admitted
      //   split: dd23's leak-free discipline on corpus v2 — EXACT
      //     PPJoin edges, connected components, cluster-keyed hash
      //     split (LSH missing a pair must not leak: the split stage
      //     re-derives edges exactly)
      //   pack: sp11's snake-draft curriculum deal, PER SPLIT (a shard
      //     never mixes train and test), via the distributed two-phase
      //     prefix rank — no single-partition window
      //
      // The oracle replays the whole chain from scratch in DuckDB —
      // the staged engine pipeline is held to the one-shot
      // full-recompute answer, membership-sensitive via per-shard
      // id_sum. Scale: every stage is a proven 100 TB shape — index
      // delete O(takedown), probe O(batch + touched postings), exact
      // edges via the never-all-pairs posting join, CC O(diameter)
      // rounds, pack two-phase rank; the only materializations are
      // the index write (the verb) and the per-split rank inputs.
      Some("""WITH sv AS (
             |  SELECT doc_id, text, n_chars FROM documents WHERE doc_id % 13 <> 0),
             |bt AS (
             |  SELECT doc_id + 100000 AS doc_id, text, n_chars
             |  FROM documents WHERE doc_id % 10 = 0),
             |u AS (SELECT doc_id, text FROM sv
             |      UNION ALL SELECT doc_id, text FROM bt),
             |tk AS (
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
             |  FROM cand JOIN sh sa ON sa.doc_id = a JOIN sh sb ON sb.doc_id = b),
             |rej AS (
             |  SELECT DISTINCT b AS doc_id FROM v
             |  WHERE CAST(i AS DOUBLE) / (na + nb - i) >= 0.8 AND b >= 100000),
             |corpus AS (
             |  SELECT doc_id, n_chars FROM sv
             |  UNION ALL
             |  SELECT doc_id, n_chars FROM bt
             |  WHERE NOT EXISTS (SELECT 1 FROM rej WHERE rej.doc_id = bt.doc_id)),
             |post AS (
             |  SELECT s2.doc_id, unnest(s2.shs) AS s
             |  FROM sh s2 JOIN corpus c ON c.doc_id = s2.doc_id),
             |inter AS (
             |  SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS i
             |  FROM post x JOIN post y ON x.s = y.s AND x.doc_id < y.doc_id
             |  GROUP BY 1, 2),
             |sz AS (SELECT s2.doc_id, len(s2.shs) AS n
             |       FROM sh s2 JOIN corpus c ON c.doc_id = s2.doc_id),
             |edges AS (
             |  SELECT a, b FROM inter
             |  JOIN sz sa ON sa.doc_id = a
             |  JOIN sz sb ON sb.doc_id = b
             |  WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.8),
             |sym AS (SELECT a AS src, b AS dst FROM edges
             |        UNION ALL SELECT b, a FROM edges),
             |reach AS (
             |  WITH RECURSIVE r(node, lbl) AS (
             |    SELECT doc_id, doc_id FROM corpus
             |    UNION
             |    SELECT s.src, r.lbl FROM r JOIN sym s ON s.dst = r.node)
             |  SELECT node, lbl FROM r),
             |cc AS (SELECT node AS doc_id, min(lbl) AS canonical
             |       FROM reach GROUP BY node),
             |spl AS (
             |  SELECT doc_id,
             |    CASE WHEN CAST(concat('0x',
             |        substr(md5(CAST(canonical AS VARCHAR)), 1, 15)) AS BIGINT)
             |        % 10 < 8
             |      THEN 'train' ELSE 'test' END AS split
             |  FROM cc),
             |rk AS (
             |  SELECT c.doc_id, c.n_chars, spl.split,
             |    row_number() OVER (PARTITION BY spl.split
             |      ORDER BY c.n_chars DESC, c.doc_id) - 1 AS r0
             |  FROM corpus c JOIN spl USING (doc_id)),
             |a2 AS (
             |  SELECT split, doc_id, n_chars,
             |    CASE WHEN (r0 // 8) % 2 = 0 THEN r0 % 8
             |         ELSE 7 - (r0 % 8) END AS shard
             |  FROM rk)
             |SELECT split, CAST(shard AS BIGINT) AS shard,
             |  CAST(count(*) AS BIGINT) AS n,
             |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
             |  CAST(sum(doc_id) AS BIGINT) AS id_sum
             |FROM a2 GROUP BY 1, 2""".stripMargin),
      (s, d) => {
        val all = docs(s, d).select("doc_id", "text", "n_chars")
        val takedown = all.filter(col("doc_id") % 13 === 0)
          .select("doc_id", "text")
        val survivors = all.filter(col("doc_id") % 13 =!= 0)
        val batch = all.filter(col("doc_id") % 10 === 0)
          .select((col("doc_id") + lit(100000L)).as("doc_id"),
            col("text"), col("n_chars"))
        // takedown first: the pruned index is what the ingest probes
        graft.core.PhaseTimer.phase("delete") {
          DedupOps.writeLshIndexRows(
            DedupOps.lshIndexDelete(
              s.table(DedupOps.baseLshIndex(s, d)),
              DedupOps.lshBandIndex(takedown)),
            "pp06_index_v2",
            graft.core.Scratch.dir("graft_pp06_idx_") + "/index_v2")
        }
        val pairs = DedupOps.lshIndexProbe(
          batch.select("doc_id", "text"),
          s.table("pp06_index_v2"),
          survivors.select("doc_id", "text")
            .unionByName(batch.select("doc_id", "text")))
        val admitted = batch.join(
          pairs.select(col("b").as("doc_id")).distinct(),
          Seq("doc_id"), "left_anti")
        // corpus v2 feeds FOUR consumers (edge derivation, CC nodes,
        // the split join, and both packs through it) — without a pin
        // each would re-execute the whole probe/admission pipeline
        val corpus = Pin.once(survivors.unionByName(admitted))
        val edges = DedupOps
          .exactJaccardPairs(corpus.select("doc_id", "text")).select("a", "b")
        val cc = DedupOps.connectedComponents(
          corpus.select(col("doc_id").as("id")), edges)
        // pinned: both packs filter it, and CC's label frame upstream
        // is itself multi-round
        val withSplit = Pin.once(corpus.join(
          cc.select(col("id").as("doc_id"),
            when(pmod(DedupOps.portableHash60(col("label").cast("string")),
              lit(10)) < 8, lit("train")).otherwise(lit("test")).as("split")),
          "doc_id"))
        def packed(side: DataFrame, name: String): DataFrame =
          PrefixSum.byLongKey(
              side.withColumn("negc", -col("n_chars").cast("long")),
              "negc", Seq(col("doc_id")), lit(1L), "r0", inclusive = false)
            .withColumn("shard",
              when(expr("(r0 DIV 8) % 2") === 0, col("r0") % 8)
                .otherwise(lit(7) - col("r0") % 8))
            .groupBy(col("shard").cast("long").as("shard"))
            .agg(count(lit(1)).as("n"),
              sum("n_chars").cast("long").as("sum_chars"),
              sum("doc_id").cast("long").as("id_sum"))
            .withColumn("split", lit(name))
        packed(withSplit.filter(col("split") === "train"), "train")
          .unionByName(packed(withSplit.filter(col("split") === "test"), "test"))
          .select("split", "shard", "n", "sum_chars", "id_sum")
      }),

    QueryDef(
      "pp07_temperature_mix_build",
      // The temperature mixture BUILT, not just planned: sp21's α=0.5
      // quotas (Σ = total/4 exactly) actually SELECT the corpus — per
      // language, the quota-many docs with the smallest md5(doc_id)
      // keys (sp01/sp02's retry-stable selection discipline: a pure
      // content hash, so re-runs, retries and engines pick the same
      // docs). The census proves the build hit every quota exactly and
      // pins membership with id_sum. Scale: the quota table is 5 rows
      // (broadcast); selection is sp02's shape — ONE shuffle, each
      // language's rank window hash-partitions to its own task chain;
      // everything upstream of the window is the same map-side pass
      // sp21 runs. This closes the mixture loop the way pp06 closes
      // the index-lifecycle loop: plan → build → audited artifact.
      Some("""WITH t AS (
             |  SELECT lang, CAST(count(*) AS BIGINT) AS n
             |  FROM documents GROUP BY 1),
             |tot AS (SELECT CAST(sum(n) AS BIGINT) AS total,
             |               CAST(sum(n) // 4 AS BIGINT) AS b FROM t),
             |w AS (SELECT lang, n,
             |        CAST(floor(sqrt(CAST(n AS DOUBLE)) * 1000000 + 0.5) AS BIGINT) AS wt
             |      FROM t),
             |ws AS (SELECT CAST(sum(wt) AS BIGINT) AS wsum FROM w),
             |x AS (SELECT lang, n, wt,
             |        CAST((CAST(b AS HUGEINT) * wt) // wsum AS BIGINT) AS f,
             |        CAST(CAST(b AS HUGEINT) * wt
             |          - ((CAST(b AS HUGEINT) * wt) // wsum) * wsum AS BIGINT) AS r
             |      FROM w, tot, ws),
             |l AS (SELECT CAST(b - (SELECT sum(f) FROM x) AS BIGINT) AS leftover
             |      FROM tot),
             |rk AS (SELECT lang, n, wt, f,
             |         row_number() OVER (ORDER BY r DESC, lang) AS rn
             |       FROM x),
             |q AS (SELECT lang,
             |        CAST(f + CASE WHEN rn <= leftover THEN 1 ELSE 0 END AS BIGINT) AS quota
             |      FROM rk, l),
             |sel AS (
             |  SELECT lang, doc_id,
             |    row_number() OVER (PARTITION BY lang
             |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
             |  FROM documents)
             |SELECT s.lang, q.quota,
             |  CAST(count(*) AS BIGINT) AS n_selected,
             |  CAST(sum(s.doc_id) AS BIGINT) AS id_sum
             |FROM sel s JOIN q USING (lang)
             |WHERE s.rn <= q.quota
             |GROUP BY 1, 2""".stripMargin),
      (s, d) => {
        val q = SampleOps.temperatureQuotas(s, d).select("lang", "quota")
        val w = Window.partitionBy("lang")
          .orderBy(col("h"), col("doc_id"))
        docs(s, d).select(col("doc_id"), col("lang"))
          .withColumn("h", md5(col("doc_id").cast("string").cast("binary")))
          .withColumn("rn", row_number().over(w))
          .join(broadcast(q), "lang")
          .filter(col("rn") <= col("quota"))
          .groupBy("lang", "quota")
          .agg(count(lit(1)).as("n_selected"),
            sum("doc_id").cast("long").as("id_sum"))
      }),

    QueryDef(
      "pp08_day2_index_serving",
      // DAY-2 OF THE SERVING STORY, composed across index FAMILIES:
      // pp06 composes the LSH lifecycle and vs29 serves read-only from
      // pristine indexes — this runs a full maintenance day and then
      // serves from the UPDATED stores, the chain where cross-family
      // drift lives (a stats-log row that ignores tombstone mass, a
      // tombstone the dense side applies and the text side loses):
      //   1. INGEST: the text index starts at 90% of the corpus and
      //      absorbs the day's 10% batch (tx34's append verb — one
      //      batch= shard + one stats-log row, nothing rewritten);
      //   2. TAKEDOWN: every (id % 25 = 4) doc/vector is removed from
      //      BOTH stores — text via the merge-on-read tombstone
      //      sidecar (tx35), vectors via tombstoneIvfDelete (vs24) —
      //      the rule intersects BOTH the 90% base and the fresh
      //      batch (id ≡ 4 mod 25 ∧ id ≡ 9 mod 10 has solutions, e.g.
      //      29), so takedowns must reach rows the append just wrote;
      //   3. SERVE: vs29's RRF answer for probe 42, both legs read
      //      from the post-maintenance indexes with their sidecars
      //      live (no vacuum — serving between compactions is the
      //      production steady state).
      // The oracle replays the whole day from raw tables: BM25 over
      // the survivor lake (N/avgdl/df/tf all post-append minus
      // tombstone mass) fused with the cell-restricted cosine top-50
      // over surviving vectors under the FROZEN codebook (vec 4 is
      // taken down yet stays a centroid — the codebook is derived
      // data). Integer-grid RRF: Σ 10⁹ DIV (60 + rank).
      Some(s"""WITH tk AS (
             |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
             |  FROM documents WHERE doc_id % 25 <> 4),
             |tk2 AS (SELECT doc_id, toks FROM tk WHERE len(toks) > 0),
             |terms AS (
             |  SELECT DISTINCT CAST(concat('0x', substr(md5(unnest(toks)), 1, 15)) AS BIGINT) AS th
             |  FROM (SELECT list_filter(string_split(text, ' '), x -> x <> '') AS toks
             |        FROM documents WHERE doc_id = 42) q),
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
             |bagg AS (SELECT doc_id, sum(q) AS iscore FROM sc
             |         WHERE doc_id <> 42 GROUP BY doc_id),
             |btop AS (SELECT doc_id,
             |           row_number() OVER (ORDER BY iscore DESC, doc_id) AS r
             |         FROM bagg QUALIFY r <= 50),
             |e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
             |c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 8),
             |a AS (SELECT e.vec_id, cid,
             |        row_number() OVER (PARTITION BY e.vec_id
             |          ORDER BY floor(list_cosine_similarity(v, cv) * 1000000 + 0.5) DESC, cid) AS arn
             |      FROM e, c),
             |asg AS (SELECT vec_id, cid FROM a WHERE arn = 1),
             |pcell AS (SELECT cid FROM asg WHERE vec_id = 42),
             |p AS (SELECT v AS pv FROM e WHERE vec_id = 42),
             |ctop AS (SELECT e.vec_id AS doc_id,
             |           row_number() OVER (
             |             ORDER BY list_cosine_similarity(pv, e.v) DESC, e.vec_id) AS r
             |         FROM e JOIN asg ON e.vec_id = asg.vec_id
             |         JOIN pcell ON asg.cid = pcell.cid, p
             |         WHERE e.vec_id <> 42 AND e.vec_id % 25 <> 4
             |         QUALIFY r <= 50),
             |fused AS (
             |  SELECT doc_id,
             |    coalesce(1000000000 // (60 + b.r), 0)
             |      + coalesce(1000000000 // (60 + c2.r), 0) AS rrf
             |  FROM btop b FULL OUTER JOIN ctop c2 USING (doc_id)),
             |r AS (SELECT doc_id, rrf,
             |        row_number() OVER (ORDER BY rrf DESC, doc_id) AS rn
             |      FROM fused)
             |SELECT doc_id, CAST(rn AS BIGINT) AS rnk, CAST(rrf AS BIGINT) AS rrf
             |FROM r WHERE rn <= 10""".stripMargin),
      (s, d) => {
        import graft.ops.PrefixSum.onePart
        val base = docs(s, d).select("doc_id", "text")
        // day 2 of the text index: 90% base, ingest the 10% batch,
        // then takedowns into a live merge-on-read sidecar
        val ti = graft.core.Scratch.dir("graft_pp08_ti_") + "/index"
        TextIndex.buildTextIndex(base.filter(col("doc_id") % 10 =!= 9), ti)
        TextIndex.appendTextIndex(base.filter(col("doc_id") % 10 === 9),
          ti, batch = 1L)
        val tombs = graft.core.Scratch.dir("graft_pp08_tomb_") + "/t"
        TextIndex.deleteFromTextIndex(
          base.filter(col("doc_id") % 25 === 4), tombs)
        val btop = TextIndex.probeTextIndex(s, ti,
            TextIndex.queryTerms(docs(s, d), 42), k = 50,
            tombsPath = Some(tombs), excludeDocId = Some(42L))
          .select(col("doc_id"), col("rnk").as("rb"))
        // day 2 of the IVF index: build, take down the same rule's
        // vectors (frozen codebook), serve through the live sidecar
        val e = Tables(s, d, "embeddings").select(col("vec_id"),
          col("embedding").cast("array<double>").as("v"))
        val centroids = e.filter(col("vec_id") < 8)
          .select(col("vec_id").as("cid"), col("v").as("cv"))
        val vi = graft.core.Scratch.dir("graft_pp08_vi_") + "/index"
        VectorOps.writeIvfIndex(e, centroids, vi)
        VectorOps.tombstoneIvfDelete(
          e.filter(col("vec_id") % 25 === 4), centroids, vi)
        val probes = VectorOps.assignClusters(
            e.filter(col("vec_id") === 42), centroids)
          .select(col("vec_id").as("probe_id"), col("v").as("pv"),
            col("cid").as("pcid"))
        val ctop = VectorOps.probeIvfIndex(s, vi, probes, k = 50)
          .select(col("neighbor_id").as("doc_id"), col("rnk").as("rc"))
        val wF = Window.partitionBy(onePart(col("doc_id")))
          .orderBy(col("rrf").desc, col("doc_id"))
        btop.join(ctop, Seq("doc_id"), "full_outer")
          .select(col("doc_id"),
            (coalesce(expr("1000000000 DIV (60 + rb)"), lit(0L)) +
             coalesce(expr("1000000000 DIV (60 + rc)"), lit(0L))).as("rrf"))
          .orderBy(col("rrf").desc, col("doc_id")).limit(10)
          .withColumn("rn", row_number().over(wF))
          .select(col("doc_id"), col("rn").cast("long").as("rnk"),
            col("rrf").cast("long").as("rrf"))
      }),

    QueryDef(
      "pp09_rag_passage_pipeline",
      // RAG CORPUS BUILD end-to-end: tx37's sliding-window chunking
      // (W = 32, S = 24) → exact passage dedup (dd01's
      // fingerprint-window idiom — overlapping strides re-generate
      // identical boilerplate windows, so dedup BEFORE indexing is
      // what keeps a passage store honest) → a [[TextIndex]] BM25
      // store built over the PASSAGE corpus → doc-level query served
      // passage-granular. The point of composing it: the index kernel
      // is corpus-agnostic — the same build/probe verbs run over a
      // DERIVED corpus whose rows (chunk_id = doc_id·100000 + pid)
      // never existed in any table, with N = deduped passages and
      // avgdl = mean passage length, which is exactly how a retrieval
      // tier indexes passages rather than documents. Every stage is
      // the already-audited shape: map-only chunk generation, one
      // fingerprint shuffle, the index build's posting rollup, a
      // pruned probe. The oracle replays chunking, dedup, and
      // retrieval from raw documents; probe = doc 43's full text,
      // top-10 passages.
      Some(TextOps.bm25IndexOracleOver(
        """WITH tk AS (
          |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
          |  FROM documents),
          |t2 AS (SELECT doc_id, toks, len(toks) AS n FROM tk WHERE len(toks) > 0),
          |ch AS (
          |  SELECT doc_id * 100000 + (st - 1) // 24 + 1 AS chunk_id,
          |    array_to_string(list_slice(toks, CAST(st AS INT),
          |      CAST(least(CAST(st + 31 AS BIGINT), n) AS INT)), ' ') AS ctext
          |  FROM t2, unnest(range(1, n + 1, 24)) u(st)),
          |ded AS (
          |  SELECT chunk_id, ctext FROM (
          |    SELECT chunk_id, ctext,
          |      row_number() OVER (PARTITION BY md5(ctext)
          |        ORDER BY chunk_id) AS rn
          |    FROM ch) r WHERE rn = 1)
          |SELECT chunk_id AS doc_id, ctext AS text FROM ded""".stripMargin,
        probeId = 43)),
      (s, d) => {
        val tk = docs(s, d)
          .select(col("doc_id"),
            filter(split(col("text"), " "), x => x =!= "").as("toks"))
          .filter(size(col("toks")) > 0)
          .withColumn("n", size(col("toks")).cast("long"))
        val chunks = tk
          .select(col("doc_id"),
            posexplode(transform(
              sequence(lit(1L), col("n"), lit(24L)),
              st => concat_ws(" ", slice(col("toks"),
                st.cast("int"), lit(32))))))
          .select((col("doc_id") * 100000 + col("pos") + 1).as("doc_id"),
            col("col").as("text"))
        val w = Window.partitionBy(md5(col("text"))).orderBy("doc_id")
        val dedup = chunks.withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1).select("doc_id", "text")
        val idx = graft.core.Scratch.dir("graft_pp09_idx_") + "/index"
        TextIndex.buildTextIndex(dedup, idx)
        TextIndex.probeTextIndex(s, idx,
          TextIndex.queryTerms(docs(s, d), 43), k = 10)
      }),

    QueryDef(
      "pp10_tokenizer_pipeline",
      // TOKENIZER PIPELINE end to end — the day-0 build a pretraining
      // run starts with: TRAIN the tokenizer (tx43's 6 BPE merges over
      // the word-frequency dict), TOKENIZE the corpus under the
      // learned merges (tx44's broadcast dict join, per-DOC totals
      // this time, empty docs kept at t = 0 via the left join), then
      // PACK the BPE-token stream into 256-token contexts (sp19's
      // concat-then-chunk census over the distributed prefix sum).
      // The composition is what the per-op gates can't see: a word
      // the dict join drops, a zero-token doc the packer loses, or a
      // train/tokenize drift all break the census. Scale shape: one
      // corpus word-count shuffle (training), one corpus explode +
      // broadcast join + per-doc rollup (tokenization), one two-phase
      // prefix sum (packing) — no stage ever holds row-scale data in
      // one task.
      Some(Bpe.oracleStages(6) + """,
             |tokc AS (SELECT word, CAST(len(string_split(s, ' ')) AS BIGINT) AS n_tok FROM d6),
             |wt AS (
             |  SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS word
             |  FROM documents),
             |dt AS (SELECT doc_id, CAST(sum(n_tok) AS BIGINT) AS t
             |       FROM wt JOIN tokc USING (word) GROUP BY doc_id),
             |t AS (SELECT d.doc_id, CAST(coalesce(dt.t, 0) AS BIGINT) AS t
             |      FROM documents d LEFT JOIN dt USING (doc_id)),
             |p AS (
             |  SELECT doc_id, t,
             |    coalesce(sum(t) OVER (ORDER BY doc_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS p
             |  FROM t),
             |tot AS (SELECT CAST(sum(t) AS BIGINT) AS total_tokens,
             |               CAST((sum(t) + 255) // 256 AS BIGINT) AS n_bins
             |        FROM t),
             |x AS (
             |  SELECT doc_id, t,
             |    CASE WHEN t = 0 THEN 0
             |         ELSE ((p + t - 1) // 256) - (p // 256) END AS spans
             |  FROM p)
             |SELECT CAST(spans AS BIGINT) AS spans,
             |  CAST(count(*) AS BIGINT) AS n_docs,
             |  CAST(sum(t) AS BIGINT) AS sum_tokens,
             |  CAST(sum(doc_id) AS BIGINT) AS id_sum,
             |  n_bins, total_tokens,
             |  round(CAST(total_tokens AS DOUBLE) / (n_bins * 256), 4) AS fill
             |FROM x, tot GROUP BY 1, 5, 6, 7""".stripMargin),
      (s, d) => {
        val (dict, _) = Bpe.train(docs(s, d), 6)
        val perWord = dict.select(col("word"),
          size(split(col("s"), " ")).cast("long").as("n_tok"))
        val dt = docs(s, d)
          .select(col("doc_id"),
            explode(filter(split(col("text"), " "), x => x =!= "")).as("word"))
          .join(broadcast(perWord), Seq("word"))
          .groupBy("doc_id").agg(sum("n_tok").cast("long").as("t0"))
        val t = docs(s, d).select("doc_id")
          .join(dt, Seq("doc_id"), "left")
          .select(col("doc_id"), coalesce(col("t0"), lit(0L)).as("t"))
        val p = PrefixSum.byLongKey(t, "doc_id", Seq.empty,
          col("t"), "p", inclusive = false)
        val tot = t.agg(sum("t").cast("long").as("total_tokens"))
          .withColumn("n_bins", expr("(total_tokens + 255) DIV 256"))
        p.withColumn("spans",
            when(col("t") === 0, lit(0L))
              .otherwise(expr("((p + t - 1) DIV 256) - (p DIV 256)")))
          .crossJoin(broadcast(tot))
          .groupBy(col("spans").cast("long").as("spans"),
            col("n_bins"), col("total_tokens"))
          .agg(count(lit(1)).as("n_docs"),
            sum("t").cast("long").as("sum_tokens"),
            sum("doc_id").cast("long").as("id_sum"))
          .withColumn("fill", round(col("total_tokens").cast("double")
            / (col("n_bins") * 256), 4))
          .select("spans", "n_docs", "sum_tokens", "id_sum",
            "n_bins", "total_tokens", "fill")
      }),

    QueryDef(
      "pp11_media_pipeline",
      // MEDIA-LAKE DAY-1 CURATION — pp02's composition discipline for
      // the asset lake, chaining the whole mm family in one plan: the
      // day's ingest holds the lake plus EXACT re-uploads (every 10th
      // asset, same bytes under a new id) and RE-ENCODED re-uploads
      // (every 15th, mm16's 7-byte trailer — new digest, near-same
      // bytes). Stage 1, exact tier (mm14's digest): md5 of the
      // payload bytes map-side, keeper = min doc_id per digest — the
      // +100k copies fold into their sources. Stage 2, near tier
      // (mm16's kernel over the exact survivors): byte-window MinHash
      // pairs at j >= 0.8 become edges, connected components close
      // them transitively (a re-encode of a re-encode must still fold
      // — dd05's argument), final keeper = the asset whose component
      // label is its own id. Stage 3, the training-ready census: per
      // source, raw arrivals / exact survivors / final keepers / the
      // keepers' ViT patch budget (mm15's integer grid over the
      // decode-stub dims) — the numbers a VLM data team reports after
      // every ingest day. The oracle replays all three stages from
      // raw tables (digest window, the full MinHash chain, a
      // recursive-CTE closure, the patch grid), so the composition —
      // not just each stage — is held bit-exact.
      Some("""WITH u0 AS (
             |  SELECT doc_id, source, text FROM documents
             |  UNION ALL
             |  SELECT doc_id + 100000, source, text
             |  FROM documents WHERE doc_id % 10 = 0
             |  UNION ALL
             |  SELECT doc_id + 200000, source, text || ' v2edit'
             |  FROM documents WHERE doc_id % 15 = 0),
             |u1 AS (
             |  SELECT doc_id, source, text, encode(text) AS payload
             |  FROM u0 WHERE octet_length(encode(text)) > 0),
             |ek AS (
             |  SELECT doc_id, source, payload,
             |    row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
             |  FROM u1),
             |sv AS (SELECT doc_id, source, payload FROM ek WHERE rn = 1),
             |m AS (
             |  SELECT doc_id, lower(hex(payload)) AS hx,
             |    octet_length(payload) AS n
             |  FROM sv),
             |sh AS (
             |  SELECT doc_id, list_distinct(list_transform(range(0, (n + 3) // 4),
             |    i -> substr(hx, CAST(i * 8 + 1 AS INT), 16))) AS shs
             |  FROM m),
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
             |pairs AS (
             |  SELECT a, b FROM (
             |    SELECT a, b, len(list_intersect(sa.shs, sb.shs)) AS i,
             |      len(sa.shs) AS na, len(sb.shs) AS nb
             |    FROM cand JOIN sh sa ON sa.doc_id = a JOIN sh sb ON sb.doc_id = b)
             |  WHERE CAST(i AS DOUBLE) / (na + nb - i) >= 0.8),
             |sym AS (SELECT a AS src, b AS dst FROM pairs
             |        UNION ALL SELECT b, a FROM pairs),
             |reach AS (
             |  WITH RECURSIVE r(node, lbl) AS (
             |    SELECT doc_id, doc_id FROM sv
             |    UNION
             |    SELECT s.src, r.lbl FROM r JOIN sym s ON s.dst = r.node)
             |  SELECT node, min(lbl) AS lbl FROM r GROUP BY node),
             |kept AS (
             |  SELECT sv.doc_id, sv.source, m.n
             |  FROM sv JOIN reach ON reach.node = sv.doc_id
             |  JOIN m ON m.doc_id = sv.doc_id
             |  WHERE reach.lbl = sv.doc_id),
             |raw AS (SELECT source, CAST(count(*) AS BIGINT) AS n_raw
             |        FROM u1 GROUP BY source),
             |ex AS (SELECT source, CAST(count(*) AS BIGINT) AS n_exact_kept
             |       FROM sv GROUP BY source),
             |fin AS (
             |  SELECT source, CAST(count(*) AS BIGINT) AS n_final_kept,
             |    CAST(sum(((n % 1920 + 31) // 32) * ((n % 1080 + 31) // 32)) AS BIGINT) AS patch_sum
             |  FROM kept GROUP BY source)
             |SELECT source, n_raw, n_exact_kept, n_final_kept, patch_sum
             |FROM raw JOIN ex USING (source) JOIN fin USING (source)""".stripMargin),
      (s, d) => {
        val lake = Tables(s, d, "documents").select(col("doc_id"),
          col("source"), encode(col("text"), "UTF-8").as("payload"))
        val u = lake
          .unionByName(lake.filter(pmod(col("doc_id"), lit(10)) === 0)
            .select((col("doc_id") + lit(100000L)).as("doc_id"),
              col("source"), col("payload")))
          .unionByName(lake.filter(pmod(col("doc_id"), lit(15)) === 0)
            .select((col("doc_id") + lit(200000L)).as("doc_id"), col("source"),
              concat(col("payload"), encode(lit(" v2edit"), "UTF-8")).as("payload")))
          .filter(length(col("payload")) > 0)
        // stage 1: exact tier — digest map-side, keeper = min id.
        // Pinned: sv feeds FOUR consumers (the near-dup kernel, the CC
        // node set via it, the keeper join, and the exact census) —
        // unpinned, each re-runs the digest window over the full lake.
        val w = Window.partitionBy("fp").orderBy("doc_id")
        val sv = Pin.once(u.withColumn("fp", md5(col("payload")))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1).drop("fp", "rn"))
        // stage 2: near tier — mm16's kernel + transitive closure
        val pairs = MultimodalOps
          .payloadNearDups(sv.select("doc_id", "payload"))
          .select("a", "b")
        val cc = DedupOps.connectedComponents(
          sv.select(col("doc_id").as("id")), pairs)
        val kept = sv
          .join(cc, sv("doc_id") === cc("id"))
          .filter(col("label") === col("doc_id"))
          .select(col("doc_id"), col("source"),
            length(col("payload")).cast("long").as("n"))
        // stage 3: the per-source census
        val raw = u.groupBy("source").agg(count(lit(1)).as("n_raw"))
        val ex = sv.groupBy("source").agg(count(lit(1)).as("n_exact_kept"))
        val fin = kept.groupBy("source")
          .agg(count(lit(1)).as("n_final_kept"),
            sum(expr("((n % 1920 + 31) DIV 32) * ((n % 1080 + 31) DIV 32)"))
              .cast("long").as("patch_sum"))
        raw.join(ex, Seq("source")).join(fin, Seq("source"))
          .select("source", "n_raw", "n_exact_kept", "n_final_kept",
            "patch_sum")
      }),

    QueryDef(
      "pp12_media_day2_pipeline",
      // MEDIA-LAKE DAY-2 CURATION — pp11's composition run the way day
      // two actually runs (the pp06/pp08 incremental discipline): the
      // lake was curated yesterday, so today's arrivals (every 10th
      // asset re-uploaded byte-identical under a new id, every 15th
      // re-encoded with mm16's 7-byte trailer) must be adjudicated at
      // O(batch) cost against PERSISTED day-1 state, never by
      // re-curating the lake. Exact tier: the batch's map-side digests
      // anti-join the bucketed digest store (batch-sized shuffle, the
      // store never exchanges) plus an intra-batch min-id window.
      // Near tier: exact survivors probe the persisted byte-window
      // posting index built over the lake's exact survivors (mm17's
      // combined-cap probe — O(batch signatures + touched buckets +
      // candidate verifies)), and the closure runs over BATCH-INVOLVING
      // edges only: any path from an arrival reaches its first lake
      // node through a batch-involving edge, and any reached lake node
      // folds the arrival (lake ids < arrival ids), so lake-lake edges
      // can never change an arrival's keeper status — the incremental
      // closure provably equals the full recompute's, restricted to
      // arrivals. The ORACLE IS that full recompute: pp11's entire
      // chain (digest window, MinHash banding, recursive-CTE closure,
      // patch census) over lake ∪ arrivals, with the census restricted
      // to the day's arrivals — so the gate holds the day-2 shortcut
      // bit-exactly to the day-1 definition (MediaDay2Spec pins the
      // same identity engine-side at a second SF).
      Some("""WITH u0 AS (
             |  SELECT doc_id, source, text FROM documents
             |  UNION ALL
             |  SELECT doc_id + 100000, source, text
             |  FROM documents WHERE doc_id % 10 = 0
             |  UNION ALL
             |  SELECT doc_id + 200000, source, text || ' v2edit'
             |  FROM documents WHERE doc_id % 15 = 0),
             |u1 AS (
             |  SELECT doc_id, source, text, encode(text) AS payload
             |  FROM u0 WHERE octet_length(encode(text)) > 0),
             |ek AS (
             |  SELECT doc_id, source, payload,
             |    row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
             |  FROM u1),
             |sv AS (SELECT doc_id, source, payload FROM ek WHERE rn = 1),
             |m AS (
             |  SELECT doc_id, lower(hex(payload)) AS hx,
             |    octet_length(payload) AS n
             |  FROM sv),
             |sh AS (
             |  SELECT doc_id, list_distinct(list_transform(range(0, (n + 3) // 4),
             |    i -> substr(hx, CAST(i * 8 + 1 AS INT), 16))) AS shs
             |  FROM m),
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
             |pairs AS (
             |  SELECT a, b FROM (
             |    SELECT a, b, len(list_intersect(sa.shs, sb.shs)) AS i,
             |      len(sa.shs) AS na, len(sb.shs) AS nb
             |    FROM cand JOIN sh sa ON sa.doc_id = a JOIN sh sb ON sb.doc_id = b)
             |  WHERE CAST(i AS DOUBLE) / (na + nb - i) >= 0.8),
             |sym AS (SELECT a AS src, b AS dst FROM pairs
             |        UNION ALL SELECT b, a FROM pairs),
             |reach AS (
             |  WITH RECURSIVE r(node, lbl) AS (
             |    SELECT doc_id, doc_id FROM sv
             |    UNION
             |    SELECT s.src, r.lbl FROM r JOIN sym s ON s.dst = r.node)
             |  SELECT node, min(lbl) AS lbl FROM r GROUP BY node),
             |kept AS (
             |  SELECT sv.doc_id, sv.source, m.n
             |  FROM sv JOIN reach ON reach.node = sv.doc_id
             |  JOIN m ON m.doc_id = sv.doc_id
             |  WHERE reach.lbl = sv.doc_id),
             |raw AS (SELECT source, CAST(count(*) AS BIGINT) AS n_arrived
             |        FROM u1 WHERE doc_id >= 100000 GROUP BY source),
             |ex AS (SELECT source, CAST(count(*) AS BIGINT) AS n_exact_kept
             |       FROM sv WHERE doc_id >= 100000 GROUP BY source),
             |fin AS (
             |  SELECT source, CAST(count(*) AS BIGINT) AS n_final_kept,
             |    CAST(sum(((n % 1920 + 31) // 32) * ((n % 1080 + 31) // 32)) AS BIGINT) AS patch_sum
             |  FROM kept WHERE doc_id >= 100000 GROUP BY source)
             |SELECT source, n_arrived,
             |  CAST(coalesce(n_exact_kept, 0) AS BIGINT) AS n_exact_kept,
             |  CAST(coalesce(n_final_kept, 0) AS BIGINT) AS n_final_kept,
             |  CAST(coalesce(patch_sum, 0) AS BIGINT) AS patch_sum
             |FROM raw LEFT JOIN ex USING (source) LEFT JOIN fin USING (source)""".stripMargin),
      (s, d) => {
        val lakeAll = docs(s, d).select(col("doc_id"), col("source"),
          encode(col("text"), "UTF-8").as("payload"))
        // the day's arrivals: exact re-uploads + trailer re-encodes
        // (a trailer on an empty payload is non-empty, so the
        // emptiness gate applies AFTER the edit — pp11's u1 semantics)
        val arrivals = lakeAll.filter(pmod(col("doc_id"), lit(10)) === 0)
          .select((col("doc_id") + lit(100000L)).as("doc_id"),
            col("source"), col("payload"))
          .unionByName(lakeAll.filter(pmod(col("doc_id"), lit(15)) === 0)
            .select((col("doc_id") + lit(200000L)).as("doc_id"), col("source"),
              concat(col("payload"), encode(lit(" v2edit"), "UTF-8"))
                .as("payload")))
          .filter(length(col("payload")) > 0)
        // day-1 curated state: bucketed digest store + payload posting
        // index over the lake's exact survivors (persisted fixtures —
        // in production they already exist from yesterday's run)
        val (digestTable, idxTable) = day1MediaState(s, d)
        // exact tier: batch digests map-side; the store never shuffles.
        // Pinned: bsv feeds the probe's batch AND verify sides, the CC
        // keeper join, and the exact census — unpinned, each re-runs
        // the digest anti-join + window.
        val bsv = Pin.once(arrivals.withColumn("fp", md5(col("payload")))
          .join(s.table(digestTable).select("fp"), Seq("fp"), "left_anti")
          .withColumn("rn",
            row_number().over(Window.partitionBy("fp").orderBy("doc_id")))
          .filter(col("rn") === 1).drop("fp", "rn"))
        // near tier: probe the persisted index; verify reads only the
        // CANDIDATES' windows (semi-join prune inside the probe). The
        // verify's lake side reads the RAW lake, not a re-derived
        // lakeExactSurvivors: candidate ids come from the persisted
        // index, whose ids ARE the lake's exact survivors, and exact
        // dedup only DROPS rows — so semi-joining the raw lake by those
        // ids returns the identical (doc_id, payload) rows without
        // paying the full-lake digest window a second time (empty
        // payloads can't be candidates: they have no windows, hence no
        // index entries). Pinned: pairs feeds the CC node set (twice)
        // and the edge set.
        val pairs = Pin.once(MultimodalOps.payloadIndexProbe(
          bsv.select("doc_id", "payload"), s.table(idxTable),
          lakeAll.filter(length(col("payload")) > 0)
            .select("doc_id", "payload")
            .unionByName(bsv.select("doc_id", "payload")))
          .select("a", "b"))
        // incremental closure over batch-involving edges only (see the
        // note above for why this equals the full closure restricted)
        val nodes = bsv.select(col("doc_id").as("id"))
          .unionByName(pairs.select(col("a").as("id")))
          .unionByName(pairs.select(col("b").as("id")))
          .distinct()
        val cc = DedupOps.connectedComponents(nodes, pairs)
        val kept = bsv.join(cc, bsv("doc_id") === cc("id"))
          .filter(col("label") === col("doc_id"))
          .select(col("doc_id"), col("source"),
            length(col("payload")).cast("long").as("n"))
        // the day's census update
        val raw = arrivals.groupBy("source").agg(count(lit(1)).as("n_arrived"))
        val ex = bsv.groupBy("source").agg(count(lit(1)).as("n_exact_kept"))
        val fin = kept.groupBy("source")
          .agg(count(lit(1)).as("n_final_kept"),
            sum(expr("((n % 1920 + 31) DIV 32) * ((n % 1080 + 31) DIV 32)"))
              .cast("long").as("patch_sum"))
        raw.join(ex, Seq("source"), "left").join(fin, Seq("source"), "left")
          .select(col("source"), col("n_arrived"),
            coalesce(col("n_exact_kept"), lit(0L)).as("n_exact_kept"),
            coalesce(col("n_final_kept"), lit(0L)).as("n_final_kept"),
            coalesce(col("patch_sum"), lit(0L)).as("patch_sum"))
      })
  )

  /** The lake's EXACT-dedup survivors with payloads — pp11's stage-1
    * output for the lake alone, i.e. the curated store a day-2 run
    * starts from. Derived here from raw documents (one digest window);
    * a production lake reads yesterday's materialized survivor table
    * directly. */
  private[ops] def lakeExactSurvivors(s: SparkSession, d: String): DataFrame = {
    val lake = docs(s, d).select(col("doc_id"), col("source"),
      encode(col("text"), "UTF-8").as("payload"))
      .filter(length(col("payload")) > 0)
    lake.withColumn("fp", md5(col("payload")))
      .withColumn("rn",
        row_number().over(Window.partitionBy("fp").orderBy("doc_id")))
      .filter(col("rn") === 1).drop("fp", "rn")
  }

  /** pp12's persisted day-1 state, built at most once per sf dir (the
    * input-fixture rationale of [[DedupOps.baseLshIndex]] — day-2 runs
    * against state that already exists): (digest table, payload index
    * table), both over the lake's exact survivors and both bucketed so
    * a day-2 probe joins them without exchanging the store side. */
  private[ops] def day1MediaState(s: SparkSession, d: String): (String, String) =
    graft.core.Scratch.fixture(s"pp12_day1_state:$d") { tmp =>
      val tag = d.hashCode & 0x7fffffff
      val sv = lakeExactSurvivors(s, d)
      val digestTable = s"pp12_digests_$tag"
      sv.select(md5(col("payload")).as("fp"), col("doc_id").as("keeper_id"))
        .write.bucketBy(8, "fp").sortBy("fp")
        .option("path", s"$tmp/digests").mode("overwrite")
        .saveAsTable(digestTable)
      val idxTable = s"pp12_payload_idx_$tag"
      DedupOps.writeLshIndexRows(
        MultimodalOps.payloadLshIndex(sv.select("doc_id", "payload")),
        idxTable, s"$tmp/index")
      (digestTable, idxTable)
    }
}

package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** PERSISTED INVERTED TEXT INDEX — the third index family next to the
  * LSH posting index (dd17–dd22) and the IVF vector index (vs23–vs26),
  * closing the retrieval side's lifecycle symmetry: a BM25 serving
  * index with build / streaming-shaped append / merge-on-read delete /
  * partition-pruned probe, every verb equal to a from-scratch rebuild
  * under the oracle gate.
  *
  * Layout (all plain parquet, no table catalog):
  * {{{
  *   <dir>/postings/batch=<b>/tp=<0..15>/   (th, doc_id, tf, dl)
  *   <dir>/stats/batch=<b>/                 (n_docs, sum_dl)
  *   <tombs>/batch=<b>/                     (doc_id, dl)   [sidecar]
  * }}}
  *
  * Design for 100 TB:
  *
  *  - **Postings are pre-aggregated**: one row per (term-hash, doc)
  *    with its tf and the doc length DENORMALIZED in — a probe never
  *    touches raw text or a separate doc-length table. Term keys are
  *    the portable md5-low60 hash (8 bytes, oracle-replayable), and
  *    the store is directory-partitioned by `tp = th % 16`, so a
  *    probe's scan is pruned to the query terms' partitions (the
  *    broadcast term join on (tp, th) lets dynamic partition pruning
  *    skip everything else).
  *  - **df/N/avgdl are self-maintaining.** df is counted from the
  *    visible posting rows of the query's terms (O(query postings),
  *    not a stored number that appends would stale); N and avgdl come
  *    from a per-batch stats LOG (one row per ingest batch, bounded by
  *    batch count) minus the tombstone sidecar — so append and delete
  *    shift every BM25 factor (tf, df, N, avgdl) without rewriting a
  *    single posting file.
  *  - **Delete is merge-on-read** (the vs24 idiom): a takedown writes
  *    (doc_id, dl) tombstones to a sidecar; probes subtract them via a
  *    broadcast anti-join (takedown batches are small), and the base
  *    snapshot stays immutable — rewrite cost is deferred to an
  *    explicit vacuum, exactly how a production index absorbs
  *    right-to-be-forgotten traffic between compactions.
  *  - **Scoring is the tx30 integer-grid kernel verbatim**: every
  *    per-(doc, term) contribution is a pure IEEE expression of exact
  *    counts quantized to the 1e-6 grid BEFORE the per-doc sum, so
  *    ranking sums are 64-bit integer arithmetic — immune to partition
  *    order and bit-equal across engines.
  */
object TextIndex {

  private val Parts = 16

  /** Fixed store schemas, declared on every read: a quiet-hour batch
    * (zero indexable docs — routine at scale) writes NO posting files
    * under its `batch=`/`tp=` dirs, and schema INFERENCE over a store
    * whose only batches are quiet would throw; a declared schema makes
    * the empty read return an empty frame instead. Partition columns
    * (batch, tp) are part of the declared schema, so discovery parses
    * them into the declared types. */
  private val postingsSchema = "doc_id LONG, dl LONG, th LONG, tf LONG, batch LONG, tp INT"
  private val statsSchema = "n_docs LONG, sum_dl LONG, batch LONG"

  private def termHash(c: Column): Column =
    graft.functions.GraftFunctions.md5_low60(c)

  /** (doc_id, toks) for docs with at least one token — the indexable
    * corpus (tx30's tk2 semantics: empty docs are outside N/avgdl). */
  private def tokenized(docsDf: DataFrame): DataFrame =
    docsDf
      .select(col("doc_id"),
        filter(split(col("text"), " "), x => x =!= "").as("toks"))
      .filter(size(col("toks")) > 0)

  /** Pre-aggregated posting rows of a document batch:
    * (doc_id, dl, th, tf, tp). The tf aggregation's grouping key
    * contains doc_id and every token of a doc lives in one array cell,
    * so it is computed IN-ROW by the [[graft.functions.TermTfExpand]]
    * generator (hash, sort, run-length encode, stream) — the pre-r12
    * explode + groupBy shape paid a full Exchange of the tokenized
    * corpus for a per-row aggregation (guide §2.4); every index
    * build/append now constructs its postings with ZERO shuffles
    * (TermTfSpec pins row-set equality with the groupBy formulation). */
  def postingsOf(docsDf: DataFrame): DataFrame =
    tokenized(docsDf)
      .select(col("doc_id"), size(col("toks")).cast("long").as("dl"),
        graft.functions.GraftFunctions.term_tf_expand(col("toks")))
      .withColumn("tp", pmod(col("th"), lit(Parts)).cast("int"))

  /** One stats-log row for a document batch: (n_docs, sum_dl) over the
    * indexable docs — the increments a probe folds into N and avgdl. */
  def statsOf(docsDf: DataFrame): DataFrame =
    tokenized(docsDf)
      .select(size(col("toks")).cast("long").as("dl"))
      .agg(count(lit(1)).cast("long").as("n_docs"),
        // a quiet-hour batch sums no rows: log 0, not NULL
        coalesce(sum("dl"), lit(0L)).cast("long").as("sum_dl"))

  /** Ingest `docsDf` as batch `batch` of the index at `dir` — the same
    * writer serves the fresh build (batch 0) and every later append;
    * OVERWRITE of the batch's own subdirs makes a replayed batch
    * idempotent (the st12/st14 exactly-once contract). */
  def appendTextIndex(docsDf: DataFrame, dir: String, batch: Long): Unit =
    graft.core.PhaseTimer.phase("append") { appendImpl(docsDf, dir, batch) }

  // unlabeled shared writer: build and append must not nest each
  // other's PhaseTimer labels (a build charged to both "build" and
  // "append" would make the published phase sums exceed the total)
  private def appendImpl(docsDf: DataFrame, dir: String, batch: Long): Unit = {
    postingsOf(docsDf).write.mode("overwrite").partitionBy("tp")
      .parquet(s"$dir/postings/batch=$batch")
    statsOf(docsDf).write.mode("overwrite")
      .parquet(s"$dir/stats/batch=$batch")
  }

  def buildTextIndex(docsDf: DataFrame, dir: String): Unit =
    graft.core.PhaseTimer.phase("build") { appendImpl(docsDf, dir, 0L) }

  /** Takedown: tombstone `removedDocs` (their own text supplies the dl
    * each one contributed — content-addressed, no index scan) into the
    * sidecar at `tombsPath`. The base snapshot is untouched. */
  def deleteFromTextIndex(removedDocs: DataFrame, tombsPath: String,
      batch: Long = 0L): Unit = graft.core.PhaseTimer.phase("delete") {
    tokenized(removedDocs)
      .select(col("doc_id"), size(col("toks")).cast("long").as("dl"))
      .write.mode("overwrite").parquet(s"$tombsPath/batch=$batch")
  }

  /** VACUUM: fold the posting shards minus the tombstone sidecar into
    * a fresh single-batch snapshot at `outDir`, after which probes
    * need no tombstone subtraction. Unlike the IVF vacuum (a doomed
    * VECTOR lives in exactly one cell, so only touched cells rewrite),
    * a doomed DOCUMENT's terms hash across every tp partition — doc-
    * granular deletes in a term-partitioned store touch the whole
    * index, which is exactly WHY merge-on-read is the right idiom
    * here: takedowns are O(tombstone) at write time, and the O(index)
    * rewrite is deferred to this explicit compaction. Stats fold to
    * one log row; the output is byte-layout-fresh but answer-identical
    * (TextIndexSpec pins vacuumed-without-sidecar ≡ base-with-sidecar). */
  def vacuumTextIndex(spark: SparkSession, dir: String, tombsPath: String,
      outDir: String): Unit = graft.core.PhaseTimer.phase("vacuum") {
    val tomb = spark.read.parquet(tombsPath)
    val visible = spark.read.schema(postingsSchema)
      .parquet(s"$dir/postings")
      .join(broadcast(tomb.select("doc_id")), Seq("doc_id"), "left_anti")
      .select("doc_id", "dl", "th", "tf", "tp")
    visible.write.mode("overwrite").partitionBy("tp")
      .parquet(s"$outDir/postings/batch=0")
    val base = spark.read.schema(statsSchema).parquet(s"$dir/stats")
      .agg(coalesce(sum("n_docs"), lit(0L)).cast("long").as("n0"),
        coalesce(sum("sum_dl"), lit(0L)).cast("long").as("s0"))
    val td = tomb.agg(coalesce(count(lit(1)), lit(0L)).as("nd"),
      coalesce(sum("dl"), lit(0L)).as("sd"))
    base.crossJoin(broadcast(td))
      .select((col("n0") - col("nd")).cast("long").as("n_docs"),
        (col("s0") - col("sd")).cast("long").as("sum_dl"))
      .write.mode("overwrite").parquet(s"$outDir/stats/batch=0")
  }

  /** RE-VERSION (the UPDATE verb, closing CRUD symmetry with the LSH
    * index's dd21 and the IVF index's vs26): an edited document is
    * tombstone-OLD → vacuum → append-NEW, in that order and through a
    * fresh snapshot at `outDir`. The order is load-bearing — the
    * tombstone sidecar kills by doc_id, so a new version appended
    * while the sidecar is live is SHADOWED by its own takedown (the
    * same-batch hazard IvfDeleteSpec maps for vs26; TextIndexSpec
    * pins both the safe composition and the hazard). The vacuum leg
    * is O(index) because a doc's terms hash across every tp partition
    * (see [[vacuumTextIndex]]); a production store amortizes it by
    * batching edits between compactions — the verb's CONTRACT
    * (≡ full rebuild over the edited lake) is what this exposes. The
    * tombstones are deleted before it returns. */
  def reVersionTextIndex(spark: SparkSession, oldDocs: DataFrame,
      newDocs: DataFrame, dir: String, outDir: String,
      newBatch: Long = 1L): Unit = graft.core.QueryScope {
    val tombs = graft.core.Scratch.dir("graft_txt_rev_tomb_") + "/t"
    deleteFromTextIndex(oldDocs, tombs)
    vacuumTextIndex(spark, dir, tombs, outDir)
    appendTextIndex(newDocs, outDir, newBatch)
  }

  /** RETENTION EXPIRY (the dd22 idiom on the text side): when batches
    * are the retention key — exactly what the `batch=` ingest layout
    * gives a streaming-fed index — expiring everything older than
    * `cutoffBatch` is DROPPING whole shard directories, postings and
    * stats-log rows together: O(1) metadata per dropped shard, no
    * read, no rewrite, no tombstone debt. Because each batch indexes
    * its own disjoint docs and N/avgdl/df are all derived from what
    * remains VISIBLE (stats-log sums, per-query df), the surviving
    * store probes exactly like a rebuild over the surviving batches'
    * docs (TextIndexSpec pins it, including the all-expired quiet
    * store). Contract: fold any tombstone sidecar (vacuum) BEFORE
    * expiring — a tombstone for a dropped doc would double-subtract
    * its mass from the stats fold. */
  def expireTextIndex(spark: SparkSession, dir: String,
      cutoffBatch: Long): Unit = {
    // PhaseTimer "expire" label lives on DedupOps.expireShards (the
    // shared kernel) — labeling here too would double-charge the phase
    DedupOps.expireShards(spark, s"$dir/postings", "batch", cutoffBatch)
    DedupOps.expireShards(spark, s"$dir/stats", "batch", cutoffBatch)
  }

  /** Distinct query-term hashes of `docId`'s lake text — the probe
    * input is external to the index, like dd17's probe batches. */
  def queryTerms(docsDf: DataFrame, docId: Long): DataFrame =
    docsDf.filter(col("doc_id") === docId)
      .select(explode(array_distinct(
        filter(split(col("text"), " "), x => x =!= ""))).as("term"))
      .select(termHash(col("term")).as("th"))
      .withColumn("tp", pmod(col("th"), lit(Parts)).cast("int"))

  /** [[queryTerms]] for a PROBE BATCH: the distinct term hashes of
    * every doc selected by `pred`, keyed by qid — the input shape of
    * [[probeTextIndexMulti]]. Probe batches are small by design
    * (dd17's boundedness class), so downstream joins broadcast them. */
  def queryTermsMulti(docsDf: DataFrame, pred: Column): DataFrame =
    docsDf.filter(pred)
      .select(col("doc_id").as("qid"), explode(array_distinct(
        filter(split(col("text"), " "), x => x =!= ""))).as("term"))
      .select(col("qid"), termHash(col("term")).as("th"))
      .withColumn("tp", pmod(col("th"), lit(Parts)).cast("int"))

  /** The tx30 integer-grid BM25 contribution of one (doc, term)
    * posting row — shared verbatim by the single and the batch probe,
    * so the two serving paths cannot drift. */
  private def contribQ: Column = {
    val contrib = log((col("n") - col("df") + lit(0.5)) /
        (col("df") + lit(0.5)) + lit(1.0)) *
      (col("tf") * lit(2.2)) /
      (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl")))
    floor(contrib * lit(1000000) + lit(0.5)).cast("long")
  }

  /** One-row (n, avgdl) of the visible store: the stats-log fold,
    * minus tombstone mass when a sidecar rides along. ANSI guard: an
    * all-quiet store has n = 0 and its probe emits no score rows, but
    * the division still evaluates — hence the when(). */
  private def storeStats(spark: SparkSession, dir: String,
      tombs: Option[DataFrame]): DataFrame = {
    def safeAvg(sumDl: Column, n: Column): Column =
      when(n === 0, lit(0.0)).otherwise(sumDl.cast("double") / n)
    val statsBase = spark.read.schema(statsSchema).parquet(s"$dir/stats")
      .agg(coalesce(sum("n_docs"), lit(0L)).cast("long").as("n0"),
        coalesce(sum("sum_dl"), lit(0L)).cast("long").as("s0"))
    tombs.map { t =>
      val td = t.agg(coalesce(count(lit(1)), lit(0L)).as("nd"),
        coalesce(sum("dl"), lit(0L)).as("sd"))
      statsBase.crossJoin(broadcast(td))
        .select((col("n0") - col("nd")).as("n"),
          safeAvg(col("s0") - col("sd"), col("n0") - col("nd")).as("avgdl"))
    }.getOrElse(statsBase.select(col("n0").as("n"),
      safeAvg(col("s0"), col("n0")).as("avgdl")))
  }

  /** BM25 top-`k` against the persisted index: partition-pruned
    * posting scan, tombstone-subtracted visibility, stats-log-derived
    * N/avgdl, tx30's integer-grid scoring. Returns
    * (doc_id, rnk, score). */
  def probeTextIndex(spark: SparkSession, dir: String,
      qterms: DataFrame, k: Int,
      tombsPath: Option[String] = None,
      excludeDocId: Option[Long] = None): DataFrame = {
    // existence goes through the Hadoop FileSystem of the PATH (not
    // java.nio, which answers false for any hdfs://-s3a://-style store
    // and would silently resurrect taken-down docs) — the same check
    // VectorOps.minusTombstones uses (ADVICE r8)
    val tombs = tombsPath.filter { p =>
      val hp = new org.apache.hadoop.fs.Path(p)
      hp.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(hp)
    }.map(p => spark.read.parquet(p))
    val postsAll = spark.read.schema(postingsSchema)
      .parquet(s"$dir/postings")
    val posts = tombs.map(t => postsAll.join(
        broadcast(t.select("doc_id")), Seq("doc_id"), "left_anti"))
      .getOrElse(postsAll)
    // broadcast term join on (tp, th): tp is the partition column, so
    // dynamic partition pruning confines the scan to the query terms'
    // 1..|terms| partitions of the posting store
    val qp = posts.join(qterms.hint("broadcast"), Seq("tp", "th"))
    // df from the VISIBLE postings of the query's terms only — an
    // O(query postings) aggregate that appends/deletes can never stale
    val dfq = qp.groupBy("th").agg(count(lit(1)).as("df"))
    // N and avgdl fold the stats log minus the tombstone mass; every
    // operand is an exact integer in double range, so the division is
    // bit-equal to an avg() over the surviving docs
    val stats = storeStats(spark, dir, tombs)
    val scAll = qp.join(dfq, "th").crossJoin(broadcast(stats))
      .select(col("doc_id"), contribQ.as("q"))
      .groupBy("doc_id").agg(sum("q").as("iscore"))
    // more-like-this serving excludes the query doc itself (it is its
    // own top hit by construction); stats/df above still include it,
    // matching the from-scratch kernels' convention (tx30/vs25)
    val sc = excludeDocId.map(id => scAll.filter(col("doc_id") =!= id))
      .getOrElse(scAll)
    // global top-k via distributed sort+limit; the rank window then
    // runs over <= k rows (onePart marker)
    val w = Window.partitionBy(PrefixSum.onePart(col("doc_id")))
      .orderBy(col("iscore").desc, col("doc_id"))
    sc.orderBy(col("iscore").desc, col("doc_id")).limit(k)
      .withColumn("rn", row_number().over(w))
      .select(col("doc_id"), col("rn").cast("long").as("rnk"),
        round(col("iscore").cast("double") / lit(1000000), 4).as("score"))
  }

  /** BATCH serving — top-`k` more-like-this for EVERY query in
    * `qterms` ((qid, th, tp) from [[queryTermsMulti]]) in ONE plan:
    * the shape offline retrieval actually runs ("find neighbors for
    * each of today's N arrivals"), amortizing one partition-pruned
    * posting read across the whole probe batch instead of N probes ×
    * N scans. df and the per-(doc, term) grid quantization are
    * query-INDEPENDENT and computed once from the distinct term set;
    * only the final fan-out join and the per-qid rank window scale
    * with the batch. Each query excludes itself (it is its own top
    * hit by construction); df/stats still include it, matching the
    * single-probe convention. Returns (qid, doc_id, rnk, score). */
  def probeTextIndexMulti(spark: SparkSession, dir: String,
      qterms: DataFrame, k: Int): DataFrame = {
    val posts = spark.read.schema(postingsSchema)
      .parquet(s"$dir/postings")
    val dterms = qterms.select("tp", "th").distinct()
    val qp = posts.join(dterms.hint("broadcast"), Seq("tp", "th"))
    val dfq = qp.groupBy("th").agg(count(lit(1)).as("df"))
    val stats = storeStats(spark, dir, tombs = None)
    val sc = qp.join(dfq, "th")
      .join(qterms.select("qid", "th").hint("broadcast"), Seq("th"))
      .filter(col("doc_id") =!= col("qid"))
      .crossJoin(broadcast(stats))
      .select(col("qid"), col("doc_id"), contribQ.as("q"))
      .groupBy("qid", "doc_id").agg(sum("q").as("iscore"))
    // per-qid top-k: the window partitions on the REAL query key, so
    // each query's ranking is its own task-side sort — no global sort
    val w = Window.partitionBy("qid")
      .orderBy(col("iscore").desc, col("doc_id"))
    sc.withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
      .select(col("qid"), col("doc_id"), col("rn").cast("long").as("rnk"),
        round(col("iscore").cast("double") / lit(1000000), 4).as("score"))
  }

  /** INDEX HEALTH AUDIT (the dd24/vs30 analog for the text family):
    * per ingest batch, reconcile the POSTING STORE against the STATS
    * LOG — the two artifacts every probe trusts, maintained by
    * different writers (posting shards by the batch write, N/avgdl by
    * the log row). `consistent` holds two invariants that tie them:
    * distinct posted docs = logged doc count, and Σtf = logged Σdl
    * (every token of an indexed doc is in exactly one posting row).
    * A lost shard, a double-logged batch, or a posting/stats writer
    * drift flips it to 0 — the monitoring query that decides when to
    * rebuild. Reads only the store, never the lake; map-combinable
    * rollups over the batch-partitioned layout. */
  def auditTextIndex(spark: SparkSession, dir: String): DataFrame = {
    val posts = spark.read.schema(postingsSchema).parquet(s"$dir/postings")
    val stats = spark.read.schema(statsSchema).parquet(s"$dir/stats")
    val p = posts.groupBy("batch").agg(
      count(lit(1)).as("n_postings"),
      countDistinct("doc_id").as("n_docs_posted"),
      countDistinct("th").as("n_terms"),
      sum("tf").cast("long").as("sum_tf"))
    val l = stats.groupBy("batch").agg(
      sum("n_docs").cast("long").as("n_docs_logged"),
      sum("sum_dl").cast("long").as("sum_dl_logged"))
    // full outer: a quiet batch logs (0, 0) but writes no posting
    // files; a batch with postings but no log row is itself a finding
    p.join(l, Seq("batch"), "full_outer")
      .select(col("batch"),
        coalesce(col("n_postings"), lit(0L)).as("n_postings"),
        coalesce(col("n_docs_posted"), lit(0L)).as("n_docs_posted"),
        coalesce(col("n_terms"), lit(0L)).as("n_terms"),
        coalesce(col("sum_tf"), lit(0L)).as("sum_tf"),
        coalesce(col("n_docs_logged"), lit(0L)).as("n_docs_logged"),
        coalesce(col("sum_dl_logged"), lit(0L)).as("sum_dl_logged"))
      .withColumn("consistent",
        when(col("n_docs_posted") === col("n_docs_logged") &&
          col("sum_tf") === col("sum_dl_logged"), 1L).otherwise(0L))
  }
}

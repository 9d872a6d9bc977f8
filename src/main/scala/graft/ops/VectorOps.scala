package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{QueryDef, Tables}
import graft.functions.GraftFunctions

/** Similarity search over the `embeddings` table (`embedding:
  * array<float>, dim=64`). All vector math is built-in higher-order
  * functions (`zip_with` + `aggregate`, codegen-compatible, computed in
  * DOUBLE) — no UDF, no collect.
  *
  * Scale design: brute-force top-k broadcasts the (small) probe set and
  * streams the corpus once — the right baseline up to ~10⁹ corpus rows
  * per probe batch. The IVF variant does a coarse quantization (assign
  * every vector to its nearest centroid — one broadcast join) and then
  * searches only the probe's cell, cutting scanned rows by the cell
  * fan-out; at 100 TB the assignment becomes a write-once partitioned
  * layout (`partitionBy(cluster)`) so probe-time scans prune to one
  * partition. The embedding near-dup uses 16-bit random-hyperplane
  * signatures so the pair search is an equi-join on signature, never an
  * all-pairs cross.
  */
object VectorOps {

  private val Shift = 100000L

  private def emb(s: SparkSession, d: String): DataFrame = {
    GraftFunctions.register(s)
    Tables(s, d, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
  }

  /** dot(a, b) via built-in higher-order functions — the composition
    * fallback (SURVEY §4.3). Interpreted lambda + per-row intermediate
    * array; kept for reference/tests. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  /** Cosine via HOFs — bit-identical to [[graft.functions.CosineSimilarity]]
    * (same left-to-right accumulation); kept for reference/tests. */
  def cosineHof(a: Column, b: Column): Column =
    dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))

  /** Cosine via the native codegen expression. */
  def cosine(a: Column, b: Column): Column = GraftFunctions.cosine_sim(a, b)

  /** Assign every vector to its nearest centroid (broadcast cross +
    * deterministic argmax). Input cols: (vec_id, v) and (cid, cv).
    *
    * The argmax orders on the cosine QUANTIZED to a 1e-6 grid (the repo's
    * standard tie-break discipline, cf. tx26/vs19): Spark's codegen
    * cosine and DuckDB's `list_cosine_similarity` can differ in the last
    * ulp, and a raw-double near-tie then flips a vector's cluster —
    * changing group MEMBERSHIP, which no amount of output rounding
    * repairs (the r2/r3 vs05 hash fail). On the grid both engines rank
    * identically; `cid` breaks exact grid ties. */
  def assignClusters(vectors: DataFrame, centroids: DataFrame): DataFrame =
    rankCellsCos(vectors, centroids)
      .filter(col("arn") === 1)
      .select(col("vec_id"), col("v"), col("cid"))

  /** Full cosine-grid centroid ranking per vector — (vec_id, v, cid,
    * arn) with arn = 1 the home cell, 2 the runner-up, … Multiprobe
    * SERVING callers keep `arn <= P` as probe cells against an index
    * built with [[assignClusters]] (which keeps arn == 1) — the two
    * must share this ranking or a probe can miss its own home cell.
    * Cosine-grid determinism argument as on [[assignClusters]];
    * [[rankCellsL2Exact]] remains the engine-independent L2 variant. */
  def rankCellsCos(vectors: DataFrame, centroids: DataFrame): DataFrame = {
    val w = Window.partitionBy("vec_id")
      .orderBy(floor(col("ccos") * 1e6 + lit(0.5)).desc, col("cid"))
    vectors.crossJoin(broadcast(centroids))
      .select(col("vec_id"), col("v"), col("cid"), cosine(col("v"), col("cv")).as("ccos"))
      .withColumn("arn", row_number().over(w))
      .select(col("vec_id"), col("v"), col("cid"), col("arn"))
  }

  /** Quantize each component to the 1e-4 integer grid. floor(x*1e4+0.5)
    * on a double is IEEE-identical in Spark and DuckDB, so qv is the
    * SAME integer vector on both engines for the same parquet bytes. */
  private def quantize1e4(v: Column): Column =
    transform(v, x => floor(x * lit(1e4) + lit(0.5)).cast("long"))

  /** Integer-exact nearest-centroid assignment (squared-L2 argmin on
    * 1e-4-quantized components) — the engine-independent variant used
    * where group MEMBERSHIP must hash-match a foreign engine (vs05's
    * Lloyd refit; cf. vs09's integer-exact PQ distances). After the
    * per-element quantization every comparison is 64-bit integer
    * arithmetic: Σ(Δq)² ≤ 64·(2·⌈|x|·1e4⌉)² ≈ 7e9 for unit-scale
    * embeddings — no double score anywhere, so no ulp/grid-boundary
    * flips (the r2–r4 vs05 hash-fail). Exact integer ties break on
    * cid. [[assignClusters]] (cosine argmax) remains the IVF-serving
    * variant where both sides of the comparison are Spark. */
  def assignClustersL2Exact(vectors: DataFrame, centroids: DataFrame): DataFrame =
    rankCellsL2Exact(vectors, centroids)
      .filter(col("arn") === 1)
      .select(col("vec_id"), col("v"), col("cid"))

  /** Full integer-exact centroid ranking per vector — (vec_id, v, cid,
    * arn) with arn = 1 the nearest cell, 2 the runner-up, … Multiprobe
    * callers keep arn <= P as probe cells; [[assignClustersL2Exact]]
    * keeps arn == 1. Same engine-independence argument as there. */
  def rankCellsL2Exact(vectors: DataFrame, centroids: DataFrame): DataFrame = {
    val qcents = centroids.select(col("cid"), quantize1e4(col("cv")).as("qc"))
    val d2 = aggregate(
      zip_with(col("qv"), col("qc"), (a, b) => (a - b) * (a - b)),
      lit(0L), (acc, x) => acc + x)
    val w = Window.partitionBy("vec_id").orderBy(col("qd").asc, col("cid").asc)
    vectors.select(col("vec_id"), col("v"), quantize1e4(col("v")).as("qv"))
      .crossJoin(broadcast(qcents))
      .select(col("vec_id"), col("v"), col("cid"), d2.as("qd"))
      .withColumn("arn", row_number().over(w))
      .select(col("vec_id"), col("v"), col("cid"), col("arn"))
  }

  /** Materialize the IVF layout: vectors partitioned on disk by their
    * cluster (`.../cid=N/`). At probe time only the probes' cells are
    * scanned — partition pruning does the index lookup. This is the
    * 100 TB path: the brute-force scan becomes a per-cell scan. */
  def writeIvfIndex(vectors: DataFrame, centroids: DataFrame, path: String): Unit =
    graft.core.PhaseTimer.phase("build") {
      assignClusters(vectors, centroids)
        .write.partitionBy("cid").mode("overwrite").parquet(path)
    }

  /** Incremental index maintenance: assign NEW vectors against the
    * SAME centroids and append them into their cells — no rebuild, no
    * read of the existing index. Dynamic partition overwrite is not
    * needed because cells are append-only under a fixed codebook;
    * untouched cells' files are physically untouched (the contract
    * UpsertSpec pins for the hash-bucket store, here for the IVF
    * store). Cost scales with the BATCH, not the index — the property
    * that makes a 100 TB vector lake maintainable daily. Cell-balance
    * drift under appends is what vs12 audits; when it degrades, vs05's
    * refit + a one-time `writeIvfIndex` rebuild restore it. */
  def appendIvfIndex(newVectors: DataFrame, centroids: DataFrame, path: String): Unit =
    graft.core.PhaseTimer.phase("append") {
      assignClusters(newVectors, centroids)
        .write.partitionBy("cid").mode("append").parquet(path)
    }

  /** Fold a streaming ingest's `batch=<id>/cid=<cell>/` shard store
    * ([[graft.streaming.VectorStream.ivfIngest]]) back into the
    * canonical flat `cid=` layout of [[writeIvfIndex]]. Pure layout
    * move: every row keeps its (vec_id, v, cid), so a probe reads the
    * same rows before and after (IvfIngestStreamSpec pins the
    * equivalence) — run it when per-probe directory listing across
    * many shards becomes noticeable, the same economics as
    * [[graft.ops.DedupOps.compactLshIndex]]. */
  def compactIvfIndex(spark: SparkSession, shardedDir: String, path: String): Unit =
    spark.read.parquet(shardedDir).drop("batch")
      .write.partitionBy("cid").mode("overwrite").parquet(path)

  private def tombstoneDir(path: String) = s"$path/_deletes"

  private def hadoopPath(spark: SparkSession, p: String) = {
    val hp = new org.apache.hadoop.fs.Path(p)
    (hp, hp.getFileSystem(spark.sparkContext.hadoopConfiguration))
  }

  /** Targeted DELETE from the IVF index (takedowns, retention expiry) —
    * the MERGE-ON-READ complement of [[graft.ops.DedupOps.lshIndexDelete]]'s
    * copy-on-write posting rewrite. Same content-addressed trick: the
    * removed vectors are assigned against the FROZEN codebook, so their
    * (vec_id, cid) rows name exactly the cells holding them. But instead
    * of rewriting those cells, the rows append into a `_deletes/`
    * tombstone sidecar under the index root — an underscore-prefixed
    * path, hidden from the cell scans' file listing — and every probe
    * subtracts them ([[minusTombstones]]). Delete cost is O(batch) with
    * ZERO index files touched; probe cost grows by one broadcast
    * anti-join until [[vacuumIvfIndex]] folds the tombstones into a
    * physical rewrite of only the touched cells. This is the
    * Delta/Iceberg deletion-vector economics: takedowns are cheap and
    * immediate, compaction is amortized and targeted.
    *
    * Re-version contract: a tombstone kills by (vec_id, cid), so
    * re-inserting a tombstoned vec_id into the SAME cell is shadowed
    * until the sidecar is folded away — a vector re-version is
    * tombstone → [[vacuumIvfIndex]] → [[appendIvfIndex]], in that
    * order (IvfDeleteSpec pins both the safe composition and the
    * shadowing it avoids). */
  def tombstoneIvfDelete(removed: DataFrame, centroids: DataFrame, path: String): Unit =
    graft.core.PhaseTimer.phase("delete") {
      assignClusters(removed, centroids).select("vec_id", "cid")
        .write.mode("append").parquet(tombstoneDir(path))
    }

  /** Merge-on-read subtraction: drop tombstoned rows from a cell scan.
    * The sidecar is takedown-batch-sized by contract (bounded —
    * [[vacuumIvfIndex]] clears it), so it broadcasts; the anti-join key
    * includes `cid`, so a pruned probe only ever consults tombstones of
    * its own cells. Casts mirror the scan's schema: `cid` is a
    * partition-inferred column on the read side. */
  private def minusTombstones(spark: SparkSession, path: String,
      cells: DataFrame): DataFrame = {
    val (td, fs) = hadoopPath(spark, tombstoneDir(path))
    if (!fs.exists(td)) cells
    else {
      val tombs = spark.read.parquet(td.toString).select(
        col("vec_id").cast(cells.schema("vec_id").dataType).as("vec_id"),
        col("cid").cast(cells.schema("cid").dataType).as("cid"))
      cells.join(broadcast(tombs), Seq("vec_id", "cid"), "left_anti")
    }
  }

  /** Fold the tombstone sidecar into the physical layout: rewrite ONLY
    * the cells named by `_deletes/` (survivors staged to a scratch dir
    * first — Spark cannot overwrite a path a live plan reads), drop the
    * sidecar, leave every untouched cell's files byte-identical
    * (IvfDeleteSpec pins all three). Probe answers are identical before
    * and after — vacuum is pure layout economics: it restores
    * anti-join-free probes and re-bounds the sidecar so
    * [[minusTombstones]]' broadcast stays batch-sized. No-op when no
    * tombstones exist. The staging dir is deleted before it returns. */
  def vacuumIvfIndex(spark: SparkSession, path: String): Unit =
      graft.core.PhaseTimer.phase("vacuum") {
    val (td, fs) = hadoopPath(spark, tombstoneDir(path))
    if (fs.exists(td)) graft.core.QueryScope { // no-op when no tombstones exist
      val index = spark.read.parquet(path)
      // bounded: at most one row per index cell
      val touched = spark.read.parquet(td.toString)
        .select(col("cid").cast(index.schema("cid").dataType).as("cid"))
        .distinct().collect().map(_.get(0))
      val tmp = graft.core.Scratch.dir("graft_ivf_vacuum_") + "/staged"
      minusTombstones(spark, path, index.filter(col("cid").isin(touched: _*)))
        .write.parquet(tmp) // flat: cid stays a data column while staged
      touched.foreach(c =>
        fs.delete(hadoopPath(spark, s"$path/cid=$c")._1, true))
      fs.delete(td, true)
      spark.read.parquet(tmp).write.partitionBy("cid").mode("append").parquet(path)
    }
  }

  /** RE-VERSION (the UPDATE verb) on the IVF index — the vector-lake
    * counterpart of [[graft.ops.DedupOps.lshIndexUpsert]]: replace the
    * stored vectors of `oldVectors`' ids with `newVectors` (same ids,
    * edited embeddings) at batch cost, without rebuilding. The
    * composition is tombstone → vacuum → append IN THAT ORDER: a
    * tombstone kills by (vec_id, cid), so appending a new version that
    * lands in the SAME cell before the sidecar is folded away would be
    * shadowed by its own id's tombstone (IvfDeleteSpec pins both the
    * hazard and this safe ordering). Cost: O(edit batch) for tombstone
    * and append + a vacuum rewrite of only the cells the OLD versions
    * occupied — the index's other cells are never read or written.
    * After the verb, probes see exactly the index a fresh
    * [[writeIvfIndex]] over the edited lake would build (vs26's oracle
    * holds it to that full-recompute answer). */
  def reversionIvfIndex(spark: SparkSession, oldVectors: DataFrame,
      newVectors: DataFrame, centroids: DataFrame, path: String): Unit = {
    tombstoneIvfDelete(oldVectors, centroids, path)
    vacuumIvfIndex(spark, path)
    appendIvfIndex(newVectors, centroids, path)
  }

  /** Top-k cosine neighbors of each probe within the probe's cell.
    * `probes` cols: (probe_id, pv, pcid). The `cid isin` filter prunes
    * the scan to the probed partitions. Probe sets are small by design
    * (bounded collect: a probe BATCH, never the corpus), so they are
    * collected ONCE into a local relation — otherwise the
    * (possibly expensive) probe derivation would execute twice: for the
    * cid pruning list and again inside the join. */
  def probeIvfIndex(spark: SparkSession, path: String, probes: DataFrame, k: Int): DataFrame =
    probeIvfIndexImpl(spark, path, probes, k, lit(true))

  /** FILTERED serving probe — [[probeIvfIndex]] with a metadata
    * predicate over the index rows (the filtered-ANN production shape:
    * "nearest ENGLISH docs", "nearest assets from this source"). The
    * predicate evaluates against attribute columns DENORMALIZED INTO
    * the index at build time (see vs33's fixture), so a filtered probe
    * is still two physical steps — partition-prune to the probed
    * cells, then a predicate-pushed columnar scan of just those cells
    * — with NO query-time join against a metadata table. The filter
    * applies to the candidate set BEFORE the rank window (pre-filter,
    * then rank), so top-k is computed among qualifying rows rather
    * than post-filtering an unfiltered top-k short; callers counter
    * filter-induced candidate loss by probing MORE cells (multi-probe
    * `arn <= P` probes — the vs17 recall lever, filtered analog). */
  def probeIvfIndexWhere(spark: SparkSession, path: String, probes: DataFrame,
      k: Int, pred: Column): DataFrame =
    probeIvfIndexImpl(spark, path, probes, k, pred)

  private def probeIvfIndexImpl(spark: SparkSession, path: String,
      probes: DataFrame, k: Int, pred: Column): DataFrame = {
    // bounded: a probe BATCH (collected once — otherwise the possibly
    // expensive probe derivation would execute twice: for the cid
    // pruning list and again inside the join), never the corpus.
    val rows = probes.collect()
    val cidIdx = probes.schema.fieldIndex("pcid")
    val cids = rows.map(_.get(cidIdx)).distinct.toIndexedSeq
    val localProbes = spark.createDataFrame(
      java.util.Arrays.asList(rows: _*), probes.schema)
    val cells = minusTombstones(spark, path,
      spark.read.parquet(path).filter(col("cid").isin(cids: _*)).filter(pred))
    val w = Window.partitionBy("probe_id").orderBy(col("c").desc, col("neighbor_id"))
    cells.join(broadcast(localProbes), col("cid") === col("pcid") && col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id").as("neighbor_id"),
        cosine(col("pv"), col("v")).as("c"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("probe_id"), col("neighbor_id"), col("rnk"), round(col("c"), 4).as("cos"))
  }

  /** Shared tail of the mutual-kNN plans: per-source top-3 via the
    * mergeable `topk_by_score` aggregate, then mutuality as one
    * aggregation on the unordered pair key. Input cols: (src, nb, c). */
  private def mutualEdges(scored: DataFrame): DataFrame = {
    val topk = scored
      .groupBy("src")
      .agg(graft.functions.GraftFunctions
        .topk_by_score(col("nb"), col("c"), 3).as("tk"))
      .select(col("src"), explode(col("tk")).as("e"))
      .select(col("src"), col("e.id").as("nb"), col("e.score").as("c"))
    topk
      .select(least(col("src"), col("nb")).as("a"),
        greatest(col("src"), col("nb")).as("b"),
        when(col("src") < col("nb"), col("c")).as("cfwd"))
      .groupBy("a", "b")
      .agg(count(lit(1)).as("ndir"), max("cfwd").as("c"))
      .filter(col("ndir") === 2)
      .select(col("a"), col("b"), round(col("c"), 4).as("cos"))
  }

  /** vs10's registered plan: mutual-kNN over IVF candidate sets —
    * every vector lives in its integer-exact-L2 home cell, every
    * source probes its `nprobe` nearest cells, scoring joins
    * probes×homes ON THE CELL KEY. Work shards by cell across
    * executors; pair count ≈ Σ_cells nprobe·|cell|²/|cells| instead of
    * N². RECALL against [[mutualKnnExact]] is DATA-DEPENDENT: on
    * clustered corpora (the regime IVF exists for — IvfIndexSpec pins
    * >= 0.95 there) nearly all true neighbors share the home cell; on
    * a near-uniform corpus like the synthetic test embeddings,
    * neighbors are weak (cos ≈ 0.3) and scatter across cells, so
    * recall degrades (measured and recorded in SKETCH_QUALITY.json
    * rather than hidden — ~0.36 at nprobe 2/8; raising nprobe buys
    * recall linearly until it IS the exact kernel). Norms hoisted out
    * of the pair loop: cosine = dot/(sa·sb) with sa, sb computed once
    * per vector (same left-to-right accumulation, sqrt, product,
    * divide as the fused native expression — scores stay bit-identical
    * to the DuckDB oracle). */
  /** The deterministic 8-cell centroid seed (first 8 vectors by id as
    * (cid, cv)) that the IVF-celled queries build their cells from —
    * the ONE definition vs10's registered plan and SketchQuality's
    * nprobe→recall curve must share, or the curve silently measures a
    * different index than the query it annotates (r7 review). The
    * count is mirrored by the literal `vec_id < 8` in the DuckDB
    * oracles — change both together. */
  def seedCells(e: DataFrame): DataFrame =
    e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("cid"), col("v").as("cv"))

  def mutualKnnCelled(e: DataFrame, cents: DataFrame, nprobe: Int): DataFrame = {
    val ranked = rankCellsL2Exact(e, cents)
    val nrm = sqrt(GraftFunctions.dot_product(col("v"), col("v")))
    val home = ranked.filter(col("arn") === 1)
      .select(col("cid"), col("vec_id").as("nb"), col("v").as("nv"),
        nrm.as("nbn"))
    val probes = ranked.filter(col("arn") <= nprobe)
      .select(col("cid"), col("vec_id").as("src"), col("v"), nrm.as("sn"))
    mutualEdges(probes
      .join(home, Seq("cid"))
      .filter(col("src") =!= col("nb"))
      .select(col("src"), col("nb"),
        (GraftFunctions.dot_product(col("v"), col("nv"))
          / (col("sn") * col("nbn"))).as("c")))
  }

  /** The exact N² mutual-kNN kernel — vs10's registered plan until r5,
    * now its VERIFIER (IvfIndexSpec measures the celled plan's recall
    * against it). Broadcast all-pairs with hoisted norms; right per
    * batch, quadratic at corpus scale. */
  def mutualKnnExact(e: DataFrame): DataFrame = {
    val nrm = sqrt(GraftFunctions.dot_product(col("v"), col("v")))
    val other = e.select(col("vec_id").as("nb"), col("v").as("nv"),
      nrm.as("nbn"))
    mutualEdges(e.select(col("vec_id").as("src"), col("v"), nrm.as("sn"))
      .join(broadcast(other), col("src") =!= col("nb"))
      .select(col("src"), col("nb"),
        (GraftFunctions.dot_product(col("v"), col("nv"))
          / (col("sn") * col("nbn"))).as("c")))
  }

  /** Deterministic random hyperplanes (fixed seed) for sign-LSH. */
  private def hyperplanes(nPlanes: Int, dim: Int): Seq[Array[Double]] = {
    val rnd = new scala.util.Random(42)
    Seq.fill(nPlanes)(Array.fill(dim)(rnd.nextGaussian()))
  }

  /** 16-bit sign signature of `v` under the fixed hyperplanes. Each
    * projection uses the native codegen'd dot product — the HOF
    * formulation (`aggregate` over `zip_with`) interprets its lambdas
    * and allocates a zipped array PER PLANE PER ROW, which dominated
    * vs03's profile (r3 bench regression). */
  private def signSignature(v: Column, nPlanes: Int = 16, dim: Int = 64): Column =
    hyperplanes(nPlanes, dim).zipWithIndex
      .map { case (w, j) =>
        val plane = array(w.toIndexedSeq.map(lit): _*)
        when(GraftFunctions.dot_product(v, plane) > 0, lit(1L << j)).otherwise(lit(0L))
      }
      .reduce((x, y) => x.bitwiseOR(y))

  /** vs03's kernel on an arbitrary (vec_id, v) corpus: sign-LSH
    * near-duplicate pairs — bucket by the 16-bit hyperplane signature,
    * exact cosine only within buckets, keep pairs above `threshold`.
    * Zero-norm vectors never pair (cosine is null by contract).
    * ScaleStressSpec proves the kernel exact under a 10× id-shifted
    * corpus via a combinatorial closed form. */
  def signNearDups(vectors: DataFrame, threshold: Double = 0.99): DataFrame = {
    val u = vectors.withColumn("sig", signSignature(col("v")))
    u.select(col("vec_id").as("a"), col("v").as("va"), col("sig"))
      .join(u.select(col("vec_id").as("b"), col("v").as("vb"), col("sig")), "sig")
      .filter(col("a") < col("b"))
      .select(col("a"), col("b"), cosine(col("va"), col("vb")).as("c"))
      .filter(col("c") > threshold)
      .select(col("a"), col("b"), round(col("c"), 4).as("cos"))
  }

  val defs: Seq[QueryDef] = Seq(

    QueryDef(
      "vs01_topk_bruteforce",
      Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
             |p AS (SELECT vec_id AS probe_id, v AS pv FROM e WHERE vec_id < 5),
             |sc AS (SELECT probe_id, e.vec_id AS neighbor_id,
             |         list_cosine_similarity(pv, e.v) AS c
             |       FROM p, e WHERE e.vec_id <> probe_id),
             |r AS (SELECT probe_id, neighbor_id, c,
             |        row_number() OVER (PARTITION BY probe_id
             |          ORDER BY c DESC, neighbor_id) AS rn FROM sc)
             |SELECT probe_id, neighbor_id, CAST(rn AS BIGINT) AS rnk,
             |  round(c, 4) AS cos
             |FROM r WHERE rn <= 10""".stripMargin),
      (s, d) => {
        val e = emb(s, d)
        val probes = e.filter(col("vec_id") < 5)
          .select(col("vec_id").as("probe_id"), col("v").as("pv"))
        val w = Window.partitionBy("probe_id").orderBy(col("c").desc, col("neighbor_id"))
        e.join(broadcast(probes), col("vec_id") =!= col("probe_id"))
          .select(col("probe_id"), col("vec_id").as("neighbor_id"),
            cosine(col("pv"), col("v")).as("c"))
          .withColumn("rnk", row_number().over(w).cast("long"))
          .filter(col("rnk") <= 10)
          .select(col("probe_id"), col("neighbor_id"), col("rnk"), round(col("c"), 4).as("cos"))
      }),

    QueryDef(
      "vs02_ivf_topk",
      Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
             |c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 8),
             |a AS (SELECT e.vec_id, cid,
             |        row_number() OVER (PARTITION BY e.vec_id
             |          ORDER BY floor(list_cosine_similarity(v, cv) * 1000000 + 0.5) DESC, cid) AS arn
             |      FROM e, c),
             |asg AS (SELECT vec_id, cid FROM a WHERE arn = 1),
             |p AS (SELECT e.vec_id AS probe_id, e.v AS pv, asg.cid AS pcid
             |      FROM e JOIN asg ON e.vec_id = asg.vec_id
             |      WHERE e.vec_id BETWEEN 100 AND 104),
             |cand AS (SELECT probe_id, e.vec_id AS neighbor_id,
             |           list_cosine_similarity(pv, e.v) AS c
             |         FROM p JOIN asg ON asg.cid = p.pcid
             |         JOIN e ON e.vec_id = asg.vec_id
             |         WHERE e.vec_id <> probe_id),
             |r AS (SELECT probe_id, neighbor_id, c,
             |        row_number() OVER (PARTITION BY probe_id
             |          ORDER BY c DESC, neighbor_id) AS rn FROM cand)
             |SELECT probe_id, neighbor_id, CAST(rn AS BIGINT) AS rnk,
             |  round(c, 4) AS cos
             |FROM r WHERE rn <= 3""".stripMargin),
      (s, d) => {
        val e = emb(s, d)
        val centroids = e.filter(col("vec_id") < 8)
          .select(col("vec_id").as("cid"), col("v").as("cv"))
        val asg = assignClusters(e, centroids)
        val probes = asg.filter(col("vec_id").between(100, 104))
          .select(col("vec_id").as("probe_id"), col("v").as("pv"), col("cid").as("pcid"))
        val wRank = Window.partitionBy("probe_id").orderBy(col("c").desc, col("neighbor_id"))
        asg.join(broadcast(probes), col("cid") === col("pcid") && col("vec_id") =!= col("probe_id"))
          .select(col("probe_id"), col("vec_id").as("neighbor_id"),
            cosine(col("pv"), col("v")).as("c"))
          .withColumn("rnk", row_number().over(wRank).cast("long"))
          .filter(col("rnk") <= 3)
          .select(col("probe_id"), col("neighbor_id"), col("rnk"), round(col("c"), 4).as("cos"))
      }),

    QueryDef(
      "vs03_embed_neardup",
      Some("""WITH u AS (
             |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
             |  UNION ALL
             |  SELECT vec_id + 100000, embedding::DOUBLE[] FROM embeddings),
             |pr AS (SELECT a.vec_id AS a, b.vec_id AS b,
             |         list_cosine_similarity(a.v, b.v) AS c
             |       FROM u a JOIN u b ON a.vec_id < b.vec_id)
             |SELECT a, b, round(c, 4) AS cos FROM pr WHERE c > 0.99""".stripMargin),
      (s, d) => {
        // Sign-LSH bucketing: only vectors with an identical 16-bit
        // signature are compared exactly. The brute-force SQL oracle is
        // equivalent here because nothing below cosine 0.99 can pass the
        // final filter and true near-dups (injected exact copies) always
        // share a signature.
        val e = emb(s, d)
        signNearDups(e.unionByName(
          e.withColumn("vec_id", col("vec_id") + lit(Shift))))
      }),

    QueryDef(
      "vs04_quantize",
      // Int8 scalar quantization — the storage/IO lever for ANN at
      // 100 TB (4x smaller vectors, SIMD-friendly int dot products).
      // Per-vector max-abs scale; q_i = floor(v_i/s*127 + 0.5) (identical
      // IEEE ops on both engines — no round() half-mode ambiguity);
      // output is the reconstruction cosine per vector, the fidelity
      // metric a pipeline monitors before switching its index to int8.
      // Everything is codegen'd HOFs over the array column: map-only,
      // zero shuffles.
      Some("""WITH e AS (
             |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
             |s AS (
             |  SELECT vec_id, v,
             |    list_max(list_transform(v, x -> abs(x))) AS scale
             |  FROM e),
             |q AS (
             |  SELECT vec_id, v,
             |    list_transform(v,
             |      x -> floor(x / scale * 127 + 0.5) * scale / 127) AS deq
             |  FROM s WHERE scale > 0)
             |SELECT vec_id,
             |  round(list_cosine_similarity(v, deq), 4) AS recon_cos
             |FROM q""".stripMargin),
      (s, d) => {
        val e = emb(s, d)
          .withColumn("scale", array_max(transform(col("v"), x => abs(x))))
          .filter(col("scale") > 0)
          .withColumn("deq", transform(col("v"),
            x => floor(x / col("scale") * 127 + lit(0.5)) * col("scale") / 127))
        e.select(col("vec_id"), round(cosine(col("v"), col("deq")), 4).as("recon_cos"))
      }),

    QueryDef(
      "vs05_kmeans_step",
      // One Lloyd iteration refitting the IVF index centroids: assign
      // every vector to its nearest centroid, then per-centroid
      // element-wise mean. posexplode keeps the mean a flat (cid, dim)
      // aggregation — one shuffle, map-side combinable, dims bounded —
      // instead of a zip_with fold that would serialize whole vectors
      // through an aggregation buffer. This is how the vs02/IVF layout
      // gets periodically retrained at 100 TB.
      //
      // Determinism (r2–r4 hash-fail postmortem): any double-valued
      // score — even one quantized to a 1e-6 grid AFTER the cosine —
      // leaves membership hostage to the last ulp of the two engines'
      // cosine kernels at grid boundaries. The fix is vs09's
      // discipline: make the SCORE itself integer-exact. The
      // assignment metric is squared-L2 argmin over components
      // quantized to a 1e-4 grid (floor(x*1e4+0.5) per element is
      // IEEE-identical on both engines since both read the same
      // parquet doubles; everything after is 64-bit integer
      // arithmetic, order-independent and engine-independent — max
      // Σ(Δq)² here is 64·(2·5301)² ≈ 7.2e9 « 2⁶³). L2 is also the
      // canonical Lloyd metric. Ties (exact equal integer distance)
      // break on cid. The mean stays integer-exact via the 1e6
      // element quantization; one final double division both engines
      // do identically. The trailing `+ 0.0` on both sides normalizes
      // IEEE -0.0 → +0.0: DuckDB's round() emits -0.0 for a tiny
      // negative mean while Spark's BigDecimal HALF_UP round emits
      // +0.0, and the driver's compare hashes doubles at the BIT
      // level (r5 verdict: 2/512 cells differed only in the sign bit).
      Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
             |q AS (SELECT vec_id, v,
             |        list_transform(v, x -> CAST(floor(x*10000 + 0.5) AS BIGINT)) AS qv
             |      FROM e),
             |c AS (SELECT vec_id AS cid, qv AS qc FROM q WHERE vec_id < 8),
             |a AS (SELECT q.vec_id, cid,
             |        row_number() OVER (PARTITION BY q.vec_id
             |          ORDER BY list_sum(list_transform(list_zip(q.qv, c.qc),
             |            p -> (p[1]-p[2])*(p[1]-p[2]))) ASC, cid) AS arn
             |      FROM q, c),
             |asg AS (SELECT vec_id, cid FROM a WHERE arn = 1),
             |x AS (SELECT asg.cid, unnest(e.v) AS val,
             |        generate_subscripts(e.v, 1) AS dim
             |      FROM asg JOIN e USING (vec_id))
             |SELECT cid, CAST(dim AS BIGINT) AS dim,
             |  round(CAST(sum(CAST(floor(val * 1000000 + 0.5) AS BIGINT)) AS DOUBLE)
             |        / (count(*) * 1000000.0), 4) + 0.0 AS c_new,
             |  CAST(count(*) AS BIGINT) AS n
             |FROM x GROUP BY cid, dim""".stripMargin),
      (s, d) => {
        val e = emb(s, d)
        val centroids = e.filter(col("vec_id") < 8)
          .select(col("vec_id").as("cid"), col("v").as("cv"))
        assignClustersL2Exact(e, centroids)
          .select(col("cid"), posexplode(col("v")))
          .toDF("cid", "pos", "val")
          .groupBy(col("cid"), (col("pos") + 1).cast("long").as("dim"))
          .agg(
            (round(sum(floor(col("val") * 1e6 + lit(0.5))).cast("double")
              / (count(lit(1)) * lit(1e6)), 4) + lit(0.0)).as("c_new"),
            count(lit(1)).as("n"))
      }),

    QueryDef(
      "vs06_recall_eval",
      // Recall@10 of the IVF (single-cell probe) index against the
      // brute-force ground truth — the quality metric a pipeline tracks
      // before trading exactness for the partition-pruned scan. Both
      // rankings are total orders (cos DESC, neighbor_id), so the top-k
      // sets — and hence the recall ratio of two exact integers — are
      // engine-deterministic. The ground-truth pass streams the corpus
      // once per probe batch (broadcast probes); at 100 TB this runs on
      // a sampled probe set, which is exactly the shape here.
      Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
             |c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 8),
             |a AS (SELECT e.vec_id, cid,
             |        row_number() OVER (PARTITION BY e.vec_id
             |          ORDER BY floor(list_cosine_similarity(v, cv) * 1000000 + 0.5) DESC, cid) AS arn
             |      FROM e, c),
             |asg AS (SELECT vec_id, cid FROM a WHERE arn = 1),
             |p AS (SELECT e.vec_id AS probe_id, e.v AS pv, asg.cid AS pcid
             |      FROM e JOIN asg ON e.vec_id = asg.vec_id
             |      WHERE e.vec_id BETWEEN 100 AND 104),
             |bf AS (SELECT probe_id, neighbor_id FROM (
             |  SELECT probe_id, e.vec_id AS neighbor_id,
             |    row_number() OVER (PARTITION BY probe_id
             |      ORDER BY list_cosine_similarity(pv, e.v) DESC, e.vec_id) AS rn
             |  FROM p, e WHERE e.vec_id <> probe_id) t WHERE rn <= 10),
             |ivf AS (SELECT probe_id, neighbor_id FROM (
             |  SELECT probe_id, e.vec_id AS neighbor_id,
             |    row_number() OVER (PARTITION BY probe_id
             |      ORDER BY list_cosine_similarity(pv, e.v) DESC, e.vec_id) AS rn
             |  FROM p JOIN asg ON asg.cid = p.pcid
             |  JOIN e ON e.vec_id = asg.vec_id
             |  WHERE e.vec_id <> probe_id) t WHERE rn <= 10)
             |SELECT bf.probe_id, CAST(count(*) AS BIGINT) AS n_true,
             |  CAST(sum(CASE WHEN ivf.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
             |  round(sum(CASE WHEN ivf.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
             |        / CAST(count(*) AS DOUBLE), 4) AS recall
             |FROM bf LEFT JOIN ivf
             |  ON bf.probe_id = ivf.probe_id AND bf.neighbor_id = ivf.neighbor_id
             |GROUP BY bf.probe_id""".stripMargin),
      (s, d) => {
        val e = emb(s, d)
        val centroids = e.filter(col("vec_id") < 8)
          .select(col("vec_id").as("cid"), col("v").as("cv"))
        val asg = assignClusters(e, centroids)
        val probes = asg.filter(col("vec_id").between(100, 104))
          .select(col("vec_id").as("probe_id"), col("v").as("pv"), col("cid").as("pcid"))
        val wRank = Window.partitionBy("probe_id").orderBy(col("c").desc, col("neighbor_id"))
        def topk(cand: DataFrame): DataFrame = cand
          .select(col("probe_id"), col("vec_id").as("neighbor_id"),
            cosine(col("pv"), col("v")).as("c"))
          .withColumn("rn", row_number().over(wRank))
          .filter(col("rn") <= 10)
          .select(col("probe_id"), col("neighbor_id"))
        val bf = topk(e.join(broadcast(probes), col("vec_id") =!= col("probe_id")))
        val ivf = topk(asg.join(broadcast(probes),
          col("cid") === col("pcid") && col("vec_id") =!= col("probe_id")))
        val hit = when(col("hit_mark").isNotNull, 1L).otherwise(0L)
        bf.join(ivf.withColumn("hit_mark", lit(1)), Seq("probe_id", "neighbor_id"), "left")
          .groupBy("probe_id")
          .agg(count(lit(1)).as("n_true"),
            sum(hit).cast("long").as("n_hit"),
            round(sum(hit) / count(lit(1)).cast("double"), 4).as("recall"))
      }),

    QueryDef(
      "vs08_centroid_shift",
      // Convergence monitoring for the IVF refit: cosine between each
      // OLD centroid and the vs05-refit mean — the metric that decides
      // when Lloyd iterations stop (shift_cos → 1). New centroids are
      // assembled from the per-(cid, dim) means ROUNDED FIRST (4dp) on
      // both engines, so the vectors entering the cosine are identical
      // and the comparison is engine-exact.
      Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
             |c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 8),
             |a AS (SELECT e.vec_id, cid,
             |        row_number() OVER (PARTITION BY e.vec_id
             |          ORDER BY floor(list_cosine_similarity(v, cv) * 1000000 + 0.5) DESC, cid) AS arn
             |      FROM e, c),
             |asg AS (SELECT vec_id, cid FROM a WHERE arn = 1),
             |x AS (SELECT asg.cid, unnest(e.v) AS val,
             |        generate_subscripts(e.v, 1) AS dim
             |      FROM asg JOIN e USING (vec_id)),
             |nc AS (SELECT cid, dim, round(avg(val), 4) AS m
             |       FROM x GROUP BY 1, 2),
             |nv AS (SELECT cid, list(m ORDER BY dim) AS newv FROM nc GROUP BY 1)
             |SELECT nv.cid,
             |  round(list_cosine_similarity(o.cv, nv.newv), 4) AS shift_cos,
             |  CAST(len(nv.newv) AS BIGINT) AS dims
             |FROM nv JOIN c o ON o.cid = nv.cid""".stripMargin),
      (s, d) => {
        val e = emb(s, d)
        val centroids = e.filter(col("vec_id") < 8)
          .select(col("vec_id").as("cid"), col("v").as("cv"))
        val means = assignClusters(e, centroids)
          .select(col("cid"), posexplode(col("v")))
          .toDF("cid", "pos", "val")
          .groupBy(col("cid"), (col("pos") + 1).as("dim"))
          .agg(round(avg("val"), 4).as("m"))
        val newv = means.groupBy("cid")
          .agg(transform(array_sort(collect_list(struct(col("dim"), col("m")))),
            x => x.getField("m")).as("newv"))
        newv.join(broadcast(centroids), "cid")
          .select(col("cid"),
            round(cosine(col("cv"), col("newv")), 4).as("shift_cos"),
            size(col("newv")).cast("long").as("dims"))
      }),

    QueryDef(
      "vs07_dim_truncation",
      // Dimension-truncation quality (the Matryoshka/MRL question: how
      // much ranking survives keeping the first 16 of 64 dims?):
      // top-10 by truncated-prefix cosine vs the full-dim ground
      // truth, overlap per probe. Prefix slicing is free at scan time
      // (a narrower vector column); a 4x-shorter vector is a 4x
      // cheaper scan+score for the coarse pass of a two-stage
      // retrieve-then-rerank pipeline — this query measures what that
      // coarse pass loses. Both rankings are total orders, so the
      // overlap is engine-deterministic.
      Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
             |p AS (SELECT vec_id AS probe_id, v AS pv FROM e
             |      WHERE vec_id BETWEEN 100 AND 104),
             |bf AS (SELECT probe_id, neighbor_id FROM (
             |  SELECT probe_id, e.vec_id AS neighbor_id,
             |    row_number() OVER (PARTITION BY probe_id
             |      ORDER BY list_cosine_similarity(pv, e.v) DESC, e.vec_id) AS rn
             |  FROM p, e WHERE e.vec_id <> probe_id) t WHERE rn <= 10),
             |tr AS (SELECT probe_id, neighbor_id FROM (
             |  SELECT probe_id, e.vec_id AS neighbor_id,
             |    row_number() OVER (PARTITION BY probe_id
             |      ORDER BY list_cosine_similarity(
             |        list_slice(pv, 1, 16), list_slice(e.v, 1, 16)) DESC,
             |        e.vec_id) AS rn
             |  FROM p, e WHERE e.vec_id <> probe_id) t WHERE rn <= 10)
             |SELECT bf.probe_id, CAST(count(*) AS BIGINT) AS n_true,
             |  CAST(sum(CASE WHEN tr.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
             |  round(sum(CASE WHEN tr.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
             |        / CAST(count(*) AS DOUBLE), 4) AS overlap
             |FROM bf LEFT JOIN tr
             |  ON bf.probe_id = tr.probe_id AND bf.neighbor_id = tr.neighbor_id
             |GROUP BY bf.probe_id""".stripMargin),
      (s, d) => {
        val e = emb(s, d)
        val probes = e.filter(col("vec_id").between(100, 104))
          .select(col("vec_id").as("probe_id"), col("v").as("pv"))
        val wRank = Window.partitionBy("probe_id").orderBy(col("c").desc, col("neighbor_id"))
        def top10(score: Column): DataFrame = e
          .join(broadcast(probes), col("vec_id") =!= col("probe_id"))
          .select(col("probe_id"), col("vec_id").as("neighbor_id"), score.as("c"))
          .withColumn("rn", row_number().over(wRank))
          .filter(col("rn") <= 10)
          .select(col("probe_id"), col("neighbor_id"))
        val bf = top10(cosine(col("pv"), col("v")))
        val tr = top10(cosine(slice(col("pv"), 1, 16), slice(col("v"), 1, 16)))
        val hit = when(col("hit_mark").isNotNull, 1L).otherwise(0L)
        bf.join(tr.withColumn("hit_mark", lit(1)), Seq("probe_id", "neighbor_id"), "left")
          .groupBy("probe_id")
          .agg(count(lit(1)).as("n_true"),
            sum(hit).cast("long").as("n_kept"),
            round(sum(hit) / count(lit(1)).cast("double"), 4).as("overlap"))
      }),

    QueryDef(
      "vs09_pq_codes",
      // Product quantization: split the 64-dim vector into 4 sub-blocks
      // of 16 dims and encode each block as the id of its nearest
      // codebook centroid (vectors 0-7's sub-blocks serve as the
      // codebook) — the 16-bytes-per-vector compressed representation
      // an ANN index stores instead of 256-byte floats. Squared-L2
      // distances are quantized per element to exact integers
      // (floor(d²·1e12+0.5)) BEFORE summing, so both the block sums and
      // the argmin ranking are integer-exact and engine/partition-order
      // deterministic (same discipline as vs05). Scale shape: corpus
      // streams once against a broadcast codebook; per row the work is
      // 4 blocks × 8 centroids × 16 dims — map-only, then no shuffle at
      // all until the (absent) downstream consumer.
      Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
             |c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 8),
             |blocks AS (SELECT vec_id, v, b
             |           FROM e, (SELECT unnest(range(0, 4)) AS b)),
             |d AS (SELECT vec_id, b, cid,
             |        CAST(list_sum(list_transform(range(1, 17),
             |          i -> CAST(floor((v[16*b+i] - cv[16*b+i])
             |                          * (v[16*b+i] - cv[16*b+i])
             |                          * 1000000000000 + 0.5) AS BIGINT)))
             |          AS BIGINT) AS d2q
             |      FROM blocks, c),
             |r AS (SELECT vec_id, b, cid, d2q,
             |        row_number() OVER (PARTITION BY vec_id, b
             |          ORDER BY d2q, cid) AS rn
             |      FROM d)
             |SELECT vec_id, CAST(b AS BIGINT) AS block, CAST(cid AS BIGINT) AS code,
             |  round(CAST(d2q AS DOUBLE) / 1e12, 4) AS err
             |FROM r WHERE rn = 1""".stripMargin),
      (s, d) => {
        val e = emb(s, d)
        // the codebook is 8 centroid rows — collected ONCE into the
        // native pq_block_codes expression (bounded-collect discipline,
        // cf. the IVF probe lists). The whole query is then a map-only
        // scan: one fused loop nest per row inside WholeStageCodegen
        // replaces the r4 explode → crossJoin → HOF-score → window
        // pipeline (5.0 s → native expression; same integer-exact
        // arithmetic, hash unchanged).
        val cb = e.filter(col("vec_id") < 8)
          .select(col("vec_id"), col("v")).collect()
          .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
          .sortBy(_._1)
        val codes = GraftFunctions.pq_block_codes(
          col("v"), 16, cb.map(_._1), cb.map(_._2))
        e.select(col("vec_id"), explode(codes).as("pq"))
          .select(col("vec_id"), col("pq.block").as("block"),
            col("pq.code").as("code"),
            round(col("pq.d2q").cast("double") / lit(1e12), 4).as("err"))
      }),

    QueryDef(
      "vs10_mutual_knn",
      // Mutual-kNN graph construction — the edge set behind
      // graph-based diversity sampling and semantic clustering: an
      // (a, b) edge exists iff each vector ranks in the other's top-3
      // by cosine among its CANDIDATES. Since r5 the registered plan
      // is the 100 TB shape, not the N² kernel: candidates come from
      // the vs02 IVF layout — every vector lives in its (integer-exact
      // L2) home cell, every source probes its top-4 cells, and
      // scoring joins probes×homes ON THE CELL KEY, so work shards by
      // cell across executors and the pair count drops from N² to
      // ~Σ|probe_c|·|home_c| (≈N²/2 at 8 cells; with √N cells the
      // standard IVF economics apply). nprobe = 4 is the operating
      // point chosen OFF THE PUBLISHED CURVE (SKETCH_QUALITY's
      // vs10_nprobe_recall_curve: 0.30/0.36/0.60/1.0 at 1/2/4/8 on
      // the adversarial near-uniform test corpus): the 2→4 step buys
      // the curve's largest recall increment (+0.24) for ~2× probe
      // reads, while 8 of 8 cells would just be the N² kernel —
      // r7 verdict task 4's defensible default. On clustered corpora
      // (IVF's regime) even nprobe = 2 clears 0.95 (IvfIndexSpec), so
      // 4 is conservative there. The assignment metric is the
      // engine-independent quantized L2 ([[rankCellsL2Exact]], vs05's
      // discipline) so both engines derive IDENTICAL candidate sets —
      // which is what keeps this multiprobe plan ORACLE-EXACT rather
      // than sketch-tier; [[IvfIndexSpec]] additionally measures its
      // recall against the exact N² kernel ([[mutualKnnExact]], the
      // demoted verifier). Per-source top-3 is the mergeable
      // `topk_by_score` aggregate (O(N·k) shuffle); mutuality is ONE
      // aggregation on the unordered pair key (count = 2 ⇔ both
      // directions survived), not a reversed-key self-join that would
      // re-evaluate the scoring pipeline twice.
      Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
             |q AS (SELECT vec_id, v,
             |        list_transform(v, x -> CAST(floor(x*10000+0.5) AS BIGINT)) AS qv
             |      FROM e),
             |c AS (SELECT vec_id AS cid, qv AS qc FROM q WHERE vec_id < 8),
             |r AS (SELECT q.vec_id, cid, row_number() OVER (PARTITION BY q.vec_id
             |        ORDER BY list_sum(list_transform(list_zip(q.qv, c.qc),
             |          p -> (p[1]-p[2])*(p[1]-p[2]))) ASC, cid) AS arn
             |      FROM q, c),
             |home AS (SELECT r.vec_id AS nb, cid FROM r WHERE arn = 1),
             |probes AS (SELECT r.vec_id AS src, cid FROM r WHERE arn <= 4),
             |sc AS (SELECT p.src, h.nb, list_cosine_similarity(ev.v, eh.v) AS c
             |       FROM probes p JOIN home h USING (cid)
             |       JOIN e ev ON ev.vec_id = p.src JOIN e eh ON eh.vec_id = h.nb
             |       WHERE p.src <> h.nb),
             |rk AS (SELECT src, nb, c, row_number() OVER (PARTITION BY src
             |         ORDER BY c DESC, nb) AS rn FROM sc),
             |k AS (SELECT src, nb, c FROM rk WHERE rn <= 3)
             |SELECT x.src AS a, x.nb AS b, round(x.c, 4) AS cos
             |FROM k x JOIN k y ON x.src = y.nb AND x.nb = y.src
             |WHERE x.src < x.nb""".stripMargin),
      (s, d) => {
        val e = emb(s, d)
        val cents = seedCells(e)
        mutualKnnCelled(e, cents, nprobe = 4)
      }),

    QueryDef(
      "vs11_mips_topk",
      // Max-inner-product search (MIPS) — retrieval embeddings rank by
      // q·v, not cosine: the norm carries signal (e.g. popularity /
      // confidence weighting), so normalizing changes the answer.
      // Same broadcast-probes shape as vs01, scored by the native
      // dot_product expression (codegen loop, left-to-right
      // accumulation — bit-identical to DuckDB's list_inner_product).
      // At 100 TB MIPS bucketing differs from cosine LSH (norm matters)
      // — the standard reduction appends an extra coordinate
      // sqrt(M²-|v|²) turning MIPS into cosine search, and then the
      // vs02 IVF layout applies unchanged.
      Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
             |p AS (SELECT vec_id AS probe_id, v AS pv FROM e
             |      WHERE vec_id BETWEEN 200 AND 204),
             |sc AS (SELECT probe_id, e.vec_id AS neighbor_id,
             |         list_inner_product(pv, e.v) AS dp
             |       FROM p, e WHERE e.vec_id <> probe_id),
             |r AS (SELECT probe_id, neighbor_id, dp,
             |        row_number() OVER (PARTITION BY probe_id
             |          ORDER BY dp DESC, neighbor_id) AS rn FROM sc)
             |SELECT probe_id, neighbor_id, CAST(rn AS BIGINT) AS rnk,
             |  round(dp, 4) AS dp
             |FROM r WHERE rn <= 10""".stripMargin),
      (s, d) => {
        val e = emb(s, d)
        val probes = e.filter(col("vec_id").between(200, 204))
          .select(col("vec_id").as("probe_id"), col("v").as("pv"))
        val w = Window.partitionBy("probe_id").orderBy(col("dp").desc, col("neighbor_id"))
        e.join(broadcast(probes), col("vec_id") =!= col("probe_id"))
          .select(col("probe_id"), col("vec_id").as("neighbor_id"),
            GraftFunctions.dot_product(col("pv"), col("v")).as("dp"))
          .withColumn("rnk", row_number().over(w).cast("long"))
          .filter(col("rnk") <= 10)
          .select(col("probe_id"), col("neighbor_id"), col("rnk"),
            round(col("dp"), 4).as("dp"))
      }),

    QueryDef(
      "vs12_cell_balance",
      // IVF cell-balance audit: the inverted-list size distribution
      // under vs02's coarse quantizer, plus each cell's share of the
      // corpus. Skewed cells are THE failure mode of IVF at scale (one
      // hot cell turns probe latency into a full scan); this is the
      // q48-style diagnostic that decides when to re-train or split
      // centroids. One broadcast assignment pass + one tiny aggregate.
      Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
             |c AS (SELECT vec_id AS cid, embedding::DOUBLE[] AS cv
             |      FROM embeddings WHERE vec_id < 8),
             |a AS (SELECT e.vec_id, cid,
             |        row_number() OVER (PARTITION BY e.vec_id
             |          ORDER BY floor(list_cosine_similarity(v, cv) * 1000000 + 0.5) DESC, cid) AS arn
             |      FROM e, c),
             |asg AS (SELECT vec_id, cid FROM a WHERE arn = 1)
             |SELECT cid, CAST(count(*) AS BIGINT) AS n_vecs,
             |  round(CAST(count(*) AS DOUBLE) /
             |    sum(count(*)) OVER (), 4) AS share,
             |  CAST(min(vec_id) AS BIGINT) AS min_id,
             |  CAST(max(vec_id) AS BIGINT) AS max_id
             |FROM asg GROUP BY cid""".stripMargin),
      (s, d) => {
        val e = emb(s, d)
        val cents = seedCells(e)
        assignClusters(e, cents)
          .groupBy("cid")
          .agg(count(lit(1)).as("n_vecs"),
            min("vec_id").cast("long").as("min_id"),
            max("vec_id").cast("long").as("max_id"))
          .select(col("cid"), col("n_vecs").cast("long").as("n_vecs"),
            round(col("n_vecs").cast("double") /
              sum("n_vecs").over(
                Window.partitionBy(PrefixSum.onePart(col("cid")))), 4).as("share"),
            col("min_id"), col("max_id"))
      }),

    QueryDef(
      "vs13_cosine_histogram",
      // Corpus similarity distribution — the audit that sizes dedup
      // thresholds and detects embedding collapse (everything too
      // similar ⇒ the model lost dimensionality). A deterministic
      // systematic pair sample (each vector vs its next 5 ids — an
      // offset-explode turned EQUI-join, never an all-pairs cross)
      // scores native cosine and rolls into fixed 0.1-wide buckets.
      // Cost: 5n pairs regardless of corpus size; the join key is the
      // integer id, so it shuffles compactly (or co-locates entirely
      // under id-bucketed layout).
      Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
             |pr AS (
             |  SELECT a.vec_id AS a, a.vec_id + o.o AS b,
             |    list_cosine_similarity(a.v, b.v) AS c
             |  FROM e a
             |  JOIN (SELECT unnest(range(1, 6)) AS o) o ON true
             |  JOIN e b ON b.vec_id = a.vec_id + o.o)
             |SELECT CAST(floor(c * 10) AS BIGINT) AS bucket,
             |  CAST(count(*) AS BIGINT) AS n,
             |  round(min(c), 4) + 0.0 AS min_c,
             |  round(max(c), 4) + 0.0 AS max_c
             |FROM pr GROUP BY 1""".stripMargin),
      (s, d) => {
        val e = emb(s, d)
        val pairs = e.select(col("vec_id").as("a"), col("v").as("va"),
            explode(sequence(lit(1), lit(5))).as("o"))
          .select(col("a"), col("va"), (col("a") + col("o")).as("b"))
          .join(e.select(col("vec_id").as("b"), col("v").as("vb")), "b")
          .select(cosine(col("va"), col("vb")).as("c"))
        // + 0.0 normalizes IEEE -0.0 (a cosine in (-5e-5, 0) rounds to
        // -0.0 in one engine and +0.0 in the other — bit-level hash;
        // caught at sf0.001 by check.py's r6 uint64 comparator)
        pairs
          .groupBy(floor(col("c") * 10).cast("long").as("bucket"))
          .agg(count(lit(1)).cast("long").as("n"),
            (round(min("c"), 4) + lit(0.0)).as("min_c"),
            (round(max("c"), 4) + lit(0.0)).as("max_c"))
      }),

    QueryDef(
      "vs14_ivf_pq_search",
      // The composed FAISS-style IVFADC search: vs02's coarse quantizer
      // confines each probe to ONE cell, and within the cell distances
      // are computed from the corpus vectors' vs09 PQ CODES against the
      // probe's precomputed block-distance table (asymmetric distance
      // computation) — the index never touches raw corpus floats at
      // query time. Everything downstream of the two broadcast
      // assignment passes is an equi-join: codes ⋈ cell ⋈ ADC table on
      // (block, code), then a 4-row sum per (probe, neighbor) and one
      // top-3 window. All distances are vs09's integer-quantized
      // per-element floor sums, so ranking is engine-exact. Scale
      // shape: the ADC table is probes×4×8 rows (broadcast); the
      // corpus side carries 16 bytes of codes per vector through ONE
      // shuffle on cell id.
      Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
             |c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 8),
             |asg AS (
             |  SELECT vec_id, cell FROM (
             |    SELECT e.vec_id, cid AS cell,
             |      row_number() OVER (PARTITION BY e.vec_id
             |        ORDER BY floor(list_cosine_similarity(v, cv) * 1000000 + 0.5) DESC, cid) AS arn
             |    FROM e, c) t WHERE arn = 1),
             |blocks AS (SELECT vec_id, v, b
             |           FROM e, (SELECT unnest(range(0, 4)) AS b)),
             |bd AS (SELECT vec_id, b, cid,
             |        CAST(list_sum(list_transform(range(1, 17),
             |          i -> CAST(floor((v[16*b+i] - cv[16*b+i])
             |                          * (v[16*b+i] - cv[16*b+i])
             |                          * 1000000000000 + 0.5) AS BIGINT)))
             |          AS BIGINT) AS d2q
             |      FROM blocks, c),
             |codes AS (
             |  SELECT vec_id, b, cid AS code FROM (
             |    SELECT vec_id, b, cid,
             |      row_number() OVER (PARTITION BY vec_id, b
             |        ORDER BY d2q, cid) AS rn FROM bd) t WHERE rn = 1),
             |adc AS (
             |  SELECT bd.vec_id AS probe_id, b, cid, d2q FROM bd
             |  WHERE bd.vec_id BETWEEN 200 AND 204),
             |cand AS (
             |  SELECT a.probe_id, cs.vec_id AS neighbor_id,
             |    CAST(sum(a.d2q) AS BIGINT) AS adc_d2q
             |  FROM codes cs
             |  JOIN asg ca ON ca.vec_id = cs.vec_id
             |  JOIN asg pa ON pa.vec_id BETWEEN 200 AND 204
             |    AND pa.cell = ca.cell
             |  JOIN adc a ON a.probe_id = pa.vec_id
             |    AND a.b = cs.b AND a.cid = cs.code
             |  WHERE cs.vec_id <> pa.vec_id
             |  GROUP BY 1, 2)
             |SELECT probe_id, neighbor_id,
             |  CAST(row_number() OVER (PARTITION BY probe_id
             |    ORDER BY adc_d2q, neighbor_id) AS BIGINT) AS rnk,
             |  round(CAST(adc_d2q AS DOUBLE) / 1e12, 4) AS adc_dist
             |FROM (SELECT * FROM cand) x
             |QUALIFY rnk <= 3""".stripMargin),
      (s, d) => {
        val e = emb(s, d)
        val cents = seedCells(e)
        val asg = assignClusters(e, cents)
          .select(col("vec_id"), col("cid").as("cell"))
        val blocks = e.select(col("vec_id"), col("v"),
          explode(sequence(lit(0), lit(3))).as("b"))
        def el(v: Column, i: Column) = element_at(v, (lit(16) * col("b") + i).cast("int"))
        val d2q = aggregate(
          transform(sequence(lit(1), lit(16)), i => {
            val diff = el(col("v"), i) - el(col("cv"), i)
            floor(diff * diff * lit(1e12) + lit(0.5))
          }),
          lit(0L), (acc, x) => acc + x)
        val bd = blocks.crossJoin(broadcast(cents))
          .select(col("vec_id"), col("b"), col("cid"), d2q.as("d2q"))
        val wCode = Window.partitionBy("vec_id", "b").orderBy(col("d2q"), col("cid"))
        val codes = bd.withColumn("rn", row_number().over(wCode))
          .filter(col("rn") === 1)
          .select(col("vec_id"), col("b"), col("cid").as("code"))
        val adc = bd.filter(col("vec_id").between(200, 204))
          .select(col("vec_id").as("probe_id"), col("b"), col("cid"), col("d2q"))
        val probeCell = asg.filter(col("vec_id").between(200, 204))
          .select(col("vec_id").as("probe_id"), col("cell"))
        val wTop = Window.partitionBy("probe_id")
          .orderBy(col("adc_d2q"), col("neighbor_id"))
        codes
          .join(asg, "vec_id")
          .join(broadcast(probeCell), "cell")
          .filter(col("vec_id") =!= col("probe_id"))
          .join(broadcast(adc.withColumnRenamed("cid", "code")),
            Seq("probe_id", "b", "code"))
          .select(col("probe_id"), col("vec_id").as("neighbor_id"), col("d2q"))
          .groupBy("probe_id", "neighbor_id")
          .agg(sum("d2q").cast("long").as("adc_d2q"))
          .withColumn("rnk", row_number().over(wTop).cast("long"))
          .filter(col("rnk") <= 3)
          .select(col("probe_id"), col("neighbor_id"), col("rnk"),
            round(col("adc_d2q").cast("double") / lit(1e12), 4).as("adc_dist"))
      }),

    QueryDef(
      "vs15_norm_audit",
      // Embedding L2-norm audit per label: the health check run before
      // any cosine-based stage — zero/degenerate vectors poison cosine
      // (0/0 = NaN, guarded to NULL in the native expression; this op
      // COUNTS them so the pipeline can quarantine instead of silently
      // dropping), and norm drift across labels flags bad encoder
      // batches. Map-only norm compute + one rollup.
      Some("""WITH e AS (
             |  SELECT label, sqrt(list_inner_product(embedding::DOUBLE[],
             |    embedding::DOUBLE[])) AS nrm
             |  FROM embeddings)
             |SELECT CAST(label AS BIGINT) AS label,
             |  CAST(count(*) AS BIGINT) AS n,
             |  CAST(sum(CASE WHEN nrm = 0 THEN 1 ELSE 0 END) AS BIGINT)
             |    AS n_zero,
             |  round(min(nrm), 4) AS min_norm,
             |  round(max(nrm), 4) AS max_norm,
             |  round(avg(nrm), 4) AS avg_norm
             |FROM e GROUP BY 1""".stripMargin),
      (s, d) => {
        GraftFunctions.register(s)
        val nrm = sqrt(GraftFunctions.dot_product(col("v"), col("v")))
        Tables(s, d, "embeddings")
          .select(col("label"), col("embedding").cast("array<double>").as("v"))
          .select(col("label").cast("long").as("label"), nrm.as("nrm"))
          .groupBy("label")
          .agg(count(lit(1)).cast("long").as("n"),
            sum(when(col("nrm") === 0, 1L).otherwise(0L)).cast("long")
              .as("n_zero"),
            round(min("nrm"), 4).as("min_norm"),
            round(max("nrm"), 4).as("max_norm"),
            round(avg("nrm"), 4).as("avg_norm"))
      }),

    QueryDef(
      "vs16_range_search",
      // Threshold (range) vector search — "everything within the
      // radius", the retrieval mode dedup and recall evaluation want
      // where top-k wants ranking: all neighbors with cosine >= 0.5
      // per probe, plus the per-probe neighborhood census. Same
      // broadcast-probe scan as vs01 (the corpus streams once); at
      // 100 TB the vs02/vs14 cell confinement drops in unchanged
      // because the predicate is per-pair.
      Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
             |p AS (SELECT vec_id AS probe_id, v AS pv FROM e
             |      WHERE vec_id BETWEEN 200 AND 204),
             |sc AS (SELECT probe_id, e.vec_id AS neighbor_id,
             |         list_cosine_similarity(pv, e.v) AS c
             |       FROM p, e WHERE e.vec_id <> probe_id)
             |SELECT probe_id, CAST(count(*) AS BIGINT) AS n_in_range,
             |  CAST(sum(neighbor_id) AS BIGINT) AS neighbor_id_sum,
             |  round(max(c), 4) AS max_c
             |FROM sc WHERE c >= 0.25
             |GROUP BY probe_id""".stripMargin),
      (s, d) => {
        val e = emb(s, d)
        val probes = e.filter(col("vec_id").between(200, 204))
          .select(col("vec_id").as("probe_id"), col("v").as("pv"))
        e.join(broadcast(probes), col("vec_id") =!= col("probe_id"))
          .select(col("probe_id"), col("vec_id").as("neighbor_id"),
            cosine(col("pv"), col("v")).as("c"))
          .filter(col("c") >= 0.25)
          .groupBy("probe_id")
          .agg(count(lit(1)).cast("long").as("n_in_range"),
            sum("neighbor_id").cast("long").as("neighbor_id_sum"),
            round(max("c"), 4).as("max_c"))
      }),

    QueryDef(
      "vs17_multiprobe_recall",
      // The nprobe SWEEP completing vs06's tuning story: recall@10 at
      // nprobe=1 vs nprobe=2 (probe the two nearest cells) against the
      // brute-force truth, in ONE pass — the nprobe=2 candidate set is
      // scored once and the nprobe=1 ranking is a filtered re-rank of
      // the same scored rows (cell_rank=1), so widening the sweep
      // costs windows, not scans. This measured recall-vs-cells curve
      // is what sets the production nprobe: at 100 TB each extra cell
      // is a proportional scan cost, so you buy exactly the recall you
      // need. All rankings are total orders (cos DESC, id) —
      // engine-deterministic; recall is a ratio of exact integers.
      Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
             |c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 8),
             |a AS (SELECT e.vec_id, cid,
             |        row_number() OVER (PARTITION BY e.vec_id
             |          ORDER BY floor(list_cosine_similarity(v, cv) * 1000000 + 0.5) DESC, cid) AS arn
             |      FROM e, c),
             |asg AS (SELECT vec_id, cid FROM a WHERE arn = 1),
             |pc AS (SELECT vec_id AS probe_id, cid, arn AS cell_rank FROM a
             |       WHERE arn <= 2 AND vec_id BETWEEN 100 AND 104),
             |p AS (SELECT vec_id AS probe_id, v AS pv FROM e
             |      WHERE vec_id BETWEEN 100 AND 104),
             |bf AS (SELECT probe_id, neighbor_id FROM (
             |  SELECT probe_id, e.vec_id AS neighbor_id,
             |    row_number() OVER (PARTITION BY probe_id
             |      ORDER BY list_cosine_similarity(pv, e.v) DESC, e.vec_id) AS rn
             |  FROM p, e WHERE e.vec_id <> probe_id) t WHERE rn <= 10),
             |cand AS (SELECT pc.probe_id, e.vec_id AS neighbor_id, pc.cell_rank,
             |    list_cosine_similarity(p.pv, e.v) AS cos
             |  FROM pc JOIN asg ON asg.cid = pc.cid
             |  JOIN e ON e.vec_id = asg.vec_id
             |  JOIN p ON p.probe_id = pc.probe_id
             |  WHERE e.vec_id <> pc.probe_id),
             |i2 AS (SELECT probe_id, neighbor_id FROM (
             |  SELECT probe_id, neighbor_id,
             |    row_number() OVER (PARTITION BY probe_id
             |      ORDER BY cos DESC, neighbor_id) AS rn
             |  FROM cand) t WHERE rn <= 10),
             |i1 AS (SELECT probe_id, neighbor_id FROM (
             |  SELECT probe_id, neighbor_id,
             |    row_number() OVER (PARTITION BY probe_id
             |      ORDER BY cos DESC, neighbor_id) AS rn
             |  FROM cand WHERE cell_rank = 1) t WHERE rn <= 10)
             |SELECT bf.probe_id, CAST(count(*) AS BIGINT) AS n_true,
             |  CAST(sum(CASE WHEN i1.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS hit_p1,
             |  CAST(sum(CASE WHEN i2.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS hit_p2,
             |  round(sum(CASE WHEN i1.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
             |        / CAST(count(*) AS DOUBLE), 4) AS recall_p1,
             |  round(sum(CASE WHEN i2.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
             |        / CAST(count(*) AS DOUBLE), 4) AS recall_p2
             |FROM bf
             |LEFT JOIN i1 ON bf.probe_id = i1.probe_id AND bf.neighbor_id = i1.neighbor_id
             |LEFT JOIN i2 ON bf.probe_id = i2.probe_id AND bf.neighbor_id = i2.neighbor_id
             |GROUP BY bf.probe_id""".stripMargin),
      (s, d) => {
        val e = emb(s, d)
        val centroids = e.filter(col("vec_id") < 8)
          .select(col("vec_id").as("cid"), col("v").as("cv"))
        val asg = assignClusters(e, centroids)
        val wCell = Window.partitionBy("probe_id")
          .orderBy(col("pcos").desc, col("cid"))
        val pcells = e.filter(col("vec_id").between(100, 104))
          .crossJoin(broadcast(centroids))
          .select(col("vec_id").as("probe_id"), col("v").as("pv"), col("cid"),
            cosine(col("v"), col("cv")).as("pcos"))
          .withColumn("cell_rank", row_number().over(wCell))
          .filter(col("cell_rank") <= 2)
          .select(col("probe_id"), col("pv"), col("cid"), col("cell_rank"))
        val probes = pcells.filter(col("cell_rank") === 1)
          .select(col("probe_id"), col("pv"))
        val wRank = Window.partitionBy("probe_id")
          .orderBy(col("c").desc, col("neighbor_id"))
        val bf = e.join(broadcast(probes), col("vec_id") =!= col("probe_id"))
          .select(col("probe_id"), col("vec_id").as("neighbor_id"),
            cosine(col("pv"), col("v")).as("c"))
          .withColumn("rn", row_number().over(wRank))
          .filter(col("rn") <= 10)
          .select(col("probe_id"), col("neighbor_id"))
        val cand = asg.join(broadcast(pcells), Seq("cid"))
          .filter(col("vec_id") =!= col("probe_id"))
          .select(col("probe_id"), col("vec_id").as("neighbor_id"),
            col("cell_rank"), cosine(col("pv"), col("v")).as("c"))
        val i2 = cand.withColumn("rn", row_number().over(wRank))
          .filter(col("rn") <= 10).select(col("probe_id"), col("neighbor_id"))
        val i1 = cand.filter(col("cell_rank") === 1)
          .withColumn("rn", row_number().over(wRank))
          .filter(col("rn") <= 10).select(col("probe_id"), col("neighbor_id"))
        val h1 = when(col("m1").isNotNull, 1L).otherwise(0L)
        val h2 = when(col("m2").isNotNull, 1L).otherwise(0L)
        bf.join(i1.withColumn("m1", lit(1)), Seq("probe_id", "neighbor_id"), "left")
          .join(i2.withColumn("m2", lit(1)), Seq("probe_id", "neighbor_id"), "left")
          .groupBy("probe_id")
          .agg(count(lit(1)).as("n_true"),
            sum(h1).cast("long").as("hit_p1"),
            sum(h2).cast("long").as("hit_p2"),
            round(sum(h1) / count(lit(1)).cast("double"), 4).as("recall_p1"),
            round(sum(h2) / count(lit(1)).cast("double"), 4).as("recall_p2"))
      }),

    QueryDef(
      "vs18_centroid_separation",
      // Codebook SEPARATION audit — the remaining leg of the IVF
      // health suite (balance vs12, convergence vs08, recall vs06/
      // vs17): pairwise cosine between centroids. Centroids that drift
      // too close make cell assignment arbitrary near their boundary
      // and cap the recall any nprobe can buy — this 8×8 grid is the
      // signal to re-seed. Trivially driver-sized here and at 100 TB
      // (codebooks are KB-scale); the full-matrix shape is the same
      // broadcast cross vs10 uses on the corpus.
      Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
             |c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 8)
             |SELECT a.cid AS cid_a, b.cid AS cid_b,
             |  round(list_cosine_similarity(a.cv, b.cv), 4) + 0.0 AS cos
             |FROM c a JOIN c b ON a.cid < b.cid""".stripMargin),
      (s, d) => {
        val c = emb(s, d).filter(col("vec_id") < 8)
          .select(col("vec_id").as("cid"), col("v").as("cv"))
        val cb = c.select(col("cid").as("cid_b"), col("cv").as("cvb"))
        c.join(broadcast(cb), col("cid") < col("cid_b"))
          .select(col("cid").as("cid_a"), col("cid_b"),
            (round(cosine(col("cv"), col("cvb")), 4) + lit(0.0)).as("cos"))
      }),

    QueryDef(
      "vs19_pq_distortion",
      // PQ reconstruction FIDELITY — vs04 answers "what does int8
      // cost?"; this answers the same for the 16x-smaller PQ codes
      // vs09/vs14 search over: decode each vector from its 4 block
      // codes (concatenate the chosen codebook blocks) and measure
      // cosine(original, reconstruction), rolled up per label. The
      // block argmin is vs09's integer-exact assignment; the per-row
      // cosine is quantized to a 1e-6-grid BIGINT before the label
      // rollup (vs05's mean discipline), so group means are
      // order-independent. Decode work is a broadcast codebook join on
      // the code — at 100 TB this is the monitoring pass that decides
      // when drift forces codebook retraining.
      Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
             |c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 8),
             |blocks AS (SELECT vec_id, v, b
             |           FROM e, (SELECT unnest(range(0, 4)) AS b)),
             |d AS (SELECT vec_id, b, cid,
             |        CAST(list_sum(list_transform(range(1, 17),
             |          i -> CAST(floor((v[16*b+i] - cv[16*b+i])
             |                          * (v[16*b+i] - cv[16*b+i])
             |                          * 1000000000000 + 0.5) AS BIGINT)))
             |          AS BIGINT) AS d2q
             |      FROM blocks, c),
             |r AS (SELECT vec_id, b, cid,
             |        row_number() OVER (PARTITION BY vec_id, b
             |          ORDER BY d2q, cid) AS rn
             |      FROM d),
             |rec AS (SELECT r.vec_id,
             |          flatten(list(list_slice(c.cv, 16 * r.b + 1, 16 * r.b + 16)
             |            ORDER BY r.b)) AS vr
             |        FROM r JOIN c ON c.cid = r.cid WHERE r.rn = 1
             |        GROUP BY r.vec_id),
             |q AS (SELECT e.vec_id,
             |        CAST(floor(list_cosine_similarity(e.v, rec.vr) * 1000000
             |                   + 0.5) AS BIGINT) AS rcq
             |      FROM e JOIN rec ON e.vec_id = rec.vec_id)
             |SELECT CAST(em.label AS BIGINT) AS label,
             |  CAST(count(*) AS BIGINT) AS n,
             |  round(CAST(sum(q.rcq) AS DOUBLE) / (count(*) * 1000000.0), 4)
             |    AS avg_recon_cos,
             |  round(CAST(min(q.rcq) AS DOUBLE) / 1000000.0, 4) AS min_recon_cos
             |FROM q JOIN embeddings em ON em.vec_id = q.vec_id
             |GROUP BY 1""".stripMargin),
      (s, d) => {
        val e = emb(s, d)
        val cb = e.filter(col("vec_id") < 8)
          .select(col("vec_id").as("cid"), col("v").as("cv"))
        val blocks = e.select(col("vec_id"), col("v"),
          explode(sequence(lit(0), lit(3))).as("b"))
        def el(v: Column, i: Column) = element_at(v, (lit(16) * col("b") + i).cast("int"))
        val d2q = aggregate(
          transform(sequence(lit(1), lit(16)), i => {
            val diff = el(col("v"), i) - el(col("cv"), i)
            floor(diff * diff * lit(1e12) + lit(0.5))
          }),
          lit(0L), (acc, x) => acc + x)
        val w = Window.partitionBy("vec_id", "b").orderBy(col("d2q"), col("cid"))
        val pick = blocks.crossJoin(broadcast(cb))
          .select(col("vec_id"), col("b"), col("cid"), d2q.as("d2q"))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select(col("vec_id"), col("b"), col("cid"))
        val rec = pick.join(broadcast(cb), "cid")
          .select(col("vec_id"), col("b"),
            slice(col("cv"), (lit(16) * col("b") + 1).cast("int"), lit(16)).as("blk"))
          .groupBy("vec_id")
          .agg(flatten(transform(
            array_sort(collect_list(struct(col("b"), col("blk")))),
            x => x.getField("blk"))).as("vr"))
        val labels = Tables(s, d, "embeddings")
          .select(col("vec_id"), col("label").cast("long").as("label"))
        e.join(rec, "vec_id")
          .select(col("vec_id"),
            floor(cosine(col("v"), col("vr")) * 1e6 + lit(0.5)).as("rcq"))
          .join(labels, "vec_id")
          .groupBy("label")
          .agg(count(lit(1)).cast("long").as("n"),
            round(sum("rcq").cast("double") / (count(lit(1)) * lit(1e6)), 4)
              .as("avg_recon_cos"),
            round(min("rcq").cast("double") / lit(1e6), 4).as("min_recon_cos"))
      }),

    QueryDef(
      "vs20_filtered_ann",
      // Metadata-FILTERED vector search — the production ANN shape
      // ("nearest English docs", "nearest docs from this source"): the
      // candidate set is the embeddings semi-joined to a documents
      // predicate (lang='en'), then vs01's broadcast-probe top-k over
      // the survivors. Pre-filtering (restrict, then rank) keeps k
      // guaranteed, vs post-filtering an unfiltered top-k which can
      // come back short. The metadata join hits the dimension table's
      // key, the filter pushes into the documents scan, and the probe
      // cross stays a broadcast — at 100 TB the lang predicate becomes
      // a partition prune on a lang-partitioned corpus layout.
      Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
             |f AS (SELECT e.vec_id, e.v FROM e
             |      JOIN documents d ON d.doc_id = e.vec_id WHERE d.lang = 'en'),
             |p AS (SELECT vec_id AS probe_id, v AS pv FROM e
             |      WHERE vec_id BETWEEN 200 AND 204),
             |sc AS (SELECT probe_id, f.vec_id AS neighbor_id,
             |         list_cosine_similarity(pv, f.v) AS c
             |       FROM p, f WHERE f.vec_id <> probe_id),
             |r AS (SELECT probe_id, neighbor_id, c,
             |        row_number() OVER (PARTITION BY probe_id
             |          ORDER BY c DESC, neighbor_id) AS rn FROM sc)
             |SELECT probe_id, neighbor_id, CAST(rn AS BIGINT) AS rnk,
             |  round(c, 4) AS cos
             |FROM r WHERE rn <= 10""".stripMargin),
      (s, d) => {
        val e = emb(s, d)
        val en = Tables(s, d, "documents")
          .filter(col("lang") === "en").select(col("doc_id"))
        val cand = e.join(en, col("vec_id") === col("doc_id"), "left_semi")
        val probes = e.filter(col("vec_id").between(200, 204))
          .select(col("vec_id").as("probe_id"), col("v").as("pv"))
        val w = Window.partitionBy("probe_id").orderBy(col("c").desc, col("neighbor_id"))
        cand.join(broadcast(probes), col("vec_id") =!= col("probe_id"))
          .select(col("probe_id"), col("vec_id").as("neighbor_id"),
            cosine(col("pv"), col("v")).as("c"))
          .withColumn("rnk", row_number().over(w).cast("long"))
          .filter(col("rnk") <= 10)
          .select(col("probe_id"), col("neighbor_id"), col("rnk"), round(col("c"), 4).as("cos"))
      }),

    QueryDef(
      "vs21_hamming_topk",
      // Binary (Hamming) embedding search: each 64-dim vector collapses
      // to a 64-bit SIGN SIGNATURE packed into two BIGINT words, and
      // neighbor ranking runs entirely on bit_count(xor) — 16 bytes and
      // a few ALU ops per comparison instead of 256 bytes and 64 FMAs.
      // This is the production binary-retrieval trick (sign-bit /
      // binary-passage retrieval): at 100 TB the packed signatures for
      // a BILLION vectors fit in ~16 GB — scan-able, cache-resident,
      // and the float re-rank (vs01's scorer) touches only the Hamming
      // survivors. Packing is one map-side HOF pass; the probe cross is
      // vs01's broadcast discipline; ties break on neighbor_id (total
      // order). Both engines build bits with exact integer shifts
      // (2^31 max — no sign-bit overflow) on the SAME float sign test.
      Some("""WITH e AS (SELECT vec_id, embedding AS v FROM embeddings),
             |pk AS (SELECT vec_id,
             |  CAST(list_sum(list_transform(range(32),
             |    i -> CASE WHEN v[i+1] > 0 THEN (1::BIGINT << i) ELSE 0 END)) AS BIGINT) AS w0,
             |  CAST(list_sum(list_transform(range(32),
             |    i -> CASE WHEN v[i+33] > 0 THEN (1::BIGINT << i) ELSE 0 END)) AS BIGINT) AS w1
             |  FROM e),
             |p AS (SELECT vec_id AS probe_id, w0 AS p0, w1 AS p1 FROM pk WHERE vec_id < 5),
             |sc AS (SELECT probe_id, pk.vec_id AS neighbor_id,
             |  bit_count(xor(w0, p0)) + bit_count(xor(w1, p1)) AS hamming
             |  FROM p, pk WHERE pk.vec_id <> probe_id),
             |r AS (SELECT probe_id, neighbor_id, hamming,
             |  row_number() OVER (PARTITION BY probe_id ORDER BY hamming, neighbor_id) AS rn
             |  FROM sc)
             |SELECT probe_id, neighbor_id, CAST(rn AS BIGINT) AS rnk,
             |  CAST(hamming AS BIGINT) AS hamming
             |FROM r WHERE rn <= 10""".stripMargin),
      (s, d) => {
        def word(lo: Int): Column = expr(
          s"""aggregate(sequence(0, 31), CAST(0 AS BIGINT), (acc, i) ->
             |  acc + CASE WHEN element_at(v, i + $lo) > 0
             |    THEN shiftleft(CAST(1 AS BIGINT), i) ELSE CAST(0 AS BIGINT) END)"""
            .stripMargin)
        val packed = emb(s, d)
          .select(col("vec_id"), word(1).as("w0"), word(33).as("w1"))
        val probes = packed.filter(col("vec_id") < 5)
          .select(col("vec_id").as("probe_id"), col("w0").as("p0"), col("w1").as("p1"))
        val w = Window.partitionBy("probe_id").orderBy(col("hamming"), col("neighbor_id"))
        packed.join(broadcast(probes), col("vec_id") =!= col("probe_id"))
          .select(col("probe_id"), col("vec_id").as("neighbor_id"),
            (bit_count(col("w0").bitwiseXOR(col("p0"))) +
              bit_count(col("w1").bitwiseXOR(col("p1")))).cast("long").as("hamming"))
          .withColumn("rnk", row_number().over(w).cast("long"))
          .filter(col("rnk") <= 10)
          .select(col("probe_id"), col("neighbor_id"), col("rnk"), col("hamming"))
      }),

    QueryDef(
      "vs22_hamming_rerank",
      // The production two-stage retrieval architecture end to end:
      // stage 1 screens the corpus on vs21's packed 64-bit sign
      // signatures (Hamming top-50 per probe — bit_count(xor) over a
      // 16-byte record, the pass that scans a billion vectors from a
      // ~16 GB cache-resident store); stage 2 re-ranks ONLY those 50
      // survivors with the exact float cosine (vs01's scorer) for the
      // final top-10. The expensive float pass touches 50 rows per
      // probe no matter the corpus size — that asymmetry IS the
      // architecture. Ties break on neighbor_id in both stages; both
      // stages' selections are integral/total-ordered, so the composed
      // pipeline is oracle-exact.
      Some("""WITH e AS (SELECT vec_id, embedding AS v FROM embeddings),
             |pk AS (SELECT vec_id,
             |  CAST(list_sum(list_transform(range(32),
             |    i -> CASE WHEN v[i+1] > 0 THEN (1::BIGINT << i) ELSE 0 END)) AS BIGINT) AS w0,
             |  CAST(list_sum(list_transform(range(32),
             |    i -> CASE WHEN v[i+33] > 0 THEN (1::BIGINT << i) ELSE 0 END)) AS BIGINT) AS w1
             |  FROM e),
             |p AS (SELECT vec_id AS probe_id, w0 AS p0, w1 AS p1 FROM pk WHERE vec_id < 5),
             |h AS (SELECT probe_id, pk.vec_id AS neighbor_id,
             |  bit_count(xor(w0, p0)) + bit_count(xor(w1, p1)) AS hamming,
             |  row_number() OVER (PARTITION BY probe_id ORDER BY
             |    bit_count(xor(w0, p0)) + bit_count(xor(w1, p1)), pk.vec_id) AS hrn
             |  FROM p, pk WHERE pk.vec_id <> probe_id),
             |cand AS (SELECT probe_id, neighbor_id FROM h WHERE hrn <= 50),
             |sc AS (SELECT probe_id, neighbor_id,
             |  list_cosine_similarity(
             |    (SELECT CAST(v AS DOUBLE[]) FROM e WHERE e.vec_id = probe_id),
             |    (SELECT CAST(v AS DOUBLE[]) FROM e WHERE e.vec_id = neighbor_id)) AS c
             |  FROM cand),
             |r AS (SELECT probe_id, neighbor_id, c,
             |  row_number() OVER (PARTITION BY probe_id ORDER BY c DESC, neighbor_id) AS rn
             |  FROM sc)
             |SELECT probe_id, neighbor_id, CAST(rn AS BIGINT) AS rnk, round(c, 4) AS cos
             |FROM r WHERE rn <= 10""".stripMargin),
      (s, d) => {
        def word(lo: Int): Column = expr(
          s"""aggregate(sequence(0, 31), CAST(0 AS BIGINT), (acc, i) ->
             |  acc + CASE WHEN element_at(v, i + $lo) > 0
             |    THEN shiftleft(CAST(1 AS BIGINT), i) ELSE CAST(0 AS BIGINT) END)"""
            .stripMargin)
        val e = emb(s, d)
        val packed = e.select(col("vec_id"), word(1).as("w0"), word(33).as("w1"))
        val probes = packed.filter(col("vec_id") < 5)
          .select(col("vec_id").as("probe_id"), col("w0").as("p0"), col("w1").as("p1"))
        val wh = Window.partitionBy("probe_id").orderBy(col("hamming"), col("neighbor_id"))
        val cand = packed.join(broadcast(probes), col("vec_id") =!= col("probe_id"))
          .select(col("probe_id"), col("vec_id").as("neighbor_id"),
            (bit_count(col("w0").bitwiseXOR(col("p0"))) +
              bit_count(col("w1").bitwiseXOR(col("p1")))).cast("long").as("hamming"))
          .withColumn("hrn", row_number().over(wh))
          .filter(col("hrn") <= 50)
          .select("probe_id", "neighbor_id")
        // float re-rank joins the 50-per-probe survivors back to their
        // vectors: the probe side broadcasts, the corpus side is an
        // equi-join on the id — no second corpus-wide scoring pass
        val pv = e.filter(col("vec_id") < 5)
          .select(col("vec_id").as("probe_id"), col("v").as("pv"))
        val wr = Window.partitionBy("probe_id").orderBy(col("c").desc, col("neighbor_id"))
        cand
          .join(e.select(col("vec_id").as("neighbor_id"), col("v").as("nv")), "neighbor_id")
          .join(broadcast(pv), "probe_id")
          .select(col("probe_id"), col("neighbor_id"),
            cosine(col("pv"), col("nv")).as("c"))
          .withColumn("rnk", row_number().over(wr).cast("long"))
          .filter(col("rnk") <= 10)
          .select(col("probe_id"), col("neighbor_id"), col("rnk"),
            round(col("c"), 4).as("cos"))
      }),

    QueryDef(
      "vs23_ivf_append",
      // Incremental index MAINTENANCE under the oracle gate: build the
      // on-disk IVF layout from 90% of the corpus (writeIvfIndex —
      // vectors physically partitioned by cell), append the remaining
      // 10% as an arriving batch (appendIvfIndex — assigned against
      // the SAME frozen codebook, written into its cells, untouched
      // cells' files physically untouched per IvfIndexSpec), then
      // answer vs02's probes from the index. The oracle is vs02's SQL
      // verbatim: a one-shot assignment of the WHOLE corpus — so the
      // gate proves build + append + partition-pruned probe converge
      // to exactly the single-pass answer, the invariant that lets a
      // 100 TB vector lake take daily appends (batch-sized cost) and
      // only rebuild when vs12's balance audit says the codebook
      // drifted. Completes the incremental family: dd08 (exact
      // fingerprints), dd17/st12 (LSH postings), vs23 (IVF cells).
      Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
             |c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 8),
             |a AS (SELECT e.vec_id, cid,
             |        row_number() OVER (PARTITION BY e.vec_id
             |          ORDER BY floor(list_cosine_similarity(v, cv) * 1000000 + 0.5) DESC, cid) AS arn
             |      FROM e, c),
             |asg AS (SELECT vec_id, cid FROM a WHERE arn = 1),
             |p AS (SELECT e.vec_id AS probe_id, e.v AS pv, asg.cid AS pcid
             |      FROM e JOIN asg ON e.vec_id = asg.vec_id
             |      WHERE e.vec_id BETWEEN 100 AND 104),
             |cand AS (SELECT probe_id, e.vec_id AS neighbor_id,
             |           list_cosine_similarity(pv, e.v) AS c
             |         FROM p JOIN asg ON asg.cid = p.pcid
             |         JOIN e ON e.vec_id = asg.vec_id
             |         WHERE e.vec_id <> probe_id),
             |r AS (SELECT probe_id, neighbor_id, c,
             |        row_number() OVER (PARTITION BY probe_id
             |          ORDER BY c DESC, neighbor_id) AS rn FROM cand)
             |SELECT probe_id, neighbor_id, CAST(rn AS BIGINT) AS rnk,
             |  round(c, 4) AS cos
             |FROM r WHERE rn <= 3""".stripMargin),
      (s, d) => {
        val e = emb(s, d)
        val centroids = e.filter(col("vec_id") < 8)
          .select(col("vec_id").as("cid"), col("v").as("cv"))
        val path = graft.core.Scratch.dir("graft_ivf_append_") + "/idx"
        writeIvfIndex(e.filter(col("vec_id") % 10 =!= 0), centroids, path)
        appendIvfIndex(e.filter(col("vec_id") % 10 === 0), centroids, path)
        val probes = assignClusters(
          e.filter(col("vec_id").between(100, 104)), centroids)
          .select(col("vec_id").as("probe_id"), col("v").as("pv"),
            col("cid").as("pcid"))
        probeIvfIndex(s, path, probes, k = 3)
      }),

    QueryDef(
      "vs24_ivf_delete",
      // TAKEDOWN in the IVF lifecycle — the vector-lake counterpart of
      // dd20: build the on-disk index from the WHOLE corpus, delete
      // every 7th vector via the merge-on-read tombstone sidecar
      // ([[tombstoneIvfDelete]] — O(batch) cost, zero index files
      // touched; the frozen codebook names the removed vectors' cells,
      // and every probe subtracts the sidecar with one broadcast
      // anti-join pruned to its own cells), then answer vs02's probes.
      // Note the codebook wrinkle: seed vectors 0 and 7 are themselves
      // deleted from the LAKE, yet stay centroids — the codebook is
      // derived data, frozen at build time, exactly how a production
      // index outlives churn in its training sample. The oracle is
      // vs02's SQL with the index leg restricted to survivors — the
      // delete path is held to the full-recompute answer, and removed
      // ids (e.g. 7, 98, 105) must vanish from top-3s, so deletion has
      // to actually change answers, not just hide files. IvfDeleteSpec
      // additionally pins probe-after-vacuum ≡ this plan's answer.
      Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
             |c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 8),
             |a AS (SELECT e.vec_id, cid,
             |        row_number() OVER (PARTITION BY e.vec_id
             |          ORDER BY floor(list_cosine_similarity(v, cv) * 1000000 + 0.5) DESC, cid) AS arn
             |      FROM e, c),
             |asg AS (SELECT vec_id, cid FROM a WHERE arn = 1 AND vec_id % 7 <> 0),
             |p AS (SELECT e.vec_id AS probe_id, e.v AS pv, a2.cid AS pcid
             |      FROM e JOIN (SELECT vec_id, cid FROM a WHERE arn = 1) a2
             |        ON e.vec_id = a2.vec_id
             |      WHERE e.vec_id BETWEEN 100 AND 104),
             |cand AS (SELECT probe_id, e.vec_id AS neighbor_id,
             |           list_cosine_similarity(pv, e.v) AS c
             |         FROM p JOIN asg ON asg.cid = p.pcid
             |         JOIN e ON e.vec_id = asg.vec_id
             |         WHERE e.vec_id <> probe_id),
             |r AS (SELECT probe_id, neighbor_id, c,
             |        row_number() OVER (PARTITION BY probe_id
             |          ORDER BY c DESC, neighbor_id) AS rn FROM cand)
             |SELECT probe_id, neighbor_id, CAST(rn AS BIGINT) AS rnk,
             |  round(c, 4) AS cos
             |FROM r WHERE rn <= 3""".stripMargin),
      (s, d) => {
        val e = emb(s, d)
        val centroids = e.filter(col("vec_id") < 8)
          .select(col("vec_id").as("cid"), col("v").as("cv"))
        val path = graft.core.Scratch.dir("graft_ivf_delete_") + "/idx"
        writeIvfIndex(e, centroids, path)
        tombstoneIvfDelete(e.filter(col("vec_id") % 7 === 0), centroids, path)
        val probes = assignClusters(
          e.filter(col("vec_id").between(100, 104)), centroids)
          .select(col("vec_id").as("probe_id"), col("v").as("pv"),
            col("cid").as("pcid"))
        probeIvfIndex(s, path, probes, k = 3)
      }),

    QueryDef(
      "vs25_hybrid_rrf",
      // HYBRID retrieval — reciprocal-rank fusion of the two ranking
      // modalities the engine ships: tx30's lexical BM25 leg and
      // vs01's dense-cosine leg, for the same more-like-this query
      // (doc 42 / its aligned embedding vec 42 — the doc_id = vec_id
      // alignment vs20/mm12 established). Each leg ranks its top 50
      // deterministically (BM25 on the integer-grid score; cosine on
      // the 1e-6 grid, both tie-breaking on id), then
      // RRF(doc) = Σ_legs 10⁹ DIV (60 + rank) — integer floor
      // division (Spark DIV ≡ DuckDB // on non-negatives, the dd19
      // grid discipline), so the fused ranking is exact in both
      // engines with no float anywhere. This is the standard fusion
      // that beats either leg alone on hybrid corpora (terms for
      // precision, vectors for paraphrase recall). Scale: each leg is
      // its already-proven plan + a distributed sort+limit 50; the
      // fusion is a 50∪50-row full-outer join — driver-trivial.
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
             |bagg AS (SELECT doc_id, sum(q) AS iscore FROM sc
             |         WHERE doc_id <> 42 GROUP BY doc_id),
             |btop AS (SELECT doc_id,
             |           row_number() OVER (ORDER BY iscore DESC, doc_id) AS r
             |         FROM bagg QUALIFY r <= 50),
             |e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
             |p AS (SELECT v AS pv FROM e WHERE vec_id = 42),
             |cg AS (SELECT e.vec_id AS doc_id,
             |         floor(list_cosine_similarity(pv, v) * 1000000 + 0.5) AS g
             |       FROM e, p WHERE e.vec_id <> 42),
             |ctop AS (SELECT doc_id,
             |           row_number() OVER (ORDER BY g DESC, doc_id) AS r
             |         FROM cg QUALIFY r <= 50),
             |fused AS (
             |  SELECT doc_id,
             |    coalesce(1000000000 // (60 + b.r), 0)
             |      + coalesce(1000000000 // (60 + c.r), 0) AS rrf
             |  FROM btop b FULL OUTER JOIN ctop c USING (doc_id)),
             |r AS (SELECT doc_id, rrf,
             |        row_number() OVER (ORDER BY rrf DESC, doc_id) AS rn
             |      FROM fused)
             |SELECT doc_id, CAST(rn AS BIGINT) AS rnk, CAST(rrf AS BIGINT) AS rrf
             |FROM r WHERE rn <= 10""".stripMargin),
      (s, d) => {
        import graft.ops.PrefixSum.onePart
        // lexical leg: tx30's integer-grid BM25 kernel
        val wB = Window.partitionBy(onePart(col("doc_id")))
          .orderBy(col("iscore").desc, col("doc_id"))
        val btop = TextOps.bm25Scores(Tables(s, d, "documents"), queryDocId = 42)
          .filter(col("doc_id") =!= 42)
          .orderBy(col("iscore").desc, col("doc_id")).limit(50)
          .withColumn("rb", row_number().over(wB)).select("doc_id", "rb")
        // dense leg: grid-quantized cosine vs the aligned embedding
        val e = emb(s, d)
        val probe = e.filter(col("vec_id") === 42).select(col("v").as("pv"))
        val wC = Window.partitionBy(onePart(col("doc_id")))
          .orderBy(col("g").desc, col("doc_id"))
        val ctop = e.filter(col("vec_id") =!= 42).crossJoin(broadcast(probe))
          .select(col("vec_id").as("doc_id"),
            floor(cosine(col("pv"), col("v")) * lit(1000000) + lit(0.5))
              .cast("long").as("g"))
          .orderBy(col("g").desc, col("doc_id")).limit(50)
          .withColumn("rc", row_number().over(wC)).select("doc_id", "rc")
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
      "vs26_ivf_update",
      // RE-VERSION in the IVF lifecycle — the UPDATE verb
      // ([[reversionIvfIndex]]), closing the CRUD symmetry with the
      // LSH index (dd21): every 9th vector is re-embedded (v2 = v with
      // +0.1 added to every component — the vector analog of dd21's
      // "v2 " token edit: the new version stays near its old
      // neighborhood but its cosines, and possibly its cell, change),
      // and the persisted index is updated in place at batch cost:
      // tombstone the OLD versions (their own content names their
      // cells), vacuum to fold the sidecar (so a same-cell re-insert
      // isn't shadowed — the IvfDeleteSpec hazard), append the NEW
      // versions under the frozen codebook. The oracle replays the
      // whole edited lake from scratch — assignment, cells, probes —
      // so the in-place verb is held to the full-rebuild answer:
      // stale versions must vanish from top-3s AND re-versioned
      // vectors must re-enter wherever their new embedding ranks.
      // Codebook wrinkle as in vs24: seed vector 0 is itself edited in
      // the lake, yet its ORIGINAL embedding stays the cid=0 centroid —
      // the codebook is derived data, frozen at build time.
      // `+ 0.0` after round: a shifted cosine can be negative near a
      // round-4 boundary (the vs05 -0.0 rule).
      Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
             |c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 8),
             |e2 AS (SELECT vec_id, CASE WHEN vec_id % 9 = 0
             |         THEN list_transform(v, x -> x + 0.1e0) ELSE v END AS v
             |       FROM e),
             |a AS (SELECT e2.vec_id, cid,
             |        row_number() OVER (PARTITION BY e2.vec_id
             |          ORDER BY floor(list_cosine_similarity(v, cv) * 1000000 + 0.5) DESC, cid) AS arn
             |      FROM e2, c),
             |asg AS (SELECT vec_id, cid FROM a WHERE arn = 1),
             |p AS (SELECT e2.vec_id AS probe_id, e2.v AS pv, a2.cid AS pcid
             |      FROM e2 JOIN asg a2 ON e2.vec_id = a2.vec_id
             |      WHERE e2.vec_id BETWEEN 100 AND 104),
             |cand AS (SELECT probe_id, e2.vec_id AS neighbor_id,
             |           list_cosine_similarity(pv, e2.v) AS c
             |         FROM p JOIN asg ON asg.cid = p.pcid
             |         JOIN e2 ON e2.vec_id = asg.vec_id
             |         WHERE e2.vec_id <> probe_id),
             |r AS (SELECT probe_id, neighbor_id, c,
             |        row_number() OVER (PARTITION BY probe_id
             |          ORDER BY c DESC, neighbor_id) AS rn FROM cand)
             |SELECT probe_id, neighbor_id, CAST(rn AS BIGINT) AS rnk,
             |  round(c, 4) + 0.0 AS cos
             |FROM r WHERE rn <= 3""".stripMargin),
      (s, d) => {
        val e = emb(s, d)
        val centroids = e.filter(col("vec_id") < 8)
          .select(col("vec_id").as("cid"), col("v").as("cv"))
        val path = graft.core.Scratch.dir("graft_ivf_update_") + "/idx"
        writeIvfIndex(e, centroids, path)
        val oldV = e.filter(col("vec_id") % 9 === 0)
        val newV = oldV.select(col("vec_id"),
          transform(col("v"), x => x + lit(0.1)).as("v"))
        reversionIvfIndex(s, oldV, newV, centroids, path)
        // the edited lake, only to derive the probe batch (probes
        // 100–104 are not multiples of 9, so they are unedited)
        val e2 = e.filter(col("vec_id") % 9 =!= 0).unionByName(newV)
        val probes = assignClusters(
          e2.filter(col("vec_id").between(100, 104)), centroids)
          .select(col("vec_id").as("probe_id"), col("v").as("pv"),
            col("cid").as("pcid"))
        probeIvfIndex(s, path, probes, k = 3)
          .withColumn("cos", col("cos") + lit(0.0))
      }),

    QueryDef(
      "vs27_retrieval_recall",
      // RETRIEVAL QUALITY EVAL for the ranking family (r7 verdict
      // task 7): vs06 grades ANN recall, but nothing graded tx30's
      // BM25 or vs25's RRF fusion — this query measures recall@10 of
      // each leg AND the fusion against planted ground truth, and is
      // itself oracle-gated (the metric pipeline, not just the number,
      // is held bit-exact). Construction: each probe doc q (40–44)
      // gets TWO planted relevants the two legs are asymmetrically
      // blind to — a LEXICAL twin (q+100000: q's exact text, but a
      // DONOR's (q+100) embedding — BM25 pins it at the top, cosine
      // sees an unrelated vector) and a SEMANTIC twin (q+200000: the
      // donor's text, but q's own embedding — cosine 1.0, BM25 sees
      // unrelated terms). So each leg alone can reach at most half the
      // truth by construction, and reciprocal-rank fusion — which
      // needs NO score calibration across the incomparable integer
      // grids, exactly why RRF is the standard hybrid — recovers both:
      // the published numbers show recall(rrf) >= max(recall(bm25),
      // recall(dense)) (RetrievalEvalSpec pins the inequality; the
      // classic Cormack/Clarke/Buettcher finding reproduced under a
      // bit-exact gate). Top-10s via the mergeable topk_by_score
      // aggregate — O(groups·k) shuffle, no per-probe corpus sort —
      // and the same (score DESC, id ASC) total order as the oracle's
      // rank windows; RRF points are integer floor divisions, so every
      // ranking and tie is engine-exact.
      Some("""WITH base AS (SELECT doc_id, text FROM documents),
             |u AS (
             |  SELECT doc_id, text FROM base
             |  UNION ALL
             |  SELECT doc_id + 100000, text FROM base WHERE doc_id BETWEEN 40 AND 44
             |  UNION ALL
             |  SELECT doc_id - 100 + 200000, text FROM base WHERE doc_id BETWEEN 140 AND 144
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
             |bm AS (SELECT qid, doc_id,
             |         row_number() OVER (PARTITION BY qid
             |           ORDER BY iscore DESC, doc_id) AS r
             |       FROM agg QUALIFY r <= 10),
             |ev AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
             |evu AS (
             |  SELECT vec_id, v FROM ev
             |  UNION ALL
             |  SELECT vec_id - 100 + 100000, v FROM ev WHERE vec_id BETWEEN 140 AND 144
             |  UNION ALL
             |  SELECT vec_id + 200000, v FROM ev WHERE vec_id BETWEEN 40 AND 44),
             |pv AS (SELECT vec_id AS qid, v AS pv FROM ev WHERE vec_id BETWEEN 40 AND 44),
             |cg AS (SELECT qid, evu.vec_id AS doc_id,
             |         floor(list_cosine_similarity(pv, v) * 1000000 + 0.5) AS g
             |       FROM pv, evu WHERE evu.vec_id <> qid),
             |dn AS (SELECT qid, doc_id,
             |         row_number() OVER (PARTITION BY qid
             |           ORDER BY g DESC, doc_id) AS r
             |       FROM cg QUALIFY r <= 10),
             |fused AS (
             |  SELECT qid, doc_id,
             |    coalesce(1000000000 // (60 + b.r), 0)
             |      + coalesce(1000000000 // (60 + c.r), 0) AS rrf
             |  FROM bm b FULL OUTER JOIN dn c USING (qid, doc_id)),
             |rr AS (SELECT qid, doc_id,
             |         row_number() OVER (PARTITION BY qid
             |           ORDER BY rrf DESC, doc_id) AS r
             |       FROM fused QUALIFY r <= 10),
             |eb AS (SELECT count(*) AS hits FROM bm
             |       WHERE doc_id = qid + 100000 OR doc_id = qid + 200000),
             |ed AS (SELECT count(*) AS hits FROM dn
             |       WHERE doc_id = qid + 100000 OR doc_id = qid + 200000),
             |er AS (SELECT count(*) AS hits FROM rr
             |       WHERE doc_id = qid + 100000 OR doc_id = qid + 200000)
             |SELECT 'bm25' AS system, CAST(hits AS BIGINT) AS hits,
             |  CAST(10 AS BIGINT) AS n_rel,
             |  round(CAST(hits AS DOUBLE) / 10, 4) AS recall FROM eb
             |UNION ALL
             |SELECT 'dense', CAST(hits AS BIGINT), CAST(10 AS BIGINT),
             |  round(CAST(hits AS DOUBLE) / 10, 4) FROM ed
             |UNION ALL
             |SELECT 'rrf', CAST(hits AS BIGINT), CAST(10 AS BIGINT),
             |  round(CAST(hits AS DOUBLE) / 10, 4) FROM er""".stripMargin),
      (s, d) => {
        val base = Tables(s, d, "documents").select("doc_id", "text")
        val u = base
          .unionByName(base.filter(col("doc_id").between(40, 44))
            .select((col("doc_id") + lit(100000L)).as("doc_id"), col("text")))
          .unionByName(base.filter(col("doc_id").between(140, 144))
            .select((col("doc_id") - lit(100L) + lit(200000L)).as("doc_id"),
              col("text")))
        def top10(scored: DataFrame, score: Column): DataFrame = scored
          .groupBy("qid")
          .agg(GraftFunctions.topk_by_score(col("doc_id"), score, 10).as("tk"))
          .select(col("qid"), posexplode(col("tk")))
          .select(col("qid"), col("col.id").as("doc_id"),
            (col("pos") + 1).cast("long").as("r"))
        val bm = top10(
          TextOps.bm25ScoresMulti(u, col("doc_id").between(40, 44))
            .filter(col("doc_id") =!= col("qid")),
          col("iscore").cast("double"))
        val e = emb(s, d)
        val evu = e
          .unionByName(e.filter(col("vec_id").between(140, 144))
            .select((col("vec_id") - lit(100L) + lit(100000L)).as("vec_id"),
              col("v")))
          .unionByName(e.filter(col("vec_id").between(40, 44))
            .select((col("vec_id") + lit(200000L)).as("vec_id"), col("v")))
        val pv = e.filter(col("vec_id").between(40, 44))
          .select(col("vec_id").as("qid"), col("v").as("pv"))
        val dn = top10(
          evu.crossJoin(broadcast(pv)).filter(col("vec_id") =!= col("qid"))
            .select(col("qid"), col("vec_id").as("doc_id"),
              floor(cosine(col("pv"), col("v")) * lit(1000000) + lit(0.5))
                .cast("long").as("g")),
          col("g").cast("double"))
        val rr = top10(
          bm.select(col("qid"), col("doc_id"), col("r").as("rb"))
            .join(dn.select(col("qid"), col("doc_id"), col("r").as("rc")),
              Seq("qid", "doc_id"), "full_outer")
            .select(col("qid"), col("doc_id"),
              (coalesce(expr("1000000000 DIV (60 + rb)"), lit(0L)) +
               coalesce(expr("1000000000 DIV (60 + rc)"), lit(0L))).as("rrf")),
          col("rrf").cast("double"))
        def recallRow(leg: DataFrame, name: String): DataFrame = leg
          .filter(col("doc_id") === col("qid") + lit(100000L) ||
            col("doc_id") === col("qid") + lit(200000L))
          .agg(count(lit(1)).as("hits"))
          .select(lit(name).as("system"), col("hits"), lit(10L).as("n_rel"),
            round(col("hits").cast("double") / lit(10), 4).as("recall"))
        recallRow(bm, "bm25")
          .unionByName(recallRow(dn, "dense"))
          .unionByName(recallRow(rr, "rrf"))
      }),

    QueryDef(
      "vs28_semdedup",
      // SEMANTIC DEDUPLICATION, SemDeDup-shaped (Abbas et al. 2023,
      // arXiv:2303.09540): cluster the embedding space, compare
      // cosines only WITHIN a cluster, drop all but one member of
      // each semantic-duplicate group. This is the embedding-space
      // answer to what dd02 does lexically — it catches re-encodes /
      // templated rewrites whose shingles differ but whose embeddings
      // coincide — and the clustering is the same scale trick as IVF
      // serving: the pair space is Σ|cell|², never N², and shards by
      // cell across executors. Determinism discipline: cell assignment
      // is the integer-exact quantized L2 ([[assignClustersL2Exact]],
      // vs05's rule — group MEMBERSHIP must match the oracle), the
      // duplicate gate is the 1e-6 cosine grid (g >= 999000 ⇔
      // cos >= 0.999 — the corpus carries an injected exact copy of
      // every vector, so every group has >= 2 members and the census
      // has a closed-form shape: each original is its group's min-id
      // canonical), groups close under [[DedupOps.connectedComponents]]
      // min-label CC exactly as dd05 does for lexical clusters.
      // Output: per-cell census (vectors, kept, kept-id checksum) —
      // the dedup decision AND the cell-balance view in one audit.
      Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
             |e2 AS (SELECT vec_id, v FROM e
             |       UNION ALL SELECT vec_id + 100000, v FROM e),
             |q AS (SELECT vec_id, v,
             |        list_transform(v, x -> CAST(floor(x*10000+0.5) AS BIGINT)) AS qv
             |      FROM e2),
             |c AS (SELECT vec_id AS cid,
             |        list_transform(v, x -> CAST(floor(x*10000+0.5) AS BIGINT)) AS qc
             |      FROM e WHERE vec_id < 8),
             |r AS (SELECT q.vec_id, cid, row_number() OVER (PARTITION BY q.vec_id
             |        ORDER BY list_sum(list_transform(list_zip(q.qv, c.qc),
             |          p -> (p[1]-p[2])*(p[1]-p[2]))) ASC, cid) AS arn
             |      FROM q, c),
             |asg AS (SELECT vec_id, cid FROM r WHERE arn = 1),
             |pr AS (SELECT x.vec_id AS a, y.vec_id AS b
             |       FROM asg x JOIN asg y ON x.cid = y.cid AND x.vec_id < y.vec_id
             |       JOIN e2 ea ON ea.vec_id = x.vec_id
             |       JOIN e2 eb ON eb.vec_id = y.vec_id
             |       WHERE floor(list_cosine_similarity(ea.v, eb.v) * 1000000 + 0.5)
             |         >= 999000),
             |sym AS (SELECT a AS src, b AS dst FROM pr
             |        UNION ALL SELECT b, a FROM pr),
             |reach AS (
             |  WITH RECURSIVE rr(node, lbl) AS (
             |    SELECT vec_id, vec_id FROM e2
             |    UNION
             |    SELECT s.src, rr.lbl FROM rr JOIN sym s ON s.dst = rr.node)
             |  SELECT node, lbl FROM rr),
             |cc AS (SELECT node AS vec_id, min(lbl) AS canonical
             |       FROM reach GROUP BY node),
             |k AS (SELECT cc.vec_id, canonical, cid FROM cc JOIN asg USING (vec_id))
             |SELECT CAST(cid AS BIGINT) AS cid,
             |  CAST(count(*) AS BIGINT) AS n_vectors,
             |  CAST(sum(CASE WHEN vec_id = canonical THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
             |  CAST(sum(CASE WHEN vec_id = canonical THEN vec_id ELSE 0 END) AS BIGINT) AS kept_id_sum
             |FROM k GROUP BY cid""".stripMargin),
      (s, d) => {
        val e = emb(s, d)
        val e2 = e.unionByName(
          e.select((col("vec_id") + lit(100000L)).as("vec_id"), col("v")))
        // assignment feeds both pair sides and the final census join
        val asg = graft.ops.Pin.once(
          assignClustersL2Exact(e2, seedCells(e)))
        val pairs = asg
          .select(col("cid"), col("vec_id").as("a"), col("v").as("va"))
          .join(asg.select(col("cid"), col("vec_id").as("b"),
            col("v").as("vb")), Seq("cid"))
          .filter(col("a") < col("b"))
          .filter(floor(cosine(col("va"), col("vb")) * lit(1000000)
            + lit(0.5)) >= 999000)
          .select("a", "b")
        val cc = DedupOps.connectedComponents(
          e2.select(col("vec_id").as("id")), pairs)
        cc.select(col("id").as("vec_id"), col("label"))
          .join(asg.select("vec_id", "cid"), "vec_id")
          .groupBy(col("cid").cast("long").as("cid"))
          .agg(count(lit(1)).as("n_vectors"),
            sum(when(col("vec_id") === col("label"), lit(1L))
              .otherwise(lit(0L))).cast("long").as("n_kept"),
            sum(when(col("vec_id") === col("label"), col("vec_id"))
              .otherwise(lit(0L))).cast("long").as("kept_id_sum"))
      }),

    QueryDef(
      "vs29_index_served_rrf",
      // INDEX-SERVED hybrid retrieval — vs25's reciprocal-rank fusion,
      // but both legs answered FROM THE PERSISTED INDEXES instead of
      // corpus scans: the lexical leg is a tx33 BM25 probe of the
      // inverted text index (exact full-lake ranking off pruned
      // posting partitions), the dense leg is a probeIvfIndex read of
      // the persisted IVF store (cell-restricted, the serving
      // approximation — at nprobe=1 the dense leg deliberately trades
      // recall for a single-partition read, and RRF's strength is
      // exactly that the exact lexical leg backstops it). This is the
      // production serving path: two index reads and a 50∪50-row
      // fusion join — the corpus itself is never scanned at query
      // time. Fusion stays integer-exact: RRF(doc) = Σ 10⁹ DIV
      // (60 + rank), Spark DIV ≡ DuckDB // on non-negatives.
      Some(s"""WITH tk AS (
             |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
             |  FROM documents),
             |tk2 AS (SELECT doc_id, toks FROM tk WHERE len(toks) > 0),
             |terms AS (
             |  SELECT DISTINCT CAST(concat('0x', substr(md5(unnest(toks)), 1, 15)) AS BIGINT) AS th
             |  FROM tk2 WHERE doc_id = 42),
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
             |         WHERE e.vec_id <> 42
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
        // lexical leg: the persisted inverted index, full BM25 ranking
        val btop = graft.ops.TextIndex.probeTextIndex(s,
            TextOps.baseTextIndex(s, d),
            graft.ops.TextIndex.queryTerms(Tables(s, d, "documents"), 42),
            k = 50, excludeDocId = Some(42L))
          .select(col("doc_id"), col("rnk").as("rb"))
        // dense leg: the persisted IVF store, probe vec 42's cell
        val e = emb(s, d)
        val centroids = e.filter(col("vec_id") < 8)
          .select(col("vec_id").as("cid"), col("v").as("cv"))
        val probes = assignClusters(e.filter(col("vec_id") === 42), centroids)
          .select(col("vec_id").as("probe_id"), col("v").as("pv"),
            col("cid").as("pcid"))
        val ctop = probeIvfIndex(s, baseIvfIndexDir(s, d), probes, k = 50)
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
      "vs30_embedding_audit",
      // see [[embeddingAudit]] — per-dimension integer-grid QA of the
      // embedding lake (drift / dead-dimension / quantization-range
      // monitor for the ANN tiers).
      Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
             |x AS (
             |  SELECT CAST(d AS BIGINT) AS dim,
             |    CAST(floor(v[d + 1] * 1000000 + 0.5) AS BIGINT) AS qv
             |  FROM e, range(0, 64) t(d))
             |SELECT dim, CAST(count(*) AS BIGINT) AS n_values,
             |  CAST(sum(qv) AS BIGINT) AS sum_q,
             |  CAST(min(qv) AS BIGINT) AS min_q,
             |  CAST(max(qv) AS BIGINT) AS max_q,
             |  CAST(sum(CASE WHEN qv = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero
             |FROM x GROUP BY dim""".stripMargin),
      (s, d) => embeddingAudit(emb(s, d))),

    QueryDef(
      "vs31_ivf_expire",
      // IVF RETENTION EXPIRY registered — the partition-drop deletion
      // economics (dd22 LSH, tx40 text) now a gated verb in ALL three
      // index families: the vector lake arrives as three ingest
      // batches (the batch=<id>/cid=<cell> layout
      // [[graft.streaming.VectorStream.ivfIngest]] writes naturally;
      // batches hold disjoint vec_ids), retention drops every batch
      // dir below the cutoff — O(1) metadata per shard, no read, no
      // rewrite, no tombstone debt — and the two-level probe over the
      // survivors must equal a rebuilt survivor index (IvfDeleteSpec
      // pins the equivalence; this gate replays it through DuckDB).
      // Probes 100–104 query with their LAKE embeddings — 102 is
      // itself expired from the index yet remains a legitimate query,
      // exactly the "search with a retired item's vector" case.
      // `+ 0.0` after round (the vs05 −0.0 rule).
      Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
             |c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 8),
             |a AS (SELECT e.vec_id, cid,
             |        row_number() OVER (PARTITION BY e.vec_id
             |          ORDER BY floor(list_cosine_similarity(v, cv) * 1000000 + 0.5) DESC, cid) AS arn
             |      FROM e, c),
             |asg AS (SELECT vec_id, cid FROM a WHERE arn = 1),
             |p AS (SELECT e.vec_id AS probe_id, e.v AS pv, a2.cid AS pcid
             |      FROM e JOIN asg a2 ON e.vec_id = a2.vec_id
             |      WHERE e.vec_id BETWEEN 100 AND 104),
             |cand AS (SELECT probe_id, e.vec_id AS neighbor_id,
             |           list_cosine_similarity(pv, e.v) AS c
             |         FROM p JOIN asg ON asg.cid = p.pcid
             |         JOIN e ON e.vec_id = asg.vec_id
             |         WHERE e.vec_id <> probe_id AND e.vec_id % 3 <> 0),
             |r AS (SELECT probe_id, neighbor_id, c,
             |        row_number() OVER (PARTITION BY probe_id
             |          ORDER BY c DESC, neighbor_id) AS rn FROM cand)
             |SELECT probe_id, neighbor_id, CAST(rn AS BIGINT) AS rnk,
             |  round(c, 4) + 0.0 AS cos
             |FROM r WHERE rn <= 3""".stripMargin),
      (s, d) => {
        val e = emb(s, d)
        val centroids = e.filter(col("vec_id") < 8)
          .select(col("vec_id").as("cid"), col("v").as("cv"))
        // per-execution store: expiry mutates it, so no shared fixture
        val store = graft.core.Scratch.dir("graft_ivf_exp_") + "/idx"
        (0L to 2L).foreach(b => assignClusters(
            e.filter(pmod(col("vec_id"), lit(3)) === b), centroids)
          .write.partitionBy("cid").mode("overwrite")
          .parquet(s"$store/batch=$b"))
        DedupOps.expireShards(s, store, "batch", cutoff = 1)
        val probes = assignClusters(
            e.filter(col("vec_id").between(100, 104)), centroids)
          .select(col("vec_id").as("probe_id"), col("v").as("pv"),
            col("cid").as("pcid"))
        probeIvfIndex(s, store, probes, k = 3)
          .withColumn("cos", col("cos") + lit(0.0))
      }),

    QueryDef(
      "vs32_batch_hybrid_serve",
      // BATCH hybrid serving — vs29's index-served RRF for a whole
      // probe batch (docs 40–44) in ONE plan: the lexical leg is
      // tx42's [[graft.ops.TextIndex.probeTextIndexMulti]] (df and
      // the grid quantization computed ONCE from the batch's distinct
      // term set, one partition-pruned posting read amortized across
      // all queries), the dense leg is [[probeIvfIndex]]'s native
      // probe SET (one cell-pruned scan for all five cells), and the
      // fusion is a (qid, doc_id)-keyed full-outer join ranked per
      // qid. This is the offline-serving shape — "hybrid neighbors
      // for each of today's arrivals" — where per-query serving would
      // re-scan the posting partitions N times. RRF stays
      // integer-exact: Σ 10⁹ DIV (60 + rank); each query excludes
      // itself on both legs.
      Some(s"""WITH tk AS (
             |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
             |  FROM documents),
             |tk2 AS (SELECT doc_id, toks FROM tk WHERE len(toks) > 0),
             |q AS (SELECT doc_id AS qid,
             |        list_filter(string_split(text, ' '), x -> x <> '') AS toks
             |      FROM documents WHERE doc_id BETWEEN 40 AND 44),
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
             |      * 1000000 + 0.5) AS BIGINT) AS sq
             |  FROM tf JOIN qt USING (th) JOIN dfq USING (th)
             |  JOIN dl USING (doc_id), stats
             |  WHERE tf.doc_id <> qt.qid),
             |bagg AS (SELECT qid, doc_id, sum(sq) AS iscore FROM sc GROUP BY 1, 2),
             |btop AS (SELECT qid, doc_id,
             |           row_number() OVER (PARTITION BY qid
             |             ORDER BY iscore DESC, doc_id) AS r
             |         FROM bagg QUALIFY r <= 50),
             |e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
             |c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 8),
             |a AS (SELECT e.vec_id, cid,
             |        row_number() OVER (PARTITION BY e.vec_id
             |          ORDER BY floor(list_cosine_similarity(v, cv) * 1000000 + 0.5) DESC, cid) AS arn
             |      FROM e, c),
             |asg AS (SELECT vec_id, cid FROM a WHERE arn = 1),
             |p AS (SELECT e.vec_id AS qid, e.v AS pv, a2.cid AS pcid
             |      FROM e JOIN asg a2 ON e.vec_id = a2.vec_id
             |      WHERE e.vec_id BETWEEN 40 AND 44),
             |ctop AS (SELECT qid, e.vec_id AS doc_id,
             |           row_number() OVER (PARTITION BY qid
             |             ORDER BY list_cosine_similarity(pv, e.v) DESC, e.vec_id) AS r
             |         FROM p JOIN asg ON asg.cid = p.pcid
             |         JOIN e ON e.vec_id = asg.vec_id
             |         WHERE e.vec_id <> qid
             |         QUALIFY r <= 50),
             |fused AS (
             |  SELECT qid, doc_id,
             |    coalesce(1000000000 // (60 + b.r), 0)
             |      + coalesce(1000000000 // (60 + c2.r), 0) AS rrf
             |  FROM btop b FULL OUTER JOIN ctop c2 USING (qid, doc_id)),
             |r AS (SELECT qid, doc_id, rrf,
             |        row_number() OVER (PARTITION BY qid
             |          ORDER BY rrf DESC, doc_id) AS rn
             |      FROM fused)
             |SELECT qid, doc_id, CAST(rn AS BIGINT) AS rnk, CAST(rrf AS BIGINT) AS rrf
             |FROM r WHERE rn <= 10""".stripMargin),
      (s, d) => {
        val docsT = Tables(s, d, "documents")
        val btop = graft.ops.TextIndex.probeTextIndexMulti(s,
            TextOps.baseTextIndex(s, d),
            graft.ops.TextIndex.queryTermsMulti(docsT,
              col("doc_id").between(40, 44)), k = 50)
          .select(col("qid"), col("doc_id"), col("rnk").as("rb"))
        val e = emb(s, d)
        val centroids = e.filter(col("vec_id") < 8)
          .select(col("vec_id").as("cid"), col("v").as("cv"))
        val probes = assignClusters(
            e.filter(col("vec_id").between(40, 44)), centroids)
          .select(col("vec_id").as("probe_id"), col("v").as("pv"),
            col("cid").as("pcid"))
        val ctop = probeIvfIndex(s, baseIvfIndexDir(s, d), probes, k = 50)
          .select(col("probe_id").as("qid"),
            col("neighbor_id").as("doc_id"), col("rnk").as("rc"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("qid").orderBy(col("rrf").desc, col("doc_id"))
        btop.join(ctop, Seq("qid", "doc_id"), "full_outer")
          .select(col("qid"), col("doc_id"),
            (coalesce(expr("1000000000 DIV (60 + rb)"), lit(0L)) +
             coalesce(expr("1000000000 DIV (60 + rc)"), lit(0L))).as("rrf"))
          .withColumn("rn", row_number().over(w)).filter(col("rn") <= 10)
          .select(col("qid"), col("doc_id"),
            col("rn").cast("long").as("rnk"), col("rrf").cast("long").as("rrf"))
      }),

    QueryDef(
      "vs33_filtered_index_serve",
      // Metadata-FILTERED ANN served FROM THE PERSISTED INDEX — vs20's
      // production sibling. vs20 establishes the semantics (pre-filter,
      // then rank) with a brute-force corpus scan + a query-time
      // metadata join; this is the serving path a vector lake actually
      // runs: the index stores each vector's filterable attributes IN
      // ITS ROWS (lang, denormalized at build — the attrIvfIndexDir
      // fixture), so a filtered probe is (1) partition-prune to the
      // probed cells, (2) predicate-pushed columnar scan of just those
      // cells, (3) rank — no join, no corpus scan. Filtering SHRINKS
      // the per-cell candidate pool, so serving probes MORE cells to
      // hold k: nprobe=2 multi-probe via rankCellsCos(arn <= 2) — the
      // recall lever vs17 curves, here as the filtered-serving
      // operating point. The filter applies BEFORE the rank window
      // (top-k among qualifying candidates — a post-filtered
      // unfiltered top-k can come back short even when the cells hold
      // k qualifying rows). At 100 TB: probe cost = 2 cells' pruned +
      // filtered scan per batch, independent of lake size; the
      // attribute column adds bytes ONLY to the cells scanned.
      Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
             |c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 8),
             |a AS (SELECT e.vec_id, cid,
             |        row_number() OVER (PARTITION BY e.vec_id
             |          ORDER BY floor(list_cosine_similarity(v, cv) * 1000000 + 0.5) DESC, cid) AS arn
             |      FROM e, c),
             |asg AS (SELECT vec_id, cid FROM a WHERE arn = 1),
             |pc AS (SELECT vec_id AS probe_id, cid AS pcid FROM a
             |       WHERE arn <= 2 AND vec_id BETWEEN 200 AND 204),
             |p AS (SELECT vec_id AS probe_id, v AS pv FROM e
             |      WHERE vec_id BETWEEN 200 AND 204),
             |cand AS (SELECT pc.probe_id, e.vec_id AS neighbor_id,
             |           list_cosine_similarity(pv, e.v) AS c
             |         FROM pc JOIN asg ON asg.cid = pc.pcid
             |         JOIN e ON e.vec_id = asg.vec_id
             |         JOIN documents d2 ON d2.doc_id = e.vec_id AND d2.lang = 'en'
             |         JOIN p ON p.probe_id = pc.probe_id
             |         WHERE e.vec_id <> pc.probe_id),
             |r AS (SELECT probe_id, neighbor_id, c,
             |        row_number() OVER (PARTITION BY probe_id
             |          ORDER BY c DESC, neighbor_id) AS rn FROM cand)
             |SELECT probe_id, neighbor_id, CAST(rn AS BIGINT) AS rnk,
             |  round(c, 4) AS cos
             |FROM r WHERE rn <= 10""".stripMargin),
      (s, d) => {
        val e = emb(s, d)
        val centroids = e.filter(col("vec_id") < 8)
          .select(col("vec_id").as("cid"), col("v").as("cv"))
        val probes = rankCellsCos(e.filter(col("vec_id").between(200, 204)), centroids)
          .filter(col("arn") <= 2)
          .select(col("vec_id").as("probe_id"), col("v").as("pv"),
            col("cid").as("pcid"))
        probeIvfIndexWhere(s, attrIvfIndexDir(s, d), probes, k = 10,
          col("lang") === "en")
      }),

    QueryDef(
      "vs35_filtered_recall",
      // The TUNING CURVE behind vs33's operating point — what the
      // filtered serving approximation costs, measured (the vs17
      // discipline on the filtered path): recall@10 of the filtered
      // index probe at nprobe 1 and 2 against the brute-force filtered
      // TRUTH (vs20's semantics: global pre-filter-then-rank over the
      // whole corpus). Per probe: n_true (global filtered top-10 size),
      // hit1/hit2 (how many of them the nprobe=1/2 serve returns) —
      // all integers, no float in the output. hit2 >= hit1 is a
      // THEOREM (nested candidate pools + a total order: a truth item
      // can only be displaced from a pool's top-10 by globally-better
      // items, and fewer than 10 of those exist by truth membership) —
      // FilteredServeSpec asserts it; the recall LEVEL is data-
      // dependent and belongs in the artifact, not an assertion. The
      // truth leg is an eval-time corpus scan — offline calibration,
      // amortized across serving (vs06/vs17's framing), never the
      // query path.
      Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
             |c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 8),
             |a AS (SELECT e.vec_id, cid,
             |        row_number() OVER (PARTITION BY e.vec_id
             |          ORDER BY floor(list_cosine_similarity(v, cv) * 1000000 + 0.5) DESC, cid) AS arn
             |      FROM e, c),
             |asg AS (SELECT vec_id, cid FROM a WHERE arn = 1),
             |p AS (SELECT vec_id AS probe_id, v AS pv FROM e
             |      WHERE vec_id BETWEEN 200 AND 204),
             |tr AS (SELECT probe_id, e.vec_id AS nid
             |       FROM p, e
             |       JOIN documents d2 ON d2.doc_id = e.vec_id AND d2.lang = 'en'
             |       WHERE e.vec_id <> probe_id
             |       QUALIFY row_number() OVER (PARTITION BY probe_id
             |         ORDER BY list_cosine_similarity(pv, e.v) DESC, e.vec_id) <= 10),
             |s1 AS (SELECT pc.probe_id, e.vec_id AS nid
             |       FROM (SELECT vec_id AS probe_id, cid AS pcid FROM a
             |             WHERE arn <= 1 AND vec_id BETWEEN 200 AND 204) pc
             |       JOIN asg ON asg.cid = pc.pcid
             |       JOIN e ON e.vec_id = asg.vec_id
             |       JOIN documents d2 ON d2.doc_id = e.vec_id AND d2.lang = 'en'
             |       JOIN p ON p.probe_id = pc.probe_id
             |       WHERE e.vec_id <> pc.probe_id
             |       QUALIFY row_number() OVER (PARTITION BY pc.probe_id
             |         ORDER BY list_cosine_similarity(pv, e.v) DESC, e.vec_id) <= 10),
             |s2 AS (SELECT pc.probe_id, e.vec_id AS nid
             |       FROM (SELECT vec_id AS probe_id, cid AS pcid FROM a
             |             WHERE arn <= 2 AND vec_id BETWEEN 200 AND 204) pc
             |       JOIN asg ON asg.cid = pc.pcid
             |       JOIN e ON e.vec_id = asg.vec_id
             |       JOIN documents d2 ON d2.doc_id = e.vec_id AND d2.lang = 'en'
             |       JOIN p ON p.probe_id = pc.probe_id
             |       WHERE e.vec_id <> pc.probe_id
             |       QUALIFY row_number() OVER (PARTITION BY pc.probe_id
             |         ORDER BY list_cosine_similarity(pv, e.v) DESC, e.vec_id) <= 10),
             |b AS (SELECT probe_id, count(*) AS n_true FROM tr GROUP BY 1),
             |h1 AS (SELECT tr.probe_id, count(*) AS c FROM tr
             |       JOIN s1 ON s1.probe_id = tr.probe_id AND s1.nid = tr.nid
             |       GROUP BY 1),
             |h2 AS (SELECT tr.probe_id, count(*) AS c FROM tr
             |       JOIN s2 ON s2.probe_id = tr.probe_id AND s2.nid = tr.nid
             |       GROUP BY 1)
             |SELECT b.probe_id, CAST(b.n_true AS BIGINT) AS n_true,
             |  CAST(coalesce(h1.c, 0) AS BIGINT) AS hit1,
             |  CAST(coalesce(h2.c, 0) AS BIGINT) AS hit2
             |FROM b LEFT JOIN h1 USING (probe_id) LEFT JOIN h2 USING (probe_id)""".stripMargin),
      (s, d) => {
        val e = emb(s, d)
        val centroids = e.filter(col("vec_id") < 8)
          .select(col("vec_id").as("cid"), col("v").as("cv"))
        val en = Tables(s, d, "documents")
          .filter(col("lang") === "en").select(col("doc_id"))
        val probesAll = e.filter(col("vec_id").between(200, 204))
        // truth: vs20's brute-force pre-filtered global top-10
        val pv = probesAll.select(col("vec_id").as("probe_id"), col("v").as("pv"))
        val wT = Window.partitionBy("probe_id").orderBy(col("c").desc, col("neighbor_id"))
        val truth = e.join(en, col("vec_id") === col("doc_id"), "left_semi")
          .join(broadcast(pv), col("vec_id") =!= col("probe_id"))
          .select(col("probe_id"), col("vec_id").as("neighbor_id"),
            cosine(col("pv"), col("v")).as("c"))
          .withColumn("rnk", row_number().over(wT)).filter(col("rnk") <= 10)
          .select(col("probe_id"), col("neighbor_id"))
        def servedAt(np: Int) = probeIvfIndexWhere(s, attrIvfIndexDir(s, d),
            rankCellsCos(probesAll, centroids).filter(col("arn") <= np)
              .select(col("vec_id").as("probe_id"), col("v").as("pv"),
                col("cid").as("pcid")),
            k = 10, col("lang") === "en")
          .select(col("probe_id").as("sp"), col("neighbor_id").as("sn"))
        def hits(np: Int, name: String) = truth
          .join(servedAt(np), col("probe_id") === col("sp") &&
            col("neighbor_id") === col("sn"), "left_semi")
          .groupBy("probe_id").agg(count(lit(1)).as(name))
        truth.groupBy("probe_id").agg(count(lit(1)).as("n_true"))
          .join(hits(1, "h1"), Seq("probe_id"), "left_outer")
          .join(hits(2, "h2"), Seq("probe_id"), "left_outer")
          .select(col("probe_id"), col("n_true"),
            coalesce(col("h1"), lit(0L)).as("hit1"),
            coalesce(col("h2"), lit(0L)).as("hit2"))
      }),

    QueryDef(
      "vs34_mmr_rerank",
      // MMR-DIVERSIFIED serving (maximal marginal relevance, Carbonell
      // & Goldstein SIGIR'98) — the post-retrieval pass a RAG stack
      // runs so its context window isn't k near-copies of one
      // passage: from each probe's index-served top-50 slate, greedily
      // keep the 10 items maximizing λ·relevance − (1−λ)·max-sim-to-
      // already-kept (λ = 0.7 → integer key 7·rel_q − 3·maxsim_q on
      // the 1e-6 cosine grid; every engine comparison is 64-bit
      // integer, ties on neighbor id). The greedy is sequential in k
      // BY DEFINITION, but its state is one probe's ≤50-struct slate,
      // so it runs as a single HOF fold in one projection — see
      // [[mmrServe]]. The oracle replays the exact greedy as 10
      // unrolled argmax CTE steps over the same integer grid.
      Some(mmrOracle(100, 102, kSlate = 50, kOut = 10)),
      (s, d) => {
        val e = emb(s, d)
        val centroids = e.filter(col("vec_id") < 8)
          .select(col("vec_id").as("cid"), col("v").as("cv"))
        val probes = assignClusters(e.filter(col("vec_id").between(100, 102)), centroids)
          .select(col("vec_id").as("probe_id"), col("v").as("pv"),
            col("cid").as("pcid"))
        mmrServe(s, baseIvfIndexDir(s, d), probes, kSlate = 50, kOut = 10)
      })
  )

  /** vs34's oracle: the MMR greedy unrolled as `kOut` argmax steps in
    * plain SQL — each step picks, per probe, the not-yet-selected
    * slate member with the max integer key (7·rel_q − 3·max pairwise
    * sim to the selected set), tie on nid, exactly [[mmrServe]]'s
    * fold. Generated, not hand-written: the steps are mechanical.
    * `sl`/`ps` are MATERIALIZED: DuckDB inlines plain CTEs, so the
    * correlated per-candidate max-sim subquery would otherwise
    * re-execute the whole slate pipeline (and re-open the parquet)
    * per row — the fd exhaustion that failed the first cut. */
  private def mmrOracle(pLo: Int, pHi: Int, kSlate: Int, kOut: Int): String = {
    val steps = (2 to kOut).map { n =>
      s"""p$n AS MATERIALIZED (SELECT c.probe_id, c.nid, CAST($n AS BIGINT) AS rnk,
         |  7 * c.rel_q - 3 * coalesce((
         |      SELECT max(ps.s) FROM ps JOIN sel${n - 1} t
         |        ON ps.pb = t.nid AND ps.probe_id = t.probe_id
         |      WHERE ps.pa = c.nid AND ps.probe_id = c.probe_id), 0) AS key
         |  FROM sl c
         |  WHERE NOT EXISTS (SELECT 1 FROM sel${n - 1} t
         |    WHERE t.probe_id = c.probe_id AND t.nid = c.nid)
         |  QUALIFY row_number() OVER (PARTITION BY c.probe_id
         |    ORDER BY key DESC, c.nid) = 1),
         |sel$n AS MATERIALIZED (SELECT * FROM sel${n - 1}
         |  UNION ALL SELECT probe_id, nid, rnk, key FROM p$n)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 8),
       |a AS (SELECT e.vec_id, cid,
       |        row_number() OVER (PARTITION BY e.vec_id
       |          ORDER BY floor(list_cosine_similarity(v, cv) * 1000000 + 0.5) DESC, cid) AS arn
       |      FROM e, c),
       |asg AS (SELECT vec_id, cid FROM a WHERE arn = 1),
       |p AS (SELECT e.vec_id AS probe_id, e.v AS pv, asg.cid AS pcid
       |      FROM e JOIN asg ON e.vec_id = asg.vec_id
       |      WHERE e.vec_id BETWEEN $pLo AND $pHi),
       |sl AS MATERIALIZED (SELECT probe_id, e.vec_id AS nid,
       |         CAST(floor(list_cosine_similarity(pv, e.v) * 1000000 + 0.5) AS BIGINT) AS rel_q,
       |         e.v
       |       FROM p JOIN asg ON asg.cid = p.pcid
       |       JOIN e ON e.vec_id = asg.vec_id
       |       WHERE e.vec_id <> probe_id
       |       QUALIFY row_number() OVER (PARTITION BY probe_id
       |         ORDER BY list_cosine_similarity(pv, e.v) DESC, e.vec_id) <= $kSlate),
       |ps AS MATERIALIZED (SELECT x.probe_id, x.nid AS pa, y.nid AS pb,
       |         CAST(floor(list_cosine_similarity(x.v, y.v) * 1000000 + 0.5) AS BIGINT) AS s
       |       FROM sl x JOIN sl y
       |         ON x.probe_id = y.probe_id AND x.nid <> y.nid),
       |sel1 AS MATERIALIZED (SELECT probe_id, nid, CAST(1 AS BIGINT) AS rnk,
       |           7 * rel_q AS key FROM sl
       |         QUALIFY row_number() OVER (PARTITION BY probe_id
       |           ORDER BY 7 * rel_q DESC, nid) = 1),
       |$steps
       |SELECT probe_id, rnk, nid AS neighbor_id, CAST(key AS BIGINT) AS mmr
       |FROM sel$kOut""".stripMargin
  }


  /** vs30's QueryDef body, kept beside the fixture helpers: the
    * EMBEDDING-LAKE QA AUDIT — per-dimension statistics on the 1e-6
    * integer grid (value count, exact quantized sum, min, max, zero
    * count per dimension). This is the drift/dead-dimension monitor a
    * vector lake runs before trusting ANN answers: a dimension whose
    * sum_q collapses or whose n_zero spikes signals an encoder
    * regression upstream, and min/max bound the quantization range the
    * PQ/int8 tiers (vs04, vs09) assume. All integers, NO division
    * anywhere (a mean would need floor-vs-truncate division parity on
    * negatives — the consumer divides); one explode + one
    * map-combinable rollup over a bounded 64-dim domain. */
  private[ops] def embeddingAudit(e: DataFrame): DataFrame =
    e.select(posexplode(col("v")).as(Seq("dim", "x")))
      .select(col("dim").cast("long").as("dim"),
        floor(col("x") * lit(1000000) + lit(0.5)).cast("long").as("qv"))
      .groupBy("dim")
      .agg(count(lit(1)).as("n_values"),
        sum("qv").cast("long").as("sum_q"),
        min("qv").as("min_q"), max("qv").as("max_q"),
        sum(when(col("qv") === 0, 1L).otherwise(0L)).cast("long")
          .as("n_zero"))

  /** MMR-diversified serving (Carbonell & Goldstein, SIGIR 1998) from
    * the persisted IVF index: gather each probe's cell-restricted
    * top-`kSlate` candidate slate, then greedily pick `kOut` items
    * maximizing λ·relevance − (1−λ)·max-similarity-to-already-picked —
    * the diversification pass a RAG serving stack runs so the context
    * window isn't filled with near-identical passages. λ = 0.7 on the
    * 1e-6 cosine grid as INTEGER weights (key = 7·rel_q − 3·maxsim_q,
    * the ranking scaled by 10), so every comparison both engines make
    * is 64-bit-integer exact; ties break on neighbor id.
    *
    * Shape: the greedy is inherently sequential in kOut, but its state
    * is one probe's slate — ≤ kSlate structs — so it runs as a single
    * HOF fold (`aggregate(sequence(1,kOut), …)`) in ONE projection per
    * probe row: the plan is cell-pruned scan → rank window → one
    * aggregation gathering the slate → one codegen'd projection. Zero
    * extra shuffles, nothing driver-side, per-probe cost independent
    * of lake size. Pairwise sims are recomputed inside the fold
    * (kOut·kSlate cosines ≈ 500 per probe) rather than materialized as
    * a kSlate² join — cheaper below kSlate ≈ 1000 and join-free. */
  def mmrServe(spark: SparkSession, path: String, probes: DataFrame,
      kSlate: Int, kOut: Int): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    // bounded: a probe BATCH (collected once for the cid pruning list
    // and the broadcast side), never the corpus.
    val rows = probes.collect()
    val cidIdx = probes.schema.fieldIndex("pcid")
    val cids = rows.map(_.get(cidIdx)).distinct.toIndexedSeq
    val localProbes = spark.createDataFrame(
      java.util.Arrays.asList(rows: _*), probes.schema)
    val cells = minusTombstones(spark, path,
      spark.read.parquet(path).filter(col("cid").isin(cids: _*)))
    val w = Window.partitionBy("probe_id").orderBy(col("c").desc, col("nid"))
    val slate = cells
      .join(broadcast(localProbes), col("cid") === col("pcid") && col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id").as("nid"), col("v"),
        cosine(col("pv"), col("v")).as("c"))
      .withColumn("srn", row_number().over(w)).filter(col("srn") <= kSlate)
      .select(col("probe_id"), col("nid"),
        floor(col("c") * lit(1e6) + lit(0.5)).cast("long").as("rel_q"), col("v"))
      .groupBy("probe_id")
      .agg(collect_list(struct(col("nid"), col("rel_q"), col("v"))).as("cands"))
    // The greedy fold. `array_max` over struct(key, -nid) is the
    // deterministic argmax (max key, then min nid) regardless of
    // collect_list's arrival order; the transform-of-singleton wrap
    // binds the winner once instead of recomputing it per field.
    val fold = s"""
      aggregate(
        sequence(1, $kOut),
        cast(array() as array<struct<nid:bigint,key:bigint,v:array<double>>>),
        (sel, step) -> if(size(sel) >= size(cands), sel,
          concat(sel, transform(
            array(array_max(transform(
              filter(cands, c -> NOT exists(sel, s -> s.nid = c.nid)),
              c -> named_struct(
                'key', 7L * c.rel_q - 3L * coalesce(
                  array_max(transform(sel, s ->
                    cast(floor(cosine_sim(c.v, s.v) * 1000000.0D + 0.5D) as bigint))),
                  0L),
                'negnid', -c.nid)))),
            b -> named_struct(
              'nid', -b.negnid,
              'key', b.key,
              'v', element_at(filter(cands, c -> c.nid = -b.negnid), 1).v)))))
    """
    slate.select(col("probe_id"), posexplode(expr(fold)))
      .select(col("probe_id"), (col("pos") + 1).cast("long").as("rnk"),
        col("col.nid").as("neighbor_id"), col("col.key").as("mmr"))
  }

  /** Per-sf cached base IVF index (input-fixture rationale, like
    * dd17's baseLshIndex / tx33's baseTextIndex: a serving probe runs
    * against a store that already exists). */
  private[ops] def baseIvfIndexDir(s: SparkSession, d: String): String =
    graft.core.Scratch.fixture(s"vs_base_ivf_index:$d") { root =>
      val dir = s"$root/index"
      val e = emb(s, d)
      val centroids = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("cid"), col("v").as("cv"))
      writeIvfIndex(e, centroids, dir)
      dir
    }

  /** Per-sf cached ATTRIBUTE-carrying IVF index (vs33's fixture): the
    * same cells as [[baseIvfIndexDir]], but every stored row also
    * carries the vector's filterable metadata (`lang`, denormalized
    * from `documents` at BUILD time). This is the filtered-ANN
    * production layout: predicates evaluate inside the pruned cells'
    * columnar scan — pushdown on a stored column — and query time
    * never joins a metadata table. Build cost is one broadcast-dim
    * join folded into the index write; the attribute is immutable
    * with the vector (a metadata change is a re-version, vs26's
    * verb). */
  private[ops] def attrIvfIndexDir(s: SparkSession, d: String): String =
    graft.core.Scratch.fixture(s"vs_attr_ivf_index:$d") { root =>
      val dir = s"$root/index"
      val e = emb(s, d)
      val centroids = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("cid"), col("v").as("cv"))
      val lang = Tables(s, d, "documents").select(col("doc_id"), col("lang"))
      graft.core.PhaseTimer.phase("build") {
        assignClusters(e, centroids)
          .join(lang, col("vec_id") === col("doc_id")).drop("doc_id")
          .write.partitionBy("cid").mode("overwrite").parquet(dir)
      }
      dir
    }
}

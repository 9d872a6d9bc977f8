package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{QueryDef, Tables}

/** An opaque media payload with typed metadata — the multimodal column
  * convention: image/audio/video travel as `binary` plus metadata
  * columns; decode/feature-extraction runs batch-at-a-time in executors.
  */
final case class MediaIn(doc_id: Long, source: String, payload: Array[Byte])

/** mm10's resize plan row: source dims → letterboxed target dims. */
final case class Resized(
    doc_id: Long,
    source: String,
    src_w: Long,
    src_h: Long,
    out_w: Long,
    out_h: Long,
    pad_pixels: Long)

/** One model-scored row out of a batched inference call. */
final case class Scored(doc_id: Long, score: Double)

/** Deterministic stand-in for decoded media features. A real pipeline
  * would put pixel dims / duration / fps here. */
final case class MediaFeat(
    doc_id: Long,
    source: String,
    n_bytes: Long,
    first_byte: Long,
    fake_width: Long,
    fake_height: Long)

/** Multimodal-column operators. The container has no image/audio codecs,
  * so the DECODE step is a deterministic fake ([[MultimodalOps.decodeStub]]
  * — byte length + first byte stand in for real features), but the
  * Spark-side plumbing is real: a `binary` payload column, a typed
  * `Dataset[MediaIn]`, per-partition batch processing via
  * `mapPartitions` (the Scala analog of `mapInPandas` batch shape), and
  * aggregation over the extracted features. Swapping `decodeStub` for a
  * real codec is a one-function change.
  */
object MultimodalOps {

  private def media(s: SparkSession, d: String): Dataset[MediaIn] = {
    import s.implicits._
    Tables(s, d, "documents")
      .select(col("doc_id"), col("source"), encode(col("text"), "UTF-8").as("payload"))
      .as[MediaIn]
  }

  /** The clearly-marked decode stub: replace with a real image/audio
    * decoder. Runs once per partition over an iterator — the batch shape
    * a vectorized decoder needs. */
  def decodeStub(rows: Iterator[MediaIn]): Iterator[MediaFeat] =
    rows.map { m =>
      val n = m.payload.length.toLong
      MediaFeat(
        m.doc_id, m.source, n,
        if (m.payload.isEmpty) 0L else (m.payload(0) & 0xff).toLong,
        n % 1920, n % 1080)
    }

  /** The clearly-marked RESIZE stub — replace the dimension arithmetic
    * with a real scaler (the letterbox math stays; only the pixel
    * resample is fake/absent here). Aspect-preserving fit into 224×224
    * in pure integer math (floor(dim * 224 / longer side)) so the plan
    * is deterministic and oracle-checkable; runs per-partition over the
    * iterator — the batch shape a vectorized image library wants. */
  def resizeStub(rows: Iterator[MediaIn], target: Long): Iterator[Resized] =
    rows.map { m =>
      val n = m.payload.length.toLong
      val w = n % 1920
      val h = n % 1080
      val (ow, oh) =
        if (w <= 0 || h <= 0) (0L, 0L)
        else if (w >= h) (target, h * target / w)
        else (w * target / h, target)
      Resized(m.doc_id, m.source, w, h, ow, oh, target * target - ow * oh)
    }

  /** Batched-inference plumbing: assemble fixed-size batches inside
    * each partition (`grouped` over the row iterator — the shape a GPU
    * model server or vectorized codec wants: ONE call per `batchSize`
    * rows, not one per row) and emit per-row scores. The scoring stub
    * is deterministic per row, so results are independent of
    * partitioning and batch boundaries (asserted in OpsSpec) — the
    * invariant that makes batched inference retry-safe under Spark's
    * task re-execution. */
  def inferBatched(rows: Iterator[MediaIn], batchSize: Int): Iterator[Scored] =
    rows.grouped(batchSize).flatMap { batch =>
      // one "model call" for the whole batch; per-row deterministic fake
      batch.map { m =>
        val n = m.payload.length.toLong
        val fb = if (m.payload.isEmpty) 0L else (m.payload(0) & 0xff).toLong
        Scored(m.doc_id, ((n * 31 + fb) % 1000).toDouble / 1000.0)
      }
    }

  val defs: Seq[QueryDef] = Seq(

    QueryDef(
      "mm01_media_meta",
      Some("""SELECT doc_id, source,
             |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
             |  CAST(octet_length(encode(text)) % 1920 AS BIGINT) AS fake_width,
             |  CAST(octet_length(encode(text)) % 1080 AS BIGINT) AS fake_height
             |FROM documents""".stripMargin),
      (s, d) =>
        Tables(s, d, "documents")
          .select(col("doc_id"), col("source"),
            length(encode(col("text"), "UTF-8")).cast("long").as("n_bytes"))
          .select(col("doc_id"), col("source"), col("n_bytes"),
            (col("n_bytes") % 1920).as("fake_width"),
            (col("n_bytes") % 1080).as("fake_height"))),

    QueryDef(
      "mm02_decode_features",
      // first byte = first UTF-8 BYTE of the payload (not the first
      // character's code point — they differ for non-ASCII leads)
      Some("""SELECT source, count(*) AS n,
             |  CAST(sum(CAST('0x' || substr(hex(encode(text)), 1, 2) AS INT)) AS BIGINT) AS sum_first_byte,
             |  CAST(max(octet_length(encode(text))) AS BIGINT) AS max_bytes,
             |  CAST(sum(octet_length(encode(text)) % 1920) AS BIGINT) AS sum_fake_width
             |FROM documents GROUP BY source""".stripMargin),
      (s, d) => {
        val spark = s
        import spark.implicits._
        media(s, d)
          .mapPartitions(decodeStub)
          .groupBy("source")
          .agg(
            count(lit(1)).as("n"),
            sum("first_byte").cast("long").as("sum_first_byte"),
            max("n_bytes").cast("long").as("max_bytes"),
            sum("fake_width").cast("long").as("sum_fake_width"))
      }),

    QueryDef(
      "mm04_batch_inference",
      // The batched-inference scores, oracle-checked: the score is a
      // pure function of the payload (exact integer arithmetic over
      // byte length + first byte, one final exact division), so the
      // batch assembly can't change results — only throughput.
      Some("""SELECT doc_id,
             |  ((octet_length(encode(text)) * 31
             |    + CAST('0x' || substr(hex(encode(text)), 1, 2) AS INT)) % 1000)
             |    / 1000.0 AS score
             |FROM documents WHERE octet_length(encode(text)) > 0""".stripMargin),
      (s, d) => {
        val spark = s
        import spark.implicits._
        media(s, d)
          .filter(m => m.payload.nonEmpty)
          .mapPartitions(it => inferBatched(it, batchSize = 32))
          .toDF("doc_id", "score")
      }),

    QueryDef(
      "mm05_payload_chunking",
      // Fixed-size chunking of binary payloads (the multipart-upload /
      // shard-for-object-storage shape): each payload becomes
      // ceil(n/64) chunk descriptors with exact offsets and a ragged
      // final chunk. Map-side explode over an integral sequence — no
      // shuffle until the audit aggregate checks total coverage.
      Some("""WITH c AS (
             |  SELECT doc_id, octet_length(encode(text)) AS n,
             |    unnest(range(0, CAST((octet_length(encode(text)) + 63) // 64
             |      AS BIGINT))) AS chunk_idx
             |  FROM documents WHERE octet_length(encode(text)) > 0)
             |SELECT doc_id, count(*) AS n_chunks,
             |  CAST(sum(least(64, n - chunk_idx * 64)) AS BIGINT) AS covered_bytes,
             |  CAST(max(n) AS BIGINT) AS n_bytes
             |FROM c GROUP BY doc_id""".stripMargin),
      (s, d) => {
        val n = length(encode(col("text"), "UTF-8")).cast("long")
        val nChunks = ((n + 63) - pmod(n + 63, lit(64L))) / 64
        Tables(s, d, "documents")
          .select(col("doc_id"), n.as("n"), nChunks.cast("long").as("nc"))
          .filter(col("n") > 0)
          .select(col("doc_id"), col("n"),
            explode(sequence(lit(0L), col("nc") - 1)).as("chunk_idx"))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_chunks"),
            sum(least(lit(64L), col("n") - col("chunk_idx") * 64))
              .cast("long").as("covered_bytes"),
            max("n").cast("long").as("n_bytes"))
      }),

    QueryDef(
      "mm03_frame_sample",
      Some("""SELECT doc_id, unnest(generate_series(0, octet_length(encode(text)) % 8)) AS frame_idx
             |FROM documents""".stripMargin),
      (s, d) =>
        Tables(s, d, "documents")
          .select(col("doc_id"),
            explode(sequence(lit(0L), length(encode(col("text"), "UTF-8")).cast("long") % 8))
              .as("frame_idx"))),

    QueryDef(
      "mm06_chunk_integrity",
      // Chunk-level integrity manifest — the verification pass after
      // multipart transfer: per chunk (mm05's descriptors) an md5 of
      // the actual byte slice, rolled up to a per-doc manifest digest
      // (md5 of the ordered chunk-digest concatenation) plus exact
      // coverage. Any reordered, truncated, or corrupted chunk changes
      // the manifest. Slicing is map-side explode + substring on the
      // binary; the only shuffle is the per-doc rollup, and the ordered
      // digest concat is a sorted collect over ≤ ceil(n/64) chunk rows.
      Some("""WITH c AS (
             |  SELECT doc_id, octet_length(encode(text)) AS n,
             |    unnest(range(0, CAST((octet_length(encode(text)) + 63) // 64
             |      AS BIGINT))) AS chunk_idx,
             |    hex(encode(text)) AS payload_hex
             |  FROM documents WHERE octet_length(encode(text)) > 0),
             |h AS (
             |  SELECT doc_id, chunk_idx, n,
             |    md5(substring(payload_hex,
             |      CAST(chunk_idx * 128 + 1 AS INT), 128)) AS ch
             |  FROM c)
             |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks,
             |  CAST(any_value(n) AS BIGINT) AS n_bytes,
             |  md5(string_agg(ch, '' ORDER BY chunk_idx)) AS manifest_md5
             |FROM h GROUP BY doc_id""".stripMargin),
      (s, d) => {
        val n = length(encode(col("text"), "UTF-8")).cast("long")
        val nChunks = ((n + 63) - pmod(n + 63, lit(64L))) / 64
        Tables(s, d, "documents")
          .select(col("doc_id"), n.as("n"),
            // hex: 2 chars per byte, uppercase in BOTH engines — string
            // slicing is portable where raw BLOB substring is not
            hex(encode(col("text"), "UTF-8")).as("payload_hex"),
            nChunks.cast("long").as("nc"))
          .filter(col("n") > 0)
          .select(col("doc_id"), col("n"), col("payload_hex"),
            explode(sequence(lit(0L), col("nc") - 1)).as("chunk_idx"))
          .select(col("doc_id"), col("n"), col("chunk_idx"),
            md5(expr(
              "substring(payload_hex, CAST(chunk_idx * 128 + 1 AS INT), 128)"))
              .as("ch"))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_chunks"),
            first(col("n")).cast("long").as("n_bytes"),
            md5(concat_ws("",
              array_sort(collect_list(struct(col("chunk_idx"), col("ch"))))
                .getField("ch"))).as("manifest_md5"))
      }),

    QueryDef(
      "mm07_shard_pack",
      // Training-shard packing for media payloads: lay the corpus out
      // in a deterministic hash order and cut the running byte stream
      // every `target` bytes — greedy sequential bin-packing as ONE
      // running-sum window (the tar/WebDataset shard builder as a
      // query). Hash order decorrelates shard membership from source
      // order; each shard's manifest digest pins exact content AND
      // order. The running byte sum is the two-phase distributed prefix
      // sum ([[PrefixSum.byHexKey]]): 256 hash-prefix buckets windowed in
      // parallel + broadcast bucket offsets — no single-partition window,
      // so shard layout parallelizes at 100 TB.
      Some("""WITH m AS (
             |  SELECT doc_id, octet_length(encode(text)) AS n_bytes,
             |    md5(text) AS h
             |  FROM documents),
             |o AS (
             |  SELECT doc_id, n_bytes, h,
             |    sum(n_bytes) OVER (ORDER BY h, doc_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
             |  FROM m)
             |SELECT CAST((cum - 1) // 4096 AS BIGINT) AS shard,
             |  CAST(count(*) AS BIGINT) AS n_docs,
             |  CAST(sum(n_bytes) AS BIGINT) AS shard_bytes,
             |  md5(string_agg(h, '' ORDER BY h, doc_id)) AS manifest_md5
             |FROM o GROUP BY 1""".stripMargin),
      (s, d) => {
        val m = Tables(s, d, "documents")
          .select(col("doc_id"),
            length(encode(col("text"), "UTF-8")).cast("long").as("n_bytes"),
            md5(encode(col("text"), "UTF-8")).as("h"))
        PrefixSum.byHexKey(m, "h", Seq(col("doc_id")),
            col("n_bytes"), "cum", inclusive = true)
          .withColumn("shard", expr("CAST((cum - 1) DIV 4096 AS BIGINT)"))
          .groupBy("shard")
          .agg(count(lit(1)).as("n_docs"),
            sum("n_bytes").cast("long").as("shard_bytes"),
            md5(concat_ws("",
              array_sort(collect_list(struct(col("h"), col("doc_id"))))
                .getField("h"))).as("manifest_md5"))
      }),

    QueryDef(
      "mm08_aspect_buckets",
      // Aspect-ratio bucketing for batched vision training: media group
      // into coarse shape classes (wide / tall / square via integer
      // cross-multiply — no float ratio boundaries) and size tiers, so
      // every batch contains same-shaped tensors (no padding waste). The
      // op is one map-only classification + one rollup; the bucket
      // count is O(tiers × shapes) regardless of corpus size.
      Some("""WITH m AS (
             |  SELECT doc_id,
             |    octet_length(encode(text)) % 1920 AS w,
             |    octet_length(encode(text)) % 1080 AS h,
             |    octet_length(encode(text)) AS nb
             |  FROM documents)
             |SELECT
             |  CASE WHEN w * 3 > h * 4 THEN 'wide'
             |       WHEN h * 3 > w * 4 THEN 'tall' ELSE 'square' END AS shape,
             |  CAST(nb // 128 AS BIGINT) AS size_tier,
             |  CAST(count(*) AS BIGINT) AS n,
             |  CAST(sum(CAST(w AS BIGINT) * h) AS BIGINT) AS sum_pixels,
             |  CAST(min(doc_id) AS BIGINT) AS rep_id
             |FROM m GROUP BY 1, 2""".stripMargin),
      (s, d) => {
        val nb = length(encode(col("text"), "UTF-8"))
        Tables(s, d, "documents")
          .select(col("doc_id"), (nb % 1920).as("w"), (nb % 1080).as("h"),
            nb.cast("long").as("nb"))
          .groupBy(
            when(col("w") * 3 > col("h") * 4, "wide")
              .when(col("h") * 3 > col("w") * 4, "tall")
              .otherwise("square").as("shape"),
            (col("nb") / 128).cast("long").as("size_tier"))
          .agg(count(lit(1)).cast("long").as("n"),
            sum(col("w").cast("long") * col("h")).cast("long").as("sum_pixels"),
            min("doc_id").cast("long").as("rep_id"))
      }),

    QueryDef(
      "mm09_batch_assembly",
      // Training-batch assembly over mm08's shape classes: within each
      // (shape, size_tier) bucket, media are dealt in doc_id order into
      // fixed-size-16 batches — same-shaped tensors per batch, at most
      // one partial batch per bucket (the padding-waste bound). One
      // rank window per bucket + integer division; the batch table
      // rows are what a data-loader manifest consumes.
      Some("""WITH m AS (
             |  SELECT doc_id,
             |    octet_length(encode(text)) % 1920 AS w,
             |    octet_length(encode(text)) % 1080 AS h,
             |    octet_length(encode(text)) AS nb
             |  FROM documents),
             |cls AS (
             |  SELECT doc_id,
             |    CASE WHEN w * 3 > h * 4 THEN 'wide'
             |         WHEN h * 3 > w * 4 THEN 'tall' ELSE 'square' END AS shape,
             |    nb // 128 AS size_tier
             |  FROM m),
             |b AS (
             |  SELECT doc_id, shape, size_tier,
             |    (row_number() OVER (PARTITION BY shape, size_tier
             |       ORDER BY doc_id) - 1) // 16 AS batch_id
             |  FROM cls)
             |SELECT shape, CAST(size_tier AS BIGINT) AS size_tier,
             |  CAST(batch_id AS BIGINT) AS batch_id,
             |  CAST(count(*) AS BIGINT) AS n_items,
             |  CAST(min(doc_id) AS BIGINT) AS first_id,
             |  CAST(max(doc_id) AS BIGINT) AS last_id
             |FROM b GROUP BY 1, 2, 3""".stripMargin),
      (s, d) => {
        val nb = length(encode(col("text"), "UTF-8"))
        val w = Window.partitionBy("shape", "size_tier").orderBy("doc_id")
        Tables(s, d, "documents")
          .select(col("doc_id"), (nb % 1920).as("w"), (nb % 1080).as("h"),
            nb.cast("long").as("nb"))
          .select(col("doc_id"),
            when(col("w") * 3 > col("h") * 4, "wide")
              .when(col("h") * 3 > col("w") * 4, "tall")
              .otherwise("square").as("shape"),
            (col("nb") / 128).cast("long").as("size_tier"))
          .withColumn("batch_id",
            ((row_number().over(w) - 1) / 16).cast("long"))
          .groupBy("shape", "size_tier", "batch_id")
          .agg(count(lit(1)).cast("long").as("n_items"),
            min("doc_id").cast("long").as("first_id"),
            max("doc_id").cast("long").as("last_id"))
      }),

    QueryDef(
      "mm10_resize_plan",
      // The RESIZE stage of the multimodal pipeline (decode → resize →
      // batch → infer): aspect-preserving letterbox fit into 224×224,
      // computed by the per-partition resize stub over the typed
      // Dataset — the real-codec swap point — with pure integer
      // letterbox math (floor(dim·224 / longer)) so the emitted plan
      // is deterministic. Output rolls up padding waste per source;
      // the oracle re-derives the integer math relationally.
      Some("""WITH m AS (
             |  SELECT doc_id, source,
             |    octet_length(encode(text)) % 1920 AS w,
             |    octet_length(encode(text)) % 1080 AS h
             |  FROM documents),
             |r AS (
             |  SELECT source,
             |    CASE WHEN w <= 0 OR h <= 0 THEN 0
             |         WHEN w >= h THEN 224 ELSE w * 224 // h END AS out_w,
             |    CASE WHEN w <= 0 OR h <= 0 THEN 0
             |         WHEN w >= h THEN h * 224 // w ELSE 224 END AS out_h
             |  FROM m)
             |SELECT source, CAST(count(*) AS BIGINT) AS n,
             |  CAST(sum(out_w * out_h) AS BIGINT) AS content_pixels,
             |  CAST(sum(224 * 224 - out_w * out_h) AS BIGINT) AS pad_pixels,
             |  CAST(min(out_h) AS BIGINT) AS min_out_h,
             |  CAST(max(out_w) AS BIGINT) AS max_out_w
             |FROM r GROUP BY source""".stripMargin),
      (s, d) => {
        val spark = s
        import spark.implicits._
        media(s, d)
          .mapPartitions(rows => resizeStub(rows, 224L))
          .groupBy("source")
          .agg(count(lit(1)).cast("long").as("n"),
            sum(col("out_w") * col("out_h")).cast("long").as("content_pixels"),
            sum("pad_pixels").cast("long").as("pad_pixels"),
            min("out_h").cast("long").as("min_out_h"),
            max("out_w").cast("long").as("max_out_w"))
      }),

    QueryDef(
      "mm11_reassembly_proof",
      // Chunk → reassemble → verify, end to end: payloads are cut into
      // mm05's 64-byte chunks (as 128-hex-char slices), reassembled in
      // chunk order, decoded, and their md5 compared against the
      // original payload's md5 — any off-by-one in the boundary math
      // (the part worth proving) breaks the digest. The per-doc check
      // rolls up to a per-source pass count that must equal the doc
      // count.
      Some("""WITH c AS (
             |  SELECT doc_id, source, encode(text) AS payload,
             |    unnest(range(0, CAST((octet_length(encode(text)) + 63) // 64
             |      AS BIGINT))) AS ci
             |  FROM documents WHERE octet_length(encode(text)) > 0),
             |r AS (
             |  SELECT doc_id, source,
             |    md5(min(hex(payload))) AS orig_md5,
             |    md5(string_agg(substr(hex(payload), CAST(ci * 128 + 1 AS INT), 128),
             |      '' ORDER BY ci)) AS reassembled_md5
             |  FROM c GROUP BY doc_id, source)
             |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
             |  CAST(sum(CASE WHEN orig_md5 = reassembled_md5 THEN 1 ELSE 0 END)
             |    AS BIGINT) AS n_verified
             |FROM r GROUP BY source""".stripMargin),
      (s, d) => {
        val payload = encode(col("text"), "UTF-8")
        val n = length(payload).cast("long")
        val nChunks = ((n + 63) - pmod(n + 63, lit(64L))) / 64
        Tables(s, d, "documents")
          .select(col("doc_id"), col("source"), payload.as("payload"),
            n.as("n"), nChunks.cast("long").as("nc"))
          .filter(col("n") > 0)
          .select(col("doc_id"), col("source"), col("payload"),
            explode(sequence(lit(0L), col("nc") - 1)).as("ci"))
          .groupBy("doc_id", "source")
          .agg(md5(min(hex(col("payload")))).as("orig_md5"),
            md5(concat_ws("",
              transform(
                array_sort(collect_list(struct(col("ci"),
                  expr("substr(hex(payload), CAST(ci * 128 + 1 AS INT), 128)")
                    .as("sl")))),
                x => x.getField("sl")))).as("reassembled_md5"))
          .groupBy("source")
          .agg(count(lit(1)).cast("long").as("n_docs"),
            sum(when(col("orig_md5") === col("reassembled_md5"), 1L)
              .otherwise(0L)).cast("long").as("n_verified"))
      }),

    QueryDef(
      "mm12_modality_align",
      // Cross-modality ALIGNMENT audit — before any (text, embedding)
      // pair feeds a contrastive/multimodal trainer, count what
      // actually pairs up: per-language coverage of documents by their
      // embedding row (doc_id = vec_id), with the missing-doc id_sum
      // pinning exactly WHICH rows lack a vector (at sf0.1 ~60% of
      // docs do — the realistic partially-embedded lake). One
      // left equi-join on the id: broadcastable while the vector side
      // is index-sized, a plain shuffle join once it isn't; either
      // way the audit is scan-dominated.
      Some("""SELECT d.lang, CAST(count(*) AS BIGINT) AS n_docs,
             |  CAST(sum(CASE WHEN e.vec_id IS NOT NULL THEN 1 ELSE 0 END)
             |    AS BIGINT) AS n_paired,
             |  CAST(sum(CASE WHEN e.vec_id IS NULL THEN d.doc_id ELSE 0 END)
             |    AS BIGINT) AS missing_id_sum
             |FROM documents d LEFT JOIN embeddings e ON d.doc_id = e.vec_id
             |GROUP BY d.lang""".stripMargin),
      (s, d) =>
        Tables(s, d, "documents")
          .join(Tables(s, d, "embeddings").select(col("vec_id")),
            col("doc_id") === col("vec_id"), "left")
          .groupBy("lang")
          .agg(count(lit(1)).cast("long").as("n_docs"),
            sum(when(col("vec_id").isNotNull, 1L).otherwise(0L)).cast("long")
              .as("n_paired"),
            sum(when(col("vec_id").isNull, col("doc_id")).otherwise(0L))
              .cast("long").as("missing_id_sum"))),

    QueryDef(
      "mm13_frame_windows",
      // Overlapping frame windows (the audio/STFT framing shape:
      // window 100 bytes, hop 40) over each payload. mm05 covers the
      // NON-overlapping partition-for-storage case; feature extraction
      // frames OVERLAP, so coverage multiplicity (not just coverage) is
      // part of the contract: interior bytes land in ceil(100/40) = 3
      // frames. Frame starts are every hop while < n, ragged tail
      // frames included — descriptors stay an exact integral function
      // of the payload length, so the decode stub downstream (mm02's
      // swap point) sees real batch shapes. Map-side sequence explode;
      // the only shuffle is the per-doc audit rollup.
      Some("""WITH c AS (
             |  SELECT doc_id, octet_length(encode(text)) AS n,
             |    unnest(range(0, CAST((octet_length(encode(text)) + 39) // 40
             |      AS BIGINT))) AS k
             |  FROM documents WHERE octet_length(encode(text)) > 0)
             |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_frames,
             |  CAST(sum(least(100, n - k * 40)) AS BIGINT) AS window_bytes,
             |  CAST(max(n) AS BIGINT) AS n_bytes
             |FROM c GROUP BY doc_id""".stripMargin),
      (s, d) => {
        val n = length(encode(col("text"), "UTF-8")).cast("long")
        val nFrames = ((n + 39) - pmod(n + 39, lit(40L))) / 40
        Tables(s, d, "documents")
          .select(col("doc_id"), n.as("n"), nFrames.cast("long").as("nf"))
          .filter(col("n") > 0)
          .select(col("doc_id"), col("n"),
            explode(sequence(lit(0L), col("nf") - 1)).as("k"))
          .groupBy("doc_id")
          .agg(count(lit(1)).cast("long").as("n_frames"),
            sum(least(lit(100L), col("n") - col("k") * 40))
              .cast("long").as("window_bytes"),
            max("n").cast("long").as("n_bytes"))
      }),

    QueryDef(
      "mm14_payload_dedup",
      // PAYLOAD-LEVEL EXACT DEDUP — the first pass on a media lake:
      // dd01's discipline applied to the opaque BINARY column. The
      // digest is md5 of the payload BYTES (codec-agnostic: a re-sent
      // image/video dedups whatever its filename or metadata says; no
      // decode needed), computed MAP-SIDE so multi-MB payloads never
      // cross the wire — the only shuffle ships (doc_id, source,
      // 16-byte digest). Keeper = min doc_id per digest, global across
      // sources (the same asset uploaded to two sources is ONE asset);
      // the per-source census shows each source's raw mass, its
      // distinct-digest count, and how many keepers it contributed —
      // the ingest-dedup accounting a multimodal lake reports daily.
      Some("""WITH d AS (SELECT doc_id, source, md5(text) AS fp FROM documents),
             |r AS (SELECT doc_id, source, fp,
             |        row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
             |      FROM d)
             |SELECT source, CAST(count(*) AS BIGINT) AS n_rows,
             |  CAST(count(DISTINCT fp) AS BIGINT) AS n_digests,
             |  CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
             |  CAST(sum(CASE WHEN rn = 1 THEN doc_id ELSE 0 END) AS BIGINT) AS kept_id_sum
             |FROM r GROUP BY 1""".stripMargin),
      (s, d) => {
        import s.implicits._
        // digest the binary payload immediately: the projection the
        // scan feeds the shuffle is (doc_id, source, fp) — payload
        // bytes stay inside their input partition
        val dig = media(s, d).toDF()
          .select(col("doc_id"), col("source"), md5(col("payload")).as("fp"))
        val w = Window.partitionBy("fp").orderBy("doc_id")
        dig.withColumn("rn", row_number().over(w))
          .groupBy("source")
          .agg(count(lit(1)).as("n_rows"),
            countDistinct("fp").as("n_digests"),
            sum(when(col("rn") === 1, 1L).otherwise(0L)).cast("long")
              .as("n_kept"),
            sum(when(col("rn") === 1, col("doc_id")).otherwise(0L))
              .cast("long").as("kept_id_sum"))
      }),

    QueryDef(
      "mm15_vlm_packing",
      // VLM MULTIMODAL SEQUENCE PACKING — the interleaved image+text
      // analog of sp19/pp10's text-only concat-then-chunk: in a
      // vision-language training run every sample costs its TEXT
      // tokens PLUS a patch budget for its media (a ViT tokenizes an
      // image into ceil(w/32)·ceil(h/32) patch tokens), and the packer
      // cuts that combined stream into 512-token contexts. Per-doc
      // cost = whitespace tokens + the patch grid of the decoded dims
      // (the [[decodeStub]] fakes, exactly mm02's) — pure integer
      // math. Shape: the media→text alignment join is doc_id-keyed
      // (the mm12 shape — co-keyed shuffle, no broadcast: both sides
      // are lake-scale), then the census rides sp19's two-phase
      // prefix sum; no row-scale data in one task. Output: the
      // boundary-straddle census with id_sum membership checksum.
      Some("""WITH f AS (
             |  SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n
             |  FROM documents),
             |c AS (
             |  SELECT d.doc_id,
             |    CAST(len(list_filter(string_split(d.text, ' '), x -> x <> '')) AS BIGINT)
             |      + ((f.n % 1920 + 31) // 32) * ((f.n % 1080 + 31) // 32) AS t
             |  FROM documents d JOIN f USING (doc_id)),
             |p AS (
             |  SELECT doc_id, t,
             |    coalesce(sum(t) OVER (ORDER BY doc_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS p
             |  FROM c),
             |tot AS (SELECT CAST(sum(t) AS BIGINT) AS total_cost,
             |               CAST((sum(t) + 511) // 512 AS BIGINT) AS n_bins
             |        FROM c),
             |x AS (
             |  SELECT doc_id, t,
             |    CASE WHEN t = 0 THEN 0
             |         ELSE ((p + t - 1) // 512) - (p // 512) END AS spans
             |  FROM p)
             |SELECT CAST(spans AS BIGINT) AS spans,
             |  CAST(count(*) AS BIGINT) AS n_docs,
             |  CAST(sum(t) AS BIGINT) AS sum_cost,
             |  CAST(sum(doc_id) AS BIGINT) AS id_sum,
             |  n_bins, total_cost,
             |  round(CAST(total_cost AS DOUBLE) / (n_bins * 512), 4) AS fill
             |FROM x, tot GROUP BY 1, 5, 6, 7""".stripMargin),
      (s, d) => {
        val spark = s
        import spark.implicits._
        val feats = media(s, d).mapPartitions(decodeStub).toDF()
          .select(col("doc_id"),
            expr("((fake_width + 31) DIV 32) * ((fake_height + 31) DIV 32)")
              .as("patches"))
        val txt = Tables(s, d, "documents").select(col("doc_id"),
          size(filter(split(col("text"), " "), x => x =!= ""))
            .cast("long").as("t_text"))
        val cost = feats.join(txt, Seq("doc_id"))
          .select(col("doc_id"),
            (col("t_text") + col("patches")).cast("long").as("t"))
        val p = PrefixSum.byLongKey(cost, "doc_id", Seq.empty,
          col("t"), "p", inclusive = false)
        val tot = cost.agg(sum("t").cast("long").as("total_cost"))
          .withColumn("n_bins", expr("(total_cost + 511) DIV 512"))
        p.withColumn("spans",
            when(col("t") === 0, lit(0L))
              .otherwise(expr("((p + t - 1) DIV 512) - (p DIV 512)")))
          .crossJoin(broadcast(tot))
          .groupBy(col("spans").cast("long").as("spans"),
            col("n_bins"), col("total_cost"))
          .agg(count(lit(1)).as("n_docs"),
            sum("t").cast("long").as("sum_cost"),
            sum("doc_id").cast("long").as("id_sum"))
          .withColumn("fill", round(col("total_cost").cast("double")
            / (col("n_bins") * 512), 4))
          .select("spans", "n_docs", "sum_cost", "id_sum",
            "n_bins", "total_cost", "fill")
      }),

    QueryDef(
      "mm16_payload_neardup",
      // PAYLOAD-LEVEL NEAR-DEDUP — the banded near-dup tier for the
      // media lake, closing the dedup symmetry mm14 (exact digest)
      // left open: re-encoded / re-watermarked / trailer-appended
      // assets share almost all their BYTES but no digest, and a
      // codec-agnostic byte-shingle sketch catches them without
      // decoding. Shingles are POSITIONAL 8-byte windows every 4
      // bytes over the payload's lowercased hex encoding (map-only;
      // one array expression per row), sketched with dd02's portable
      // KM MinHash family ([[graft.functions.Md5MinHashSig]] — one
      // md5 per window), banded 16×4, candidates from bucket
      // co-membership (capped at 100 — dd02's degenerate-bucket
      // knob), VERIFIED by exact Jaccard over the distinct window
      // sets — no all-pairs anywhere.
      // Sketch choice is MEASURED, not assumed: the dd03 SimHash
      // kernel under its calibrated 4×15-band Hamming<=5 gate found
      // only 25/50 planted trailer edits at sf0.001 — a 7-byte
      // trailer on a sub-kB payload perturbs ~3% of windows, putting
      // the pair at bit-flip rate θ/π ≈ 0.09 ⇒ E[Hamming] ≈ 5.4,
      // straddling the gate — while MinHash banding collides a
      // j >= 0.8 pair with prob >= 1-(1-0.8^4)^16 ≈ 0.9996
      // (MediaNearDupSpec pins total planted recall at the >= 0.8
      // tier). Positional windows are ALIGNMENT-sensitive by design:
      // they catch append/truncate/tail edits (the planted
      // re-arrivals here: every 10th asset re-uploaded with a 7-byte
      // trailer) and same-bytes-different-metadata; an interior
      // insertion that shifts alignment belongs to the content-aware
      // tier behind the decode stub. The oracle re-derives hex
      // windows, KM hashes, minima, band keys, buckets, candidates
      // and verified pairs bit-for-bit from raw tables.
      Some("""WITH u AS (
             |  SELECT doc_id, encode(text) AS payload FROM documents
             |  UNION ALL
             |  SELECT doc_id + 100000, encode(text || ' v2edit')
             |  FROM documents WHERE doc_id % 10 = 0),
             |m AS (
             |  SELECT doc_id, lower(hex(payload)) AS hx,
             |    octet_length(payload) AS n
             |  FROM u WHERE octet_length(payload) > 0),
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
             |v AS (
             |  SELECT a, b, len(list_intersect(sa.shs, sb.shs)) AS i,
             |    len(sa.shs) AS na, len(sb.shs) AS nb
             |  FROM cand JOIN sh sa ON sa.doc_id = a JOIN sh sb ON sb.doc_id = b)
             |SELECT a, b, round(CAST(i AS DOUBLE) / (na + nb - i), 4) AS jaccard
             |FROM v WHERE CAST(i AS DOUBLE) / (na + nb - i) >= 0.8""".stripMargin),
      (s, d) => {
        val base = media(s, d).toDF().select(col("doc_id"), col("payload"))
        // planted near-dups: every 10th asset re-arrives with a small
        // appended trailer — near-identical bytes, different digest
        val edited = base.filter(pmod(col("doc_id"), lit(10)) === 0)
          .select((col("doc_id") + lit(100000L)).as("doc_id"),
            concat(col("payload"), encode(lit(" v2edit"), "UTF-8")).as("payload"))
        payloadNearDups(base.unionByName(edited))
      }),

    QueryDef(
      "mm17_payload_index_probe",
      // INCREMENTAL media near-dedup — dd17's daily-ingest discipline
      // for the asset lake: the lake's byte-window band keys are
      // materialized ONCE as a bucketed posting index
      // ([[payloadLshIndex]] via [[DedupOps.writeLshIndexRows]] —
      // ~150 B/asset, the index never ships payload bytes), and each
      // arriving batch (every 10th asset re-uploaded with mm16's
      // 7-byte trailer under a new id) derives its own keys — a
      // batch-sized signature pass — and probes for every near-dup
      // pair it introduces. The combined per-bucket cap makes the
      // result EXACTLY the one-shot mm16 kernel over lake ∪ batch
      // restricted to batch-involving pairs (MediaNearDupSpec pins
      // the set identity; this oracle replays that definition, so
      // the incremental path is held to the full-recompute answer —
      // it is mm16's oracle plus the b >= 100000 restriction).
      // Scale: probe cost is O(batch signatures + touched buckets +
      // candidate verifies); multi-MB payloads never cross the wire —
      // the index holds band keys, and the verify reads only the
      // CANDIDATES' windows.
      Some("""WITH u AS (
             |  SELECT doc_id, encode(text) AS payload FROM documents
             |  UNION ALL
             |  SELECT doc_id + 100000, encode(text || ' v2edit')
             |  FROM documents WHERE doc_id % 10 = 0),
             |m AS (
             |  SELECT doc_id, lower(hex(payload)) AS hx,
             |    octet_length(payload) AS n
             |  FROM u WHERE octet_length(payload) > 0),
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
             |v AS (
             |  SELECT a, b, len(list_intersect(sa.shs, sb.shs)) AS i,
             |    len(sa.shs) AS na, len(sb.shs) AS nb
             |  FROM cand JOIN sh sa ON sa.doc_id = a JOIN sh sb ON sb.doc_id = b)
             |SELECT a, b, round(CAST(i AS DOUBLE) / (na + nb - i), 4) AS jaccard
             |FROM v WHERE CAST(i AS DOUBLE) / (na + nb - i) >= 0.8
             |  AND b >= 100000""".stripMargin),
      (s, d) => {
        val lake = media(s, d).toDF().select(col("doc_id"), col("payload"))
        val batch = lake.filter(pmod(col("doc_id"), lit(10)) === 0)
          .select((col("doc_id") + lit(100000L)).as("doc_id"),
            concat(col("payload"), encode(lit(" v2edit"), "UTF-8")).as("payload"))
        payloadIndexProbe(batch, s.table(basePayloadIndex(s, d)),
          lake.unionByName(batch))
      }),

    QueryDef(
      "mm19_payload_index_delete",
      // TAKEDOWN in the media near-dedup cycle — dd20's verb on the
      // payload posting index: every 7th asset is deleted from the
      // persisted index ([[DedupOps.lshIndexDelete]] — band keys are
      // a pure function of the BYTES, so re-windowing the removed
      // assets names exactly the buckets holding them, and the
      // targeted posting-list rewrite provably equals a full rebuild
      // over the survivors), the pruned index is persisted back in
      // the bucketed layout, and an arriving batch (every 10th asset
      // re-uploaded byte-identical under a new id) probes it. Assets
      // with id % 70 == 0 are in BOTH sets — their exact-copy source
      // is gone, so the probe must NOT report those pairs: the
      // takedown has to change answers, not just shrink postings.
      // The oracle replays the full chain over lake ∖ removed ∪
      // batch, so the delete path is held to the full-recompute
      // answer.
      Some("""WITH u AS (
             |  SELECT doc_id, encode(text) AS payload FROM documents
             |  WHERE doc_id % 7 <> 0
             |  UNION ALL
             |  SELECT doc_id + 100000, encode(text)
             |  FROM documents WHERE doc_id % 10 = 0),
             |m AS (
             |  SELECT doc_id, lower(hex(payload)) AS hx,
             |    octet_length(payload) AS n
             |  FROM u WHERE octet_length(payload) > 0),
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
             |v AS (
             |  SELECT a, b, len(list_intersect(sa.shs, sb.shs)) AS i,
             |    len(sa.shs) AS na, len(sb.shs) AS nb
             |  FROM cand JOIN sh sa ON sa.doc_id = a JOIN sh sb ON sb.doc_id = b)
             |SELECT a, b, round(CAST(i AS DOUBLE) / (na + nb - i), 4) AS jaccard
             |FROM v WHERE CAST(i AS DOUBLE) / (na + nb - i) >= 0.8
             |  AND b >= 100000""".stripMargin),
      (s, d) => {
        val all = media(s, d).toDF().select("doc_id", "payload")
        val removed = all.filter(pmod(col("doc_id"), lit(7)) === 0)
        val survivors = all.filter(pmod(col("doc_id"), lit(7)) =!= 0)
        val batch = all.filter(pmod(col("doc_id"), lit(10)) === 0)
          .select((col("doc_id") + lit(100000L)).as("doc_id"), col("payload"))
        val tmp = graft.core.Scratch.dir("graft_payload_del_")
        graft.core.PhaseTimer.phase("delete") {
          DedupOps.writeLshIndexRows(
            DedupOps.lshIndexDelete(s.table(basePayloadIndex(s, d)),
              payloadLshIndex(removed)),
            "mm19_payload_idx_v2", s"$tmp/index_v2")
        }
        payloadIndexProbe(batch, s.table("mm19_payload_idx_v2"),
          survivors.unionByName(batch))
      }),

    QueryDef(
      "mm20_payload_index_audit",
      // INDEX HEALTH AUDIT for the payload posting index — dd24's
      // monitoring verb on the media family: the posting-size
      // histogram of the persisted byte-window index, each size class
      // annotated with the probe policy (the mm16/mm17 kernels skip
      // combined buckets over 100 — degenerate byte-pattern
      // collisions). Reads ONLY the index's key + sz columns (a
      // column-pruned scan of the posting store, never the asset
      // lake); the oracle re-derives the whole histogram from raw
      // payload bytes, making the audit an end-to-end index-integrity
      // check — a lost or duplicated posting row shifts a bucket
      // count.
      Some("""WITH m AS (
             |  SELECT doc_id, lower(hex(encode(text))) AS hx,
             |    octet_length(encode(text)) AS n
             |  FROM documents WHERE octet_length(encode(text)) > 0),
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
             |k AS (SELECT bd, k1, k2, k3, k4, count(*) AS sz FROM bands
             |      GROUP BY 1, 2, 3, 4, 5)
             |SELECT CAST(sz AS BIGINT) AS sz,
             |  CAST(count(*) AS BIGINT) AS n_keys,
             |  CAST(sum(sz) AS BIGINT) AS postings,
             |  CASE WHEN sz > 100 THEN 'cap' ELSE 'probe' END AS policy
             |FROM k GROUP BY sz""".stripMargin),
      (s, d) =>
        s.table(basePayloadIndex(s, d))
          .groupBy(col("sz"))
          .agg(count(lit(1)).as("n_keys"), sum(col("sz")).as("postings"))
          .select(col("sz"), col("n_keys"), col("postings"),
            when(col("sz") > 100, lit("cap")).otherwise(lit("probe"))
              .as("policy"))),

    QueryDef(
      "mm18_crossmodal_serve",
      // CROSS-MODAL RETRIEVAL SERVING — the mm family's missing verb
      // (r10 verdict task 7): a TEXT query answered with MEDIA ASSETS
      // through the shared embedding space, assembled entirely from
      // vs29/vs32's index-served kernels over mm's tables. The query
      // is doc 42's terms plus its embedding (standing in for the
      // text-encoder output; assets pair with embeddings by id — the
      // mm12 alignment). Lexical leg: a tx33 BM25 probe of the
      // persisted inverted index over the assets' CAPTIONS (pruned
      // posting partitions, exact full-lake ranking). Dense leg: a
      // probeIvfIndex read of the persisted IVF store over the ASSET
      // embeddings (cell-restricted; the exact lexical leg backstops
      // its nprobe=1 recall — vs29's argument). Fusion is vs25's
      // integer-grid RRF (Σ 10⁹ DIV (60 + rank)). What makes it
      // media serving rather than a vs29 alias: candidates then pass
      // the DECODABILITY gate (stub dims w, h > 0 — an asset the
      // decode stage can't size is unservable) and the survivors are
      // returned WITH their media serving payload — the ViT patch
      // budget (mm15's integer grid) and byte size a downstream
      // renderer/packer needs. No corpus scan at query time: two
      // index reads, a ≤100-row fusion, and a point-lookup metadata
      // join (broadcast of the fused candidate ids).
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
             |meta AS (
             |  SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
             |    octet_length(encode(text)) % 1920 AS w,
             |    octet_length(encode(text)) % 1080 AS h
             |  FROM documents),
             |g AS (SELECT doc_id, n_bytes,
             |        ((w + 31) // 32) * ((h + 31) // 32) AS patches
             |      FROM meta WHERE w > 0 AND h > 0),
             |r AS (SELECT f.doc_id, rrf, patches, n_bytes,
             |        row_number() OVER (ORDER BY rrf DESC, f.doc_id) AS rn
             |      FROM fused f JOIN g USING (doc_id))
             |SELECT doc_id, CAST(rn AS BIGINT) AS rnk, CAST(rrf AS BIGINT) AS rrf,
             |  CAST(patches AS BIGINT) AS patches, n_bytes
             |FROM r WHERE rn <= 10""".stripMargin),
      (s, d) => {
        import graft.ops.PrefixSum.onePart
        graft.functions.GraftFunctions.register(s)
        val docsDf = Tables(s, d, "documents")
        // lexical leg: persisted inverted index over the captions
        val btop = TextIndex.probeTextIndex(s, TextOps.baseTextIndex(s, d),
            TextIndex.queryTerms(docsDf, 42), k = 50, excludeDocId = Some(42L))
          .select(col("doc_id"), col("rnk").as("rb"))
        // dense leg: persisted IVF store over the asset embeddings
        val e = Tables(s, d, "embeddings")
          .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
        val centroids = e.filter(col("vec_id") < 8)
          .select(col("vec_id").as("cid"), col("v").as("cv"))
        val probes = VectorOps
          .assignClusters(e.filter(col("vec_id") === 42), centroids)
          .select(col("vec_id").as("probe_id"), col("v").as("pv"),
            col("cid").as("pcid"))
        val ctop = VectorOps
          .probeIvfIndex(s, VectorOps.baseIvfIndexDir(s, d), probes, k = 50)
          .select(col("neighbor_id").as("doc_id"), col("rnk").as("rc"))
        // media serving metadata + decodability gate (stub dims)
        val meta = docsDf
          .select(col("doc_id"),
            length(encode(col("text"), "UTF-8")).cast("long").as("n_bytes"))
          .select(col("doc_id"), col("n_bytes"),
            (col("n_bytes") % 1920).as("w"), (col("n_bytes") % 1080).as("h"))
          .filter(col("w") > 0 && col("h") > 0)
          .select(col("doc_id"), col("n_bytes"),
            expr("((w + 31) DIV 32) * ((h + 31) DIV 32)").cast("long")
              .as("patches"))
        val wF = Window.partitionBy(onePart(col("doc_id")))
          .orderBy(col("rrf").desc, col("doc_id"))
        btop.join(ctop, Seq("doc_id"), "full_outer")
          .select(col("doc_id"),
            (coalesce(expr("1000000000 DIV (60 + rb)"), lit(0L)) +
             coalesce(expr("1000000000 DIV (60 + rc)"), lit(0L))).as("rrf"))
          .join(meta, Seq("doc_id"))
          .orderBy(col("rrf").desc, col("doc_id")).limit(10)
          .withColumn("rnk", row_number().over(wF).cast("long"))
          .select("doc_id", "rnk", "rrf", "patches", "n_bytes")
      })
  )

  /** Per-asset DISTINCT byte-window set (doc_id, shs): 8-byte windows
    * every 4 bytes over the payload's lowercased hex image (ragged
    * tail included; empty payloads dropped) — the comparison universe
    * of the mm16/mm17 near-dup tier. One native byte pass per row
    * ([[graft.functions.PayloadWindows]]) — the HOF composition this
    * replaces (`array_distinct(transform(sequence(...), substr(hex)))`)
    * evaluated an interpreted lambda per window over the materialized
    * 2n-char hex image and cost ~1.9 s per lake pass at sf0.1
    * (ProbeR12 `payload` section), paid by every payload query. */
  private def payloadWindowSets(assets: DataFrame): DataFrame =
    assets.filter(length(col("payload")) > 0)
      .select(col("doc_id"),
        graft.functions.GraftFunctions.payload_windows(col("payload")).as("shs"))

  /** MinHash band keys of each asset's window set — (doc_id, band,
    * bk struct of k1..k4), dd02's portable KM family over bytes. */
  private def payloadBandKeys(assets: DataFrame): DataFrame =
    DedupOps.bandExplode(
      payloadWindowSets(assets).select(col("doc_id"),
        graft.functions.GraftFunctions.md5_minhash_sig(col("shs"), 64).as("mh")),
      bands = 16, rowsPerBand = 4)

  /** The mm16 kernel over any (doc_id, payload binary) frame: byte-
    * window MinHash-LSH near-dup pairs verified by exact window-set
    * Jaccard. Factored out so [[graft.Scaling]] can measure its
    * growth exponent on nested slices (the dd02 discipline applied to
    * the media lake). See the mm16 QueryDef note for the full design
    * rationale, including the measured SimHash-vs-MinHash recall
    * comparison that picked this sketch. */
  def payloadNearDups(assets: DataFrame, threshold: Double = 0.8): DataFrame = {
    // ONE windowing pass over the payload bytes (r10 verdict task 4):
    // at lake scale the hex-encode + window pass over raw bytes IS the
    // dominant cost of a near-dup run, and the pre-r11 shape paid it
    // twice at plan level (window sets for the verify, window sets
    // again under the signatures) — plus once more per verify join
    // when exchange reuse missed. The (signature, hashed-window-set)
    // projection is materialized with an eager localCheckpoint, so the
    // band path and both verify joins read stored blocks instead of
    // re-scanning + re-windowing the lake (MediaNearDupSpec pins the
    // returned plan to ZERO file scans — every payload byte is read
    // exactly once, in the staging job). The stored form is ~2 bytes
    // per payload byte (8-byte hashes of half-overlapping windows);
    // a deployment needing executor-loss fault tolerance swaps the
    // localCheckpoint for a reliable checkpoint dir, same shape.
    // Pin.checkpointed ties the stored blocks to the query's scope (the
    // bare localCheckpoint this had until r11 leaked one full
    // windowed-lake copy per invocation — 4 per benched query — until a
    // JVM GC let the ContextCleaner find them).
    val base = Pin.checkpointed(payloadWindowSets(assets)
      .select(col("doc_id"),
        graft.functions.GraftFunctions.md5_minhash_sig(col("shs"), 64).as("mh"),
        graft.functions.GraftFunctions.sorted_xxhash64(col("shs")).as("hshs")))
    val buckets = DedupOps.bandExplode(base.select("doc_id", "mh"),
        bands = 16, rowsPerBand = 4)
      .groupBy("band", "bk")
      .agg(sort_array(collect_set(col("doc_id"))).as("ids"))
      .filter(size(col("ids")).between(2, 100))
    val cand = buckets
      .select(graft.functions.GraftFunctions.pair_ids(col("ids")))
      .distinct()
    DedupOps.verifyJaccardHashed(cand,
      base.select(col("doc_id"), col("hshs").as("shs")), threshold)
  }

  /** The media lake's band-key posting index in
    * [[DedupOps.lshBandIndex]] layout — (band, k1..k4, ids, sz) —
    * ready for [[DedupOps.writeLshIndexRows]]' bucketed persistence:
    * the artifact that turns media near-dedup from a lake-cost into a
    * batch-cost daily job (mm17). */
  def payloadLshIndex(lake: DataFrame): DataFrame =
    payloadBandKeys(lake).groupBy("band", "bk")
      .agg(sort_array(collect_set(col("doc_id"))).as("ids"))
      .select(Seq(col("band")) ++
        (1 to 4).map(r => col(s"bk.k$r").as(s"k$r")) ++
        Seq(col("ids"), size(col("ids")).cast("long").as("sz")): _*)

  /** Probe the persisted payload index with an arriving batch —
    * dd17's incremental discipline on the media lake: batch-sized
    * window/signature pass, band-key join against the bucketed index
    * (no Exchange on the index side), combined-cap candidate
    * generation restricted to batch-involving pairs, exact
    * window-Jaccard verify over CANDIDATE assets only. Result ==
    * the one-shot [[payloadNearDups]] over store ∪ batch restricted
    * to batch-involving pairs (MediaNearDupSpec pins the identity). */
  def payloadIndexProbe(batch: DataFrame, index: DataFrame,
      assets: DataFrame, threshold: Double = 0.8): DataFrame =
    DedupOps.indexProbeWithKeys(payloadBandKeys(batch), index,
      ids => payloadWindowSets(assets.join(ids, Seq("doc_id"), "left_semi")),
      threshold = threshold)

  /** The lake's base payload index, built at most once per sf dir —
    * the same input-fixture rationale as [[DedupOps.baseLshIndex]]:
    * a production probe runs against an index that already exists.
    * One per sf dir per JVM. */
  private def basePayloadIndex(s: SparkSession, d: String): String =
    graft.core.Scratch.fixture(s"mm_payload_index:$d") { tmp =>
      val table = s"mm17_payload_idx_${d.hashCode & 0x7fffffff}"
      DedupOps.writeLshIndexRows(
        payloadLshIndex(media(s, d).toDF().select("doc_id", "payload")),
        table, s"$tmp/index")
      table
    }
}


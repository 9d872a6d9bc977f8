package graft.streaming

import java.nio.file.{Files, Path, Paths}
import java.nio.file.attribute.FileTime
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

import graft.{QueryDef, Tables}
import graft.core.{PhaseTimer, QueryScope, Scratch}
import graft.core.SessionConf.withConf

/** Structured Streaming operators registered in the CORRECTNESS gate.
  *
  * Each runs a real streaming query — file source → stateful transform
  * → memory sink — with `Trigger.AvailableNow`, which processes every
  * available input and terminates. Because the input is finite, the
  * streaming result must equal the equivalent batch query, so these are
  * DuckDB-oracle-checkable like any batch entry: the oracle verifies the
  * STREAMING execution path (incremental state store, micro-batch
  * planning), not a batch stand-in.
  *
  * Scale shape: the same code runs unbounded by swapping the trigger
  * and sink; state is keyed and partitioned by the state-store, and the
  * memory sink here is only the test harness's collection point (a real
  * deployment writes to parquet/Kafka). `EventStream`/`MergeStream`
  * cover the long-running shapes (watermarks, session windows, CDC
  * upsert); these entries put the core streaming engine under the same
  * hash-match gate as everything else.
  */
object StreamQueries {

  // memory-sink view names must be unique per START within a session
  private val runId = new AtomicLong(0)

  /** events.ts normalized to TIMESTAMP (LTZ) whatever the file encodes —
    * nanos Long, TIMESTAMP_NTZ micros, or already-LTZ (Tables.normalizeTs);
    * watermarks/window() require the LTZ type. */
  private def tsCol(df: DataFrame): DataFrame = graft.Tables.normalizeTs(df)

  /** The schema of the parquet file at `path`, probed once per path.
    * The stream source needs an explicit schema, and a footer read
    * costs ~80 ms per query run; the testdata tables are immutable (a
    * real deployment passes its schema explicitly — this only
    * de-duplicates the harness's probe, it is not a correctness
    * surface). */
  private def schemaOf(s: SparkSession, path: String): StructType =
    Scratch.fixture(s"stream_schema:$path")(_ => s.read.parquet(path).schema)

  /** Stage a landing fixture once per `key` with `write`, which fills the
    * directory it is given; returns the dir and its files' schema. The
    * arriving files are an immutable input fixture (what a real
    * deployment's producers write), not part of the ingest being
    * measured: each is staged once per key and reused across runs, so a
    * min-of-3 bench measures the ingest rather than re-staging its
    * input. */
  private def staged(s: SparkSession, key: String)(
      write: Path => Unit): (String, StructType) =
    Scratch.fixture(s"stream_landing:$key") { dir =>
      val in = Paths.get(dir).resolve("in")
      write(in)
      (in.toString, s.read.parquet(in.toString).schema)
    }

  /** `df` staged as 4 landing files, hash-partitioned on its first
    * column (the id). Ingests read them 2 files per trigger, so their
    * results must accumulate across micro-batch boundaries. */
  private def landing(s: SparkSession, key: String)(
      df: => DataFrame): (String, StructType) =
    staged(s, key) { in =>
      val frame = df
      frame.repartition(4, col(frame.columns.head))
        .write.mode("overwrite").parquet(in.toString)
    }

  /** The (doc_id, text) documents landing shared by st12, st14, st15,
    * st16 and st20. */
  private def docsLanding(s: SparkSession, d: String): (String, StructType) =
    landing(s, s"$d/documents.parquet")(
      s.read.parquet(s"$d/documents.parquet").select("doc_id", "text"))

  /** The documents as media assets (doc_id, payload = UTF-8 text
    * bytes): st21's and st22's input. */
  private def payloads(s: SparkSession, d: String): DataFrame =
    s.read.parquet(s"$d/documents.parquet")
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))

  /** Each of `slices` staged as ONE landing file `b<i>.parquet`, slice i
    * stamped with mtime 1600000000000 + i x 60000 ms. A TTL keys on
    * arrival batching by definition, so the TTL and serving queries pin
    * the file→batch assignment: read one file per trigger, the
    * distinct mtimes make the source ingest the slices oldest-first,
    * so batch i is exactly slice i. */
  private[streaming] def pinnedLanding(s: SparkSession, key: String,
      slices: => Seq[DataFrame]): (String, StructType) =
    staged(s, key) { in =>
      Files.createDirectories(in)
      slices.zipWithIndex.foreach { case (slice, b) =>
        val tmp = in.resolveSibling(s"stage$b")
        slice.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
        val part = tmp.toFile.listFiles().find(_.getName.endsWith(".parquet")).get
        val target = in.resolve(f"b$b%d.parquet")
        Files.move(part.toPath, target)
        Files.setLastModifiedTime(target,
          FileTime.fromMillis(1600000000000L + b * 60000L))
      }
    }

  /** The file stream source only accepts DIRECTORIES (its basePath —
    * even when given explicitly — must be one), and the testdata tables
    * are single parquet files: stage a symlink to `path` inside a fresh
    * scratch dir and return the dir. A real deployment streams a landing
    * dir. */
  private def symlinkDir(path: String, tag: String): String = {
    val dir = Paths.get(Scratch.dir(tag))
    val file = Paths.get(path)
    Files.createSymbolicLink(dir.resolve(file.getFileName), file)
    dir.toString
  }

  /** A fresh checkpoint directory. Its LOCATION is deployment
    * configuration, not semantics (a real deployment puts it on fast
    * durable storage): it lives on tmpfs when the host has one
    * (marginal but strictly less IO). AvailableNow over a fixed input
    * never resumes, so the query's scope deleting it once the query
    * has been consumed loses nothing. */
  private def checkpointDir(tag: String): String =
    Scratch.dirAt("/dev/shm", tag)

  /** Start a stream with `start` and wait until it has drained its
    * input, with the session's shuffle partitions pinned to 8 while it
    * starts and runs. Stateful streaming cost scales with the number
    * of state-store partitions (one store + checkpoint commit per
    * shuffle partition per batch), not with data volume at this scale.
    * A real deployment sizes this to state volume / throughput, and it
    * is FIXED for the life of a checkpoint (state is physically
    * hash-partitioned on disk). The wait is charged to the "stream"
    * phase. */
  private def runToEnd(s: SparkSession)(start: => StreamingQuery): Unit =
    withConf(s, ("spark.sql.shuffle.partitions", "8")) {
      val q = start
      PhaseTimer.phase("stream") { q.awaitTermination() }
    }

  /** Run `build(stream)` to completion over the parquet file(s) at
    * `path` and return the materialized sink table. */
  private def runStream(
      s: SparkSession,
      path: String,
      outputMode: String)(build: DataFrame => DataFrame): DataFrame = {
    val src = s.readStream.schema(schemaOf(s, path))
      .parquet(symlinkDir(path, "graft_stream_src_"))
    val name = s"graft_stream_sink_${runId.incrementAndGet()}"
    // A memory sink lives in driver heap until its temp view is
    // dropped: the query's scope drops it once the table has been
    // consumed. Left alone, a bench pass over the st family
    // accumulates tens of sf-sized result tables and later streaming
    // runs pay the GC bill (the r4→r5 st03 slowdown under the 3-run
    // bench).
    QueryScope.onClose(s.catalog.dropTempView(name))
    // Harness-floor profile (r7, sf0.1, stateless pass-through,
    // steady state ~0.6 s/run): addBatch — the incremental plan's
    // actual execution plus the memory sink's driver-side collection —
    // is 60–70% of triggerExecution; offset/commit/WAL log writes
    // ~15%; source listing/planning ~10%; the schema probe (~80 ms)
    // is now cached above. The floor is therefore REAL engine work,
    // not recoverable harness waste.
    val ck = checkpointDir("graft_stream_ck_")
    runToEnd(s) {
      build(src).writeStream
        .format("memory")
        .queryName(name)
        .outputMode(outputMode)
        .option("checkpointLocation", ck)
        .trigger(Trigger.AvailableNow())
        .start()
    }
    s.table(name)
  }

  val defs: Seq[QueryDef] = Seq(

    QueryDef(
      "st01_stream_hourly",
      // ev01's hourly rollup executed BY THE STREAMING ENGINE: file
      // source → stateful windowed aggregation (complete mode) →
      // memory sink. The finite input makes streaming ≡ batch, so the
      // DuckDB oracle gates the streaming path itself.
      Some("""SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_ts,
             |  event_type, count(*) AS n, round(sum(value), 2) AS sum_value
             |FROM events GROUP BY 1, 2""".stripMargin),
      (s, d) =>
        runStream(s, s"$d/events.parquet", "complete") { src =>
          tsCol(src)
            .groupBy(
              date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:mm:ss")
                .as("hour_ts"),
              col("event_type"))
            .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"))
        }),

    QueryDef(
      "st02_stream_dedup",
      // Streaming exact dedup: dropDuplicates over the text fingerprint
      // holds one state-store entry per distinct (source, hash) and
      // emits only first-seen rows — the online form of dd01. The
      // audit aggregate runs batch-side on the sink table; the winner
      // row's identity is irrelevant (counts of DISTINCT keys), so the
      // output is deterministic even though first-seen order isn't.
      Some("""SELECT source, CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_unique
             |FROM documents GROUP BY source""".stripMargin),
      (s, d) => {
        val kept = runStream(s, s"$d/documents.parquet", "append") { src =>
          src.select(col("source"), md5(col("text")).as("h"))
            .dropDuplicates("source", "h")
        }
        kept.groupBy("source").agg(count(lit(1)).as("n_unique"))
      }),

    QueryDef(
      "st03_stream_interval_join",
      // Stream-stream interval self-join (EventStream.clickToPurchase):
      // each purchase matched to the same user's clicks in the
      // preceding hour, both sides watermarked so click state is
      // evicted once it can no longer match. The emitted pair set is
      // deterministic (exact ints + passthrough double), so the DuckDB
      // interval join gates the streaming join path itself.
      Some("""SELECT p.user_id, p.event_id AS purchase_id,
             |  epoch_us(p.ts) AS purchase_us, epoch_us(c.ts) AS click_us,
             |  p.value
             |FROM events p JOIN events c
             |  ON p.event_type = 'purchase' AND c.event_type = 'click'
             | AND p.user_id = c.user_id AND c.ts <= p.ts
             | AND c.ts >= p.ts - INTERVAL 60 MINUTES""".stripMargin),
      (s, d) =>
        runStream(s, s"$d/events.parquet", "append") { src =>
          EventStream.clickToPurchase(tsCol(src), windowMinutes = 60)
        }),

    QueryDef(
      "st04_stream_union",
      // Streaming UNION ALL — the reference's core operator (SURVEY
      // §2.7 U1) executed by the STREAMING engine: two stateless
      // branches of the source stream (filter + project + computed
      // columns) unioned into one normalized append stream. Exercises
      // the multi-branch streaming DAG; stateless ⇒ micro-batch
      // boundaries can't affect the emitted set, so the batch UNION
      // ALL oracle gates it exactly.
      Some("""SELECT event_id, user_id, epoch_us(ts) AS us, 'c' AS kind,
             |  round(value, 2) AS v
             |FROM events WHERE event_type = 'click'
             |UNION ALL
             |SELECT event_id, user_id, epoch_us(ts), 'p', round(value * 2, 2)
             |FROM events WHERE event_type = 'purchase'""".stripMargin),
      (s, d) =>
        runStream(s, s"$d/events.parquet", "append") { src =>
          val e = tsCol(src)
          val clicks = e.filter(col("event_type") === "click")
            .select(col("event_id"), col("user_id"),
              unix_micros(col("ts")).as("us"), lit("c").as("kind"),
              round(col("value"), 2).as("v"))
          val purchases = e.filter(col("event_type") === "purchase")
            .select(col("event_id"), col("user_id"),
              unix_micros(col("ts")).as("us"), lit("p").as("kind"),
              round(col("value") * 2, 2).as("v"))
          clicks.unionByName(purchases)
        }),

    QueryDef(
      "st05_stream_session_window",
      // Native session-window aggregation run BY THE STREAMING ENGINE:
      // the state store merges/extends per-user gap sessions as events
      // arrive — the declarative form of ev03's lag+cumsum (which
      // EventStreamSpec already cross-checks). Complete mode (no
      // watermark) so the finite AvailableNow run emits every session
      // including the final open ones — append mode would hold back
      // sessions the terminal watermark never closes. The oracle
      // re-derives gap sessions relationally: session end = last event
      // + gap, by construction of session_window.
      Some("""WITH x AS (
             |  SELECT user_id, ts, epoch_us(ts) AS us,
             |    CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER (
             |        PARTITION BY user_id ORDER BY ts, event_id) >= 1800000000
             |      THEN 1 ELSE 0 END AS new_sess
             |  FROM events),
             |s AS (
             |  SELECT user_id, us,
             |    sum(new_sess) OVER (PARTITION BY user_id ORDER BY us
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess
             |  FROM x)
             |SELECT user_id, CAST(min(us) AS BIGINT) AS start_us,
             |  CAST(max(us) + 1800000000 AS BIGINT) AS end_us,
             |  CAST(count(*) AS BIGINT) AS n_events
             |FROM s GROUP BY user_id, sess""".stripMargin),
      (s, d) =>
        runStream(s, s"$d/events.parquet", "complete") { src =>
          tsCol(src)
            .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
            .agg(count(lit(1)).cast("long").as("n_events"))
            .select(col("user_id"),
              unix_micros(col("session_window.start")).as("start_us"),
              unix_micros(col("session_window.end")).as("end_us"),
              col("n_events"))
        }),

    QueryDef(
      "st06_stream_distinct_users",
      // Streaming EXACT distinct: hourly unique users via the
      // dedup-then-count decomposition — dropDuplicates holds one
      // state row per (hour, user) and emits first-seen rows; the
      // count over the deduped stream is then an ordinary rollup
      // (batch-side here, st02's audit discipline). This is how exact
      // COUNT(DISTINCT) — which no streaming aggregate can do
      // directly — decomposes into bounded keyed state; with a
      // watermark the per-hour state evicts as event time passes, so
      // the unbounded form stays O(active hours × users).
      Some("""SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_ts,
             |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
             |FROM events GROUP BY 1""".stripMargin),
      (s, d) => {
        val kept = runStream(s, s"$d/events.parquet", "append") { src =>
          tsCol(src)
            .select(
              date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:mm:ss")
                .as("hour_ts"),
              col("user_id"))
            .dropDuplicates("hour_ts", "user_id")
        }
        kept.groupBy("hour_ts").agg(count(lit(1)).cast("long").as("n_users"))
      }),

    QueryDef(
      "st07_stream_cdc_upsert",
      // The streaming CDC-apply path (MergeStream.upsertStream →
      // Upsert.mergeInto) under the ORACLE gate: the event stream
      // replays into a hash-bucketed keyed table with event_id as the
      // monotone version — last-writer-wins per user both within a
      // micro-batch (the foreachBatch window) and across the merge.
      // The final table must hold exactly each user's highest-version
      // event, which the oracle derives with one argmax window over
      // the same parquet. UpsertStreamSpec covers exactly-once and
      // the untouched-bucket file contract; this entry hash-checks the
      // VALUES the whole CDC pipeline converges to.
      Some("""SELECT user_id, last_event_id, last_type, last_us, value FROM (
             |  SELECT user_id, event_id AS last_event_id,
             |    event_type AS last_type, epoch_us(ts) AS last_us, value,
             |    row_number() OVER (PARTITION BY user_id
             |      ORDER BY event_id DESC) AS rn
             |  FROM events) t WHERE rn = 1""".stripMargin),
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val inDir = symlinkDir(s"$d/events.parquet", "graft_cdc_in_")
        val table = Scratch.dir("graft_cdc_tab_") + "/t"
        val ckpt = checkpointDir("graft_cdc_ckpt_")
        // seed table: the pre-existing state the stream updates — the
        // first events replayed to last-writer form
        val raw = Tables(s, d, "events")
        val wSeed = Window.partitionBy("user_id").orderBy(col("event_id").desc)
        val seed = raw.filter(col("event_id") < 100)
          .withColumn("__rn__", row_number().over(wSeed))
          .filter(col("__rn__") === 1).drop("__rn__")
        graft.ops.Upsert.writeBucketed(seed, table, "user_id", nBuckets = 8)
        runToEnd(s) {
          MergeStream.upsertStream(
            s, inDir, raw.schema, table, "user_id", "event_id", 8, ckpt)
        }
        val tab = graft.Tables.normalizeTs(s.read.parquet(table))
        val tsUs = unix_micros(col("ts"))
        tab.select(col("user_id"), col("event_id").as("last_event_id"),
          col("event_type").as("last_type"), tsUs.cast("long").as("last_us"),
          col("value"))
      }),

    QueryDef(
      "st08_stream_enrich",
      // Stream-STATIC broadcast enrichment — the dimension-join shape
      // every production event stream runs (attach segment/geo to each
      // event as it arrives). The dim (customer⋈nation, built batch-
      // side) is broadcast into every micro-batch, so the stream side
      // never shuffles: stateless, append-mode, unbounded-safe with no
      // state store. At 100 TB/day the stream stays partition-local;
      // only the small dim moves. The finite run makes the emitted set
      // ≡ the batch join, so the oracle gates the streaming join path.
      Some("""SELECT e.event_id, e.user_id, epoch_us(e.ts) AS us,
             |  e.event_type, c.c_mktsegment AS segment, n.n_name AS nation
             |FROM events e
             |JOIN customer c ON e.user_id = c.c_custkey
             |JOIN nation n ON c.c_nationkey = n.n_nationkey""".stripMargin),
      (s, d) => {
        val dim = Tables(s, d, "customer")
          .join(Tables(s, d, "nation"),
            col("c_nationkey") === col("n_nationkey"))
          .select(col("c_custkey"), col("c_mktsegment").as("segment"),
            col("n_name").as("nation"))
        runStream(s, s"$d/events.parquet", "append") { src =>
          tsCol(src)
            .join(broadcast(dim), col("user_id") === col("c_custkey"))
            .select(col("event_id"), col("user_id"),
              unix_micros(col("ts")).as("us"), col("event_type"),
              col("segment"), col("nation"))
        }
      }),

    QueryDef(
      "st09_stream_wm_dedup",
      // Watermark-BOUNDED streaming dedup: dropDuplicatesWithinWatermark
      // holds each key only until the event-time watermark passes it,
      // unlike st02's dropDuplicates whose state grows with the
      // lifetime key count — the only dedup that runs FOREVER on an
      // unbounded stream (state is O(keys per watermark window)). The
      // input is fed with every event doubled (explode over a 2-array),
      // so the operator demonstrably removes real duplicates; doubles
      // of a row share its event time, so they always fall inside the
      // same watermark window and the finite result is exactly DISTINCT
      // — which the batch oracle checks, with id_sum pinning membership.
      Some("""SELECT event_type, CAST(count(*) AS BIGINT) AS n,
             |  CAST(sum(event_id) AS BIGINT) AS id_sum
             |FROM events GROUP BY event_type""".stripMargin),
      (s, d) => {
        val kept = runStream(s, s"$d/events.parquet", "append") { src =>
          tsCol(src)
            .select(col("ts"), col("event_id"), col("event_type"),
              explode(array(lit(1), lit(2))).as("copy_no"))
            .drop("copy_no")
            .withWatermark("ts", "1 hour")
            .dropDuplicatesWithinWatermark("event_id")
        }
        kept.groupBy("event_type")
          .agg(count(lit(1)).cast("long").as("n"),
            sum("event_id").cast("long").as("id_sum"))
      }),

    QueryDef(
      "st10_stream_custom_state",
      // EventStream.sessionize — the hand-written flatMapGroupsWithState
      // state machine (one SessionState per user, event-time timeouts)
      // — under the hash gate. st05 gates the DECLARATIVE session
      // operator; this gates the imperative custom-state API, the tool
      // for session semantics session_window can't express. The gate
      // compares only sessions CLOSED BY A LATER EVENT (a later event
      // of the user exists past the gap): whether Spark's final
      // no-data micro-batch fires the event-time timeouts for
      // still-open sessions is trigger policy, not session semantics,
      // so those rows are excluded on BOTH sides (Spark side by the
      // same end_us < user_max - gap predicate the oracle uses).
      Some("""WITH e AS (SELECT user_id, epoch_us(ts) AS us FROM events),
             |b AS (
             |  SELECT user_id, us,
             |    CASE WHEN us - lag(us) OVER (PARTITION BY user_id ORDER BY us)
             |           > 1800000000
             |         OR lag(us) OVER (PARTITION BY user_id ORDER BY us) IS NULL
             |      THEN 1 ELSE 0 END AS brk
             |  FROM e),
             |g AS (
             |  SELECT user_id, us, sum(brk) OVER (PARTITION BY user_id
             |    ORDER BY us ROWS UNBOUNDED PRECEDING) AS sid
             |  FROM b),
             |sess AS (
             |  SELECT user_id, sid, min(us) AS start_us, max(us) AS end_us,
             |    count(*) AS n_events
             |  FROM g GROUP BY 1, 2),
             |mx AS (SELECT user_id, max(us) AS mx_us FROM e GROUP BY 1)
             |SELECT s.user_id, CAST(s.start_us AS BIGINT) AS start_us,
             |  CAST(s.end_us AS BIGINT) AS end_us,
             |  CAST(s.n_events AS BIGINT) AS n_events
             |FROM sess s JOIN mx ON s.user_id = mx.user_id
             |WHERE mx.mx_us - s.end_us > 1800000000""".stripMargin),
      (s, d) => {
        val gapUs = 30L * 60L * 1000000L
        val out = runStream(s, s"$d/events.parquet", "append") { src =>
          EventStream.sessionize(tsCol(src), gapMinutes = 30).toDF()
        }
        val mx = tsCol(Tables(s, d, "events"))
          .groupBy("user_id").agg(max(unix_micros(col("ts"))).as("mx_us"))
        out.join(mx, "user_id")
          .filter(col("mx_us") - col("end_us") > gapUs)
          .select(col("user_id"), col("start_us"), col("end_us"),
            col("n_events").cast("long").as("n_events"))
      }),

    QueryDef(
      "st11_stream_seq_numbers",
      // StatefulSeq.sequenceNumbers — Spark 4's transformWithState
      // (typed ValueState + MapState per key on the RocksDB store)
      // under the hash gate: streaming row_number() per user and per
      // (user, event_type), the stable-ordinal assignment a training
      // pipeline runs on an unbounded stream. Finite input makes the
      // streamed ordinals ≡ batch window row_number(), so the oracle
      // checks the new stateful API end-to-end (state schema creation,
      // RocksDB reads/writes, ordinal continuation).
      Some("""WITH e AS (
             |  SELECT user_id, event_id, event_type, epoch_us(ts) AS us
             |  FROM events)
             |SELECT user_id, event_id,
             |  CAST(row_number() OVER (
             |    PARTITION BY user_id ORDER BY us, event_id) AS BIGINT) AS seq,
             |  CAST(row_number() OVER (
             |    PARTITION BY user_id, event_type
             |    ORDER BY us, event_id) AS BIGINT) AS type_seq
             |FROM e""".stripMargin),
      (s, d) => {
        // transformWithState exists only on the RocksDB provider (its
        // state schemas aren't implemented by the HDFS-backed default);
        // scope the provider to this run.
        withConf(s, "spark.sql.streaming.stateStore.providerClass" ->
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider") {
          runStream(s, s"$d/events.parquet", "append") { src =>
            StatefulSeq.sequenceNumbers(tsCol(src)).toDF()
          }
        }
      }),

    QueryDef(
      "st12_stream_lsh_ingest",
      // Continuous near-dup ingest (DedupStream.lshIngest): documents
      // arrive as files; every micro-batch probes the posting index
      // built by the earlier batches for the near-dup pairs it
      // introduces, then appends its own postings — dd17's incremental
      // LSH as a running service, per-batch cost O(batch + touched
      // postings). The probe runs UNCAPPED, which makes the
      // accumulated pair set EXACTLY the one-shot capless LSH over the
      // whole corpus, independent of where the micro-batch boundaries
      // fell (LshIngestStreamSpec re-slices the corpus to prove it;
      // a combined-size cap would tie a pair's fate to its bucket's
      // size at probe TIME — arrival-order-dependent — so the hot-
      // bucket knob for an ingest is a band-key blocklist instead).
      // All writes are per-batch-subdir overwrites: replayed batches
      // are idempotent, each doc indexed exactly once. The oracle
      // replays the capless end state in SQL, so the gate holds the
      // whole streaming pipeline to the batch kernel's answer.
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
             |bc AS (SELECT bd, k1, k2, k3, k4 FROM bands
             |       GROUP BY bd, k1, k2, k3, k4 HAVING count(*) >= 2),
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
        val (inDir, inSchema) = docsLanding(s, d)
        val base = Scratch.dir("graft_lsh_ingest_")
        val ck = checkpointDir("graft_lsh_ck_")
        runToEnd(s) {
          DedupStream.lshIngest(s, inDir, inSchema, s"$base/index",
            s"$base/pairs", s"$base/docs", ck, filesPerTrigger = 2)
        }
        s.read.parquet(s"$base/pairs").select("a", "b", "jaccard")
      }),

    QueryDef(
      "st13_stream_ivf_ingest",
      // Continuous IVF index maintenance (VectorStream.ivfIngest):
      // vectors arrive as files, every micro-batch is assigned against
      // the FROZEN codebook and written into its cells as an
      // idempotent batch=<id> shard — vs23's append as a running
      // service, batch-sized cost, the index never read on the write
      // path. Because assignment is a pure function of (vector,
      // codebook), the accumulated store is EXACTLY the one-shot
      // whole-corpus assignment wherever the micro-batch boundaries
      // fall (IvfIngestStreamSpec re-slices to prove it), and
      // probeIvfIndex reads the sharded layout unchanged — so this
      // oracle is vs23's one-shot SQL verbatim, holding the streaming
      // pipeline to the batch kernel's answer exactly as st12 does for
      // the LSH ingest.
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
        graft.functions.GraftFunctions.register(s)
        val e = graft.Tables(s, d, "embeddings")
          .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
        val centroids = e.filter(col("vec_id") < 8)
          .select(col("vec_id").as("cid"), col("v").as("cv"))
        val (inDir, inSchema) = landing(s, s"$d/embeddings.parquet")(
          Tables(s, d, "embeddings").select("vec_id", "embedding"))
        val base = Scratch.dir("graft_ivf_ingest_")
        val ck = checkpointDir("graft_ivf_ck_")
        runToEnd(s) {
          VectorStream.ivfIngest(s, inDir, inSchema, centroids,
            s"$base/index", ck, filesPerTrigger = 2)
        }
        val probes = graft.ops.VectorOps.assignClusters(
          e.filter(col("vec_id").between(100, 104)), centroids)
          .select(col("vec_id").as("probe_id"), col("v").as("pv"),
            col("cid").as("pcid"))
        graft.ops.VectorOps.probeIvfIndex(s, s"$base/index", probes, k = 3)
      }),

    QueryDef(
      "st14_stream_quality_router",
      // Streaming QUALITY GATE as a DUAL-SINK router
      // ([[RouterStream.qualityRoute]]): documents arrive as files,
      // each micro-batch splits on tx12's Gopher gate — the literally
      // SAME shared predicate ([[graft.ops.TextOps.gopherKeep]]), so
      // batch and streaming policy cannot drift — and lands in the
      // ACCEPT or QUARANTINE store as idempotent `batch=` shards.
      // Nothing is dropped: quarantine keeps rejects replayable
      // (lower a threshold later, re-admit without re-crawling). The
      // gate is a pure per-row predicate, so the accumulated two-store
      // partition provably cannot depend on micro-batch boundaries,
      // and the batch recompute is the exact oracle; the audit reads
      // BOTH stores back, so a row lost or doubled by the router would
      // break the per-(route, lang) id_sum.
      Some("""WITH m AS (
             |  SELECT doc_id, lang,
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
             |r AS (
             |  SELECT doc_id, lang,
             |    CASE WHEN n_words BETWEEN 10 AND 1000
             |       AND n_chars >= 2 * n_words AND n_chars <= 12 * n_words
             |       AND 5 * n_digits <= len AND n_stop >= 2
             |      THEN 'accept' ELSE 'quarantine' END AS route
             |  FROM m)
             |SELECT route, lang, CAST(count(*) AS BIGINT) AS n_docs,
             |  CAST(sum(doc_id) AS BIGINT) AS id_sum
             |FROM r GROUP BY 1, 2""".stripMargin),
      (s, d) => {
        val docsDf = s.read.parquet(s"$d/documents.parquet")
        val (inDir, inSchema) = docsLanding(s, d)
        // the landing fixture is (doc_id, text); route on it and join
        // lang back from the lake for the audit — the router passes
        // all input columns through either way
        val base = Scratch.dir("graft_router_")
        val ck = checkpointDir("graft_router_ck_")
        runToEnd(s) {
          RouterStream.qualityRoute(s, inDir, inSchema,
            s"$base/accept", s"$base/quarantine", ck, filesPerTrigger = 2)
        }
        def store(sub: String, route: String) =
          s.read.parquet(s"$base/$sub").drop("batch")
            .withColumn("route", lit(route))
        store("accept", "accept").unionByName(store("quarantine", "quarantine"))
          .join(docsDf.select("doc_id", "lang"), "doc_id")
          .groupBy("route", "lang")
          .agg(count(lit(1)).as("n_docs"),
            sum("doc_id").cast("long").as("id_sum"))
      }),

    QueryDef(
      "st15_stream_decontam",
      // Streaming BENCHMARK DECONTAMINATION at ingest: tx32's
      // contamination rule (shares a word-5-gram with the benchmark
      // set, membership doc_id % 17 = 0) run as a dual-sink router —
      // arriving documents land in the CLEAN store or the FLAGGED
      // store (quarantined, replayable — the governance answer: a
      // flagged doc is evidence, not garbage). The benchmark gram-hash
      // set is collected ONCE at query build (bounded by the
      // BENCHMARK's size — eval sets are MBs against a 100 TB lake —
      // the same boundedness class as dd17's probe batches) and
      // shipped inside the gate as an array literal; the gate is a
      // pure per-row predicate (arrays_overlap against the literal),
      // so micro-batch slicing provably cannot change the partition
      // and the batch recompute is the exact oracle. At production
      // scale the literal becomes a broadcast sorted array or an
      // exact-membership filter — same plan shape, map-only pass,
      // zero shuffles.
      Some("""WITH tk AS (
             |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
             |  FROM documents),
             |g AS (
             |  SELECT doc_id, list_distinct(list_transform(
             |    range(1, greatest(len(toks) - 4, 1) + 1),
             |    i -> array_to_string(list_slice(toks, i, least(i + 4, len(toks))), ' '))) AS gs
             |  FROM tk WHERE len(toks) > 0),
             |cg AS (SELECT doc_id,
             |         CAST(concat('0x', substr(md5(unnest(gs)), 1, 15)) AS BIGINT) AS h
             |       FROM g),
             |bh AS (SELECT DISTINCT h FROM cg WHERE doc_id % 17 = 0),
             |flag AS (SELECT DISTINCT doc_id FROM cg JOIN bh USING (h)),
             |r AS (SELECT d.doc_id, d.lang,
             |        CASE WHEN f.doc_id IS NOT NULL THEN 'flagged' ELSE 'clean' END AS route
             |      FROM documents d LEFT JOIN flag f USING (doc_id))
             |SELECT route, lang, CAST(count(*) AS BIGINT) AS n_docs,
             |  CAST(sum(doc_id) AS BIGINT) AS id_sum
             |FROM r GROUP BY 1, 2""".stripMargin),
      (s, d) => {
        val docsDf = s.read.parquet(s"$d/documents.parquet")
        val (inDir, inSchema) = docsLanding(s, d)
        def gramHashes(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column = transform(
          graft.functions.GraftFunctions.word_shingles(c, 5),
          g => graft.functions.GraftFunctions.md5_low60(g))
        // benchmark gram-hash artifact: bounded by the benchmark set
        // (its docs' distinct 5-grams), NOT by the lake — the stream
        // never aggregates it, the literal rides inside the gate
        val benchHs = docsDf.filter(col("doc_id") % 17 === 0)
          .select(explode(gramHashes(col("text"))).as("h"))
          .distinct().collect().map(_.getLong(0)).sorted
        val gate = !arrays_overlap(gramHashes(col("text")),
          typedlit(benchHs.toSeq))
        val base = Scratch.dir("graft_decontam_")
        val ck = checkpointDir("graft_decontam_ck_")
        runToEnd(s) {
          RouterStream.predicateRoute(s, inDir, inSchema, gate,
            s"$base/clean", s"$base/flagged", ck, filesPerTrigger = 2)
        }
        def store(sub: String, route: String) =
          s.read.parquet(s"$base/$sub").drop("batch")
            .withColumn("route", lit(route))
        store("clean", "clean").unionByName(store("flagged", "flagged"))
          .join(docsDf.select("doc_id", "lang"), "doc_id")
          .groupBy("route", "lang")
          .agg(count(lit(1)).as("n_docs"),
            sum("doc_id").cast("long").as("id_sum"))
      }),

    QueryDef(
      "st16_stream_text_ingest",
      // Continuous inverted-index maintenance
      // ([[TextIndexStream.textIngest]]): documents arrive as files,
      // each micro-batch becomes one batch=<id> posting shard plus one
      // stats-log row — tx34's append as a running service, completing
      // the streaming-ingest symmetry across all three index families
      // (st12 LSH, st13 IVF, st16 text). Posting rows are a pure
      // per-document function and N/avgdl are sums over the stats log,
      // so the accumulated index equals the one-shot build wherever
      // the micro-batch boundaries fall — this oracle holds the final
      // BM25 probe to the from-scratch whole-corpus answer, exactly as
      // st13's holds the sharded IVF store to vs23's.
      Some(graft.ops.TextOps.bm25IndexOracle("", probeId = 42)),
      (s, d) => {
        val docsDf = s.read.parquet(s"$d/documents.parquet")
        val (inDir, inSchema) = docsLanding(s, d)
        val base = Scratch.dir("graft_txt_ingest_")
        val ck = checkpointDir("graft_txt_ck_")
        runToEnd(s) {
          TextIndexStream.textIngest(s, inDir, inSchema,
            s"$base/index", ck, filesPerTrigger = 2)
        }
        graft.ops.TextIndex.probeTextIndex(s, s"$base/index",
          graft.ops.TextIndex.queryTerms(docsDf, 42), k = 10)
      }),

    QueryDef(
      "st17_stream_text_ttl",
      // TTL'd CONTINUOUS INDEX SERVICE
      // ([[TextIndexStream.textIngestWithRetention]]): st16's rolling
      // ingest composed with tx40's partition-drop retention INSIDE
      // the service loop — after each micro-batch lands, batches
      // older than the window (keep 2) are expired, so the store's
      // size is bounded by the window however long the stream runs:
      // the rolling "last N ingest days" search tier. Retention keys
      // on arrival batching BY DEFINITION (any time-based TTL does),
      // so the fixture pins the file→batch assignment: four landing
      // files, file b = the doc_id % 4 = b class, mtime-ordered, one
      // file per trigger — batches 0–3 are the classes in order, the
      // window keeps {2, 3}, and the oracle replays retrieval over
      // exactly those classes from raw documents. A batch dir that
      // out-lives its TTL, a stats row that survives its shard, or an
      // expiry that clips a survivor all break the hash.
      Some(graft.ops.TextOps.bm25IndexOracle(
        " WHERE doc_id % 4 >= 2", probeId = 43)),
      (s, d) => {
        val docsDf = s.read.parquet(s"$d/documents.parquet")
        val (inDir, inSchema) = pinnedLanding(s, s"$d/ttl4",
          (0 to 3).map(b => docsDf.select("doc_id", "text")
            .filter(pmod(col("doc_id"), lit(4)) === b)))
        val base = Scratch.dir("graft_ttl_idx_")
        val ck = checkpointDir("graft_ttl_ck_")
        runToEnd(s) {
          TextIndexStream.textIngestWithRetention(s, inDir,
            inSchema, s"$base/index", ck, keepBatches = 2,
            filesPerTrigger = 1)
        }
        graft.ops.TextIndex.probeTextIndex(s, s"$base/index",
          graft.ops.TextIndex.queryTerms(docsDf, 43), k = 10)
      }),

    QueryDef(
      "st18_stream_ivf_ttl",
      // TTL'd IVF SERVICE ([[VectorStream.ivfIngestWithRetention]]):
      // st17's rolling-window idiom on the vector side — each
      // micro-batch is assigned against the frozen codebook and lands
      // as a batch= shard, then shards older than the window (keep 2)
      // are dropped in the service loop, bounding the store at the
      // window. Same fixture discipline as st17 (a TTL keys on
      // arrival batching by definition): four mtime-ordered landing
      // files = the vec_id % 4 classes, one per trigger, window keeps
      // {2, 3}; probes 100–104 query with their LAKE embeddings (103
      // is itself expired — the retired-item search case). The oracle
      // replays the cell-restricted cosine top-3 over exactly the
      // surviving classes under the frozen codebook.
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
             |         WHERE e.vec_id <> probe_id AND e.vec_id % 4 >= 2),
             |r AS (SELECT probe_id, neighbor_id, c,
             |        row_number() OVER (PARTITION BY probe_id
             |          ORDER BY c DESC, neighbor_id) AS rn FROM cand)
             |SELECT probe_id, neighbor_id, CAST(rn AS BIGINT) AS rnk,
             |  round(c, 4) + 0.0 AS cos
             |FROM r WHERE rn <= 3""".stripMargin),
      (s, d) => {
        graft.functions.GraftFunctions.register(s)
        val e = Tables(s, d, "embeddings")
          .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
        val centroids = e.filter(col("vec_id") < 8)
          .select(col("vec_id").as("cid"), col("v").as("cv"))
        val (inDir, inSchema) = pinnedLanding(s, s"$d/ttlvec4", {
          val raw = s.read.parquet(s"$d/embeddings.parquet").select("vec_id", "embedding")
          (0 to 3).map(b => raw.filter(pmod(col("vec_id"), lit(4)) === b))
        })
        val store = Scratch.dir("graft_ttlvec_idx_")
        val ck = checkpointDir("graft_ttlvec_ck_")
        runToEnd(s) {
          VectorStream.ivfIngestWithRetention(s, inDir, inSchema,
            centroids, s"$store/idx", ck, keepBatches = 2,
            filesPerTrigger = 1)
        }
        val probes = graft.ops.VectorOps.assignClusters(
            e.filter(col("vec_id").between(100, 104)), centroids)
          .select(col("vec_id").as("probe_id"), col("v").as("pv"),
            col("cid").as("pcid"))
        graft.ops.VectorOps.probeIvfIndex(s, s"$store/idx", probes, k = 3)
          .withColumn("cos", col("cos") + lit(0.0))
      }),

    QueryDef(
      "st19_stream_index_serve",
      // CONTINUOUS SERVING ([[TextIndexStream.textServe]]) — the
      // fourth quadrant of the lifecycle matrix (batch ingest tx34 /
      // streaming ingest st16 / batch serve tx42 / this): retrieval
      // REQUESTS arrive as a stream — two mtime-ordered landing files
      // (docs 50–53, then 54–57), one per trigger — and every
      // micro-batch is answered top-3 against the SHARED READ-ONLY
      // base index via probeTextIndexMulti, answers landing under
      // exactly-once batch= dirs. Requests carry their own text; the
      // serving path reads only the request and the index, never the
      // lake. Because each request is served independently against a
      // static store, the accumulated answers are slicing-invariant
      // and must equal tx42's one-plan batch answer for the same probe
      // set — which is exactly what the oracle replays.
      Some(graft.ops.TextOps.bm25MultiOracle(
        "doc_id BETWEEN 50 AND 57", k = 3)),
      (s, d) => {
        val docsDf = s.read.parquet(s"$d/documents.parquet")
        val (inDir, inSchema) = pinnedLanding(s, s"$d/serve2",
          Seq((50L, 53L), (54L, 57L)).map { case (lo, hi) =>
            docsDf.select("doc_id", "text").filter(col("doc_id").between(lo, hi))
          })
        val indexDir = graft.ops.TextOps.baseTextIndex(s, d)
        val out = Scratch.dir("graft_serve_out_")
        val ck = checkpointDir("graft_serve_ck_")
        runToEnd(s) {
          TextIndexStream.textServe(s, inDir, inSchema,
            indexDir, s"$out/res", ck, k = 3, filesPerTrigger = 1)
        }
        s.read.parquet(s"$out/res")
          .select("qid", "doc_id", "rnk", "score")
      }),

    QueryDef(
      "st20_stream_tokenize",
      // STREAMING TOKENIZATION ([[TokenizeStream.tokenizeIngest]]) —
      // the fourth quadrant of the TOKENIZER lifecycle (batch train
      // tx43 / dict apply tx44 / sequence apply tx46 / this): tx43's
      // 6 merges are trained in BATCH on half the lake (even doc_ids,
      // tx46's transfer split — the frozen artifact a serving stream
      // ships with), then documents arrive as files and every
      // micro-batch is tokenized by replaying the merge SEQUENCE over
      // each word's character split — map-only, transfers to unseen
      // words, nothing reads the training corpus at serve time. A
      // doc's (n_words, n_tokens) is a pure function of its own text
      // under the frozen merges, so the accumulated output is
      // slicing-invariant and the oracle replays the WHOLE lifecycle
      // from raw tables: the training loop (6 chained argmax+rewrite
      // stages), the apply chain over the full lake's distinct words,
      // and the per-doc rollup.
      Some(graft.ops.Bpe.oracleStages(6, " WHERE doc_id % 2 = 0") +
        graft.ops.Bpe.oracleApplyStages(6) + """,
        |dw AS (
        |  SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS word
        |  FROM documents)
        |SELECT dw.doc_id, CAST(count(*) AS BIGINT) AS n_words,
        |  CAST(sum(len(string_split(a6.s, ' '))) AS BIGINT) AS n_tokens
        |FROM dw JOIN a6 USING (word) GROUP BY dw.doc_id""".stripMargin),
      (s, d) => {
        val docsDf = s.read.parquet(s"$d/documents.parquet")
        val (inDir, inSchema) = docsLanding(s, d)
        // batch-side training on the even half: the artifact is k=6
        // MergeRows — vocab-bounded, frozen before the stream starts
        val (_, merges) = graft.ops.Bpe.train(
          docsDf.filter(pmod(col("doc_id"), lit(2)) === 0), 6)
        val out = Scratch.dir("graft_tok_out_")
        val ck = checkpointDir("graft_tok_ck_")
        runToEnd(s) {
          TokenizeStream.tokenizeIngest(s, inDir, inSchema,
            merges, s"$out/res", ck, filesPerTrigger = 2)
        }
        s.read.parquet(s"$out/res")
          .select("doc_id", "n_words", "n_tokens")
      }),

    QueryDef(
      "st21_stream_payload_ingest",
      // STREAMING MEDIA PAYLOAD-INDEX INGEST
      // ([[MediaStream.payloadIngest]]) — the media family's missing
      // streaming quadrant (r10 verdict task 2): text (st16), LSH
      // (st12) and IVF (st13) all maintain their persisted index from
      // a stream; this does the same for mm17's byte-window posting
      // index. Assets arrive as files of (doc_id, payload binary);
      // every micro-batch derives its band keys — one windowing pass
      // per asset, payload bytes never enter the store — and lands
      // one idempotent batch=<id> shard. Because band keys are a pure
      // per-asset function and consolidation is a pure regroup of
      // disjoint-id shards, the accumulated store equals the one-shot
      // [[graft.ops.MultimodalOps.payloadLshIndex]] wherever the
      // micro-batch boundaries fell (MediaIngestStreamSpec re-slices
      // to prove it). The emitted per-band audit (distinct keys,
      // posting mass, id checksum) is replayed by the oracle from raw
      // bytes through the full hex-window → KM-hash → minima → band
      // chain, so the gate holds the whole streaming pipeline to the
      // from-scratch derivation.
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
             |keys AS (
             |  SELECT bd, k1, k2, k3, k4, count(*) AS c, sum(doc_id) AS s
             |  FROM bands GROUP BY bd, k1, k2, k3, k4)
             |SELECT CAST(bd AS BIGINT) AS band,
             |  CAST(count(*) AS BIGINT) AS n_keys,
             |  CAST(sum(c) AS BIGINT) AS n_postings,
             |  CAST(sum(s) AS BIGINT) AS id_sum
             |FROM keys GROUP BY bd""".stripMargin),
      (s, d) => {
        val (inDir, inSchema) =
          landing(s, s"$d/payload-landing")(payloads(s, d))
        val base = Scratch.dir("graft_payload_ingest_")
        val ck = checkpointDir("graft_payload_ck_")
        runToEnd(s) {
          MediaStream.payloadIngest(s, inDir, inSchema,
            s"$base/index", ck, filesPerTrigger = 2)
        }
        MediaStream.consolidate(s, s"$base/index")
          .groupBy(col("band").cast("long").as("band"))
          .agg(count(lit(1)).as("n_keys"),
            sum("sz").cast("long").as("n_postings"),
            sum(aggregate(col("ids"), lit(0L), (a, x) => a + x))
              .cast("long").as("id_sum"))
      }),

    QueryDef(
      "st22_stream_payload_ttl",
      // TTL'd CONTINUOUS MEDIA INDEX SERVICE
      // ([[MediaStream.payloadIngestWithRetention]]): st21's rolling
      // payload-index ingest composed with partition-drop retention
      // INSIDE the service loop — after each shard lands, batches
      // older than the window (keep 2) are expired, so the store is
      // bounded by the window however long the stream runs: the
      // rolling "last N ingest days" near-dup tier, completing the
      // retention symmetry across all four index families (dd22 LSH,
      // tx40/st17 text, vs31/st18 IVF, this). Retention keys on
      // arrival batching BY DEFINITION, so the fixture pins the
      // file→batch assignment exactly as st17 does: four landing
      // files, file b = the doc_id % 4 = b class, mtime-ordered, one
      // per trigger — batches 0–3 are the classes in order, the
      // window keeps {2, 3}, and the oracle replays the per-band
      // audit over exactly those classes from raw bytes. A shard that
      // out-lives its TTL or an expiry that clips a survivor breaks
      // the hash.
      Some("""WITH m AS (
             |  SELECT doc_id, lower(hex(encode(text))) AS hx,
             |    octet_length(encode(text)) AS n
             |  FROM documents
             |  WHERE octet_length(encode(text)) > 0 AND doc_id % 4 >= 2),
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
             |keys AS (
             |  SELECT bd, k1, k2, k3, k4, count(*) AS c, sum(doc_id) AS s
             |  FROM bands GROUP BY bd, k1, k2, k3, k4)
             |SELECT CAST(bd AS BIGINT) AS band,
             |  CAST(count(*) AS BIGINT) AS n_keys,
             |  CAST(sum(c) AS BIGINT) AS n_postings,
             |  CAST(sum(s) AS BIGINT) AS id_sum
             |FROM keys GROUP BY bd""".stripMargin),
      (s, d) => {
        val (inDir, inSchema) = pinnedLanding(s, s"$d/payload-ttl4", {
          val assets = payloads(s, d)
          (0 to 3).map(b => assets.filter(pmod(col("doc_id"), lit(4)) === b))
        })
        val base = Scratch.dir("graft_payload_ttl_idx_")
        val ck = checkpointDir("graft_payload_ttl_ck_")
        runToEnd(s) {
          MediaStream.payloadIngestWithRetention(s, inDir, inSchema,
            s"$base/index", ck, keepBatches = 2, filesPerTrigger = 1)
        }
        MediaStream.consolidate(s, s"$base/index")
          .groupBy(col("band").cast("long").as("band"))
          .agg(count(lit(1)).as("n_keys"),
            sum("sz").cast("long").as("n_postings"),
            sum(aggregate(col("ids"), lit(0L), (a, x) => a + x))
              .cast("long").as("id_sum"))
      })
  )
}

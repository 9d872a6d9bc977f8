package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

/** One event; `ts` stays a timestamp so the watermark column survives
  * into the stateful operator. */
final case class Ev(user_id: Long, ts: java.sql.Timestamp) {
  def tsUs: Long = ts.toInstant.getEpochSecond * 1000000L + ts.toInstant.getNano / 1000L
}

/** Open-session accumulator carried in `GroupState`. */
final case class SessionState(start_us: Long, last_us: Long, n_events: Int)

/** A closed user session. */
final case class SessionOut(user_id: Long, start_us: Long, end_us: Long, n_events: Int)

/** Structured Streaming surface over the `events` table (ABSENT in the
  * reference, SURVEY §2.10 — this is the engine's streaming extension).
  * The same transformations run on `readStream` (incremental, stateful)
  * and on a batch `read` — Spark's unified Dataset API; tests drive the
  * streaming path with the parquet file as a file source and a memory
  * sink.
  *
  * Scale notes: windowed aggregation state is bounded by the watermark
  * (late events beyond 1 hour are dropped, state for closed windows is
  * evicted); sessionization keeps ONE `SessionState` row per active
  * user — both survive unbounded input, unlike collect-and-sort
  * sessionizers.
  */
object EventStream {

  /** The canonical events schema, used when the footer probe finds no
    * files yet: a stream must be startable AHEAD of its first data
    * (ADVICE r4 — `spark.read.parquet` throws on an empty dir). `ts` as
    * TIMESTAMP_NTZ matches the current fixture generation; files that
    * later arrive with the legacy nanos-Long encoding need a restart
    * with real files present (the probe then sees them). */
  val canonicalEventsSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampNTZType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** Stream the events directory. File stream sources need an explicit
    * schema; rather than hardcode the physical encoding of `ts` (which
    * has shifted between TIMESTAMP(NANOS)-as-Long and TIMESTAMP_NTZ
    * across fixture generations), probe the parquet footer with a batch
    * reader and normalize whatever arrives via [[graft.Tables.normalizeTs]].
    * An empty (or not-yet-existing) directory falls back to
    * [[canonicalEventsSchema]] so the stream can start before data. */
  def readEvents(spark: SparkSession, dir: String): DataFrame = {
    val footerSchema: StructType =
      try spark.read.parquet(dir).schema
      catch { case _: org.apache.spark.sql.AnalysisException => canonicalEventsSchema }
    graft.Tables.normalizeTs(
      spark.readStream.schema(footerSchema).parquet(dir))
  }

  /** Hourly tumbling-window counts per event type with a 1-hour
    * watermark: append-mode-safe windowed aggregation. */
  def hourlyCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"), col("sum_value"))

  /** Streaming exact dedup: drop repeats of `keyCols` arriving within
    * the watermark horizon — the streaming face of the batch dedup
    * family (dd01). State is bounded: key fingerprints older than the
    * watermark are evicted, so this survives unbounded input. */
  def dedupStream(events: DataFrame, keyCols: Seq[String]): DataFrame = {
    require(keyCols.nonEmpty, "dedupStream needs at least one key column")
    events
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark(keyCols.head, keyCols.tail: _*)
  }

  /** Stream-stream interval join: each purchase joined to the same
    * user's clicks in the preceding `windowMinutes` (attribution-style).
    * Both sides are watermarked so Spark bounds the join state: click
    * state older than windowMinutes + watermark is evicted. */
  def clickToPurchase(events: DataFrame, windowMinutes: Int): DataFrame = {
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("click_ts"))
      .withWatermark("click_ts", s"$windowMinutes minutes")
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
        col("ts").as("purchase_ts"), col("value"))
      .withWatermark("purchase_ts", s"$windowMinutes minutes")
    purchases.join(
      clicks,
      col("p_user") === col("c_user") &&
        col("click_ts") <= col("purchase_ts") &&
        col("click_ts") >= col("purchase_ts") - expr(s"INTERVAL $windowMinutes MINUTES"))
      .select(col("p_user").as("user_id"), col("purchase_id"),
        unix_micros(col("purchase_ts")).as("purchase_us"),
        unix_micros(col("click_ts")).as("click_us"), col("value"))
  }

  /** Stateful sessionization: one state row per user; a session closes
    * when the gap exceeds `gapMinutes`. Closed sessions are emitted as
    * soon as the closing event arrives (plus on event-time timeout for
    * users that go silent). The watermark delay equals the session gap,
    * so late-data tolerance and session semantics stay consistent.
    *
    * Late/out-of-order events (flatMapGroupsWithState does NOT drop
    * rows behind the watermark) merge into the open session without
    * regressing its bounds, and the re-armed timeout is clamped above
    * the current watermark (setTimeoutTimestamp below it throws). */
  def sessionize(events: DataFrame, gapMinutes: Int): Dataset[SessionOut] = {
    val spark = events.sparkSession
    import spark.implicits._
    val gapUs = gapMinutes.toLong * 60L * 1000000L
    val gapMs = gapMinutes.toLong * 60000L

    def fn(userId: Long, evs: Iterator[Ev], state: GroupState[SessionState]): Iterator[SessionOut] = {
      val sorted = evs.map(e => (e.user_id, e.tsUs)).toSeq.sortBy(_._2)
      var cur = state.getOption
      val closed = Seq.newBuilder[SessionOut]
      if (state.hasTimedOut) {
        cur.foreach(s => closed += SessionOut(userId, s.start_us, s.last_us, s.n_events))
        state.remove()
        cur = None
      }
      sorted.foreach { case (_, tsUs) =>
        cur match {
          // within gap of the open session's [start-gap, last+gap] span:
          // merge without regressing bounds
          case Some(s) if tsUs >= s.start_us - gapUs && tsUs - s.last_us <= gapUs =>
            cur = Some(SessionState(
              math.min(s.start_us, tsUs), math.max(s.last_us, tsUs), s.n_events + 1))
          // stray late event from a long-gone gap window: it is its own
          // (already-over) session — emit closed, keep the open one
          case Some(s) if tsUs < s.start_us - gapUs =>
            closed += SessionOut(userId, tsUs, tsUs, 1)
          // gap exceeded forward: close current, open new
          case Some(s) =>
            closed += SessionOut(userId, s.start_us, s.last_us, s.n_events)
            cur = Some(SessionState(tsUs, tsUs, 1))
          case None =>
            cur = Some(SessionState(tsUs, tsUs, 1))
        }
      }
      cur.foreach { s =>
        state.update(s)
        if (!state.hasTimedOut) {
          val target = s.last_us / 1000L + gapMs
          state.setTimeoutTimestamp(math.max(target, state.getCurrentWatermarkMs() + 1))
        }
      }
      closed.result().iterator
    }

    events
      .select(col("user_id"), col("ts").cast("timestamp").as("ts"))
      .withWatermark("ts", s"$gapMinutes minutes")
      .as[Ev]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(fn)
  }
}

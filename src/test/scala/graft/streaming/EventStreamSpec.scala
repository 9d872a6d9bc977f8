package graft.streaming

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Drives the streaming surface with the events parquet as a file
  * source and a memory sink (one microbatch = the whole file). */
class EventStreamSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private val sfDir = "/root/testdata/sf0.001"

  /** File streaming sources need a DIRECTORY of files. */
  private lazy val streamDir: String = {
    val dir = TestSpark.tmpDir("graft_stream_")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sfDir/events.parquet"),
      dir.resolve("events.parquet"))
    dir.toString
  }

  test("readEvents starts on an empty directory and picks up late-arriving files") {
    // ADVICE r4: the footer probe threw on an empty dir, so a stream
    // could not be started ahead of its data. Start on empty, then drop
    // the file in and expect rows.
    val dir = TestSpark.tmpDir("graft_stream_empty_")
    val stream = EventStream.readEvents(spark, dir.toString)
    val q = EventStream.hourlyCounts(stream)
      .writeStream.outputMode("append").format("memory").queryName("from_empty").start()
    try {
      q.processAllAvailable() // zero batches, must not throw
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"$sfDir/events.parquet"),
        dir.resolve("events.parquet"))
      q.processAllAvailable()
      assert(spark.table("from_empty").count() > 0)
    } finally q.stop()
  }

  test("hourlyCounts: streaming result matches the batch equivalent") {
    val stream = EventStream.readEvents(spark, streamDir)
    val q = EventStream.hourlyCounts(stream)
      .writeStream.outputMode("append").format("memory").queryName("hourly").start()
    try { q.processAllAvailable() } finally { q.stop() }
    val got = spark.table("hourly")

    val batch = graft.Tables.events(spark, sfDir)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"), col("sum_value"))

    // append mode emits only windows sealed by the watermark; every
    // emitted row must equal its batch counterpart, and most windows
    // (29 days of data, 1h watermark) must have been emitted.
    assert(got.count() > 0)
    assert(got.exceptAll(batch).count() == 0)
    assert(got.count() >= batch.count() - 2)
  }

  test("clickToPurchase: stream-stream interval join matches the batch equivalent") {
    val stream = EventStream.readEvents(spark, streamDir)
    val q = EventStream.clickToPurchase(stream, windowMinutes = 60)
      .writeStream.outputMode("append").format("memory").queryName("attributed").start()
    try { q.processAllAvailable() } finally { q.stop() }
    val got = spark.table("attributed")

    val ev = graft.Tables.events(spark, sfDir)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("click_ts"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
        col("ts").as("purchase_ts"), col("value"))
    val batch = purchases.join(
      clicks,
      col("p_user") === col("c_user") &&
        col("click_ts") <= col("purchase_ts") &&
        col("click_ts") >= col("purchase_ts") - expr("INTERVAL 60 MINUTES"))
      .select(col("p_user").as("user_id"), col("purchase_id"),
        unix_micros(col("purchase_ts")).as("purchase_us"),
        unix_micros(col("click_ts")).as("click_us"), col("value"))

    assert(got.count() > 0)
    // stream emits a subset bounded by watermark sealing; every emitted
    // row must exist in the batch join and coverage must be near-total
    assert(got.exceptAll(batch).count() == 0)
    assert(got.count() >= batch.count() - 50)
  }

  test("sessionize survives late out-of-order events across microbatches") {
    import spark.implicits._
    val dir = TestSpark.tmpDir("graft_stream_late_")
    def ts(m: Long) = new java.sql.Timestamp(1704067200000L + m * 60000L)
    // batch files processed one per trigger: file 1 advances the
    // watermark well past file 2's (late) events
    graft.core.Merge.writeSingleFile(
      Seq((1L, ts(0), 7L, "click", 1.0, "{}"),
          (2L, ts(600), 7L, "click", 1.0, "{}"))
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props"),
      s"$dir/a.parquet")
    graft.core.Merge.writeSingleFile(
      Seq((3L, ts(300), 7L, "click", 1.0, "{}"))  // 5h late vs watermark
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props"),
      s"$dir/b.parquet")
    // timestamps here are already TimestampType (not nanos Long), so
    // feed sessionize directly rather than via readEvents
    val src = spark.readStream
      .schema(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("event_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("ts", org.apache.spark.sql.types.TimestampType),
        org.apache.spark.sql.types.StructField("user_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("event_type", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("value", org.apache.spark.sql.types.DoubleType),
        org.apache.spark.sql.types.StructField("props", org.apache.spark.sql.types.StringType))))
      .option("maxFilesPerTrigger", "1")
      .parquet(dir.toString)
    val q = EventStream.sessionize(src, gapMinutes = 30)
      .writeStream.outputMode("append").format("memory").queryName("late_sessions").start()
    try { q.processAllAvailable() } finally { q.stop() }
    // before the fix this crashed with setTimeoutTimestamp < watermark;
    // now the query completes and sessions never regress end < start
    val out = spark.table("late_sessions")
    assert(out.filter(col("end_us") < col("start_us")).count() == 0)
  }

  test("dedupStream: duplicated source collapses to distinct events") {
    // stage the SAME file twice: every event arrives twice
    val dupDir = TestSpark.tmpDir("graft_stream_dup_")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sfDir/events.parquet"), dupDir.resolve("a.parquet"))
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sfDir/events.parquet"), dupDir.resolve("b.parquet"))
    val stream = EventStream.readEvents(spark, dupDir.toString)
    val q = EventStream.dedupStream(stream, Seq("event_id"))
      .writeStream.outputMode("append").format("memory").queryName("deduped").start()
    try { q.processAllAvailable() } finally { q.stop() }
    val expected = spark.read.parquet(s"$sfDir/events.parquet").count()
    assert(spark.table("deduped").count() == expected)
  }

  test("sessionize: closed sessions respect the gap and cover the data") {
    val stream = EventStream.readEvents(spark, streamDir)
    val q = EventStream.sessionize(stream, gapMinutes = 30)
      .writeStream.outputMode("append").format("memory").queryName("sessions").start()
    try { q.processAllAvailable() } finally { q.stop() }
    val got = spark.table("sessions")

    assert(got.count() > 0)
    // session invariants
    assert(got.filter(col("end_us") < col("start_us")).count() == 0)
    assert(got.filter(col("n_events") < 1).count() == 0)
    // no two closed sessions of a user overlap or sit closer than the gap
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("start_us")
    val gaps = got.withColumn("prev_end", lag("end_us", 1).over(w))
      .filter(col("prev_end").isNotNull)
      .filter(col("start_us") - col("prev_end") <= 30L * 60L * 1000000L)
    assert(gaps.count() == 0)

    // closed + open sessions must equal the batch sessionization count
    val batchSessions = graft.SparkEntry.queries("ev03_sessionize")(spark, sfDir)
      .agg(sum("n_sessions")).head.getLong(0)
    val openUsers = spark.read.parquet(s"$sfDir/events.parquet")
      .select("user_id").distinct().count()
    // each user's final session either stays open in state or closes via
    // event-time timeout once the end-of-stream watermark passes it:
    // total - openUsers <= closed <= total
    assert(got.count() >= batchSessions - openUsers)
    assert(got.count() <= batchSessions)
  }
}

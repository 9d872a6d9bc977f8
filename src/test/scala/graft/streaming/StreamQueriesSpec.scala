package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkEntry, TestSpark}
import graft.core.SessionConf.withConf
import graft.ops.TextOps

/** The streaming registry queries (st*) and the helpers they share:
  * invariants each query must hold beyond the oracle hash gate, the
  * session-conf scope every stream runs under, and the pinned landing
  * fixture the TTL and serving queries ingest.
  */
class StreamQueriesSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  private def q(name: String): DataFrame =
    SparkEntry.queries(name)(spark, sf)

  private lazy val docs = spark.read.parquet(s"$sf/documents.parquet")

  test("st06 streaming distinct users equals the batch COUNT(DISTINCT) per hour") {
    val stream = SparkEntry.queries("st06_stream_distinct_users")(spark, sf)
    val ev = graft.Tables.events(spark, sf)
    val batch = ev.groupBy(
        date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:mm:ss").as("hour_ts"))
      .agg(countDistinct("user_id").as("n_users"))
    assert(stream.collect().toSet == batch.collect().toSet)
  }

  test("st09 watermark dedup: doubled stream input collapses to exact batch distinct") {
    val r = SparkEntry.queries("st09_stream_wm_dedup")(spark, sf)
    val direct = spark.read.parquet(s"$sf/events.parquet")
      .groupBy("event_type")
      .agg(count(lit(1)).cast("long").as("n_b"),
        sum("event_id").cast("long").as("s_b"))
    assert(r.join(direct, "event_type")
      .filter(col("n") =!= col("n_b") || col("id_sum") =!= col("s_b"))
      .count() == 0)
    assert(r.count() == direct.count())
  }

  test("st10 custom state: emitted sessions are exactly the event-closed ones, disjoint per user") {
    // localCheckpoint truncates the lineage: the memory-sink view inside
    // the streamed plan otherwise carries attribute ids that collide
    // with the test's own events scan in the joins below
    val r = SparkEntry.queries("st10_stream_custom_state")(spark, sf)
      .localCheckpoint(true)
    try {
      // no emitted session may contain its user's final event (those
      // are open at end-of-input; timeout emission is excluded by
      // contract), and sessions of a user never overlap
      val ev = graft.Tables.events(spark, sf)
        .select(col("user_id"), unix_micros(col("ts")).as("us"))
      val mx = ev.groupBy("user_id").agg(max("us").as("mx_us"))
      assert(r.join(mx, "user_id").filter(col("end_us") >= col("mx_us")).count() == 0)
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy("start_us")
      val overlap = r.withColumn("next_start", lead("start_us", 1).over(w))
        .filter(col("next_start").isNotNull && col("next_start") <= col("end_us"))
      assert(overlap.count() == 0)
      // every emitted session's event count reconciles with the raw
      // rows inside its [start, end] span
      val ev2 = ev.toDF("uid2", "us2")
      val spanCount = r.join(ev2,
          col("user_id") === col("uid2") &&
            col("us2") >= col("start_us") && col("us2") <= col("end_us"))
        .groupBy("user_id", "start_us").agg(count(lit(1)).as("n_raw"))
      assert(r.join(spanCount, Seq("user_id", "start_us"))
        .filter(col("n_events") =!= col("n_raw")).count() == 0)
    } finally r.unpersist()
  }

  test("st11 transformWithState: ordinals dense per user, type ordinals dense per user+type") {
    val r = SparkEntry.queries("st11_stream_seq_numbers")(spark, sf)
      .localCheckpoint(true)
    try {
      // seq is a permutation of 1..n within each user: max == n and
      // sum == n(n+1)/2 pin both density and uniqueness
      val byUser = r.groupBy("user_id")
        .agg(count(lit(1)).as("n"), max("seq").as("mx"), sum("seq").as("s"))
      assert(byUser.filter(col("mx") =!= col("n") ||
        col("s") =!= expr("n*(n+1)/2")).count() == 0)
      // join event_type back in: type_seq is a permutation of 1..m
      // within each (user, event_type) — the MapState path
      val ev = spark.read.parquet(s"$sf/events.parquet")
        .select(col("event_id").as("eid"), col("event_type"))
      val byType = r.join(ev, col("event_id") === col("eid"))
        .groupBy("user_id", "event_type")
        .agg(count(lit(1)).as("n"), max("type_seq").as("mx"), sum("type_seq").as("s"))
      assert(byType.filter(col("mx") =!= col("n") ||
        col("s") =!= expr("n*(n+1)/2")).count() == 0)
    } finally r.unpersist()
  }

  test("st14: the two routes partition the corpus and agree with the batch gate") {
    val rows = q("st14_stream_quality_router").collect()
    assert(rows.map(_.getAs[Long]("n_docs")).sum == docs.count(),
      "router must not lose or duplicate rows across its two sinks")
    val acceptN = rows.filter(_.getAs[String]("route") == "accept")
      .map(_.getAs[Long]("n_docs")).sum
    val batchKeep = docs.filter(TextOps.gopherKeep(col("text"))).count()
    assert(acceptN == batchKeep,
      "streaming accept set must equal the batch gate's keep set")
    val idSum = rows.map(_.getAs[Long]("id_sum")).sum
    val expectedIdSum = docs.agg(sum("doc_id")).head().getLong(0)
    assert(idSum == expectedIdSum, "route membership checksum")
  }

  test("st15: routes partition the corpus; every non-empty bench doc self-flags") {
    val rows = q("st15_stream_decontam").collect()
    assert(rows.map(_.getAs[Long]("n_docs")).sum == docs.count(),
      "router must not lose or duplicate rows across its two sinks")
    assert(rows.map(_.getAs[Long]("id_sum")).sum ==
      docs.agg(sum("doc_id")).head().getLong(0), "route membership checksum")
    val benchWithGrams = docs.filter(col("doc_id") % 17 === 0)
      .filter(size(graft.functions.GraftFunctions.word_shingles(col("text"), 5)) > 0)
      .count()
    val flagged = rows.filter(_.getAs[String]("route") == "flagged")
      .map(_.getAs[Long]("n_docs")).sum
    assert(flagged >= benchWithGrams,
      "each benchmark doc shares its own grams, so it must be flagged")
  }

  test("withConf restores a set key and unsets an absent key when its body throws") {
    val setKey = "graft.spec.withconf.set"
    val absentKey = "graft.spec.withconf.absent"
    spark.conf.set(setKey, "before")
    spark.conf.unset(absentKey)
    try {
      val e = intercept[IllegalStateException] {
        withConf(spark, setKey -> "inside", absentKey -> "inside") {
          assert(spark.conf.get(setKey) == "inside")
          assert(spark.conf.get(absentKey) == "inside")
          throw new IllegalStateException("body failed")
        }
      }
      assert(e.getMessage == "body failed")
      assert(spark.conf.get(setKey) == "before")
      assert(spark.conf.getOption(absentKey).isEmpty)
    } finally spark.conf.unset(setKey)
  }

  test("pinnedLanding writes one file per slice with strictly increasing mtimes") {
    import spark.implicits._
    val sizes = Seq(3, 1, 2)
    val slices = sizes.zipWithIndex.map { case (n, i) =>
      (1 to n).map(j => (i * 10L + j, s"text $j")).toDF("doc_id", "text")
    }
    val key = s"pinned-landing-spec-${System.nanoTime()}"
    val (dir, schema) = StreamQueries.pinnedLanding(spark, key, slices)
    val files = new java.io.File(dir).listFiles().sortBy(_.getName).toSeq
    assert(files.map(_.getName) == Seq("b0.parquet", "b1.parquet", "b2.parquet"))
    val mtimes = files.map(_.lastModified)
    assert(mtimes.zip(mtimes.tail).forall { case (a, b) => a < b })
    assert(mtimes == Seq(1600000000000L, 1600000060000L, 1600000120000L))
    assert(files.map(f => spark.read.parquet(f.getPath).count()) == sizes.map(_.toLong))
    assert(schema.fieldNames.toSeq == Seq("doc_id", "text"))
    // built once per key: a second request never re-stages
    assert(StreamQueries.pinnedLanding(spark, key,
      sys.error("re-staged a cached landing"))._1 == dir)
  }
}

package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkEntry, TestSpark}

/** Semantic invariants for the session-4 additions (sp18, q65, ev44)
  * beyond the oracle hash gate: each test pins a property the
  * DuckDB value-compare can't express (distribution shape, window
  * monotonicity, equivalence to a direct recompute under a different
  * plan, duplicate-removal under a doubled input).
  */
class SessionFourSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  test("sp18 poisson bootstrap: reps are contiguous 1..k, and total mass ~ Poisson(n)") {
    val reps = SparkEntry.queries("sp18_poisson_bootstrap")(spark, sf).cache()
    try {
      // per doc: rep values are exactly 1..k (max == count, min == 1)
      val bad = reps.groupBy("doc_id")
        .agg(count(lit(1)).as("n"), min("rep").as("mn"), max("rep").as("mx"))
        .filter(col("mn") =!= 1L || col("mx") =!= col("n"))
      assert(bad.count() == 0)
      // total replicate mass is a Poisson(n_docs) draw: mean n, sd sqrt(n).
      // 500 docs -> [350, 650] is a >6-sigma band; a systematic CDF bug
      // (wrong thresholds, wrong uniform) lands far outside it.
      val total = reps.count()
      val nDocs = spark.read.parquet(s"$sf/documents.parquet").count()
      assert(total > nDocs * 0.7 && total < nDocs * 1.3,
        s"bootstrap mass $total implausible for $nDocs docs")
      // determinism: a second evaluation is byte-identical (hash-keyed,
      // not rand()-keyed)
      val again = SparkEntry.queries("sp18_poisson_bootstrap")(spark, sf)
      assert(reps.except(again).count() == 0 && again.except(reps).count() == 0)
    } finally reps.unpersist()
  }

  test("q65 windowed distinct: running count is non-decreasing and ends at the group's distinct total") {
    val r = SparkEntry.queries("q65_windowed_distinct")(spark, sf)
    val ord = spark.read.parquet(s"$sf/orders.parquet")
    val joined = ord.join(r, "o_orderkey").cache()
    try {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
      // non-decreasing along the frame order
      val prev = lag("n_prio_seen", 1).over(w)
      assert(joined.withColumn("p", prev)
        .filter(col("p").isNotNull && col("n_prio_seen") < col("p"))
        .count() == 0)
      // the last row of each customer sees ALL the customer's distinct
      // priorities
      val last = joined.withColumn("rn",
          row_number().over(Window.partitionBy("o_custkey")
            .orderBy(col("o_orderdate").desc, col("o_orderkey").desc)))
        .filter(col("rn") === 1)
        .select(col("o_custkey"), col("n_prio_seen"))
      val direct = ord.groupBy("o_custkey")
        .agg(countDistinct("o_orderpriority").cast("long").as("nd"))
      assert(last.join(direct, "o_custkey")
        .filter(col("n_prio_seen") =!= col("nd")).count() == 0)
    } finally joined.unpersist()
  }

  test("ev44 bitmap distinct: equals countDistinct under a different plan") {
    val bm = SparkEntry.queries("ev44_bitmap_distinct")(spark, sf)
    val direct = spark.read.parquet(s"$sf/events.parquet")
      .groupBy("event_type")
      .agg(countDistinct("user_id").cast("long").as("nd"))
    assert(bm.join(direct, "event_type")
      .filter(col("n_users") =!= col("nd")).count() == 0)
    assert(bm.count() == direct.count())
  }

  test("ev45 SCD2: each event's type matches its covering validity interval, exactly one cover") {
    val iv = SparkEntry.queries("ev45_scd2_intervals")(spark, sf).localCheckpoint(true)
    try {
      val ev = graft.Tables.events(spark, sf)
        .select(col("user_id").as("uid"), unix_micros(col("ts")).as("us"),
          col("event_type").as("etype"))
      // [valid_from, valid_to) containment; -1 marks the open interval
      val covered = ev.join(iv,
        col("uid") === col("user_id") && col("us") >= col("valid_from_us") &&
          (col("valid_to_us") === -1L || col("us") < col("valid_to_us")))
      // every event is covered exactly once, and by its own type
      assert(covered.count() == ev.count())
      assert(covered.filter(col("etype") =!= col("event_type")).count() == 0)
    } finally iv.unpersist()
  }

  test("q67 SQL UDFs are inlined: no eval barrier in the physical plan") {
    val df = SparkEntry.queries("q67_sql_udf")(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    // an opaque function would surface as a (Scala)UDF node; the SQL
    // body must instead be inlined arithmetic the codegen sees through
    assert(!plan.contains("UDF"), s"SQL UDF not inlined:\n$plan")
    assert(df.count() > 0)
  }

  test("q66 VARIANT roundtrip covers every order row") {
    val r = SparkEntry.queries("q66_variant_json")(spark, sf)
    val nOrders = spark.read.parquet(s"$sf/orders.parquet").count()
    assert(r.agg(sum("n")).head.getLong(0) == nOrders)
  }
}

package graft.ops


import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The standard 100 TB lake layout: fact tables partitioned by event
  * day on disk (`.../day=YYYY-MM-DD/`). A day-range filter must prune
  * at the PARTITION level — visible as PartitionFilters in the scan and
  * as untouched directories never being listed into the plan — so a
  * one-day query over a 3-year table reads 1/1000th of the files. */
class PartitionLayoutSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  test("day-partitioned events: day filters prune to the matching partitions") {
    val path = TestSpark.tmpDir("graft_daypart_").resolve("events").toString
    val ev = graft.Tables.events(spark, "/root/testdata/sf0.001")
      .withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
    ev.write.partitionBy("day").mode("overwrite").parquet(path)

    val days = ev.select("day").distinct().count()
    assert(days > 5, s"need a multi-day corpus, got $days days")

    val t = spark.read.parquet(path)
    val oneDay = ev.select(max("day")).head.getString(0)
    val q = t.filter(col("day") === oneDay)

    // partition pruning is in the plan...
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"), plan.take(500))

    // ...and effective: the scan's file list covers exactly one day dir
    val scanned = q.select(input_file_name()).distinct().collect()
      .map(_.getString(0))
    assert(scanned.nonEmpty)
    assert(scanned.forall(_.contains(s"day=$oneDay")), scanned.take(3).mkString("\n"))

    // results equal the unpartitioned filter
    assert(q.count() == ev.filter(col("day") === oneDay).count())
  }
}

package graft.core

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Source/sink format coverage beyond the reference's parquet+CSV pair:
  * the same merged relation round-trips through every columnar/text
  * format Spark ships, with schema-faithful reads. */
class SinksSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private lazy val root = TestSpark.tmpDir("graft_sinks_").toString
  private lazy val src = spark.read.parquet("/root/testdata/sf0.001/nation.parquet")

  test("parquet round-trip preserves rows and schema") {
    src.write.mode("overwrite").parquet(s"$root/p")
    val back = spark.read.parquet(s"$root/p")
    assert(back.schema == src.schema)
    assert(back.exceptAll(src).count() == 0 && src.exceptAll(back).count() == 0)
  }

  test("orc round-trip preserves rows") {
    src.write.mode("overwrite").orc(s"$root/o")
    val back = spark.read.orc(s"$root/o")
    assert(back.exceptAll(src).count() == 0 && src.exceptAll(back).count() == 0)
  }

  test("json round-trip preserves rows (schema-guided read)") {
    src.write.mode("overwrite").json(s"$root/j")
    val back = spark.read.schema(src.schema).json(s"$root/j")
    assert(back.exceptAll(src).count() == 0 && src.exceptAll(back).count() == 0)
  }

  test("csv round-trip preserves rows (schema-guided read, header on)") {
    src.write.mode("overwrite").option("header", "true").csv(s"$root/c")
    val back = spark.read.schema(src.schema).option("header", "true").csv(s"$root/c")
    assert(back.exceptAll(src).count() == 0 && src.exceptAll(back).count() == 0)
  }

  test("csv NULL renders as empty string (reference F7 null cell)") {
    import spark.implicits._
    val df = Seq((1L, Option("x")), (2L, None)).toDF("id", "s")
    df.coalesce(1).write.mode("overwrite").option("header", "true").csv(s"$root/nulls")
    val lines = spark.read.text(s"$root/nulls").as[String].collect().toSet
    assert(lines.contains("2,"))
  }

  test("engine CSV export quotes RFC-4180 style (reference F6 escape_csv_field)") {
    import spark.implicits._
    val df = Seq((1L, "a,b"), (2L, "he said \"hi\""), (3L, "plain")).toDF("id", "s")
    df.coalesce(1).write.mode("overwrite").parquet(s"$root/q_src")
    Merge.exportCsv(spark, s"$root/q_src", s"$root/quotes")
    val lines = spark.read.text(s"$root/quotes").as[String].collect().toSet
    assert(lines.contains("1,\"a,b\""))
    // doubled quotes, NOT backslash escaping (Spark's default)
    assert(lines.contains("2,\"he said \"\"hi\"\"\""))
    assert(lines.contains("3,plain"))
  }
}

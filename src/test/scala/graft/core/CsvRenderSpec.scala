package graft.core

import java.sql.{Date, Timestamp}

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Fixture B6 (FIXTURES.md): the CSV cell-rendering matrix across the
  * reference's known type universe — null cells, quoting, and the
  * documented ISO-8601 deviation for dates/timestamps (SURVEY §7.5.1;
  * the reference Debug-renders `Some(...)`, which nothing can parse). */
class CsvRenderSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  test("all primitive types render; nulls are empty cells; dates are ISO") {
    val schema = StructType(Seq(
      StructField("b", BooleanType), StructField("i8", ByteType),
      StructField("i16", ShortType), StructField("i32", IntegerType),
      StructField("i64", LongType), StructField("f32", FloatType),
      StructField("f64", DoubleType), StructField("s", StringType),
      StructField("d", DateType), StructField("ts", TimestampType)))
    val rows = java.util.Arrays.asList(
      Row(true, 1.toByte, 2.toShort, 3, 4L, 1.5f, 2.5d, "txt",
        Date.valueOf("2024-01-02"), Timestamp.valueOf("2024-01-02 03:04:05")),
      Row(null, null, null, null, null, null, null, null, null, null))
    val df = spark.createDataFrame(rows, schema)

    val root = TestSpark.tmpDir("graft_b6_").toString
    Merge.writeSingleFile(df, s"$root/src.parquet")
    Merge.exportCsv(spark, s"$root/src.parquet", s"$root/out.csv")

    import spark.implicits._
    val lines = spark.read.text(s"$root/out.csv").as[String].collect().toSeq
    assert(lines.exists(_.startsWith("b,i8,i16,i32,i64,f32,f64,s,d,ts")))
    val data = lines.filterNot(_.startsWith("b,"))
    // typed row: ISO date + timestamp, plain numerics, no Some(...)
    assert(data.exists(l =>
      l.startsWith("true,1,2,3,4,1.5,2.5,txt,2024-01-02,") &&
        l.contains("2024-01-02T03:04:05") && !l.contains("Some(")))
    // all-null row: 9 commas, nothing else (NULL -> empty cell)
    assert(data.contains(","  * 9))
  }
}

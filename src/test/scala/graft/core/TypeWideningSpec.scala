package graft.core

import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Documented deviations from the reference's Arrow type universe
  * (SURVEY §1.4, §7.5): unsigned parquet ints widen on read (Spark has
  * no unsigned types), and CSV dates/timestamps render ISO-8601 rather
  * than the reference's `Some(...)` Debug quirk. */
class TypeWideningSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private lazy val uintPath =
    getClass.getResource("/uint_fixture.parquet").getPath

  test("unsigned parquet ints widen: u8->short, u16->int, u32->long, u64->decimal(20,0)") {
    val df = spark.read.parquet(uintPath)
    val types = df.schema.fields.map(f => f.name -> f.dataType).toMap
    assert(types("u8") == ShortType)
    assert(types("u16") == IntegerType)
    assert(types("u32") == LongType)
    assert(types("u64") == DecimalType(20, 0))
    assert(types("i64") == LongType)
    // max values survive the widening
    val row = df.orderBy(org.apache.spark.sql.functions.col("i64").desc).head
    assert(row.getAs[Short]("u8") == 255)
    assert(row.getAs[Int]("u16") == 65535)
    assert(row.getAs[Long]("u32") == 4294967295L)
    assert(row.getAs[java.math.BigDecimal]("u64").toString == "18446744073709551615")
  }

  test("uint files merge with themselves (widened types are consistent)") {
    val merged = Merge.alignedUnion(spark, Seq(uintPath, uintPath))
    assert(merged.count() == 4)
  }

  test("CSV export renders timestamps ISO-8601, not the reference's Some(...) quirk") {
    import spark.implicits._
    val root = TestSpark.tmpDir("graft_tsfmt_").toString
    Seq((1L, java.sql.Timestamp.valueOf("2024-01-01 12:30:00")))
      .toDF("id", "ts").coalesce(1).write.parquet(s"$root/src")
    Merge.exportCsv(spark, s"$root/src", s"$root/csv")
    val lines = spark.read.text(s"$root/csv").as[String].collect()
    val data = lines.filterNot(_.startsWith("id"))
    assert(data.exists(l => l.contains("2024-01-01") && !l.contains("Some(")))
  }
}

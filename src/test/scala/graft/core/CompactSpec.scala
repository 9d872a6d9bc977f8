package graft.core

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Compaction: many small files → few target-sized files, data intact. */
class CompactSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private def smallFiles(n: Int, rowsEach: Int): (Seq[String], Long) = {
    import spark.implicits._
    val dir = TestSpark.tmpDir("graft_compact_in_")
    val files = (0 until n).map { i =>
      val tmp = TestSpark.tmpDir("graft_compact_stage_")
      (0 until rowsEach).map(r => (i.toLong * 10000 + r, s"row_${i}_$r"))
        .toDF("id", "payload").coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = new java.io.File(tmp.toString).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dst = dir.resolve(f"part_$i%03d.parquet")
      Files.move(part.toPath, dst)
      dst.toString
    }
    (files, n.toLong * rowsEach)
  }

  test("compact bin-packs small files to ~target size without losing rows") {
    val (files, totalRows) = smallFiles(n = 12, rowsEach = 500)
    val out = TestSpark.tmpDir("graft_compact_out_").resolve("compacted")
    val inputBytes = files.map(f => new java.io.File(f).length()).sum
    // target = ~1/3 of the input → expect about 3 output files
    val (rows, nOut) = Merge.compact(spark, files, out.toString, inputBytes / 3)
    assert(rows == totalRows)
    assert(nOut >= 2 && nOut <= 4, s"expected ~3 output files, got $nOut")
    assert(nOut < files.size)
  }

  test("compact with a huge target collapses to one file; data matches input exactly") {
    val (files, totalRows) = smallFiles(n = 5, rowsEach = 100)
    val out = TestSpark.tmpDir("graft_compact_out_").resolve("one")
    val (rows, nOut) = Merge.compact(spark, files, out.toString, Long.MaxValue)
    assert(rows == totalRows && nOut == 1)
    val a = spark.read.parquet(files: _*).orderBy("id").collect()
    val b = spark.read.parquet(out.toString).orderBy("id").collect()
    assert(a.sameElements(b))
  }
}

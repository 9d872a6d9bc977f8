package graft.streaming

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.core.Merge

/** Continuous merge: files are merged exactly once across invocations
  * (checkpointed file tracking), appends accumulate. */
class MergeStreamSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  test("continuousMerge drains a folder, then appends only new files on re-run") {
    import spark.implicits._
    val in = TestSpark.tmpDir("graft_cmerge_in_")
    val out = TestSpark.tmpDir("graft_cmerge_out_").resolve("merged")
    val ckpt = TestSpark.tmpDir("graft_cmerge_ckpt_")

    def writeFile(name: String, ids: Seq[Long]): Unit = {
      val tmp = TestSpark.tmpDir("graft_cmerge_stage_")
      ids.toDF("id").coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = new java.io.File(tmp.toString).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.move(part.toPath, in.resolve(name))
    }

    writeFile("a.parquet", 1L to 10L)
    writeFile("b.parquet", 11L to 20L)
    val schema = Merge.probeSchema(spark, in.resolve("a.parquet").toString)

    val q1 = MergeStream.continuousMerge(
      spark, in.toString, out.toString, ckpt.toString, schema)
    q1.awaitTermination()
    assert(spark.read.parquet(out.toString).count() == 20)

    // second invocation with a new file: ONLY the new file is appended
    writeFile("c.parquet", 21L to 25L)
    val q2 = MergeStream.continuousMerge(
      spark, in.toString, out.toString, ckpt.toString, schema)
    q2.awaitTermination()
    val merged = spark.read.parquet(out.toString)
    assert(merged.count() == 25)
    // no duplicates: exactly-once per input file
    assert(merged.select("id").distinct().count() == 25)
  }
}

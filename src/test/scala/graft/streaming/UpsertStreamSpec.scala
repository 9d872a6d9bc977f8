package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.core.Merge
import graft.ops.Upsert

/** Streaming CDC-apply: change files merge into the bucketed table
  * exactly once per file, last-writer-wins within a batch, and the
  * one-row-per-key invariant holds after every micro-batch. */
class UpsertStreamSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  test("upsertStream applies change batches with last-writer-wins") {
    import spark.implicits._
    val in = TestSpark.tmpDir("graft_ups_in_")
    val table = TestSpark.tmpDir("graft_ups_tab_").resolve("t").toString
    val ckpt = TestSpark.tmpDir("graft_ups_ckpt_").toString

    val base = (1L to 50L).map(i => (i, 0L, s"v$i")).toDF("id", "version", "payload")
    Upsert.writeBucketed(base, table, "id", nBuckets = 4)

    def writeFile(name: String, rows: Seq[(Long, Long, String)]): Unit = {
      val tmp = TestSpark.tmpDir("graft_ups_stage_")
      rows.toDF("id", "version", "payload")
        .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = new java.io.File(tmp.toString).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.move(part.toPath, in.resolve(name))
    }

    // batch 1: duplicate key 5 in one batch (v1 then v2 — v2 must win),
    // plus a brand-new key 51
    writeFile("c1.parquet", Seq((5L, 1L, "five_a"), (5L, 2L, "five_b"), (51L, 1L, "new51")))
    val schema = Merge.probeSchema(spark, in.resolve("c1.parquet").toString)
    val q1 = MergeStream.upsertStream(
      spark, in.toString, schema, table, "id", "version", 4, ckpt)
    q1.awaitTermination()

    val after1 = spark.read.parquet(table)
    assert(after1.count() == 51)
    assert(after1.select("id").distinct().count() == 51)
    assert(after1.filter(col("id") === 5).select("payload").as[String].head() == "five_b")

    // batch 2 (same checkpoint): c1 is NOT reapplied; key 5 advances
    writeFile("c2.parquet", Seq((5L, 3L, "five_c")))
    val q2 = MergeStream.upsertStream(
      spark, in.toString, schema, table, "id", "version", 4, ckpt)
    q2.awaitTermination()

    val after2 = spark.read.parquet(table)
    assert(after2.count() == 51)
    assert(after2.filter(col("id") === 5).select("payload").as[String].head() == "five_c")
    assert(after2.filter(col("id") === 51).select("payload").as[String].head() == "new51")
  }
}

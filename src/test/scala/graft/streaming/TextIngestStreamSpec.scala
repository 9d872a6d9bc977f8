package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.ops.TextIndex

/** Slicing invariance for the streaming text-index ingest: the
  * accumulated posting store + stats log must equal the one-shot
  * build's answers wherever the micro-batch boundaries fall. */
class TextIngestStreamSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"
  private lazy val docs = spark.read.parquet(s"$sf/documents.parquet")
    .select("doc_id", "text")

  private def probe(dir: String): DataFrame =
    TextIndex.probeTextIndex(spark, dir,
      TextIndex.queryTerms(docs, 42), k = 10)

  test("ingest sliced into many micro-batches == one-shot build") {
    val landing = TestSpark.tmpDir("graft_tis_landing_").toString
    docs.repartition(4, col("doc_id"))
      .write.mode("overwrite").parquet(s"$landing/in")
    val schema = spark.read.parquet(s"$landing/in").schema

    def ingest(fpt: Int): String = {
      val base = TestSpark.tmpDir(s"graft_tis_idx${fpt}_").toString
      val ck = TestSpark.tmpDir(s"graft_tis_ck${fpt}_").toString
      val q = TextIndexStream.textIngest(spark, s"$landing/in", schema,
        s"$base/index", ck, filesPerTrigger = fpt)
      q.awaitTermination()
      s"$base/index"
    }

    val fine = ingest(1)   // one batch per file
    val coarse = ingest(64) // everything in one batch
    val oneShot = TestSpark.tmpDir("graft_tis_oneshot_").toString + "/index"
    TextIndex.buildTextIndex(docs, oneShot)

    val ref = probe(oneShot).collect().toSeq
    assert(probe(fine).collect().toSeq == ref,
      "per-file slicing must not change the probe answer")
    assert(probe(coarse).collect().toSeq == ref,
      "single-batch slicing must not change the probe answer")
  }

  test("TTL'd ingest: store size stays bounded by the window; survivors == rebuild") {
    val landing = TestSpark.tmpDir("graft_ttl_landing_").toString
    val in = java.nio.file.Paths.get(landing, "in")
    java.nio.file.Files.createDirectories(in)
    (0L to 3L).foreach { b =>
      val tmp = TestSpark.tmpDir(s"graft_ttl_st$b")
      docs.filter(pmod(col("doc_id"), lit(4)) === b)
        .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = new java.io.File(tmp.toString).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val target = in.resolve(s"b$b.parquet")
      java.nio.file.Files.move(part.toPath, target)
      java.nio.file.Files.setLastModifiedTime(target,
        java.nio.file.attribute.FileTime.fromMillis(1600000000000L + b * 60000))
    }
    val schema = spark.read.parquet(in.toString).schema
    val base = TestSpark.tmpDir("graft_ttl_idx_").toString
    val ck = TestSpark.tmpDir("graft_ttl_ck_").toString
    val q = TextIndexStream.textIngestWithRetention(spark, in.toString,
      schema, s"$base/index", ck, keepBatches = 2, filesPerTrigger = 1)
    q.awaitTermination()
    // boundedness IS the point: however many batches streamed through,
    // exactly `keepBatches` shard dirs remain, postings and stats alike
    def shards(sub: String): Set[String] =
      new java.io.File(s"$base/index/$sub").listFiles()
        .map(_.getName).filter(_.startsWith("batch=")).toSet
    assert(shards("postings") == Set("batch=2", "batch=3"), shards("postings"))
    assert(shards("stats") == Set("batch=2", "batch=3"), shards("stats"))
    val rebuilt = TestSpark.tmpDir("graft_ttl_ref_").toString + "/index"
    TextIndex.buildTextIndex(docs.filter(col("doc_id") % 4 >= 2), rebuilt)
    assert(probe(s"$base/index").collect().toSeq ==
      probe(rebuilt).collect().toSeq,
      "the windowed store must serve exactly the surviving classes")
  }

  test("st19: streamed serving == one-plan batch serving, wherever batches fall") {
    // one static store; the same 6 requests served (a) in one
    // probeTextIndexMulti plan and (b) streamed 1 file per trigger in
    // 3 files of 2 — the accumulated answers must be identical, the
    // slicing-invariance contract of textServe
    val base = TestSpark.tmpDir("graft_serve_idx_").toString + "/index"
    TextIndex.buildTextIndex(docs, base)
    val pred = col("doc_id").between(10, 15)
    val oneShot = TextIndex.probeTextIndexMulti(spark, base,
      TextIndex.queryTermsMulti(docs, pred), k = 4)
      .collect().map(_.toSeq).toSet

    val landing = TestSpark.tmpDir("graft_serve_in_")
    Seq((0L, 10L, 11L), (1L, 12L, 13L), (2L, 14L, 15L)).foreach {
      case (b, lo, hi) =>
        val tmp = java.nio.file.Files.createTempDirectory(landing, s"s$b")
        docs.filter(col("doc_id").between(lo, hi))
          .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
        val part = new java.io.File(tmp.toString).listFiles()
          .find(_.getName.endsWith(".parquet")).get
        val target = landing.resolve(s"in/b$b.parquet")
        java.nio.file.Files.createDirectories(target.getParent)
        java.nio.file.Files.move(part.toPath, target)
        java.nio.file.Files.setLastModifiedTime(target,
          java.nio.file.attribute.FileTime
            .fromMillis(1600000000000L + b * 60000))
    }
    val in = landing.resolve("in").toString
    val schema = spark.read.parquet(in).schema
    val out = TestSpark.tmpDir("graft_serve_res_").toString + "/res"
    val ck = TestSpark.tmpDir("graft_serve_ck_").toString
    val q = TextIndexStream.textServe(spark, in, schema, base, out, ck,
      k = 4, filesPerTrigger = 1)
    q.awaitTermination()
    // exactly-once layout: one batch= dir per trigger
    val dirs = new java.io.File(out).listFiles()
      .map(_.getName).filter(_.startsWith("batch=")).toSet
    assert(dirs == Set("batch=0", "batch=1", "batch=2"), dirs)
    val streamed = spark.read.parquet(out)
      .select("qid", "doc_id", "rnk", "score")
      .collect().map(_.toSeq).toSet
    assert(streamed == oneShot,
      "micro-batch serving must accumulate exactly the one-plan batch answer")
  }
}

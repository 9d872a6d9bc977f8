package graft.streaming

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.ops.Bpe

/** Slicing invariance for the streaming tokenizer (st20): the
  * accumulated per-doc token accounting must equal one batch
  * tokenization of the same files under the same frozen merge table,
  * wherever the micro-batch boundaries fall. */
class TokenizeStreamSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"
  private lazy val docs = spark.read.parquet(s"$sf/documents.parquet")
    .select("doc_id", "text")

  test("stream tokenization sliced 1/64 files per trigger == batch apply") {
    val landing = TestSpark.tmpDir("graft_tok_landing_").toString
    docs.repartition(4, col("doc_id"))
      .write.mode("overwrite").parquet(s"$landing/in")
    val schema = spark.read.parquet(s"$landing/in").schema
    // frozen artifact: trained once, shipped to every slicing
    val (_, merges) = Bpe.train(
      docs.filter(pmod(col("doc_id"), lit(2)) === 0), 6)
    assert(merges.nonEmpty, "a real corpus must yield merges")

    def run(fpt: Int): Seq[(Long, Long, Long)] = {
      val out = TestSpark.tmpDir(s"graft_tok_out${fpt}_").toString
      val ck = TestSpark.tmpDir(s"graft_tok_ck${fpt}_").toString
      val q = TokenizeStream.tokenizeIngest(spark, s"$landing/in", schema,
        merges, s"$out/res", ck, filesPerTrigger = fpt)
      q.awaitTermination()
      spark.read.parquet(s"$out/res")
        .select("doc_id", "n_words", "n_tokens").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toSeq.sortBy(_._1)
    }

    // the batch reference: same dict idiom, one plan, no stream
    val words = docs.select(col("doc_id"),
      explode(filter(split(col("text"), " "), x => x =!= "")).as("word"))
    val dict = words.select("word").distinct()
      .select(col("word"),
        size(split(Bpe.tokenizeExpr(col("word"), merges), " "))
          .cast("long").as("n_tok"))
    val ref = words.join(broadcast(dict), Seq("word"))
      .groupBy("doc_id")
      .agg(count(lit(1)).cast("long").as("n_words"),
        sum("n_tok").cast("long").as("n_tokens"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSeq.sortBy(_._1)

    assert(ref.nonEmpty)
    // tokenization must actually split: more tokens than words overall
    assert(ref.map(_._3).sum > ref.map(_._2).sum,
      "6 merges cannot already collapse every word to one token")
    assert(run(1) == ref, "per-file slicing must not change the accounting")
    assert(run(64) == ref, "single-batch slicing must not change the accounting")
  }
}

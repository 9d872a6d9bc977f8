package graft.streaming


import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.ops.TextOps

/** The router's exact-partition contract under NULL gates (ADVICE r8):
  * a row whose gate evaluates to NULL (e.g. NULL text under
  * gopherKeep) fails BOTH filter(k) and filter(!k) — before the
  * coalesce fix it silently vanished from both sinks. Pin that such
  * rows land in QUARANTINE and that accept ∪ quarantine is exactly
  * the input, row for row. */
class RouterNullGateSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  test("NULL-gated rows route to quarantine; the two stores partition the input exactly") {
    import spark.implicits._
    val in = TestSpark.tmpDir("graft_nullgate_in_")
    val base = TestSpark.tmpDir("graft_nullgate_out_")
    val ck = TestSpark.tmpDir("graft_nullgate_ck_")

    // one clearly-accepted doc, one clearly-rejected, one NULL text
    val keepText = ("the quick brown fox jumps over the lazy dog and " * 3).trim
    Seq(
      (1L, keepText),
      (2L, "xx"),
      (3L, null.asInstanceOf[String])
    ).toDF("doc_id", "text").coalesce(1)
      .write.mode("overwrite").parquet(in.toString)

    val schema = spark.read.parquet(in.toString).schema
    val q = RouterStream.predicateRoute(spark, in.toString, schema,
      TextOps.gopherKeep(col("text")),
      s"$base/accept", s"$base/quarantine", ck.toString)
    q.awaitTermination()

    val accept = spark.read.parquet(s"$base/accept")
      .select("doc_id").as[Long].collect().sorted
    val quarantine = spark.read.parquet(s"$base/quarantine")
      .select("doc_id").as[Long].collect().sorted
    assert(accept.toSeq == Seq(1L), s"accept store: ${accept.toSeq}")
    assert(quarantine.toSeq == Seq(2L, 3L),
      s"NULL-gated doc 3 must land in quarantine, got ${quarantine.toSeq}")
    assert((accept ++ quarantine).sorted.toSeq == Seq(1L, 2L, 3L),
      "the two stores must partition the input exactly")
  }
}

package graft.ops

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Zero-row inputs through the heavy kernels. At scale an empty input
  * is ROUTINE — a daily pipeline run over a partition with no new
  * data, an incremental-dedup batch after a quiet hour — and several
  * kernels do driver-side bound/fence probing (`agg(min,max).head()`)
  * where an unguarded null unwrap would throw only on the empty case.
  * These pin that every such path returns an EMPTY result, not an
  * exception.
  */
class EmptyInputSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private def emptyDocs = {
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
  }

  test("exactJaccardPairs on an empty corpus returns zero pairs") {
    assert(DedupOps.exactJaccardPairs(emptyDocs).count() == 0)
  }

  test("text index: quiet-hour empty append leaves probes unchanged; empty build probes empty") {
    // a daily ingest with no new documents writes ZERO posting files
    // under its batch dirs and a (0, 0) stats row — both must be
    // invisible to every later probe, and a store whose only batches
    // are quiet must probe EMPTY, not throw on schema inference
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    val dir = TestSpark.tmpDir("graft_ei_ti_").toString + "/index"
    TextIndex.buildTextIndex(docs, dir)
    val qt = TextIndex.queryTerms(docs, 42)
    val before = TextIndex.probeTextIndex(spark, dir, qt, 10).collect().toSeq
    TextIndex.appendTextIndex(emptyDocs, dir, batch = 1L)
    val after = TextIndex.probeTextIndex(spark, dir, qt, 10).collect().toSeq
    assert(after == before, "an empty append must not move any answer")
    val emptyIdx = TestSpark.tmpDir("graft_ei_ti0_").toString + "/index"
    TextIndex.buildTextIndex(emptyDocs, emptyIdx)
    assert(TextIndex.probeTextIndex(spark, emptyIdx, qt, 10).count() == 0)
    // re-version with an EMPTY edit set is the identity (empty
    // tombstones + empty append through a fresh snapshot)
    val noop = TestSpark.tmpDir("graft_ei_ti_rev_").toString + "/index"
    TextIndex.reVersionTextIndex(spark, emptyDocs, emptyDocs, dir, noop)
    assert(TextIndex.probeTextIndex(spark, noop, qt, 10)
      .collect().toSeq == before, "empty re-version must not move any answer")
    // expiry below every live batch is a no-op
    TextIndex.expireTextIndex(spark, noop, cutoffBatch = 0L)
    assert(TextIndex.probeTextIndex(spark, noop, qt, 10)
      .collect().toSeq == before, "cutoff-0 expiry must not move any answer")
  }

  test("round-8 kernels on an empty corpus: empty results, no ANSI arithmetic errors") {
    // a quiet partition must flow through every round-8 kernel shape
    // without a null unwrap or an ANSI 0-division
    import org.apache.spark.sql.DataFrame
    // tx32's shape: gram join against an (equally empty) bench side
    def grams(df: DataFrame, idCol: String) = df
      .select(col(idCol), explode(graft.functions.GraftFunctions
        .word_shingles(col("text"), 5)).as("g"))
      .select(col(idCol), graft.functions.GraftFunctions
        .md5_low60(col("g")).as("h"))
    assert(grams(emptyDocs, "doc_id")
      .join(broadcast(grams(emptyDocs.withColumnRenamed("doc_id", "bench_id"),
        "bench_id")), "h")
      .groupBy("doc_id", "bench_id").agg(count(lit(1)).as("overlap"))
      .filter(col("overlap") >= 3).count() == 0)
    // dd26's shape: word-set fingerprint census
    assert(emptyDocs.select(col("doc_id"),
        md5(concat_ws(" ", array_sort(array_distinct(
          filter(split(col("text"), " "), x => x =!= ""))))).as("fp"))
      .groupBy("fp").agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") >= 2).count() == 0)
    // sp22's shape: CC over an empty node/edge set
    assert(DedupOps.connectedComponents(
      emptyDocs.select(col("doc_id").as("id")),
      DedupOps.exactJaccardPairs(emptyDocs).select(
        col("a"), col("b"))).count() == 0)
  }

  test("portable near-dup pipelines (r7) on an empty corpus return zero pairs") {
    assert(DedupOps.minHashNearDupsPortable(emptyDocs).count() == 0)
    assert(DedupOps.simHashNearDupsPortable(emptyDocs).count() == 0)
    assert(DedupOps.bottomKNearDupsPortable(emptyDocs).count() == 0)
  }

  test("thresholdSweep on an empty corpus returns its single audit row with zero candidates") {
    val row = DedupOps.thresholdSweep(emptyDocs).head()
    assert(row.getAs[Long]("n_candidate_pairs") == 0L)
  }

  test("PrefixSum.byLongKey on zero rows returns zero rows") {
    val df = spark.range(0).toDF("k").withColumn("v", col("k"))
    assert(PrefixSum.byLongKey(df, "k", Nil, col("v"), "cum",
      inclusive = true).count() == 0)
  }

  test("GridQuantile.perGroup on zero rows returns zero fence rows") {
    val schema = StructType(Seq(
      StructField("g", StringType), StructField("x", DoubleType)))
    val df = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    assert(GridQuantile.perGroup(df, Seq("g"), "x",
      Seq("p50" -> 0.5)).count() == 0)
  }

  test("mutualKnnExact on an empty embedding set returns zero edges") {
    val schema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("v", ArrayType(DoubleType))))
    val df = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    assert(VectorOps.mutualKnnExact(df).count() == 0)
  }
}

package graft.ops

import org.scalatest.funsuite.AnyFunSuite

import graft.{RegistrySweep, SparkEntry, TestSpark}

/** Every registered query runs at sf0.001 and returns sane output; the
  * DuckDB value-level check is the driver's t2 gate (scripts/check.py
  * locally) — this spec guards execution + structural invariants. */
class OpsSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  // Queries whose correct result can be empty at some SF: none today.
  test("all registered queries execute at sf0.001 with rows > 0") {
    val failures = RegistrySweep.offenders { (_, f) => Option.when(f.rows <= 0)("0 rows") }
    assert(failures.isEmpty, failures.mkString("; "))
  }

  test("every oracle key has a registered query") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracles without queries: $missing")
  }

  test("entry returns rows (driver smoke gate)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("dd01 exact dedup collapses the injected duplicate corpus back to its size") {
    val n = spark.read.parquet(s"$sf/documents.parquet").count()
    assert(SparkEntry.queries("dd01_exact_dedup")(spark, sf).count() == n)
  }

  test("dd02 minhash finds every injected exact duplicate pair") {
    val docs = spark.read.parquet(s"$sf/documents.parquet").count()
    val pairs = SparkEntry.queries("dd02_minhash_lsh")(spark, sf)
    // at least one jaccard-1.0 pair per original doc (a, a+100000)
    import org.apache.spark.sql.functions._
    val exact = pairs.filter(col("b") === col("a") + 100000L && col("jaccard") === 1.0).count()
    assert(exact == docs)
  }

  test("dd05 clusters resolve transitively: every copy points to the chain base") {
    import org.apache.spark.sql.functions._
    val out = SparkEntry.queries("dd05_dup_clusters")(spark, sf)
    // copies carry ids base+100000/base+200000; canonical must be base
    assert(out.filter(col("canonical") =!= col("doc_id") % 100000).count() == 0)
    val n = spark.read.parquet(s"$sf/documents.parquet").count()
    assert(out.count() == 3 * n)
  }

  test("vs03 embedding near-dup finds exactly the injected copies") {
    val n = spark.read.parquet(s"$sf/embeddings.parquet").count()
    val out = SparkEntry.queries("vs03_embed_neardup")(spark, sf)
    assert(out.count() == n)
  }

  test("sketch tiers validate against the exact tier: dd02/dd04 ⊆ dd06, high recall") {
    import org.apache.spark.sql.functions._
    // dd06 is the oracle-checked exact all-pairs Jaccard >= 0.8; the
    // sketch-accelerated paths must produce only true pairs (precision
    // 1.0 — both verify exactly) and nearly all of them (recall)
    val exact = SparkEntry.queries("dd06_exact_jaccard")(spark, sf)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty)
    for (name <- Seq("dd02_minhash_lsh", "dd04_ngram_jaccard")) {
      val got = SparkEntry.queries(name)(spark, sf)
        .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val falsePos = got -- exact
      assert(falsePos.isEmpty, s"$name produced non-near-dup pairs: ${falsePos.take(5)}")
      val recall = got.size.toDouble / exact.size
      assert(recall >= 0.95, s"$name recall $recall below 0.95")
    }
  }

  test("vs01 brute-force top-k: k rows per probe, ranks 1..k") {
    import org.apache.spark.sql.functions._
    val out = SparkEntry.queries("vs01_topk_bruteforce")(spark, sf)
    val perProbe = out.groupBy("probe_id").agg(count(lit(1)).as("n"), max("rnk").as("mx"))
    assert(perProbe.filter(col("n") =!= 10 || col("mx") =!= 10).count() == 0)
  }

  test("ev14 approx quantiles are within tolerance of the exact percentiles") {
    import org.apache.spark.sql.functions._
    val approx = SparkEntry.queries("ev14_approx_quantiles")(spark, sf)
    val ev = spark.read.parquet(s"$sf/events.parquet")
    val exact = ev.groupBy("event_type").agg(
      percentile(col("value"), lit(0.5)).as("p50"),
      percentile(col("value"), lit(0.95)).as("p95"))
    val joined = approx.join(exact, "event_type").collect()
    assert(joined.length == 5)
    joined.foreach { r =>
      val (a50, a95) = (r.getAs[Double]("p50_approx"), r.getAs[Double]("p95_approx"))
      val (e50, e95) = (r.getAs[Double]("p50"), r.getAs[Double]("p95"))
      // GK with accuracy=1000 ⇒ rank error <= n/1000; generous value
      // tolerance for the bounded-range event values
      assert(math.abs(a50 - e50) <= math.max(0.05 * math.abs(e50), 0.5), r.toString)
      assert(math.abs(a95 - e95) <= math.max(0.05 * math.abs(e95), 0.5), r.toString)
    }
  }

  test("inferBatched: scores are independent of batch size and partitioning") {
    import org.apache.spark.sql.functions._
    val spark0 = spark
    import spark0.implicits._
    val media = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("source"), encode(col("text"), "UTF-8").as("payload"))
      .as[MediaIn].filter(_.payload.nonEmpty)
    def run(batch: Int, parts: Int): Map[Long, Double] =
      media.repartition(parts)
        .mapPartitions(it => MultimodalOps.inferBatched(it, batch))
        .collect().map(s => s.doc_id -> s.score).toMap
    val ref = run(32, 4)
    assert(ref.size == 500)
    assert(run(7, 4) == ref)
    assert(run(32, 13) == ref)
    // every batch is full except possibly the last one per partition
    val sizes = media.repartition(4)
      .mapPartitions(it => it.grouped(32).map(_.size))
      .collect()
    assert(sizes.forall(_ <= 32))
    assert(sizes.count(_ < 32) <= 4)
  }
}

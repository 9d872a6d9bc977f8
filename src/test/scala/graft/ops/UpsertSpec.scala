package graft.ops


import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Upsert correctness + the partition-pruning contract: untouched
  * buckets' files must not be rewritten. */
class UpsertSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("mergeInto updates existing keys, inserts new ones, leaves the rest") {
    val path = TestSpark.tmpDir("graft_upsert_").resolve("t").toString
    val base = (1L to 100L).map(i => (i, s"v$i")).toDF("id", "payload")
    Upsert.writeBucketed(base, path, "id", nBuckets = 8)

    val updates = Seq((5L, "v5_new"), (42L, "v42_new"), (101L, "v101_ins"))
      .toDF("id", "payload")
    val touched = Upsert.mergeInto(spark, path, updates, "id", nBuckets = 8)
    assert(touched >= 1 && touched <= 3)

    val out = spark.read.parquet(path)
    assert(out.count() == 101)
    val got = out.filter(col("id").isin(5L, 42L, 101L, 7L))
      .select("id", "payload").as[(Long, String)].collect().toMap
    assert(got == Map(5L -> "v5_new", 42L -> "v42_new",
      101L -> "v101_ins", 7L -> "v7"))
  }

  test("untouched buckets are not rewritten (file mtimes unchanged)") {
    val path = TestSpark.tmpDir("graft_upsert_prune_").resolve("t").toString
    val base = (1L to 200L).map(i => (i, s"v$i")).toDF("id", "payload")
    Upsert.writeBucketed(base, path, "id", nBuckets = 8)

    def bucketFiles(): Map[String, Set[(String, Long)]] =
      new java.io.File(path).listFiles().filter(_.getName.startsWith("bucket="))
        .map(d => d.getName ->
          d.listFiles().filter(_.getName.endsWith(".parquet"))
            .map(f => (f.getName, f.lastModified())).toSet)
        .toMap

    val before = bucketFiles()
    Thread.sleep(1100) // mtime resolution
    val touched = Upsert.mergeInto(spark, path,
      Seq((5L, "x")).toDF("id", "payload"), "id", nBuckets = 8)
    assert(touched == 1)
    val after = bucketFiles()

    val changed = after.keySet.filter(b => before(b) != after(b))
    assert(changed.size == 1, s"expected 1 rewritten bucket, got $changed")
    // every other bucket: identical files, identical mtimes
    (after.keySet - changed.head).foreach(b => assert(before(b) == after(b)))
    // and the data survived
    assert(spark.read.parquet(path).count() == 200)
  }

  test("a key only ever lives in one bucket (deterministic hash routing)") {
    val path = TestSpark.tmpDir("graft_upsert_route_").resolve("t").toString
    Upsert.writeBucketed((1L to 50L).map(i => (i, "a")).toDF("id", "p"), path, "id", 4)
    // update the same keys twice; count must stay stable (no dup across buckets)
    Upsert.mergeInto(spark, path, (1L to 50L).map(i => (i, "b")).toDF("id", "p"), "id", 4)
    Upsert.mergeInto(spark, path, (1L to 50L).map(i => (i, "c")).toDF("id", "p"), "id", 4)
    val out = spark.read.parquet(path)
    assert(out.count() == 50)
    assert(out.filter(col("p") =!= "c").count() == 0)
  }
}

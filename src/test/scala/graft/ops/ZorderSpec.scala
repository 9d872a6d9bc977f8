package graft.ops


import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Z-order clustering: the interleave is exact, and the clustered
  * layout bounds every file's key rectangle so range filters on EITHER
  * dimension intersect (⇒ parquet min/max pruning skips) only a few
  * files — the property a single-column sort cannot give both
  * dimensions at once. */
class ZorderSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def refInterleave(a: Long, b: Long, bits: Int): Long = {
    var z = 0L
    for (i <- 0 until bits)
      z |= (((a >> i) & 1L) << (2 * i)) | (((b >> i) & 1L) << (2 * i + 1))
    z
  }

  test("zvalue matches the reference bit interleave") {
    val pairs = for (a <- 0L until 64L; b <- Seq(0L, 1L, 5L, 31L, 63L, 1999L))
      yield (a, b)
    val got = pairs.toDF("a", "b")
      .select(col("a"), col("b"), Layout.zvalue(col("a"), col("b"), 11).as("z"))
      .as[(Long, Long, Long)].collect()
    got.foreach { case (a, b, z) => assert(z == refInterleave(a, b, 11), s"($a,$b)") }
  }

  test("zvalue is a bijection on the bit-bounded domain") {
    val n = (0L until 1024L).toDF("a")
      .select(Layout.zvalue(col("a") % 32, col("a") / 32, 5).as("z"))
      .distinct().count()
    assert(n == 1024)
  }

  test("z-order layout prunes range filters on both dimensions; single-sort does not") {
    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    val zdir = TestSpark.tmpDir("graft_zorder_").resolve("z").toString
    val ldir = TestSpark.tmpDir("graft_zorder_").resolve("lin").toString

    // sf0.001 domains: l_partkey 0..199 (8 bits), l_suppkey 0..9
    // (4 bits). Scale suppkey ×16 so its top bit aligns with
    // partkey's — both dimensions then share the high Z-bits and both
    // contribute to file splits
    Layout.zorderWrite(li,
      Layout.zvalue(col("l_partkey"), col("l_suppkey") * 16, 8), zdir, 8)
    // baseline: classic single-column sort layout
    li.repartitionByRange(8, col("l_partkey"))
      .sortWithinPartitions("l_partkey")
      .write.mode("overwrite").parquet(ldir)

    // files whose [min,max] stats intersect the filter — exactly the
    // files parquet row-group pruning cannot skip
    def intersecting(dir: String, c: String, lo: Long, hi: Long): Int =
      spark.read.parquet(dir)
        .groupBy(input_file_name().as("f"))
        .agg(min(col(c)).as("mn"), max(col(c)).as("mx"))
        .as[(String, Long, Long)].collect()
        .count { case (_, mn, mx) => mn <= hi && mx >= lo }

    val nFiles = spark.read.parquet(zdir).select(input_file_name()).distinct().count()
    assert(nFiles == 8)

    // partkey range (12.5% of the domain): both layouts prune (z-order
    // pays a small locality tax on the sorted dimension for 2-d
    // coverage)
    assert(intersecting(ldir, "l_partkey", 0, 24) <= 2)
    assert(intersecting(zdir, "l_partkey", 0, 24) <= 4)

    // suppkey range: the partkey-sorted layout cannot prune at all —
    // every file spans the whole suppkey domain; z-order still prunes
    val linSupp = intersecting(ldir, "l_suppkey", 0, 1)
    val zSupp = intersecting(zdir, "l_suppkey", 0, 1)
    assert(linSupp == 8)
    assert(zSupp < linSupp)
  }
}

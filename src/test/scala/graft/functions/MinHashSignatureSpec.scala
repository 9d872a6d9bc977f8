package graft.functions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class MinHashSignatureSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def sig(texts: Seq[String], k: Int = 16): Seq[Long] =
    Seq(Tuple1(texts)).toDF("a")
      .select(GraftFunctions.minhash_sig(col("a"), k).as("s"))
      .head.getSeq[Long](0)

  test("deterministic and order/multiplicity invariant (set semantics)") {
    val a = sig(Seq("x y z", "p q", "m"))
    assert(a == sig(Seq("m", "x y z", "p q")))
    assert(a == sig(Seq("m", "m", "x y z", "p q")))
    assert(a.size == 16)
  }

  test("identical sets share all bands; disjoint sets share none") {
    val a = sig(Seq("aa", "bb", "cc"))
    val b = sig(Seq("dd", "ee", "ff"))
    assert(a != b)
  }

  test("empty array yields MaxValue minima; nulls skipped") {
    assert(sig(Nil).forall(_ == Long.MaxValue))
    val withNull = Seq(Tuple1(Seq("x", null, "y")))
      .toDF("a").select(GraftFunctions.minhash_sig(col("a"), 8).as("s"))
      .head.getSeq[Long](0)
    assert(withNull == sig(Seq("x", "y"), 8))
  }

  test("interpreted eval agrees with codegen; SQL registration works") {
    GraftFunctions.register(spark)
    val viaSql = spark.sql("SELECT minhash_sig(array('x','y'), 8) AS s").head.getSeq[Long](0)
    assert(viaSql == sig(Seq("x", "y"), 8))
    // BIGINT literal arg must not ClassCastException
    val viaBigint = spark.sql("SELECT minhash_sig(array('x','y'), CAST(8 AS BIGINT)) AS s")
      .head.getSeq[Long](0)
    assert(viaBigint == viaSql)
  }

  test("similar sets agree on most signature positions (MinHash property)") {
    val a = sig((1 to 20).map(i => s"sh_$i"), 64)
    val b = sig((1 to 19).map(i => s"sh_$i") :+ "sh_other", 64)
    val agree = a.zip(b).count { case (x, y) => x == y }
    // expected agreement ~ jaccard (19/21) ~ 0.9; allow slack
    assert(agree >= 64 * 6 / 10, s"agreement $agree/64 too low")
  }
}

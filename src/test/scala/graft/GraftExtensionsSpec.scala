package graft

import org.apache.spark.sql.graftbridge.Bridge
import org.scalatest.funsuite.AnyFunSuite

/** The `spark.sql.extensions=graft.GraftExtensions` deployment path
  * must register every native expression (behavior of the expressions
  * themselves is covered by their own suites). */
class GraftExtensionsSpec extends AnyFunSuite {

  // the FULL per-session surface — the extensions path must never
  // drift from GraftFunctions.register (r7 review: the five portable
  // kernels plus sorted_intersect_count/dot_product/char_ngrams were
  // register-only, so a cluster configured with the extension could
  // not resolve functions five registered queries depend on)
  private val expected = Seq("cosine_sim", "dot_product", "minhash_sig",
    "word_shingles", "char_ngrams", "heavy_hitters", "topk_freq",
    "topk_by_score", "sorted_intersect_count", "md5_low60",
    "md5_minhash_sig", "md5_simhash_sig", "kmv_min_hashes",
    "bottomk_sample", "pair_ids", "pair_sized", "payload_windows",
    "sorted_xxhash64")

  test("injectFunction wires the full native-function surface into a registry") {
    val got = Bridge.extensionFunctionNames(new GraftExtensions, expected)
    assert(got == expected,
      s"missing from GraftExtensions: ${expected.diff(got).mkString(", ")}")
  }

  test("extension-built expressions evaluate (cosine_sim via builder)") {
    // the builder the extension registers must produce a working
    // expression tree, not just a name
    val names = Bridge.extensionFunctionNames(new GraftExtensions, Seq("cosine_sim"))
    assert(names.nonEmpty)
    val spark = TestSpark.spark
    graft.functions.GraftFunctions.register(spark)
    val r = spark.sql(
      "SELECT round(cosine_sim(array(1.0d, 2.0d), array(2.0d, 4.0d)), 6) AS c")
      .head.getDouble(0)
    assert(r == 1.0)
  }

  test("register creates a temp function for every table entry, each name once") {
    val names = graft.functions.GraftFunctions.sqlFunctions.map(_._1)
    assert(names.distinct == names, s"listed twice: ${names.diff(names.distinct)}")
    assert(names.sorted == expected.sorted)
    val spark = TestSpark.spark
    graft.functions.GraftFunctions.register(spark)
    val missing = names.filterNot(n => spark.sessionState.functionRegistry
      .functionExists(org.apache.spark.sql.catalyst.FunctionIdentifier(n)))
    assert(missing.isEmpty, s"not registered: ${missing.mkString(", ")}")
  }
}

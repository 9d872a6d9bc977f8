package graft.core

import scala.util.Random

import org.scalatest.funsuite.AnyFunSuite

class NamingSpec extends AnyFunSuite {

  test("stem: extension after last dot; leading dot kept (Rust file_stem)") {
    assert(Naming.stem("sales.parquet") == "sales")
    assert(Naming.stem("a.tar.gz") == "a.tar")
    assert(Naming.stem(".hidden") == ".hidden")
    assert(Naming.stem("noext") == "noext")
  }

  test("commonPrefix") {
    assert(Naming.commonPrefix(Seq("sales_2023", "sales_2024")) == "sales_202")
    assert(Naming.commonPrefix(Seq("abc", "xyz")) == "")
    assert(Naming.commonPrefix(Nil) == "")
  }

  test("commonSuffix") {
    assert(Naming.commonSuffix(Seq("q1_report", "q2_report")) == "_report")
  }

  test("commonSubstring: min length 3, needs >=2 letters, first-found of longest") {
    assert(Naming.commonSubstring(Seq("x_core_a", "b_core_y")).contains("_core_"))
    assert(Naming.commonSubstring(Seq("ab", "ab")).isEmpty)       // too short
    assert(Naming.commonSubstring(Seq("12345", "12345")).isEmpty) // <2 letters
  }

  test("generateBatchName ladder (fixture B8, main.rs:440-480)") {
    assert(Naming.generateBatchName(Seq("only"), 1) == "only")
    assert(Naming.generateBatchName(Seq("sales_2023", "sales_2024"), 1) == "sales")
    assert(Naming.generateBatchName(Seq("sales_2023", "sales_2023"), 1) == "sales_2023")
    assert(Naming.generateBatchName(Seq("q1_report", "q2_report"), 1) == "report")
    assert(Naming.generateBatchName(Seq("x_core_a", "b_core_y"), 1) == "_core_")
    assert(Naming.generateBatchName(Seq("ab", "cd"), 7) == "batch_7")
    assert(Naming.generateBatchName(Nil, 3) == "batch_3")
  }

  test("sanitizeFilename: non-alnum/_/-/. become _") {
    assert(Naming.sanitizeFilename("a b/c:d") == "a_b_c_d")
    assert(Naming.sanitizeFilename("ok_name-1.parquet") == "ok_name-1.parquet")
    // Unicode letters survive (Rust char::is_alphanumeric semantics)
    assert(Naming.sanitizeFilename("döc") == "döc")
  }

  // -- seeded property checks (offline cache lacks the scalatest/
  //    scalacheck bridge, so these are hand-rolled generators) --------

  private val rnd = new Random(42)
  private def randName(): String =
    rnd.alphanumeric.take(1 + rnd.nextInt(12)).mkString
  private def randString(): String =
    (0 until rnd.nextInt(16)).map(_ => (rnd.nextInt(0xFFFF) + 1).toChar).mkString

  test("property: generateBatchName is total and non-empty") {
    for (_ <- 1 to 500) {
      val names = Seq.fill(rnd.nextInt(5))(randName())
      assert(Naming.generateBatchName(names, rnd.nextInt(100)).nonEmpty)
    }
  }

  test("property: sanitize is idempotent") {
    for (_ <- 1 to 500) {
      val once = Naming.sanitizeFilename(randString())
      assert(Naming.sanitizeFilename(once) == once)
    }
  }

  test("property: commonPrefix is a prefix of every input; commonSuffix a suffix") {
    for (_ <- 1 to 500) {
      val names = (1 to (1 + rnd.nextInt(4))).map(_ => randName())
      val p = Naming.commonPrefix(names)
      assert(names.forall(_.startsWith(p)))
      val s = Naming.commonSuffix(names)
      assert(names.forall(_.endsWith(s)))
    }
  }
}

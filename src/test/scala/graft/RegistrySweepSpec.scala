package graft

import java.io.{ByteArrayOutputStream, PrintStream}

import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Pin

/** The registry sweep's per-query step: a failing build is recorded under
  * its own name without stopping the sweep, and the budget counters are
  * reset for every query. */
class RegistrySweepSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  test("a throwing builder is recorded under its name and the other queries still are") {
    val queries = Seq(
      QueryDef("zz_pinned", None, (s, _) => Pin.once(s.range(3).toDF("x"))),
      QueryDef("zz_boom", None, (_, _) => throw new IllegalStateException("kaput")),
      QueryDef("zz_plain", None, (s, _) => s.range(2).toDF("x")))
    val buf = new ByteArrayOutputStream()
    val err = System.err
    System.setErr(new PrintStream(buf, true))
    val out = try RegistrySweep.sweep(spark, "", queries).toMap finally System.setErr(err)
    assert(out.keySet == Set("zz_pinned", "zz_boom", "zz_plain"))
    assert(out("zz_boom") == Left("kaput"))
    assert(buf.toString.contains("[sweep] zz_boom failed: kaput"))
    val pinned = out("zz_pinned").toOption.get
    assert((pinned.pins, pinned.rows) == (1, 3L))
    assert(pinned.plan.contains("Range"))
    val plain = out("zz_plain").toOption.get
    assert((plain.pins, plain.rows) == (0, 2L), "the pin count is reset per query")
    spark.range(3).toDF("x").unpersist() // drops zz_pinned's cache entry
  }
}

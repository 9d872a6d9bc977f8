package graft

import java.io.{ByteArrayOutputStream, PrintStream}
import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.core.Scratch
import graft.ops.Pin

/** The registry sweep's per-query step: a failing build is recorded under
  * its own name without stopping the sweep, and what a query leaves
  * behind its `Runner.run` is recorded as its own. */
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
    assert((pinned.rows, pinned.leftoverRdds) == (3L, Nil), "the pin is released with the run")
    assert(pinned.plan.contains("Range"))
    val plain = out("zz_plain").toOption.get
    assert(plain.rows == 2L)
  }

  test("a bare cache and an unscoped dir are recorded as their query's leftovers") {
    val stray = Files.createTempDirectory("graft_sweep_stray_")
    val leaky = spark.range(4).toDF("y")
    try {
      val queries = Seq(
        QueryDef("zz_leaky", None, (_, _) => leaky.cache()),
        QueryDef("zz_stray", None, (s, _) => {
          Files.createDirectory(stray.resolveSibling(stray.getFileName.toString + "_x"))
          s.range(1).toDF("x")
        }),
        QueryDef("zz_scoped", None, (s, _) => {
          Scratch.dir("graft_sweep_scoped_")
          Pin.checkpointed(s.range(5).toDF("x"))
        }))
      val out = RegistrySweep.sweep(spark, "", queries).toMap.view.mapValues(_.toOption.get)
      assert(out("zz_leaky").leftoverRdds.size == 1)
      assert(out("zz_stray").leftoverDirs == Seq(stray.toString + "_x"))
      assert((out("zz_scoped").leftoverRdds, out("zz_scoped").leftoverDirs) == (Nil, Nil))
    } finally {
      leaky.unpersist()
      Files.deleteIfExists(stray.resolveSibling(stray.getFileName.toString + "_x"))
      Files.deleteIfExists(stray)
    }
  }
}

package graft.ops

import org.scalatest.funsuite.AnyFunSuite

import graft.{QueryDef, Runner, TestSpark}

/** Enforces the safety argument in [[Pin.checkpointed]]'s Scaladoc
  * (r11 VERDICT item 3 / ADVICE): the KeepCk=6 deque force-unpersists
  * the oldest checkpoint, and an evicted localCheckpoint CANNOT
  * recompute — its lineage is truncated — so the failure mode of an
  * over-deep query is a missing-block exception or a wrong empty
  * frame, not a slow recompute. The deque is therefore only safe
  * while every query keeps far fewer than KeepCk checkpoints live at
  * once. This spec measures the live high-water mark (created minus
  * released, tracked by block-holding RDD id) for every registered
  * query and pins it at KeepCk/2 = 3: a query at the bound still
  * cannot evict its own oldest live frame even if a SECOND query's
  * checkpoints are interleaved behind it in the deque.
  */
class CkBudgetSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  test("no query keeps more than KeepCk/2 = 3 localCheckpoints live at once") {
    val over = Runner.select(None).flatMap {
      case QueryDef(name, _, fn) =>
        Pin.resetBudget()
        // eager checkpoints (and loop-kernel create/release cycles)
        // run during plan construction
        fn(spark, sf)
        val n = Pin.maxCkLiveSinceReset
        if (n > 3) Some(s"$name held $n checkpoints live") else None
    }
    assert(over.isEmpty, s"queries exceeding the checkpoint budget: $over")
  }

  test("releaseCheckpoint lowers the live count (the high-water mark is real)") {
    Pin.resetBudget()
    val a = Pin.checkpointed(spark.range(5).toDF("x"))
    val b = Pin.checkpointed(spark.range(6).toDF("x"))
    assert(Pin.maxCkLiveSinceReset == 2)
    Pin.releaseCheckpoint(a)
    val c = Pin.checkpointed(spark.range(7).toDF("x"))
    // a was released before c was created: live never exceeded 2
    assert(Pin.maxCkLiveSinceReset == 2)
    Pin.releaseCheckpoint(b)
    Pin.releaseCheckpoint(c)
  }
}

package graft.ops

import org.scalatest.funsuite.AnyFunSuite

import graft.{QueryDef, Runner, TestSpark}

/** Enforces the sizing argument in [[Pin]]'s Scaladoc: `Keep` = 6 is
  * safe only while no single query pins more than `Keep` frames —
  * beyond that a pin could evict a sibling the same query still needs
  * (a recompute, and for float aggregates a potential ulp drift). The
  * r5 ADVICE flagged that this bound was asserted in a comment but
  * enforced nowhere; this spec pins it for every registered query.
  */
class PinBudgetSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  test("no query performs more than Keep=6 Pin.once calls") {
    val over = Runner.select(None).flatMap {
      case QueryDef(name, _, fn) =>
        Pin.resetBudget()
        fn(spark, sf) // pins happen during plan construction
        val n = Pin.pinsSinceReset
        if (n > 6) Some(s"$name pinned $n frames") else None
    }
    assert(over.isEmpty, s"queries exceeding the Pin budget: $over")
  }

  test("nondeterministic (localCheckpoint) pins do not count against the deque budget") {
    // r6 ADVICE: a checkpoint pin never enters the Keep-bounded deque,
    // so it cannot evict a sibling — counting it would fail a query
    // that is in fact eviction-safe.
    import org.apache.spark.sql.functions.rand
    Pin.resetBudget()
    Pin.once(spark.range(10).toDF("x").withColumn("r", rand()))
    assert(Pin.pinsSinceReset == 0)
    val p = Pin.once(spark.range(10).toDF("x"))
    assert(Pin.pinsSinceReset == 1)
    p.unpersist()
  }
}

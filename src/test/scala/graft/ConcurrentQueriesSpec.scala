package graft

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}

import org.scalatest.funsuite.AnyFunSuite

/** Two threads run registry queries through `Runner.run` on the one test
  * session at the same time. Each thread pins, checkpoints or writes a
  * scratch dir in its own query scope, and both read one per-SF fixture;
  * none of the queries changes the session conf. */
class ConcurrentQueriesSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private def byName(name: String): QueryDef = Runner.select(Some(s"^$name$$")).head

  private def answer(q: QueryDef): Seq[String] =
    Runner.run("concurrent", spark, RegistrySweep.sfDir, q)(_.collect().map(_.toString).sorted.toSeq)
      .fold(e => throw e, identity)

  test("two threads get their solo answers and leave no pin or scratch dir") {
    // dd06 pins, q35 and q50 write a scratch dir, dd05 checkpoints, and
    // dd17 (on both threads) reads the base LSH index fixture without pinning
    val threads = Seq(
      Seq("dd06_exact_jaccard", "q35_csv_roundtrip", "dd17_incremental_lsh"),
      Seq("dd05_dup_clusters", "dd17_incremental_lsh", "q50_orc_roundtrip"))
      .map(_.map(byName))
    val alone = threads.flatten.distinct.map(q => q.name -> answer(q)).toMap
    val (rdds, dirs) = (RegistrySweep.persistentRdds(spark), RegistrySweep.scratchDirs())
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(2)
    val together = try {
      val runs = threads.map(qs => pool.submit(() => {
        start.await()
        qs.map(q => q.name -> answer(q))
      }))
      start.countDown()
      runs.flatMap(_.get(10, TimeUnit.MINUTES))
    } finally pool.shutdown()
    assert(together.size == 6)
    together.foreach { case (name, rows) =>
      assert(rows == alone(name), s"$name differs from its solo answer")
    }
    assert(RegistrySweep.persistentRdds(spark) -- rdds == Set.empty)
    assert(RegistrySweep.scratchDirs() -- dirs == Set.empty)
  }
}

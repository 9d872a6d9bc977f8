package graft.core

import java.nio.file.{Files, Paths}
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

import graft.{RegistrySweep, TestSpark}
import graft.ops.Pin

/** [[QueryScope]]: what a query pins, checkpoints or stages is released
  * when the scope that made it closes, and fixtures outlive every scope. */
class QueryScopeSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private def isCheckpoint(df: DataFrame): Boolean =
    df.queryExecution.analyzed.collectFirst { case l: LogicalRDD => l }.isDefined

  private def persisted: Set[Int] = RegistrySweep.persistentRdds(spark)

  test("pins, checkpoints and dirs go when their scope closes, even on a throw") {
    spark // the session starts outside any scope
    for (throws <- Seq(false, true)) {
      val before = persisted
      var pin: DataFrame = null
      var dir = ""
      val body = () => QueryScope {
        pin = Pin.once(spark.range(50).toDF("x").filter(col("x") % 3 === 0))
        assert(pin.count() == 17)
        val ck = Pin.checkpointed(spark.range(20).toDF("x"))
        dir = Scratch.dir("graft_scope_spec_")
        Files.writeString(Paths.get(dir, "f"), "x")
        assert(pin.storageLevel != StorageLevel.NONE && isCheckpoint(ck))
        assert((persisted -- before).size == 2, "the pin's and the checkpoint's RDDs")
        if (throws) throw new IllegalStateException("boom")
      }
      if (throws) assert(intercept[IllegalStateException](body()).getMessage == "boom")
      else body()
      assert(pin.storageLevel == StorageLevel.NONE, s"throws=$throws")
      assert(persisted -- before == Set.empty, s"throws=$throws")
      assert(!Files.exists(Paths.get(dir)), s"throws=$throws")
    }
  }

  test("Pin.once: persist a deterministic plan, checkpoint a nondeterministic one") {
    QueryScope {
      val det = Pin.once(spark.range(10).toDF("x"))
      assert(det.storageLevel != StorageLevel.NONE && !isCheckpoint(det))
      val nondet = Pin.once(spark.range(10).toDF("x").withColumn("r", rand()))
      assert(nondet.storageLevel == StorageLevel.NONE && isCheckpoint(nondet))
    }
  }

  test("releaseCheckpoint frees a checkpoint at once, before its scope closes") {
    QueryScope {
      val before = persisted
      val a = Pin.checkpointed(spark.range(5).toDF("x"))
      val b = Pin.checkpointed(spark.range(6).toDF("x"))
      val ids = persisted -- before
      assert(ids.size == 2)
      Pin.releaseCheckpoint(a)
      assert((persisted -- before).size == 1)
      assert(b.count() == 6)
    }
  }

  test("a re-pin of an identical plan stays cached until its scope closes") {
    def plan = spark.range(1000).toDF("id").filter(col("id") % 7 === 1)
    val first = QueryScope {
      val p1 = Pin.once(plan)
      p1.count()
      Pin.once(plan).count() // a fresh Dataset with an equal plan
      (1 to 7).foreach(i => Pin.once(spark.range(100L + i).toDF("id")).count())
      assert(p1.storageLevel != StorageLevel.NONE, "the re-pinned plan was released early")
      p1
    }
    assert(first.storageLevel == StorageLevel.NONE)
  }

  test("a dir made on a thread started inside a scope belongs to that scope") {
    var dir = ""
    QueryScope {
      val t = new Thread(() => dir = Scratch.dir("graft_scope_thread_"))
      t.start()
      t.join()
      assert(Files.isDirectory(Paths.get(dir)))
    }
    assert(dir.nonEmpty && !Files.exists(Paths.get(dir)))
  }

  test("Scratch.fixture builds a key once and its dir outlives the scope") {
    val builds = new AtomicInteger(0)
    val start = new CountDownLatch(1)
    val key = s"scope_spec_fixture_${System.nanoTime()}"
    def get(): String = Scratch.fixture(key) { dir =>
      builds.incrementAndGet()
      Thread.sleep(200) // the other caller arrives while this one builds
      Scratch.dir("graft_scope_fixture_tmp_") // released when the build returns
      Files.writeString(Paths.get(dir, "data"), "built")
      dir
    }
    val pool = Executors.newFixedThreadPool(2)
    val dirs = try {
      val fs = (1 to 2).map(_ => pool.submit(() => { start.await(); QueryScope(get()) }))
      start.countDown()
      fs.map(_.get(1, TimeUnit.MINUTES))
    } finally pool.shutdown()
    assert(builds.get == 1)
    assert(dirs.distinct.size == 1)
    assert(Files.readString(Paths.get(dirs.head, "data")) == "built")
    assert(QueryScope(get()) == dirs.head && builds.get == 1)
  }

  test("no registered query leaves a persistent RDD or scratch dir behind") {
    val left = RegistrySweep.offenders { (_, f) =>
      f.leftoverRdds.map(id => s"persistent RDD $id") ++
        f.leftoverDirs.map(d => s"scratch dir $d")
    }
    assert(left.isEmpty, s"left behind: $left")
  }
}

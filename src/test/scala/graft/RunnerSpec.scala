package graft

import java.io.{ByteArrayOutputStream, PrintStream}

import org.scalatest.funsuite.AnyFunSuite

import graft.core.Session
import graft.core.SessionConf.withConf

/** The registry runner and the session contract it guards: selection
  * order and refusal, the contract check before a query is built, and
  * the failure report. Also the launch-setting parse every main uses.
  */
class RunnerSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private val sf = "" // no probe query here reads a table

  /** A query that records in `ran` when it is built. */
  private def probe(ran: collection.mutable.Buffer[String]) =
    QueryDef("zz_probe", None, (s, _) => { ran += "built"; s.range(1).toDF("x") })

  for ((key, broken) <- Seq(
      "spark.sql.session.timeZone" -> "America/New_York",
      "spark.sql.legacy.parquet.nanosAsLong" -> "false")) {
    test(s"run refuses a session with $key=$broken before building the query") {
      val ran = collection.mutable.Buffer.empty[String]
      val e = withConf(spark, key -> broken) {
        intercept[IllegalArgumentException] {
          Runner.run("t", spark, sf, probe(ran))(_ => ran += "consumed")
        }
      }
      assert(e.getMessage.contains("oracle contract"))
      assert(ran.isEmpty)
      // the restored session passes again
      assert(Runner.run("t", spark, sf, probe(ran))(Runner.force) == Right(1L))
      assert(ran == Seq("built"))
    }
  }

  test("select strips enclosing quotes and returns the st family in name order") {
    val st = Runner.select(Some("'^st'")).map(_.name)
    assert(st.size == 22)
    assert(st == SparkEntry.queries.keys.filter(_.startsWith("st")).toSeq.sorted)
  }

  test("select without a filter returns the whole registry in name order") {
    val all = Runner.select(None).map(_.name)
    assert(all == SparkEntry.queries.keys.toSeq.sorted)
  }

  test("select refuses a filter that matches nothing") {
    intercept[IllegalArgumentException](Runner.select(Some("^nomatch$")))
  }

  test("run returns Left and reports a builder that throws") {
    val boom = QueryDef("zz_boom", None, (_, _) => throw new IllegalStateException("kaput"))
    val buf = new ByteArrayOutputStream()
    val err = System.err
    System.setErr(new PrintStream(buf, true))
    val out = try Runner.run("tag", spark, sf, boom)(Runner.force) finally System.setErr(err)
    assert(out.left.exists(_.getMessage == "kaput"))
    assert(buf.toString.contains("[tag] zz_boom failed: kaput"))
  }

  test("launch settings parse as positive integers and name the variable otherwise") {
    assert(Session.positiveInt("SPARK_GRAFT_CPUS", None, 4) == 4)
    assert(Session.positiveInt("SPARK_GRAFT_CPUS", Some("8"), 4) == 8)
    for (bad <- Seq("0", "-2", "four", "", "2.5")) {
      val e = intercept[IllegalArgumentException](
        Session.positiveInt("SPARK_GRAFT_BENCH_RUNS", Some(bad), 3))
      assert(e.getMessage.contains("SPARK_GRAFT_BENCH_RUNS"), e.getMessage)
    }
  }

  test("the JIT headroom rule leaves two cores free from 16 cores up") {
    assert(Seq(4, 15, 16, 32).map(Session.withJitHeadroom) == Seq(4, 15, 14, 30))
  }
}

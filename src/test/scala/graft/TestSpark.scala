package graft

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.graftbridge.Bridge

import graft.core.{Scratch, Session}

/** One shared local session for all suites, and one scratch root per
  * test JVM under Scratch's fixture root, removed at JVM exit. */
object TestSpark {
  private lazy val root = Paths.get(Scratch.fixture("test_root")(identity))

  /** A fresh empty directory under this JVM's scratch root. */
  def tmpDir(prefix: String): Path = Files.createTempDirectory(root, prefix)

  lazy val spark: SparkSession = Session.local(4,
    "spark.app.name" -> "graft-test",
    "spark.sql.warehouse.dir" -> tmpDir("graft_warehouse_").toString)

  /** Runs `body` and returns what it gave with one entry per Spark job it
    * started: the command line of the SQL execution the job ran under
    * (e.g. "Execute InsertIntoHadoopFsRelationCommand ..."), or "" for a
    * job outside one. Jobs of other threads are not counted, except of
    * threads made while `body` runs: they inherit the Spark local
    * property that marks its jobs. */
  def jobsOf[T](body: => T): (T, Seq[String]) = {
    val tag   = java.util.UUID.randomUUID().toString
    val plans = new ConcurrentHashMap[Long, String]
    val jobs  = new ConcurrentLinkedQueue[Option[Long]]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties.getProperty("graft.test.jobs") == tag)
          jobs.add(Option(e.properties.getProperty("spark.sql.execution.id")).map(_.toLong))
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart =>
          plans.put(s.executionId, s.sparkPlanInfo.simpleString)
        case _ =>
      }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    sc.setLocalProperty("graft.test.jobs", tag)
    try {
      val out = body
      Bridge.drainListenerBus(spark)
      (out, jobs.asScala.toSeq.map(_.flatMap(id => Option(plans.get(id))).getOrElse("")))
    } finally {
      sc.setLocalProperty("graft.test.jobs", null)
      sc.removeSparkListener(listener)
    }
  }
}

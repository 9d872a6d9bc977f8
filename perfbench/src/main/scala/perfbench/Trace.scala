package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.FileSystem
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.{InsertIntoHadoopFsRelationCommand, LogicalRelation}
import org.apache.spark.sql.execution.datasources.csv.CSVFileFormat
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** One completed task, attributed to the layer that was current when
  * its stage's job started. */
final case class TaskRec(layer: String, execId: Option[Long], durationMs: Long, runMs: Long,
    cpuNs: Long, gcMs: Long, bytesRead: Long, bytesWritten: Long, spill: Long,
    shuffleRead: Long, shuffleWrite: Long)

/** One finished SQL execution: its kind (parquet write, csv write or
  * other), duration, planning time and file-scan leaves. */
final case class ExecRec(layer: String, id: Long, kind: String, durationS: Double, planS: Double,
    scanLeaves: Int)

/** A span of the benchmark's own code around one call into a layer. */
final case class Span(layer: String, name: String, startMs: Double, endMs: Double) {
  def seconds: Double = (endMs - startMs) / 1000.0
}

/** File-system activity: read operations (opens, status and listing
  * calls), opens of parquet files (each reads at least its footer) and
  * bytes read, summed over every thread (driver and the in-process
  * executors alike). */
final case class FsStats(readOps: Long, parquetOpens: Long, bytesRead: Long) {
  def -(o: FsStats): FsStats = FsStats(readOps - o.readOps, parquetOpens - o.parquetOpens, bytesRead - o.bytesRead)
  def +(o: FsStats): FsStats = FsStats(readOps + o.readOps, parquetOpens + o.parquetOpens, bytesRead + o.bytesRead)
}

object FsStats {
  val zero: FsStats = FsStats(0, 0, 0)

  def now(): FsStats = FsStats(
    FsCounters.opens.get + FsCounters.metadata.get,
    FsCounters.parquetOpens.get,
    FileSystem.getAllStatistics.asScala.filter(_.getScheme == "file").map(_.getBytesRead).sum)
}

/** Tracing registered from outside the program: a SparkListener for
  * jobs, stages, tasks and SQL executions (whose end event carries the
  * QueryExecution, with its planning phases and sink), and file-system
  * counters around each span. Events are attributed to the layer that is
  * current while they are processed; the listener bus is drained at the
  * end of every span, so no event crosses into the next one. */
final class Tracer(spark: SparkSession) extends SparkListener {
  @volatile private var current = "none"
  private val stageLayer = mutable.Map.empty[Int, (String, Option[Long])]
  val tasks      = mutable.ArrayBuffer.empty[TaskRec]
  val execs      = mutable.ArrayBuffer.empty[ExecRec]
  val spans      = mutable.ArrayBuffer.empty[Span]
  val fs         = mutable.Map.empty[String, FsStats].withDefaultValue(FsStats.zero)
  val jobs       = mutable.Map.empty[String, Int].withDefaultValue(0)
  val stages     = mutable.Map.empty[String, Int].withDefaultValue(0)
  /** (start, end) epoch ms of SQL executions and of jobs, per layer. */
  val sqlIntervals = mutable.Map.empty[String, mutable.ArrayBuffer[(Long, Long)]]
  val jobIntervals = mutable.Map.empty[String, mutable.ArrayBuffer[(Long, Long)]]
  private val openSql  = mutable.Map.empty[Long, Long]
  private val openJobs = mutable.Map.empty[Int, Long]
  /** Time spent inside this tracer's own callbacks, and draining. */
  @volatile var selfNs  = 0L
  @volatile var drainNs = 0L

  private def timed[T](body: => T): T = {
    val t0 = System.nanoTime()
    try body finally selfNs += System.nanoTime() - t0
  }

  def attach(): Unit = spark.sparkContext.addSparkListener(this)

  def detach(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(this)
  }

  def drain(): Unit = org.apache.spark.perfbench.ListenerBus.drain(spark.sparkContext)

  /** Runs `body` as a span of `layer`, sampling FS statistics around it. */
  def span[T](layer: String, name: String)(body: => T): T = {
    current = layer
    val fs0 = FsStats.now()
    val t0  = System.nanoTime() / 1e6
    val w0  = System.currentTimeMillis().toDouble
    try body
    finally {
      val t1 = System.nanoTime() / 1e6
      fs(name) = fs(name) + (FsStats.now() - fs0)
      spans += Span(layer, name, w0, w0 + (t1 - t0))
      val d0 = System.nanoTime()
      drain()
      drainNs += System.nanoTime() - d0
      current = "none"
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = timed {
    val exec = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .map(_.toLong)
    e.stageIds.foreach(s => stageLayer(s) = (current, exec))
    jobs(current) += 1
    openJobs(e.jobId) = e.time
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
    openJobs.remove(e.jobId).foreach { t0 =>
      jobIntervals.getOrElseUpdate(current, mutable.ArrayBuffer.empty) += ((t0, e.time))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = timed {
    stages(stageLayer.get(e.stageInfo.stageId).map(_._1).getOrElse(current)) += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
    val m = e.taskMetrics
    if (m != null) {
      val (layer, exec) = stageLayer.getOrElse(e.stageId, (current, None))
      tasks += TaskRec(layer, exec, e.taskInfo.duration, m.executorRunTime, m.executorCpuTime,
        m.jvmGCTime, m.inputMetrics.bytesRead, m.outputMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled,
        m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten)
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = timed {
    e match {
      case s: SparkListenerSQLExecutionStart => openSql(s.executionId) = s.time
      case s: SparkListenerSQLExecutionEnd =>
        openSql.remove(s.executionId).foreach { t0 =>
          sqlIntervals.getOrElseUpdate(current, mutable.ArrayBuffer.empty) += ((t0, s.time))
          org.apache.spark.sql.perfbench.ExecutionEnd.queryExecution(s).foreach { qe =>
            execs += Tracer.execRec(current, s.executionId, qe, (s.time - t0) / 1000.0)
          }
        }
      case _ =>
    }
  }

  def spanSeconds(name: String): Double = spans.filter(_.name == name).map(_.seconds).sum
}

object Tracer {
  /** Analysis + optimization + planning seconds recorded by `qe`. */
  def planSeconds(qe: QueryExecution): Double =
    qe.tracker.phases.iterator
      .collect { case (p, s) if p != "execution" => s.durationMs }
      .sum / 1000.0

  def execRec(layer: String, id: Long, qe: QueryExecution, seconds: Double): ExecRec = {
    val write = qe.analyzed.collectFirst { case c: InsertIntoHadoopFsRelationCommand => c }
    val kind = write.map(_.fileFormat) match {
      case Some(_: ParquetFileFormat) => "parquet_write"
      case Some(_: CSVFileFormat)     => "csv_write"
      case _                          => "other"
    }
    val leaves = write.map(_.query.collectLeaves().count(_.isInstanceOf[LogicalRelation])).getOrElse(0)
    ExecRec(layer, id, kind, seconds, planSeconds(qe), leaves)
  }

  /** Length of the union of `intervals` clipped to [lo, hi]. */
  def covered(intervals: Seq[(Long, Long)], lo: Double, hi: Double): Double = {
    val clipped = intervals.map { case (a, b) => (math.max(a.toDouble, lo), math.min(b.toDouble, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0
    var end   = Double.NegativeInfinity
    var start = 0.0
    clipped.foreach { case (a, b) =>
      if (a > end) { if (end > Double.NegativeInfinity) total += end - start; start = a; end = b }
      else end = math.max(end, b)
    }
    if (end > Double.NegativeInfinity) total += end - start
    total
  }
}

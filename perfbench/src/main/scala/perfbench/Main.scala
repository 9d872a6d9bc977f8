package perfbench

import java.io.File
import java.lang.management.{ManagementFactory, MemoryType}
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.sql.SparkSession

/** Command line of one benchmark process. `t0Ms` is the wall-clock
  * epoch (ms) at which the launcher started this JVM. */
final case class Args(
    mode: String = "run",
    workload: String = "",
    seed: Long = 1,
    seconds: Double = 10,
    trace: Boolean = false,
    work: File = new File("."),
    benchDir: File = new File("."),
    cores: Int = 1,
    t0Ms: Double = 0)

object Args {
  def parse(args: Array[String]): Args = {
    @annotation.tailrec
    def go(rest: List[String], a: Args): Args = rest match {
      case Nil                            => a
      case "--setup-probe" :: t           => go(t, a.copy(mode = "setup-probe"))
      case "--selftest" :: t              => go(t, a.copy(mode = "selftest"))
      case "--record-hashes" :: t         => go(t, a.copy(mode = "record-hashes"))
      case "--workload" :: v :: t         => go(t, a.copy(workload = v))
      case "--seed" :: v :: t             => go(t, a.copy(seed = v.toLong))
      case "--seconds" :: v :: t          => go(t, a.copy(seconds = v.toDouble))
      case "--trace" :: v :: t            => go(t, a.copy(trace = v == "1"))
      case "--work" :: v :: t             => go(t, a.copy(work = new File(v)))
      case "--bench-dir" :: v :: t        => go(t, a.copy(benchDir = new File(v)))
      case "--cores" :: v :: t            => go(t, a.copy(cores = v.toInt))
      case "--t0-ms" :: v :: t            => go(t, a.copy(t0Ms = v.toDouble))
      case other :: _                     => throw new IllegalArgumentException(s"unknown argument $other")
    }
    go(args.toList, Args())
  }
}

/** Peak heap occupancy right after a garbage collection, over a window. */
object Heap {
  @volatile private var peak = 0L
  private val heapPools =
    ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP).map(_.getName).toSet

  def install(): Unit = ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter =>
      e.addNotificationListener(new NotificationListener {
        def handleNotification(n: Notification, hb: Any): Unit =
          if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
            val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
            val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
              .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
            synchronized { peak = math.max(peak, used) }
          }
      }, null, null)
    case _ =>
  }

  def reset(): Unit = synchronized { peak = 0L }

  /** Ends the window with a full collection, so a window without any
    * collection still reports the live heap at its end. */
  def peakMiB(): Double = {
    System.gc()
    Thread.sleep(50) // notifications are delivered asynchronously
    val p: Long = synchronized(peak)
    p / (1024.0 * 1024.0)
  }
}

/** Metrics of one run, by name, with units. */
final class Metrics {
  val values = mutable.LinkedHashMap.empty[String, (Double, String)]
  def update(name: String, unit: String, v: Double): Unit = values(name) = (v, unit)
  def json: String = values.map { case (n, (v, u)) =>
    val num = if (v.isNaN || v.isInfinite) "0" else BigDecimal(v).bigDecimal.toPlainString
    s""""$n":{"value":$num,"unit":"$u"}"""
  }.mkString("{", ",", "}")
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile of `xs`. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else {
      val pos = q * (s.size - 1)
      val lo  = math.floor(pos).toInt
      val hi  = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }

  /** Per-metric median over several maps with the same keys. */
  def medianOf(ms: Seq[Metrics]): Metrics = {
    val out = new Metrics
    ms.headOption.foreach(_.values.foreach { case (k, (_, u)) =>
      out(k, u) = median(ms.map(_.values(k)._1))
    })
    out
  }
}

/** Outcome of one workload run: attempted and failed units plus metrics. */
final case class RunResult(attempted: Int, failed: Int, metrics: Metrics, notes: Seq[String])

object Main {

  def session(a: Args): SparkSession = {
    val tmp = new File(a.work, "tmp")
    tmp.mkdirs()
    val builder = SparkSession.builder()
    if (a.trace) builder.config("spark.hadoop.fs.file.impl", classOf[CountingLocalFileSystem].getName)
    val spark = builder
      .master(s"local[${a.cores}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", a.cores.toLong)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      // events.ts may be parquet TIMESTAMP(NANOS): read as Long, ops convert
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.local.dir", new File(tmp, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(tmp, "warehouse").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def main(args: Array[String]): Unit = {
    val a = Args.parse(args)
    Heap.install()
    val spark   = session(a)
    val setupS  = (System.currentTimeMillis().toDouble - a.t0Ms) / 1000.0
    val exit = try {
      a.mode match {
        case "setup-probe" =>
          println(f"PERFBENCH_SETUP $setupS%.6f")
          0
        case "selftest" => SelfTest.run(spark, a)
        case "record-hashes" => RegistryWorkload.record(spark, a)
        case _ =>
          val r = a.workload match {
            case "merge_many_files"  => MergeWorkload.run(spark, a)
            case "registry_headline" => RegistryWorkload.run(spark, a)
            case w => throw new IllegalArgumentException(s"unknown workload $w")
          }
          if (a.trace) r.metrics("session.start_s", "s") = setupS
          r.notes.foreach(n => System.err.println(s"[perfbench] $n"))
          println(s"""PERFBENCH_RESULT {"attempted":${r.attempted},"failed":${r.failed},""" +
            f""""setup_s":$setupS%.6f,"metrics":${r.metrics.json}}""")
          0
      }
    } finally spark.stop()
    sys.exit(exit)
  }
}

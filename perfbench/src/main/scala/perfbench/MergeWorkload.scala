package perfbench

import java.io.File

import org.apache.spark.sql.SparkSession

import graft.core.{Discovery, MergeJob, MergeJobs, MergeResult}

/** The merge tool's own sequence, called through its public entry
  * points: scanFolders → smartBatch → buildJob per batch → runAll. */
object MergeWorkload {

  /** Nominal length of one warm pass over the merge_many_files fixture
    * on a 4-core box with two task slots; `--seconds` is divided by it
    * to get the number of measured passes. */
  val PassSeconds = 4.0

  /** Passes that only warm the JVM up: pass times keep falling for
    * several passes while the JIT compiles the probe and write paths. */
  val WarmUpPasses = 2

  final case class Pass(wall: Double, outcomes: Seq[Either[(MergeJob, String), MergeResult]],
      files: Int, batches: Int)

  /** One timed pass into the empty output root `out`. With a tracer,
    * each call is wrapped in a span of its layer. */
  def pass(spark: SparkSession, fx: MergeFixture, out: File, t: Option[Tracer]): Pass = {
    def in[T](layer: String, name: String)(body: => T): T = t.fold(body)(_.span(layer, name)(body))
    val t0 = System.nanoTime()
    val files = in("discovery", "scan")(Discovery.scanFolders(spark, Seq(fx.root)))
    val (batches, _) = in("discovery", "smart_batch")(Discovery.smartBatch(files))
    val jobs = in("mergejobs", "build") {
      batches.zipWithIndex.map { case ((_, fs), i) => MergeJobs.buildJob(spark, fs, i + 1) }
    }
    val (outcomes, _) = in("merge", "run_all") {
      MergeJobs.runAll(spark, jobs, out.getAbsolutePath, exportCsv = true)
    }
    Pass((System.nanoTime() - t0) / 1e9, outcomes, files.size, batches.size)
  }

  def run(spark: SparkSession, a: Args): RunResult = {
    val fx = MergeFixtures.load(spark, MergeFixtures.manyFiles, a.seed,
      new File(a.work, s"fixtures/${a.workload}/seed-${a.seed}"))
    val outs     = new File(a.work, "out")
    var attempted, failed = 0
    val notes    = Seq.newBuilder[String]
    val untraced = Seq.newBuilder[(Double, Double, Double)] // wall, heap MiB, out/in bytes
    val traced   = Seq.newBuilder[(Double, Metrics)]
    // Warm-up passes first. A fixed number of measured passes follows,
    // one per `PassSeconds` of the requested time and at least two, so
    // that a run does the same work however fast it goes. With --trace 1
    // they alternate traced / untraced on the same warm JVM.
    val passes = WarmUpPasses + math.max(2, math.round(a.seconds / PassSeconds).toInt)
    for (i <- 0 until passes) {
      val warmUp  = i < WarmUpPasses
      val tracing = a.trace && !warmUp && (i - WarmUpPasses) % 2 == 0
      // a fresh, empty output root per pass, made and removed untimed
      val out = new File(outs, s"pass-$i")
      IO.deleteTree(out)
      out.mkdirs()
      System.gc()
      val tracer = if (tracing) Some(new Tracer(spark)) else None
      tracer.foreach(_.attach())
      Heap.reset()
      val p    = pass(spark, fx, out, tracer)
      val heap = Heap.peakMiB()
      tracer.foreach(_.detach())
      val bad = Gate.checkMerge(spark, fx, p.outcomes, out)
      attempted += fx.batches.size
      failed += math.min(fx.batches.size, bad.size)
      bad.foreach(b => notes += s"pass $i: $b")
      val merged = Option(new File(out, "merged").listFiles()).getOrElse(Array.empty[File])
        .filter(_.getName.endsWith(".parquet")).map(_.length).sum
      val ratio  = merged.toDouble / fx.inputBytes
      tracer match {
        case Some(t) => traced += ((p.wall, layerMetrics(t, p, a.cores)))
        case None    => if (!warmUp) untraced += ((p.wall, heap, ratio))
      }
      notes += f"pass $i wall=${p.wall}%.3f s heap=$heap%.0f MiB traced=$tracing"
      IO.deleteTree(out)
    }
    IO.deleteTree(outs)
    val u = untraced.result()
    val m = new Metrics
    if (!a.trace) {
      val wall = Stats.median(u.map(_._1))
      m("wall_s", "s") = wall
      m("rows_per_s", "rows/s") = fx.inputRows / wall
    } else {
      m("heap_peak_mb", "MiB") = Stats.median(u.map(_._2))
      val tr = traced.result()
      m.values ++= Stats.medianOf(tr.map(_._2)).values
      m("merge.out_in_bytes_ratio", "1") = Stats.median(u.map(_._3))
      m("trace.overhead_s", "s") = Stats.median(tr.map(_._1)) - Stats.median(u.map(_._1))
    }
    RunResult(attempted, failed, m, notes.result())
  }

  /** Per-layer metrics of one traced pass. */
  def layerMetrics(t: Tracer, p: Pass, cores: Int): Metrics = {
    val m = new Metrics
    m("discovery.scan_s", "s") = t.spanSeconds("scan")
    m("discovery.files", "count") = p.files
    m("discovery.fs_read_ops", "count") = t.fs("scan").readOps
    m("discovery.smart_batch_s", "s") = t.spanSeconds("smart_batch")
    m("discovery.batches", "count") = p.batches
    m("mergejobs.build_s", "s") = t.spanSeconds("build")
    m("mergejobs.footer_reads", "count") = t.fs("build").parquetOpens
    m("mergejobs.footer_reads_per_file", "1") = t.fs("build").parquetOpens.toDouble / math.max(1, p.files)
    m("mergejobs.bytes_read", "B") = t.fs("build").bytesRead
    val runAll = t.spans.find(_.name == "run_all").get
    val sqlCovered = Tracer.covered(t.sqlIntervals.getOrElse("merge", Nil).toSeq, runAll.startMs,
      runAll.endMs) / 1000.0
    val execs = t.execs.filter(_.layer == "merge")
    val tasks = t.tasks.filter(_.layer == "merge")
    val writeIds = execs.filter(_.kind == "parquet_write").map(_.id).toSet
    val writeTasks = tasks.filter(_.execId.exists(writeIds))
    m("merge.driver_s", "s") = runAll.seconds - sqlCovered
    m("merge.driver_fs_read_ops", "count") = t.fs("run_all").readOps
    m("merge.plan_s", "s") = execs.map(_.planS).sum
    m("merge.scan_leaves", "count") = execs.filter(_.kind == "parquet_write").map(_.scanLeaves).sum
    m("merge.write_s", "s") = execs.filter(_.kind == "parquet_write").map(_.durationS).sum
    m("merge.write_tasks", "count") = writeTasks.size
    m("merge.write_task_max_s", "s") = (writeTasks.map(_.durationMs) :+ 0L).max / 1000.0
    m("merge.csv_s", "s") = execs.filter(_.kind == "csv_write").map(_.durationS).sum
    m("merge.count_s", "s") = execs.filter(_.kind == "other").map(_.durationS).sum
    m("merge.core_busy_ratio", "1") = tasks.map(_.runMs).sum / 1000.0 / (runAll.seconds * cores)
    m("merge.jobs", "count") = t.jobs("merge")
    m("merge.stages", "count") = t.stages("merge")
    m("merge.executor_run_s", "s") = tasks.map(_.runMs).sum / 1000.0
    m("merge.executor_cpu_s", "s") = tasks.map(_.cpuNs).sum / 1e9
    m("merge.gc_s", "s") = tasks.map(_.gcMs).sum / 1000.0
    m("merge.bytes_read", "B") = tasks.map(_.bytesRead).sum
    m("merge.bytes_written", "B") = tasks.map(_.bytesWritten).sum
    m("merge.spill_bytes", "B") = tasks.map(_.spill).sum
    m
  }
}

package perfbench

import java.io.File
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.SparkEntry

/** The registry's headline queries, each run once per process, cold, in
  * a seed-permuted order, forced through `queryExecution.toRdd` with the
  * result hash folded into that one pass. */
object RegistryWorkload {

  /** Frozen copy of the 37-query headline list of `graft.Bench`. */
  val headline: Seq[String] = Seq(
    "q01_pricing_summary", "q03_segment_revenue", "q04_region_customers",
    "q08_window_topk", "q25_salted_join", "q37_multiset_ops",
    "q39_json_roundtrip", "dd01_exact_dedup", "dd02_minhash_lsh",
    "dd05_dup_clusters", "dd06_exact_jaccard", "ev01_hourly_counts",
    "ev03_sessionize", "ev06_asof_join", "ev08_funnel",
    "tx02_token_counts", "tx04_lang_id", "tx09_tfidf", "tx14_containment",
    "vs01_topk_bruteforce", "vs02_ivf_topk", "vs03_embed_neardup",
    "sp02_stratified_sample", "rj01_range_join", "mm04_batch_inference",
    "pp01_training_pipeline", "pp02_llm_corpus_pipeline",
    "st03_stream_interval_join", "q62_recursive_cte", "dd16_cdc_chunks",
    "vs22_hamming_rerank", "vs09_pq_codes", "vs10_mutual_knn", "dd03_simhash",
    "sp12_shuffled_shards", "q49_winsorize", "dd15_threshold_sweep")

  val families: Seq[String] = Seq("q", "dd", "ev", "tx", "vs", "sp", "rj", "mm", "pp", "st")

  def family(name: String): String = name.takeWhile(_.isLetter)

  def expectedFile(a: Args): File = new File(a.benchDir, "expected/registry_hashes.json")

  final case class QueryRun(name: String, seconds: Double, rows: Long, hash: String,
      error: Option[String], planS: Double)

  /** Absorbs one-time engine start costs (codegen, parquet reader, JIT)
    * with plain scans, aggregates, a window and a higher-order function,
    * running none of the headline queries. */
  def warmUp(spark: SparkSession, dir: String): Unit = {
    val li = spark.read.parquet(s"$dir/lineitem.parquet").select("l_orderkey", "l_quantity", "l_returnflag")
    li.groupBy("l_returnflag").agg(sum("l_quantity")).queryExecution.toRdd.count()
    li.withColumn("rn", row_number().over(Window.partitionBy("l_returnflag").orderBy("l_orderkey")))
      .filter(col("rn") === 1).queryExecution.toRdd.count()
    spark.range(100).select(aggregate(transform(sequence(lit(1), lit(5)), x => x * col("id")),
      lit(0L), (acc, x) => acc + x).as("s")).queryExecution.toRdd.count()
  }

  def runOne(spark: SparkSession, dir: String, name: String, t: Option[Tracer]): QueryRun = {
    val fn = SparkEntry.queries(name)
    def body = {
      val df = fn(spark, dir)
      val (n, h) = Gate.forceAndHash(df)
      (n, h, Tracer.planSeconds(df.queryExecution))
    }
    val t0 = System.nanoTime()
    try {
      val (n, h, plan) = t.fold(body)(_.span("registry", name)(body))
      QueryRun(name, (System.nanoTime() - t0) / 1e9, n, h, None, plan)
    } catch {
      case e: Throwable =>
        QueryRun(name, (System.nanoTime() - t0) / 1e9, 0, "", Some(String.valueOf(e.getMessage)), 0)
    }
  }

  def run(spark: SparkSession, a: Args): RunResult = {
    val dir      = RegistryFixtures.load(spark, new File(a.work, s"registry-${RegistryFixtures.version}"))
    val expected = readExpected(expectedFile(a))
    warmUp(spark, dir)
    val order  = new scala.util.Random(a.seed).shuffle(headline)
    val tracer = if (a.trace) Some(new Tracer(spark)) else None
    tracer.foreach(_.attach())
    System.gc()
    Heap.reset()
    val t0   = System.nanoTime()
    val runs = order.map(runOne(spark, dir, _, tracer))
    val wall = (System.nanoTime() - t0) / 1e9
    val heap = Heap.peakMiB()
    tracer.foreach(_.detach())
    val bad = runs.flatMap { r =>
      r.error.map(e => s"${r.name}: failed: $e").orElse(expected.get(r.name) match {
        case None                                => Some(s"${r.name}: no expected hash")
        case Some(h) if h != r.hash              => Some(s"${r.name}: hash ${r.hash} != expected $h")
        case _                                   => None
      })
    }
    val notes = runs.map(r => f"${r.name}%-28s ${r.seconds}%.3f s rows=${r.rows}") ++ bad
    val m = new Metrics
    tracer match {
      case None =>
        m("wall_s", "s") = wall
        m("rows_per_s", "rows/s") = runs.map(_.rows).sum / wall
      case Some(t) =>
        layerMetrics(t, runs, a.cores, m)
        m("heap_peak_mb", "MiB") = heap
    }
    RunResult(runs.size, bad.size, m, notes)
  }

  def layerMetrics(t: Tracer, runs: Seq[QueryRun], cores: Int, m: Metrics): Unit = {
    val spans  = t.spans.filter(_.layer == "registry")
    val jobsIv = t.jobIntervals.getOrElse("registry", Nil).toSeq
    val exec   = spans.map(s => Tracer.covered(jobsIv, s.startMs, s.endMs) / 1000.0).sum
    val total  = spans.map(_.seconds).sum
    val tasks  = t.tasks.filter(_.layer == "registry")
    val secs   = runs.map(_.seconds)
    m("registry.query_p50_s", "s") = Stats.median(secs)
    // with 37 samples, 11 lie beyond p70: the highest whole-ten
    // percentile with at least ten samples beyond it
    m("registry.query_p70_s", "s") = Stats.quantile(secs, 0.70)
    m("registry.plan_s", "s") = runs.map(_.planS).sum + t.execs.filter(_.layer == "registry").map(_.planS).sum
    m("registry.driver_s", "s") = total - exec
    families.foreach { f =>
      m(s"registry.${f}_s", "s") = spans.filter(s => family(s.name) == f).map(_.seconds).sum
    }
    m("registry.exec_s", "s") = exec
    m("registry.jobs", "count") = t.jobs("registry")
    m("registry.stages", "count") = t.stages("registry")
    m("registry.tasks", "count") = tasks.size
    m("registry.shuffle_read_bytes", "B") = tasks.map(_.shuffleRead).sum
    m("registry.shuffle_write_bytes", "B") = tasks.map(_.shuffleWrite).sum
    m("registry.spill_bytes", "B") = tasks.map(_.spill).sum
    m("registry.gc_s", "s") = tasks.map(_.gcMs).sum / 1000.0
    m("registry.executor_run_s", "s") = tasks.map(_.runMs).sum / 1000.0
    m("registry.core_busy_ratio", "1") = tasks.map(_.runMs).sum / 1000.0 / (total * cores)
    m("trace.overhead_s", "s") = (t.selfNs + t.drainNs) / 1e9
  }

  def readExpected(f: File): Map[String, String] =
    if (!f.isFile) Map.empty
    else new ObjectMapper().readTree(f).fields().asScala.map(e => e.getKey -> e.getValue.get("hash").asText).toMap

  /** Runs every headline query once, in name order, writes their result
    * hashes as the expected ones, and prints the tables' directory (for a
    * cross-check of the same queries against DuckDB). */
  def record(spark: SparkSession, a: Args): Int = {
    val dir = RegistryFixtures.load(spark, new File(a.work, s"registry-${RegistryFixtures.version}"))
    println(s"registry tables: $dir")
    val runs = headline.sorted.map(runOne(spark, dir, _, None))
    runs.filter(_.error.nonEmpty).foreach(r => System.err.println(s"[perfbench] ${r.name} failed: ${r.error.get}"))
    val m = new ObjectMapper().createObjectNode()
    runs.filter(_.error.isEmpty).foreach { r =>
      val o = m.putObject(r.name); o.put("rows", r.rows); o.put("hash", r.hash)
    }
    val f = expectedFile(a)
    f.getParentFile.mkdirs()
    Files.writeString(f.toPath, new ObjectMapper().writerWithDefaultPrettyPrinter().writeValueAsString(m) + "\n")
    runs.foreach(r => System.err.println(f"[perfbench] ${r.name}%-28s rows=${r.rows} ${r.hash}"))
    if (runs.exists(_.error.nonEmpty)) 1 else 0
  }
}

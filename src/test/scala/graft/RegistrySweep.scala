package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.ops.PlanAudit

/** What the registry-wide tests check about one query, all from ONE
  * build: the plan is read before any action on the frame, the row
  * count after it, and what outlived the query's `Runner.run` after
  * that returned. */
final case class QueryFacts(
    plan: String,
    unpartitionedWindows: Seq[String],
    fullWidthScans: Seq[String],
    rows: Long,
    leftoverRdds: Seq[Int] = Nil,
    leftoverDirs: Seq[String] = Nil)

/** Builds every registered query once per test JVM and records the facts
  * the registry-wide tests of PlanQualitySpec, OpsSpec and
  * QueryScopeSpec check. A new registry-wide invariant adds a fact here
  * instead of another loop over the registry. */
object RegistrySweep {

  private val sf = "/root/testdata/sf0.001"

  /** The scale-factor dir every registry-wide test builds at. */
  def sfDir: String = sf

  /** Column count of each wide table whose full-width scan the
    * column-pruning test rejects. */
  private val tableWidths = Map("customer" -> 5, "part" -> 6, "orders" -> 6,
    "lineitem" -> 11, "events" -> 6, "documents" -> 5)

  /** Each query's facts, or the message of its failure, in `queries`'
    * order. A failure also prints Runner's `[sweep] name failed` line. */
  def sweep(spark: SparkSession, sfDir: String, queries: Seq[QueryDef])
      : Seq[(String, Either[String, QueryFacts])] =
    queries.map { q =>
      val (rdds, dirs) = (persistentRdds(spark), scratchDirs())
      q.name -> Runner.run("sweep", spark, sfDir, q) { df =>
        val plan = df.queryExecution.executedPlan.treeString
        val windows = PlanAudit.unpartitionedWindows(df)
        val scans = PlanAudit.fullWidthScans(df, tableWidths)
        QueryFacts(plan, windows, scans, df.count())
      }.map(_.copy(
        leftoverRdds = (persistentRdds(spark) -- rdds).toSeq.sorted,
        leftoverDirs = (scratchDirs() -- dirs).toSeq.sorted))
        .left.map(e => String.valueOf(e.getMessage))
    }

  /** The ids of the RDDs `spark` holds persisted or checkpointed. */
  def persistentRdds(spark: SparkSession): Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** The `graft_*` entries of java.io.tmpdir and /dev/shm, except the
    * per-JVM fixture roots. */
  def scratchDirs(): Set[String] =
    Seq(System.getProperty("java.io.tmpdir"), "/dev/shm").map(Paths.get(_))
      .filter(Files.isDirectory(_)).flatMap { root =>
        val s = Files.list(root)
        try s.iterator.asScala.map(_.toString).toList finally s.close()
      }.filter { p =>
        val name = Paths.get(p).getFileName.toString
        name.startsWith("graft_") && !name.startsWith("graft_fixtures_")
      }.toSet

  /** The whole registry at sf0.001 on the shared test session. */
  lazy val registry: Seq[(String, Either[String, QueryFacts])] =
    sweep(TestSpark.spark, sf, Runner.select(None))

  /** `find`'s findings over the registry as `name: finding` lines, plus
    * one `name: failed: message` line per query whose build or count
    * threw. */
  def offenders(find: (String, QueryFacts) => Iterable[String]): Seq[String] =
    registry.flatMap {
      case (name, Left(msg)) => Seq(s"$name: failed: $msg")
      case (name, Right(facts)) => find(name, facts).map(f => s"$name: $f")
    }
}

package graft

import org.apache.spark.sql.SparkSession

import graft.ops.{Pin, PlanAudit}

/** What the registry-wide tests check about one query, all from ONE
  * build: the Pin budget counters and the plan are read before any
  * action on the frame, the row count after them. */
final case class QueryFacts(
    pins: Int,
    maxCkLive: Int,
    plan: String,
    unpartitionedWindows: Seq[String],
    fullWidthScans: Seq[String],
    rows: Long)

/** Builds every registered query once per test JVM and records the facts
  * the registry-wide tests of PlanQualitySpec, OpsSpec, PinBudgetSpec
  * and CkBudgetSpec check. A new registry-wide invariant adds a fact
  * here instead of another loop over the registry. */
object RegistrySweep {

  private val sf = "/root/testdata/sf0.001"

  /** Column count of each wide table whose full-width scan the
    * column-pruning test rejects. */
  private val tableWidths = Map("customer" -> 5, "part" -> 6, "orders" -> 6,
    "lineitem" -> 11, "events" -> 6, "documents" -> 5)

  /** Each query's facts, or the message of its failure, in `queries`'
    * order. A failure also prints Runner's `[sweep] name failed` line. */
  def sweep(spark: SparkSession, sfDir: String, queries: Seq[QueryDef])
      : Seq[(String, Either[String, QueryFacts])] =
    queries.map { q =>
      Pin.resetBudget()
      q.name -> Runner.run("sweep", spark, sfDir, q) { df =>
        val pins = Pin.pinsSinceReset
        val ckLive = Pin.maxCkLiveSinceReset
        val plan = df.queryExecution.executedPlan.treeString
        val windows = PlanAudit.unpartitionedWindows(df)
        val scans = PlanAudit.fullWidthScans(df, tableWidths)
        QueryFacts(pins, ckLive, plan, windows, scans, df.count())
      }.left.map(e => String.valueOf(e.getMessage))
    }

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

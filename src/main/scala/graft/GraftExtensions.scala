package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

import graft.functions.GraftFunctions

/** Cluster deployment entry point: registers the engine's native
  * Catalyst expressions into every session created on a cluster
  * configured with
  *
  * {{{
  * spark.sql.extensions=graft.GraftExtensions
  * }}}
  *
  * This is the idiomatic way to ship custom expressions to a real
  * multi-tenant cluster — no per-session `register(spark)` call, SQL
  * and `expr("...")` users get the functions everywhere (thriftserver,
  * notebooks, spark-submit). The per-session
  * [[graft.functions.GraftFunctions.register]] remains for embedded /
  * library use; both inject the same
  * [[graft.functions.GraftFunctions.sqlFunctions]] table. (The
  * reference `shanytc/parquet-merger` has no function surface at all —
  * `src/main.rs` — this belongs to the north-star extension mandate.)
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.sqlFunctions.foreach { case (name, usage, builder) =>
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage, ""),
        builder))
    }
    // optimizer extension: naive `k = k AND abs(t1-t2) <= W` joins are
    // rewritten to the banded (k, time-bin) equi-join — see
    // graft.plans.BandedRangeJoin
    ext.injectOptimizerRule(_ => graft.plans.BandedRangeJoin)
  }
}

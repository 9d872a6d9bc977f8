package graft

import graft.core.Session

/** Plan inspector: prints the formatted physical plan of the queries
  * whose name matches a regex, as in Verify (default: six). Run:
  *   sbt 'runMain graft.Explain [regex]'
  * Greps worth doing on the output: PushedFilters, ReadSchema (column
  * pruning), BroadcastHashJoin vs SortMergeJoin, WholeStageCodegen ids.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val selected = Runner.select(Some(args.headOption.getOrElse(
      "^(q02_filter_sum|q03_segment_revenue|q04_region_customers|" +
        "q15_scalar_funcs|vs01_topk_bruteforce|dd01_exact_dedup)$")))
    val spark = Session.local(Session.cpus)
    val widths = Map("customer" -> 5, "part" -> 6, "orders" -> 6,
      "lineitem" -> 11, "events" -> 6, "documents" -> 5)
    selected.foreach { q =>
      println(s"\n================ ${q.name} ================")
      Runner.run("explain", spark, sfDir, q) { df =>
        df.explain("formatted")
        println("---- PlanAudit ----")
        println(graft.ops.PlanAudit.report(df, widths))
      }
    }
    spark.stop()
  }
}

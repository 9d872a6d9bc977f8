package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Merge
import graft.ops.{DedupOps, EventOps, Layout, MultimodalOps, Pipeline, RangeJoin, Relational, SampleOps, TextOps, VectorOps}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  * The operator inventory lives in the ops modules; each contributes
  * `QueryDef`s (Spark implementation + DuckDB oracle SQL where the
  * semantics are ANSI-expressible). */
object SparkEntry {

  /** Every registered query in registration order, duplicates included
    * (RegistrySpec asserts there are none: they would collapse in the
    * [[queries]] map). */
  private[graft] val defs: Seq[QueryDef] =
    Relational.defs ++ EventOps.defs ++ TextOps.defs ++
      DedupOps.defs ++ VectorOps.defs ++ MultimodalOps.defs ++
      SampleOps.defs ++ RangeJoin.defs ++ Layout.defs ++ Pipeline.defs ++
      graft.streaming.StreamQueries.defs

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks
    * rows>0. Exercises the reference's whole data path (schema-aligned
    * UNION ALL, SURVEY §2.7 U1) feeding a join + aggregation. */
  def entry(spark: SparkSession): DataFrame = {
    val d = "/root/testdata/sf0.001"
    val li = Merge.alignedUnionOf(Seq(
      spark.read.parquet(s"$d/lineitem.parquet"),
      spark.read.parquet(s"$d/lineitem.parquet")))
    val ord = spark.read.parquet(s"$d/orders.parquet")
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderstatus", "l_returnflag")
      .agg(count(lit(1)).as("n"), round(sum("l_extendedprice"), 2).as("sum_px"))
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    defs.map(q => q.name -> q.fn).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops
    * (LSH/SimHash internals, approximate sketches). */
  def oracleSql: Map[String, String] =
    defs.collect { case QueryDef(n, Some(sql), _) => n -> sql }.toMap
}

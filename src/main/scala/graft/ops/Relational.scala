package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{QueryDef, Tables}
import graft.core.Merge

/** Relational operator surface over the TPC-H-ish driver tables. The
  * reference engine has NO joins/aggregations/windows/sorts/set-ops
  * (SURVEY §2.3-2.7 ABSENT) — this module surfaces Spark's built-in
  * coverage of those categories as oracle-checked queries, written so
  * Catalyst keeps scans pruned, pushes filters down, and broadcasts the
  * small dimension sides.
  *
  * Determinism rules used throughout (driver hash-compares vs DuckDB):
  * every ORDER that feeds row_number/limit is made total with a unique
  * key tie-break; double aggregates are rounded; integer-typed computed
  * columns are cast to BIGINT on both sides (DuckDB widens, Spark does
  * not); raw passthrough columns stay untouched (bit-identical parquet
  * values).
  */
object Relational {

  private def li(s: SparkSession, d: String) = Tables(s, d, "lineitem")
  private def ord(s: SparkSession, d: String) = Tables(s, d, "orders")
  private def cust(s: SparkSession, d: String) = Tables(s, d, "customer")

  val defs: Seq[QueryDef] = Seq(

    // ---- aggregation -------------------------------------------------
    QueryDef(
      "q01_pricing_summary",
      // Averages are computed as round(sum,2)/count: the rounded sum is
      // exact (2-decimal source data) and identical in both engines, so
      // the division and final rounding are bit-deterministic — a bare
      // round(avg(x),k) can land exactly on a rounding boundary where
      // the engines' last-ulp sum differences flip the output.
      Some("""SELECT l_returnflag, l_linestatus,
             |  round(sum(l_quantity), 2) AS sum_qty,
             |  round(sum(l_extendedprice), 2) AS sum_base_price,
             |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
             |  round(round(sum(l_quantity), 2) / count(*), 4) AS avg_qty,
             |  round(round(sum(l_discount), 2) / count(*), 4) AS avg_disc,
             |  count(*) AS count_order
             |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin),
      (s, d) =>
        li(s, d).groupBy("l_returnflag", "l_linestatus").agg(
          round(sum("l_quantity"), 2).as("sum_qty"),
          round(sum("l_extendedprice"), 2).as("sum_base_price"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("sum_disc_price"),
          round(round(sum("l_quantity"), 2) / count(lit(1)), 4).as("avg_qty"),
          round(round(sum("l_discount"), 2) / count(lit(1)), 4).as("avg_disc"),
          count(lit(1)).as("count_order"))),

    QueryDef(
      "q02_filter_sum",
      Some("""SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue,
             |  count(*) AS n
             |FROM lineitem
             |WHERE l_quantity < 24 AND l_discount BETWEEN 0.02 AND 0.06""".stripMargin),
      (s, d) =>
        li(s, d)
          .filter(col("l_quantity") < 24 && col("l_discount").between(0.02, 0.06))
          .agg(
            round(sum(col("l_extendedprice") * col("l_discount")), 2).as("revenue"),
            count(lit(1)).as("n"))),

    // ---- joins -------------------------------------------------------
    QueryDef(
      "q03_segment_revenue",
      Some("""SELECT c_mktsegment,
             |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
             |  count(*) AS n
             |FROM customer
             |JOIN orders ON c_custkey = o_custkey
             |JOIN lineitem ON o_orderkey = l_orderkey
             |GROUP BY c_mktsegment""".stripMargin),
      (s, d) =>
        cust(s, d)
          .join(ord(s, d), col("c_custkey") === col("o_custkey"))
          .join(li(s, d), col("o_orderkey") === col("l_orderkey"))
          .groupBy("c_mktsegment")
          .agg(
            round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"),
            count(lit(1)).as("n"))),

    QueryDef(
      "q04_region_customers",
      Some("""SELECT r_name, n_name, count(*) AS n_cust,
             |  round(round(sum(c_acctbal), 2) / count(*), 4) AS avg_bal
             |FROM customer
             |JOIN nation ON c_nationkey = n_nationkey
             |JOIN region ON n_regionkey = r_regionkey
             |GROUP BY r_name, n_name""".stripMargin),
      (s, d) =>
        cust(s, d)
          .join(broadcast(Tables(s, d, "nation")), col("c_nationkey") === col("n_nationkey"))
          .join(broadcast(Tables(s, d, "region")), col("n_regionkey") === col("r_regionkey"))
          .groupBy("r_name", "n_name")
          .agg(count(lit(1)).as("n_cust"),
            round(round(sum("c_acctbal"), 2) / count(lit(1)), 4).as("avg_bal"))),

    QueryDef(
      "q05_semi_join",
      Some("""SELECT c_mktsegment, count(*) AS n_cust
             |FROM customer
             |WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_orderstatus = 'O')
             |GROUP BY c_mktsegment""".stripMargin),
      (s, d) =>
        cust(s, d)
          .join(
            ord(s, d).filter(col("o_orderstatus") === "O"),
            col("c_custkey") === col("o_custkey"), "left_semi")
          .groupBy("c_mktsegment")
          .agg(count(lit(1)).as("n_cust"))),

    QueryDef(
      "q06_anti_join",
      Some("""SELECT c_mktsegment, count(*) AS n_cust
             |FROM customer c
             |WHERE NOT EXISTS (SELECT 1 FROM orders o
             |                  WHERE o.o_custkey = c.c_custkey
             |                    AND o.o_orderpriority = '1-URGENT')
             |GROUP BY c_mktsegment""".stripMargin),
      (s, d) =>
        cust(s, d)
          .join(
            ord(s, d).filter(col("o_orderpriority") === "1-URGENT"),
            col("c_custkey") === col("o_custkey"), "left_anti")
          .groupBy("c_mktsegment")
          .agg(count(lit(1)).as("n_cust"))),

    QueryDef(
      "q07_outer_join",
      Some("""SELECT c_mktsegment, count(*) AS n_rows, count(o_orderkey) AS n_orders
             |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
             |GROUP BY c_mktsegment""".stripMargin),
      (s, d) =>
        cust(s, d)
          .join(ord(s, d), col("c_custkey") === col("o_custkey"), "left")
          .groupBy("c_mktsegment")
          .agg(count(lit(1)).as("n_rows"), count(col("o_orderkey")).as("n_orders"))),

    // ---- windows -----------------------------------------------------
    QueryDef(
      "q08_window_topk",
      Some("""SELECT o_orderpriority, o_orderkey, o_totalprice, rn FROM (
             |  SELECT o_orderpriority, o_orderkey, o_totalprice,
             |    CAST(row_number() OVER (PARTITION BY o_orderpriority
             |      ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rn
             |  FROM orders) t
             |WHERE rn <= 3""".stripMargin),
      (s, d) => {
        val w = Window.partitionBy("o_orderpriority")
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        ord(s, d)
          .select(col("o_orderpriority"), col("o_orderkey"), col("o_totalprice"),
            row_number().over(w).cast("long").as("rn"))
          .filter(col("rn") <= 3)
      }),

    QueryDef(
      "q09_running_sum",
      Some("""SELECT o_custkey, o_orderkey,
             |  round(sum(o_totalprice) OVER (PARTITION BY o_custkey
             |    ORDER BY o_orderdate, o_orderkey
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_total
             |FROM orders""".stripMargin),
      (s, d) => {
        val w = Window.partitionBy("o_custkey")
          .orderBy("o_orderdate", "o_orderkey")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ord(s, d).select(col("o_custkey"), col("o_orderkey"),
          round(sum("o_totalprice").over(w), 2).as("running_total"))
      }),

    // ---- sort / limit ------------------------------------------------
    QueryDef(
      "q10_sort_limit",
      Some("""SELECT o_orderkey, o_custkey, o_totalprice FROM orders
             |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin),
      (s, d) =>
        ord(s, d)
          .select("o_orderkey", "o_custkey", "o_totalprice")
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))
          .limit(10)),

    // ---- distinct / set ops -----------------------------------------
    QueryDef(
      "q11_distinct",
      Some("SELECT DISTINCT c_mktsegment, c_nationkey FROM customer"),
      (s, d) => cust(s, d).select("c_mktsegment", "c_nationkey").distinct()),

    QueryDef(
      "q12_set_ops",
      Some("""SELECT 'intersect' AS op, count(*) AS n FROM (
             |  SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
             |  INTERSECT
             |  SELECT o_custkey FROM orders WHERE o_orderstatus = 'O') t1
             |UNION ALL
             |SELECT 'except' AS op, count(*) AS n FROM (
             |  SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
             |  EXCEPT
             |  SELECT o_custkey FROM orders WHERE o_orderstatus = 'O') t2""".stripMargin),
      (s, d) => {
        val f = ord(s, d).filter(col("o_orderstatus") === "F").select("o_custkey")
        val o = ord(s, d).filter(col("o_orderstatus") === "O").select("o_custkey")
        f.intersect(o).agg(count(lit(1)).as("n")).select(lit("intersect").as("op"), col("n"))
          .unionAll(
            f.except(o).agg(count(lit(1)).as("n")).select(lit("except").as("op"), col("n")))
      }),

    // ---- grouping sets ----------------------------------------------
    QueryDef(
      "q13_rollup",
      Some("""SELECT l_returnflag, l_linestatus, count(*) AS n,
             |  round(sum(l_extendedprice), 2) AS sum_px
             |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin),
      (s, d) =>
        li(s, d).rollup("l_returnflag", "l_linestatus")
          .agg(count(lit(1)).as("n"), round(sum("l_extendedprice"), 2).as("sum_px"))),

    QueryDef(
      "q14_cube",
      Some("""SELECT o_orderstatus, o_orderpriority, count(*) AS n,
             |  round(sum(o_totalprice), 2) AS sum_px
             |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)""".stripMargin),
      (s, d) =>
        ord(s, d).cube("o_orderstatus", "o_orderpriority")
          .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("sum_px"))),

    // ---- scalar functions -------------------------------------------
    QueryDef(
      "q15_scalar_funcs",
      Some("""SELECT p_partkey,
             |  upper(substr(p_name, 1, 8)) AS name8,
             |  CAST(length(p_name) AS BIGINT) AS name_len,
             |  round(p_retailprice * 1.1, 2) AS bumped,
             |  CAST(p_size % 7 AS BIGINT) AS size_mod7,
             |  concat(p_brand, '#', p_type) AS brand_type,
             |  round(abs(p_retailprice - 1000.0), 2) AS dist1k
             |FROM part""".stripMargin),
      (s, d) =>
        Tables(s, d, "part").select(
          col("p_partkey"),
          upper(substring(col("p_name"), 1, 8)).as("name8"),
          length(col("p_name")).cast("long").as("name_len"),
          round(col("p_retailprice") * 1.1, 2).as("bumped"),
          (col("p_size") % 7).cast("long").as("size_mod7"),
          concat(col("p_brand"), lit("#"), col("p_type")).as("brand_type"),
          round(abs(col("p_retailprice") - 1000.0), 2).as("dist1k"))),

    QueryDef(
      "q16_date_funcs",
      Some("""SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
             |  CAST(month(o_orderdate) AS BIGINT) AS mo,
             |  count(*) AS n_orders,
             |  round(sum(o_totalprice), 2) AS total
             |FROM orders GROUP BY 1, 2""".stripMargin),
      (s, d) =>
        ord(s, d)
          .groupBy(
            year(col("o_orderdate")).cast("long").as("yr"),
            month(col("o_orderdate")).cast("long").as("mo"))
          .agg(count(lit(1)).as("n_orders"), round(sum("o_totalprice"), 2).as("total"))),

    // ---- count distinct (exact + approximate) -----------------------
    QueryDef(
      "q17_count_distinct",
      Some("""SELECT o_orderstatus, CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_cust
             |FROM orders GROUP BY o_orderstatus""".stripMargin),
      (s, d) =>
        ord(s, d).groupBy("o_orderstatus")
          .agg(countDistinct(col("o_custkey")).as("n_cust"))),

    // Approximate distinct via the KMV synopsis over the portable md5
    // hash family (graft.functions.KmvMinHashes): deterministic,
    // mergeable O(k) state, and — unlike HLL++'s register layout —
    // re-derivable by ANY engine with md5 + a rank window, so the
    // sketch itself is oracle-checked bit-for-bit (r7; the builtin
    // HLL++ stays measured in SKETCH_QUALITY under q18_native_hll).
    // Estimator: (k-1)·2^60 / h_(k); EXACT when a group has < k
    // distinct values. k = 1024 → ~3% standard error, 8 KB per group.
    QueryDef(
      "q18_approx_distinct",
      Some("""WITH h AS (
             |  SELECT DISTINCT o_orderstatus,
             |    CAST(concat('0x', substr(md5(CAST(o_custkey AS VARCHAR)), 1, 15)) AS BIGINT) AS hv
             |  FROM orders),
             |r AS (
             |  SELECT o_orderstatus, hv,
             |    row_number() OVER (PARTITION BY o_orderstatus ORDER BY hv) AS rn,
             |    count(*) OVER (PARTITION BY o_orderstatus) AS nd
             |  FROM h)
             |SELECT o_orderstatus,
             |  round(CASE WHEN max(nd) < 1024 THEN CAST(max(nd) AS DOUBLE)
             |        ELSE 1023e0 * 1152921504606846976e0
             |             / CAST(max(CASE WHEN rn = 1024 THEN hv END) AS DOUBLE) END, 4)
             |    AS n_cust_approx
             |FROM r GROUP BY 1""".stripMargin),
      (s, d) => {
        val k = 1024
        ord(s, d).groupBy("o_orderstatus")
          .agg(graft.functions.GraftFunctions.kmv_min_hashes(
            graft.functions.GraftFunctions.md5_low60(col("o_custkey").cast("string")), k)
            .as("mins"))
          .select(col("o_orderstatus"),
            round(
              when(size(col("mins")) < k, size(col("mins")).cast("double"))
                .otherwise(lit((k - 1).toDouble) * lit(1152921504606846976e0) /
                  element_at(col("mins"), k).cast("double")), 4)
              .as("n_cust_approx"))
      }),

    // ---- skew-mitigated join (deterministic salting) ----------------
    QueryDef(
      "q25_salted_join",
      Some("""SELECT o_orderpriority, count(*) AS n,
             |  round(sum(l_quantity), 2) AS sum_qty
             |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
             |GROUP BY o_orderpriority""".stripMargin),
      (s, d) => {
        // Prune the fact to the columns the query needs BEFORE salting:
        // the salt hashes the left side's columns, so salting the full
        // row would force the scan to decode all 16 lineitem columns
        // (and carry them through the shuffle) for a 2-column answer.
        val fact = li(s, d).select(col("l_orderkey").as("k"), col("l_quantity"))
        val dim = ord(s, d).select(col("o_orderkey").as("k"), col("o_orderpriority"))
        SkewJoin.saltedInnerJoin(fact, dim, Seq("k"), saltFactor = 8)
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n"), round(sum("l_quantity"), 2).as("sum_qty"))
      }),

    // ---- scalar subquery --------------------------------------------
    QueryDef(
      "q26_scalar_subquery",
      Some("""SELECT o_orderstatus, count(*) AS n_above
             |FROM orders
             |WHERE o_totalprice > (SELECT avg(o_totalprice) FROM orders)
             |GROUP BY o_orderstatus""".stripMargin),
      (s, d) => {
        val o = ord(s, d)
        // scalar subquery: the global average joins in as a 1-row
        // broadcast (no second pass over a collected constant)
        val globalAvg = o.agg(avg("o_totalprice").as("gavg"))
        o.join(broadcast(globalAvg), col("o_totalprice") > col("gavg"))
          .groupBy("o_orderstatus")
          .agg(count(lit(1)).as("n_above"))
      }),

    // ---- full outer join --------------------------------------------
    QueryDef(
      "q27_full_outer",
      Some("""SELECT coalesce(f.k, o.k) AS custkey,
             |  coalesce(f.n_f, 0) AS n_f, coalesce(o.n_o, 0) AS n_o
             |FROM (SELECT o_custkey AS k, count(*) AS n_f FROM orders
             |      WHERE o_orderstatus = 'F' GROUP BY 1) f
             |FULL OUTER JOIN
             |     (SELECT o_custkey AS k, count(*) AS n_o FROM orders
             |      WHERE o_orderstatus = 'O' GROUP BY 1) o
             |ON f.k = o.k""".stripMargin),
      (s, d) => {
        val f = ord(s, d).filter(col("o_orderstatus") === "F")
          .groupBy(col("o_custkey").as("fk")).agg(count(lit(1)).as("n_f"))
        val o = ord(s, d).filter(col("o_orderstatus") === "O")
          .groupBy(col("o_custkey").as("ok")).agg(count(lit(1)).as("n_o"))
        f.join(o, col("fk") === col("ok"), "full_outer")
          .select(
            coalesce(col("fk"), col("ok")).as("custkey"),
            coalesce(col("n_f"), lit(0L)).as("n_f"),
            coalesce(col("n_o"), lit(0L)).as("n_o"))
      }),

    // ---- remaining window functions ---------------------------------
    QueryDef(
      "q28_window_misc",
      Some("""SELECT o_orderkey,
             |  CAST(dense_rank() OVER w AS BIGINT) AS drnk,
             |  CAST(ntile(4) OVER w AS BIGINT) AS quartile,
             |  lead(o_orderkey, 1) OVER w AS next_key,
             |  lag(o_orderkey, 1) OVER w AS prev_key,
             |  round(percent_rank() OVER w, 6) AS prk,
             |  round(cume_dist() OVER w, 6) AS cdist
             |FROM orders
             |WINDOW w AS (PARTITION BY o_orderpriority
             |             ORDER BY o_totalprice DESC, o_orderkey)""".stripMargin),
      (s, d) => {
        val w = Window.partitionBy("o_orderpriority")
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        ord(s, d).select(
          col("o_orderkey"),
          dense_rank().over(w).cast("long").as("drnk"),
          ntile(4).over(w).cast("long").as("quartile"),
          lead(col("o_orderkey"), 1).over(w).as("next_key"),
          lag(col("o_orderkey"), 1).over(w).as("prev_key"),
          round(percent_rank().over(w), 6).as("prk"),
          round(cume_dist().over(w), 6).as("cdist"))
      }),

    // ---- the reference's core operator: aligned UNION ALL -----------
    QueryDef(
      "q19_union_merge",
      Some("""SELECT l_returnflag, count(*) AS n, round(sum(l_quantity), 2) AS sum_qty
             |FROM (SELECT * FROM lineitem UNION ALL SELECT * FROM lineitem) u
             |GROUP BY l_returnflag""".stripMargin),
      (s, d) =>
        Merge.alignedUnionOf(Seq(li(s, d), li(s, d)))
          .groupBy("l_returnflag")
          .agg(count(lit(1)).as("n"), round(sum("l_quantity"), 2).as("sum_qty"))),

    // ---- exact percentiles (linear interpolation, both engines) -----
    QueryDef(
      "q21_percentiles",
      Some("""SELECT o_orderstatus,
             |  round(quantile_cont(o_totalprice, 0.25), 4) AS p25,
             |  round(quantile_cont(o_totalprice, 0.5), 4) AS p50,
             |  round(quantile_cont(o_totalprice, 0.75), 4) AS p75,
             |  count(*) AS n
             |FROM orders GROUP BY o_orderstatus""".stripMargin),
      (s, d) =>
        ord(s, d).groupBy("o_orderstatus").agg(
          round(percentile(col("o_totalprice"), lit(0.25)), 4).as("p25"),
          round(percentile(col("o_totalprice"), lit(0.5)), 4).as("p50"),
          round(percentile(col("o_totalprice"), lit(0.75)), 4).as("p75"),
          count(lit(1)).as("n"))),

    // ---- GROUPING SETS + grouping() (SQL-only surface in Spark) -----
    QueryDef(
      "q22_grouping_sets",
      Some("""SELECT l_returnflag, l_linestatus,
             |  CAST(grouping(l_returnflag) AS BIGINT) AS g_rf,
             |  CAST(grouping(l_linestatus) AS BIGINT) AS g_ls,
             |  count(*) AS n
             |FROM lineitem
             |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())""".stripMargin),
      (s, d) =>
        li(s, d)
          .groupingSets(
            Seq(Seq(col("l_returnflag")), Seq(col("l_linestatus")), Seq.empty),
            col("l_returnflag"), col("l_linestatus"))
          .agg(
            grouping(col("l_returnflag")).cast("long").as("g_rf"),
            grouping(col("l_linestatus")).cast("long").as("g_ls"),
            count(lit(1)).as("n"))),

    // ---- pivot (oracle: conditional aggregation) --------------------
    QueryDef(
      "q23_pivot",
      Some("""SELECT user_id % 10 AS bucket,
             |  count(*) FILTER (WHERE event_type = 'click') AS "click",
             |  count(*) FILTER (WHERE event_type = 'error') AS "error",
             |  count(*) FILTER (WHERE event_type = 'purchase') AS "purchase",
             |  count(*) FILTER (WHERE event_type = 'signup') AS "signup",
             |  count(*) FILTER (WHERE event_type = 'view') AS "view"
             |FROM events GROUP BY 1""".stripMargin),
      (s, d) =>
        Tables(s, d, "events")
          .groupBy((col("user_id") % 10).as("bucket"))
          .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
          .agg(count(lit(1)))
          // pivot leaves NULL in empty cells; the conditional-agg oracle
          // (and any sane consumer) expects 0
          .na.fill(0L, Seq("click", "error", "purchase", "signup", "view"))),

    // ---- typed Aggregator UDAF --------------------------------------
    QueryDef(
      "q24_custom_agg",
      Some("""SELECT o_orderstatus, round(exp(avg(ln(o_totalprice))), 2) AS geomean,
             |  count(*) AS n
             |FROM orders GROUP BY o_orderstatus""".stripMargin),
      (s, d) => {
        val geomean = udaf(graft.functions.GeoMean)
        ord(s, d).groupBy("o_orderstatus")
          .agg(round(geomean(col("o_totalprice")), 2).as("geomean"), count(lit(1)).as("n"))
      }),

    QueryDef(
      "q20_drift_merge",
      Some("""SELECT l_linenumber, count(*) AS n,
             |  round(sum(l_quantity), 2) AS sum_qty,
             |  round(sum(l_extendedprice), 2) AS sum_px
             |FROM (
             |  SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice FROM lineitem
             |  UNION ALL
             |  SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice FROM lineitem) u
             |GROUP BY l_linenumber""".stripMargin),
      (s, d) => {
        // Two schema-drifted views of lineitem: different column sets and
        // orders; alignedUnionOf must intersect to the first view's order
        // (reference find_common_columns semantics, main.rs:617-642).
        val a = li(s, d).select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
        val b = li(s, d).select("l_extendedprice", "l_quantity", "l_tax", "l_orderkey", "l_linenumber")
        Merge.alignedUnionOf(Seq(a, b))
          .groupBy("l_linenumber")
          .agg(count(lit(1)).as("n"),
            round(sum("l_quantity"), 2).as("sum_qty"),
            round(sum("l_extendedprice"), 2).as("sum_px"))
      }),

    QueryDef(
      "q29_unpivot",
      // wide→long unpivot via stack() (Spark's Generator-based UNPIVOT;
      // no join, no shuffle beyond the final agg). Oracle states it as
      // the equivalent per-metric UNION ALL.
      Some("""SELECT l_returnflag, 'qty' AS metric,
             |  round(sum(l_quantity), 2) AS total FROM lineitem GROUP BY 1
             |UNION ALL
             |SELECT l_returnflag, 'price' AS metric,
             |  round(sum(l_extendedprice), 2) AS total FROM lineitem GROUP BY 1""".stripMargin),
      (s, d) =>
        li(s, d)
          .select(col("l_returnflag"),
            expr("stack(2, 'qty', l_quantity, 'price', l_extendedprice) AS (metric, val)"))
          .groupBy("l_returnflag", "metric")
          .agg(round(sum("val"), 2).as("total"))),

    QueryDef(
      "q31_range_frame",
      // RANGE (value-based) window frame — distinct surface from q09's
      // ROWS frame: the 7-day trailing revenue per status, framed on an
      // integer day index so gaps in the calendar are handled by the
      // frame semantics, not by row counting.
      Some("""WITH daily AS (
             |  SELECT o_orderstatus,
             |    date_diff('day', DATE '1970-01-01', o_orderdate) AS day_idx,
             |    sum(o_totalprice) AS day_total
             |  FROM orders GROUP BY 1, 2)
             |SELECT o_orderstatus, CAST(day_idx AS BIGINT) AS day_idx,
             |  round(sum(day_total) OVER (PARTITION BY o_orderstatus
             |    ORDER BY day_idx
             |    RANGE BETWEEN 6 PRECEDING AND CURRENT ROW), 2) AS trailing_7d
             |FROM daily""".stripMargin),
      (s, d) => {
        val daily = ord(s, d)
          .groupBy(col("o_orderstatus"),
            datediff(col("o_orderdate"), lit(java.sql.Date.valueOf("1970-01-01")))
              .cast("long").as("day_idx"))
          .agg(sum("o_totalprice").as("day_total"))
        val w = Window.partitionBy("o_orderstatus").orderBy("day_idx")
          .rangeBetween(-6, 0)
        daily.select(col("o_orderstatus"), col("day_idx"),
          round(sum("day_total").over(w), 2).as("trailing_7d"))
      }),

    QueryDef(
      "q30_exists_subquery",
      // correlated EXISTS / NOT EXISTS surface — Catalyst rewrites both
      // to semi/anti joins (the same physical shape as q05/q06), so the
      // SQL-facing form costs nothing extra at scale.
      Some("""SELECT c_custkey, c_name FROM customer c
             |WHERE EXISTS (SELECT 1 FROM orders o
             |              WHERE o.o_custkey = c.c_custkey
             |                AND o.o_totalprice > 100000)
             |  AND NOT EXISTS (SELECT 1 FROM orders o2
             |                  WHERE o2.o_custkey = c.c_custkey
             |                    AND o2.o_orderstatus = 'F')""".stripMargin),
      (s, d) => {
        cust(s, d).createOrReplaceTempView("customer")
        ord(s, d).createOrReplaceTempView("orders")
        s.sql("""SELECT c_custkey, c_name FROM customer c
                |WHERE EXISTS (SELECT 1 FROM orders o
                |              WHERE o.o_custkey = c.c_custkey
                |                AND o.o_totalprice > 100000)
                |  AND NOT EXISTS (SELECT 1 FROM orders o2
                |                  WHERE o2.o_custkey = c.c_custkey
                |                    AND o2.o_orderstatus = 'F')""".stripMargin)
      }),

    QueryDef(
      "q32_median_mode",
      // Median (exact interpolated percentile, portable — cf. q21) and
      // deterministic MODE per group. Spark's mode() and DuckDB's mode()
      // do not document tie-breaking, so the mode is computed the
      // portable way: count per value, rank by (count DESC, value) —
      // the smallest most-frequent value wins in both engines.
      Some("""WITH m AS (
             |  SELECT l_returnflag, l_quantity AS q, count(*) AS c
             |  FROM lineitem GROUP BY 1, 2),
             |md AS (
             |  SELECT l_returnflag, q AS mode_qty FROM (
             |    SELECT l_returnflag, q,
             |      row_number() OVER (PARTITION BY l_returnflag
             |        ORDER BY c DESC, q) AS rn FROM m) t
             |  WHERE rn = 1),
             |me AS (
             |  SELECT l_returnflag, quantile_cont(l_quantity, 0.5) AS median_qty,
             |    count(*) AS n
             |  FROM lineitem GROUP BY 1)
             |SELECT me.l_returnflag, CAST(me.n AS BIGINT) AS n,
             |  round(me.median_qty, 4) AS median_qty, md.mode_qty
             |FROM me JOIN md USING (l_returnflag)""".stripMargin),
      (s, d) => {
        val counts = li(s, d).groupBy(col("l_returnflag"), col("l_quantity").as("q"))
          .agg(count(lit(1)).as("c"))
        val wMode = Window.partitionBy("l_returnflag").orderBy(col("c").desc, col("q"))
        val md = counts.withColumn("rn", row_number().over(wMode))
          .filter(col("rn") === 1)
          .select(col("l_returnflag"), col("q").as("mode_qty"))
        val me = li(s, d).groupBy("l_returnflag")
          .agg(round(percentile(col("l_quantity"), lit(0.5)), 4).as("median_qty"),
            count(lit(1)).as("n"))
        me.join(broadcast(md), "l_returnflag")
          .select(col("l_returnflag"), col("n"), col("median_qty"), col("mode_qty"))
      }),

    QueryDef(
      "q33_ignore_nulls",
      // IGNORE NULLS carry-forward (the gap-fill / last-observation-
      // carried-forward window surface): per customer, each order also
      // reports the most recent FULFILLED order's price at or before it.
      // One shuffle on o_custkey; prices are raw parquet doubles
      // (bit-identical passthrough, no rounding needed).
      Some("""SELECT o_custkey, o_orderkey,
             |  last_value(CASE WHEN o_orderstatus = 'F' THEN o_totalprice END
             |    IGNORE NULLS) OVER (PARTITION BY o_custkey
             |      ORDER BY o_orderdate, o_orderkey
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_f_price
             |FROM orders""".stripMargin),
      (s, d) => {
        val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ord(s, d).select(col("o_custkey"), col("o_orderkey"),
          last(when(col("o_orderstatus") === "F", col("o_totalprice")), ignoreNulls = true)
            .over(w).as("last_f_price"))
      }),

    QueryDef(
      "q35_csv_roundtrip",
      // CSV sink FIDELITY, oracle-checked: rows (including a string
      // with an embedded comma and double-quote, and raw parquet
      // doubles) go out through the RFC-4180 CSV writer and back in
      // through the CSV reader, then aggregate. The oracle aggregates
      // the parquet directly — any quoting/escaping/number-format loss
      // in the round trip breaks the hash match. Doubles survive
      // exactly because Spark writes the shortest round-trip decimal.
      // The CSV write is parallel (one file per task — the scale path;
      // single-file export stays a batch-side option, cf. Merge).
      Some("""SELECT l_returnflag || ',"x' AS tag, count(*) AS n,
             |  round(sum(l_quantity), 2) AS sum_qty,
             |  CAST(sum(l_orderkey) AS BIGINT) AS sum_key
             |FROM lineitem GROUP BY 1""".stripMargin),
      (s, d) => {
        import org.apache.spark.sql.types._
        val tmp = graft.core.Scratch.dir("graft_csv_rt_")
        val opts = Map("header" -> "true", "escape" -> "\"")
        li(s, d)
          .select(col("l_orderkey"), col("l_quantity"),
            concat(col("l_returnflag"), lit(",\"x")).as("tag"))
          .write.mode("overwrite").options(opts).csv(tmp)
        val schema = StructType(Seq(
          StructField("l_orderkey", LongType),
          StructField("l_quantity", DoubleType),
          StructField("tag", StringType)))
        s.read.schema(schema).options(opts).csv(tmp)
          .groupBy("tag")
          .agg(count(lit(1)).as("n"),
            round(sum("l_quantity"), 2).as("sum_qty"),
            sum("l_orderkey").cast("long").as("sum_key"))
      }),

    QueryDef(
      "q37_multiset_ops",
      // Multiset (bag) set operations — EXCEPT ALL / INTERSECT ALL keep
      // multiplicities, the surface q12's DISTINCT variants don't cover.
      // Both compile to one aggregation computing per-row counts on
      // each side plus a replication generator — no join explosion.
      Some("""SELECT 'except' AS op, l_returnflag, l_linestatus FROM (
             |  SELECT l_returnflag, l_linestatus FROM lineitem
             |  EXCEPT ALL
             |  SELECT l_returnflag, l_linestatus FROM lineitem
             |  WHERE l_quantity > 10) e
             |UNION ALL
             |SELECT 'intersect' AS op, l_returnflag, l_linestatus FROM (
             |  SELECT l_returnflag, l_linestatus FROM lineitem WHERE l_quantity <= 20
             |  INTERSECT ALL
             |  SELECT l_returnflag, l_linestatus FROM lineitem
             |  WHERE l_quantity > 10) i""".stripMargin),
      (s, d) => {
        val base = li(s, d).select("l_returnflag", "l_linestatus")
        val hi = li(s, d).filter(col("l_quantity") > 10)
          .select("l_returnflag", "l_linestatus")
        val lo = li(s, d).filter(col("l_quantity") <= 20)
          .select("l_returnflag", "l_linestatus")
        base.exceptAll(hi).select(lit("except").as("op"), col("l_returnflag"), col("l_linestatus"))
          .unionByName(lo.intersectAll(hi)
            .select(lit("intersect").as("op"), col("l_returnflag"), col("l_linestatus")))
      }),

    QueryDef(
      "q38_decimal_agg",
      // Exact DECIMAL money aggregation — the fixed-point surface the
      // double-based queries deliberately avoid. Once cast to
      // DECIMAL(18,2), sums are EXACT in both engines (no rounding
      // discipline needed); the result is emitted as its canonical
      // string so the scale survives the hash compare.
      Some("""SELECT o_orderstatus, count(*) AS n,
             |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS VARCHAR) AS total_dec
             |FROM orders GROUP BY 1""".stripMargin),
      (s, d) =>
        ord(s, d)
          .groupBy("o_orderstatus")
          .agg(count(lit(1)).as("n"),
            sum(col("o_totalprice").cast(org.apache.spark.sql.types.DecimalType(18, 2)))
              .cast("string").as("total_dec"))),

    QueryDef(
      "q39_json_roundtrip",
      // JSON-lines source/sink fidelity: rows leave through the JSON
      // writer (longs, doubles, strings) and return through the JSON
      // reader with an explicit schema, then aggregate; the oracle
      // aggregates the parquet directly. Parallel write, schema-on-read
      // — the interchange path for pipelines that stage JSONL.
      Some("""SELECT o_orderpriority, count(*) AS n,
             |  CAST(sum(o_orderkey) AS BIGINT) AS sum_key,
             |  round(sum(o_totalprice), 2) AS sum_price
             |FROM orders GROUP BY 1""".stripMargin),
      (s, d) => {
        import org.apache.spark.sql.types._
        val tmp = graft.core.Scratch.dir("graft_json_rt_")
        ord(s, d).select("o_orderkey", "o_totalprice", "o_orderpriority")
          .write.mode("overwrite").json(tmp)
        val schema = StructType(Seq(
          StructField("o_orderkey", LongType),
          StructField("o_totalprice", DoubleType),
          StructField("o_orderpriority", StringType)))
        s.read.schema(schema).json(tmp)
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n"),
            sum("o_orderkey").cast("long").as("sum_key"),
            round(sum("o_totalprice"), 2).as("sum_price"))
      }),

    QueryDef(
      "q40_collection_funcs",
      // Higher-order / collection function surface in one pass:
      // transform, filter, zip_with, sort + slice, distinct-count —
      // all codegen-compatible HOFs over a token array, scalar-ized to
      // strings/ints at the output boundary for the hash compare.
      Some("""WITH t AS (
             |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
             |  FROM documents)
             |SELECT doc_id,
             |  CAST(len(list_filter(toks, x -> length(x) > 4)) AS BIGINT) AS n_long,
             |  array_to_string(list_slice(list_sort(list_distinct(toks)), 1, 3), ',') AS first3,
             |  CAST(list_sum(list_transform(toks, x -> length(x))) AS BIGINT) AS sum_len,
             |  CAST(list_sum(list_transform(list_zip(toks, list_reverse(toks)),
             |    p -> CASE WHEN p[1] = p[2] THEN 1 ELSE 0 END)) AS BIGINT) AS n_palindromic
             |FROM t""".stripMargin),
      (s, d) =>
        Tables(s, d, "documents")
          .select(col("doc_id"), split(trim(col("text")), "\\s+").as("toks"))
          .select(col("doc_id"),
            size(filter(col("toks"), x => length(x) > 4)).cast("long").as("n_long"),
            concat_ws(",", slice(array_sort(array_distinct(col("toks"))), 1, 3)).as("first3"),
            aggregate(transform(col("toks"), x => length(x)), lit(0L),
              (acc, x) => acc + x).as("sum_len"),
            aggregate(
              zip_with(col("toks"), reverse(col("toks")),
                (a, b) => when(a === b, 1L).otherwise(0L)),
              lit(0L), (acc, x) => acc + x).as("n_palindromic"))),

    QueryDef(
      "q41_null_handling",
      // The NULL-semantics surface in one query: nulls born from a left
      // join, COALESCE defaults, NULLIF, and NULL-SAFE equality
      // (Spark's <=> / SQL's IS NOT DISTINCT FROM) — the comparison
      // that treats two NULLs as equal, which plain = silently drops.
      Some("""WITH c AS (
             |  SELECT c_custkey, c_acctbal FROM customer),
             |o AS (
             |  SELECT o_custkey, count(*) AS n_ord
             |  FROM orders WHERE o_totalprice > 200000 GROUP BY 1),
             |j AS (
             |  SELECT c.c_custkey, c.c_acctbal, o.n_ord
             |  FROM c LEFT JOIN o ON c.c_custkey = o.o_custkey)
             |SELECT
             |  CAST(count(*) AS BIGINT) AS n_rows,
             |  CAST(count(n_ord) AS BIGINT) AS n_matched,
             |  CAST(sum(coalesce(n_ord, 0)) AS BIGINT) AS total_ord,
             |  CAST(count(CASE WHEN n_ord IS NOT DISTINCT FROM NULL
             |                  THEN 1 END) AS BIGINT) AS n_null_safe,
             |  CAST(count(nullif(coalesce(n_ord, 0), 0)) AS BIGINT) AS n_nonzero
             |FROM j""".stripMargin),
      (s, d) => {
        val c = cust(s, d).select("c_custkey", "c_acctbal")
        val o = ord(s, d).filter(col("o_totalprice") > 200000)
          .groupBy("o_custkey").agg(count(lit(1)).as("n_ord"))
        c.join(o, col("c_custkey") === col("o_custkey"), "left")
          .agg(
            count(lit(1)).as("n_rows"),
            count(col("n_ord")).as("n_matched"),
            sum(coalesce(col("n_ord"), lit(0))).cast("long").as("total_ord"),
            count(when(col("n_ord") <=> lit(null), 1)).as("n_null_safe"),
            count(nullif(coalesce(col("n_ord"), lit(0)), lit(0))).as("n_nonzero"))
      }),

    QueryDef(
      "q42_lateral_topn",
      // Correlated LATERAL subquery (per-customer top-2 orders) — the
      // SQL-standard form of per-group top-k. Catalyst decorrelates the
      // LIMIT-per-group into a window over one shuffled join (same
      // physical shape as q08's explicit window) — the SQL surface
      // costs nothing extra at scale.
      Some("""SELECT c.c_custkey, o.o_orderkey, o.o_totalprice
             |FROM customer c, LATERAL (
             |  SELECT o_orderkey, o_totalprice FROM orders
             |  WHERE o_custkey = c.c_custkey
             |  ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) o""".stripMargin),
      (s, d) => {
        cust(s, d).createOrReplaceTempView("customer")
        ord(s, d).createOrReplaceTempView("orders")
        s.sql("""SELECT c.c_custkey, o.o_orderkey, o.o_totalprice
                |FROM customer c, LATERAL (
                |  SELECT o_orderkey, o_totalprice FROM orders
                |  WHERE o_custkey = c.c_custkey
                |  ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) o""".stripMargin)
      }),

    QueryDef(
      "q43_regex_groups",
      // Regex CAPTURE-GROUP extraction (the surface beyond ev02's JSON
      // path access): pull the numeric payload out of the props text
      // with a group reference, plus a full-match count per row.
      // Map-only projection + one aggregate.
      Some("""SELECT event_type,
             |  CAST(sum(TRY_CAST(regexp_extract(props, '"k": (-?[0-9]+)', 1)
             |    AS BIGINT)) AS BIGINT) AS sum_k,
             |  CAST(sum(length(regexp_extract_all(props, '[0-9]+'))) AS BIGINT) AS n_numbers
             |FROM events GROUP BY 1""".stripMargin),
      (s, d) =>
        Tables(s, d, "events")
          .groupBy("event_type")
          .agg(
            // non-matches extract to '' → Spark casts to NULL and sum
            // skips them; the oracle mirrors with TRY_CAST
            sum(regexp_extract(col("props"), "\"k\": (-?[0-9]+)", 1).cast("long"))
              .cast("long").as("sum_k"),
            sum(size(regexp_extract_all(col("props"), lit("[0-9]+"), lit(0))))
              .cast("long").as("n_numbers"))),

    QueryDef(
      "q44_outer_drift",
      // OUTER-union schema evolution (Merge.alignedUnionOuter): drifted
      // inputs keep the UNION of columns with NULL padding — the
      // widening mode q20's intersection drift deliberately is not.
      // The audit counts padded nulls per column, so the oracle is
      // sensitive to which side was padded.
      Some("""SELECT l_linenumber, count(*) AS n,
             |  CAST(count(l_quantity) AS BIGINT) AS n_qty,
             |  CAST(count(l_tax) AS BIGINT) AS n_tax,
             |  round(sum(coalesce(l_quantity, 0)), 2) AS sum_qty,
             |  round(sum(coalesce(l_tax, 0)), 2) AS sum_tax
             |FROM (
             |  SELECT l_orderkey, l_linenumber, l_quantity, NULL AS l_tax
             |  FROM lineitem
             |  UNION ALL
             |  SELECT l_orderkey, l_linenumber, NULL AS l_quantity, l_tax
             |  FROM lineitem) u
             |GROUP BY l_linenumber""".stripMargin),
      (s, d) => {
        val a = li(s, d).select("l_orderkey", "l_linenumber", "l_quantity")
        val b = li(s, d).select("l_orderkey", "l_linenumber", "l_tax")
        Merge.alignedUnionOuter(Seq(a, b))
          .groupBy("l_linenumber")
          .agg(count(lit(1)).as("n"),
            count(col("l_quantity")).as("n_qty"),
            count(col("l_tax")).as("n_tax"),
            round(sum(coalesce(col("l_quantity"), lit(0))), 2).as("sum_qty"),
            round(sum(coalesce(col("l_tax"), lit(0))), 2).as("sum_tax"))
      }),

    QueryDef(
      "q45_string_agg",
      // Ordered string aggregation (LISTAGG/STRING_AGG): the
      // denormalize-to-text step for exports and prompts. Composed as
      // sorted-distinct collect + join so the concatenation order is a
      // TOTAL order — engine-deterministic, unlike bare
      // string_agg/collect_list whose input order is physical.
      Some("""SELECT c_mktsegment,
             |  array_to_string(list_sort(list_distinct(list(o_orderpriority))), '|') AS priorities,
             |  CAST(count(*) AS BIGINT) AS n
             |FROM customer JOIN orders ON c_custkey = o_custkey
             |GROUP BY c_mktsegment""".stripMargin),
      (s, d) =>
        cust(s, d).join(ord(s, d), col("c_custkey") === col("o_custkey"))
          .groupBy("c_mktsegment")
          .agg(
            array_join(sort_array(collect_set(col("o_orderpriority"))), "|").as("priorities"),
            count(lit(1)).as("n"))),

    QueryDef(
      "q46_map_functions",
      // The MAP higher-order-function surface (q40 covered arrays):
      // map_from_entries builds per-order flag→count and flag→qty maps,
      // map_zip_with merges them into per-flag averages, map_filter
      // drops singleton groups, and explode returns to rows. Map
      // iteration order is engine-internal, but exploding back to rows
      // makes the output order-insensitive — the oracle is the plain
      // relational equivalent. Sums are exact (integer-valued
      // quantities), so avg = round(sum/count) is portable.
      Some("""SELECT l_orderkey, l_returnflag AS flag,
             |  round(sum(l_quantity) / count(*), 2) AS avg_qty
             |FROM lineitem GROUP BY 1, 2 HAVING count(*) > 1""".stripMargin),
      (s, d) => {
        val per = li(s, d).groupBy("l_orderkey", "l_returnflag")
          .agg(count(lit(1)).as("c"), sum("l_quantity").as("q"))
        per.groupBy("l_orderkey")
          .agg(
            map_from_entries(collect_list(struct(col("l_returnflag"), col("c")))).as("mc"),
            map_from_entries(collect_list(struct(col("l_returnflag"), col("q")))).as("mq"))
          .select(col("l_orderkey"),
            explode(map_filter(
              map_zip_with(col("mc"), col("mq"),
                (_, c, q) => when(c > 1, round(q / c, 2))),
              (_, v) => v.isNotNull)))
          .toDF("l_orderkey", "flag", "avg_qty")
      }),

    QueryDef(
      "q47_column_profile",
      // Column-level data profiling (the quality audit run before any
      // pipeline consumes a new drop): per numeric column — row count,
      // non-null count, exact distinct count, min/max (bit-identical
      // parquet passthrough), rounded sum. One pruned 1-column scan per
      // profiled column keeps each pass IO-minimal and embarrassingly
      // parallel; a multi-distinct single pass would force Catalyst's
      // EXPAND (rows × columns blowup) instead.
      Some("""SELECT 'l_quantity' AS col, CAST(count(*) AS BIGINT) AS n,
             |  CAST(count(l_quantity) AS BIGINT) AS n_notnull,
             |  CAST(count(DISTINCT l_quantity) AS BIGINT) AS n_distinct,
             |  min(l_quantity) AS mn, max(l_quantity) AS mx,
             |  round(sum(l_quantity), 2) AS total
             |FROM lineitem
             |UNION ALL
             |SELECT 'l_extendedprice', CAST(count(*) AS BIGINT),
             |  CAST(count(l_extendedprice) AS BIGINT),
             |  CAST(count(DISTINCT l_extendedprice) AS BIGINT),
             |  min(l_extendedprice), max(l_extendedprice),
             |  round(sum(l_extendedprice), 2)
             |FROM lineitem
             |UNION ALL
             |SELECT 'l_discount', CAST(count(*) AS BIGINT),
             |  CAST(count(l_discount) AS BIGINT),
             |  CAST(count(DISTINCT l_discount) AS BIGINT),
             |  min(l_discount), max(l_discount), round(sum(l_discount), 2)
             |FROM lineitem
             |UNION ALL
             |SELECT 'l_tax', CAST(count(*) AS BIGINT),
             |  CAST(count(l_tax) AS BIGINT),
             |  CAST(count(DISTINCT l_tax) AS BIGINT),
             |  min(l_tax), max(l_tax), round(sum(l_tax), 2)
             |FROM lineitem""".stripMargin),
      (s, d) => {
        val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
        cols.map { c =>
          li(s, d).agg(
            count(lit(1)).as("n"),
            count(col(c)).as("n_notnull"),
            countDistinct(col(c)).as("n_distinct"),
            min(col(c)).as("mn"), max(col(c)).as("mx"),
            round(sum(col(c)), 2).as("total"))
            .select(lit(c).as("col"), col("n"), col("n_notnull"),
              col("n_distinct"), col("mn"), col("mx"), col("total"))
        }.reduce(_ unionByName _)
      }),

    QueryDef(
      "q48_skew_audit",
      // Key-skew profiling — the diagnostic run BEFORE choosing a join
      // strategy at scale: per-key group sizes reduced to a distribution
      // (max, exact percentiles, max/mean skew ratio). The sizes are
      // exact integers from one aggregation; everything downstream
      // operates on one row per key, so the profile costs one shuffle
      // regardless of fact-table volume. A skew_ratio near 1 means
      // hash-partitioning balances; large values say salt (q25) or
      // broadcast instead.
      Some("""WITH g AS (
             |  SELECT o_custkey, count(*) AS sz FROM orders GROUP BY 1)
             |SELECT CAST(count(*) AS BIGINT) AS n_keys,
             |  CAST(min(sz) AS BIGINT) AS min_sz,
             |  CAST(max(sz) AS BIGINT) AS max_sz,
             |  round(quantile_cont(sz, 0.5), 4) AS p50_sz,
             |  round(quantile_cont(sz, 0.99), 4) AS p99_sz,
             |  round(sum(sz) / CAST(count(*) AS DOUBLE), 4) AS mean_sz,
             |  round(max(sz) / (sum(sz) / CAST(count(*) AS DOUBLE)), 4)
             |    AS skew_ratio
             |FROM g""".stripMargin),
      (s, d) =>
        ord(s, d)
          .groupBy("o_custkey").agg(count(lit(1)).as("sz"))
          .agg(count(lit(1)).as("n_keys"),
            min("sz").cast("long").as("min_sz"),
            max("sz").cast("long").as("max_sz"),
            round(percentile(col("sz"), lit(0.5)), 4).as("p50_sz"),
            round(percentile(col("sz"), lit(0.99)), 4).as("p99_sz"),
            round(sum("sz") / count(lit(1)).cast("double"), 4).as("mean_sz"),
            round(max("sz") / (sum("sz") / count(lit(1)).cast("double")), 4)
              .as("skew_ratio"))),

    QueryDef(
      "q49_winsorize",
      // Winsorization — outlier capping at the exact p05/p95 fences
      // before a mean-sensitive downstream (the robust-preprocessing
      // companion to ev10's detection). The fences come from
      // GridQuantile (distinct-value counts + cumulative rank — the
      // built-in `percentile` buffers EVERY value per group, executor-
      // fatal at 100 TB; this ships at most |price grid| rows per group
      // and reproduces the same interpolation bit-for-bit) and are
      // ROUNDED to the data's 2-decimal grid before substitution, so
      // the clamped sum stays exact-2dp and its rounding
      // boundary-safe. Fences broadcast; the clamp pass is map-only
      // over the fact table.
      Some("""WITH p AS (
             |  SELECT l_returnflag,
             |    quantile_cont(l_extendedprice, 0.05) AS p05,
             |    quantile_cont(l_extendedprice, 0.95) AS p95
             |  FROM lineitem GROUP BY 1)
             |SELECT l.l_returnflag, CAST(count(*) AS BIGINT) AS n,
             |  CAST(sum(CASE WHEN l_extendedprice < p05 THEN 1 ELSE 0 END)
             |    AS BIGINT) AS n_low,
             |  CAST(sum(CASE WHEN l_extendedprice > p95 THEN 1 ELSE 0 END)
             |    AS BIGINT) AS n_high,
             |  round(sum(CASE WHEN l_extendedprice < p05 THEN round(p05, 2)
             |                 WHEN l_extendedprice > p95 THEN round(p95, 2)
             |                 ELSE l_extendedprice END), 2) AS sum_winsor
             |FROM lineitem l JOIN p USING (l_returnflag)
             |GROUP BY 1""".stripMargin),
      (s, d) => {
        val fences = GridQuantile.perGroup(li(s, d), Seq("l_returnflag"),
          "l_extendedprice", Seq("p05" -> 0.05, "p95" -> 0.95))
        li(s, d).select("l_returnflag", "l_extendedprice")
          .join(broadcast(fences), "l_returnflag")
          .groupBy("l_returnflag")
          .agg(count(lit(1)).as("n"),
            sum(when(col("l_extendedprice") < col("p05"), 1L).otherwise(0L))
              .cast("long").as("n_low"),
            sum(when(col("l_extendedprice") > col("p95"), 1L).otherwise(0L))
              .cast("long").as("n_high"),
            round(sum(
              when(col("l_extendedprice") < col("p05"), round(col("p05"), 2))
                .when(col("l_extendedprice") > col("p95"), round(col("p95"), 2))
                .otherwise(col("l_extendedprice"))), 2).as("sum_winsor"))
      }),

    QueryDef(
      "q50_orc_roundtrip",
      // ORC sink/source fidelity — the second columnar format a lake
      // migration meets (q35 covers CSV, q39 JSON). Rows with the full
      // type mix (long, double, string, date) go out through the ORC
      // writer and back in, then aggregate; the oracle aggregates the
      // parquet directly, so any type/precision loss in the round trip
      // breaks the hash. The write is parallel (one file per task).
      Some("""SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
             |  round(sum(l_extendedprice), 2) AS sum_px,
             |  strftime(min(l_shipdate), '%Y-%m-%d') AS min_ship,
             |  CAST(sum(l_orderkey) AS BIGINT) AS sum_key
             |FROM lineitem GROUP BY 1""".stripMargin),
      (s, d) => {
        val tmp = graft.core.Scratch.dir("graft_orc_rt_")
        li(s, d)
          .select("l_orderkey", "l_returnflag", "l_extendedprice", "l_shipdate")
          .write.mode("overwrite").orc(tmp)
        s.read.orc(tmp)
          .groupBy("l_returnflag")
          .agg(count(lit(1)).cast("long").as("n"),
            round(sum("l_extendedprice"), 2).as("sum_px"),
            date_format(min("l_shipdate"), "yyyy-MM-dd").as("min_ship"),
            sum("l_orderkey").cast("long").as("sum_key"))
      }),

    QueryDef(
      "q51_partition_prune",
      // Hive-style partitioned layout round trip: write partitioned by
      // a key, read back with a partition predicate, aggregate. At
      // 100 TB the predicate prunes at the DIRECTORY level — the scan
      // never opens non-matching partitions (PartitionLayoutSpec
      // freezes the PartitionFilters plan shape; this query puts the
      // same layout under the oracle gate). Oracle aggregates the
      // unpartitioned parquet with the same predicate.
      Some("""SELECT l_returnflag, l_linestatus, CAST(count(*) AS BIGINT) AS n,
             |  round(sum(l_quantity), 2) AS sum_qty
             |FROM lineitem WHERE l_returnflag IN ('R', 'A')
             |GROUP BY 1, 2""".stripMargin),
      (s, d) => {
        val tmp = graft.core.Scratch.dir("graft_part_rt_")
        li(s, d)
          .select("l_orderkey", "l_quantity", "l_linestatus", "l_returnflag")
          .write.mode("overwrite").partitionBy("l_returnflag").parquet(tmp)
        s.read.parquet(tmp)
          .filter(col("l_returnflag").isin("R", "A"))
          .groupBy("l_returnflag", "l_linestatus")
          .agg(count(lit(1)).cast("long").as("n"),
            round(sum("l_quantity"), 2).as("sum_qty"))
      }),

    QueryDef(
      "q52_bucketed_join",
      // The bucketed (pre-partitioned) join layout under the oracle
      // gate: both sides written bucketBy(join key) + sortBy to
      // external tables, then joined and aggregated. BucketingSpec
      // freezes the zero-Exchange plan property; this entry verifies
      // the bucketed WRITE+READ path end-to-end — bucket files, the
      // catalog's bucket metadata, and the bucket-pruned scan all feed
      // the same hash-exact result as the plain-parquet oracle. At
      // 100 TB this layout is how repeated fact-fact joins skip their
      // shuffle entirely.
      Some("""SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n,
             |  round(sum(o_totalprice), 2) AS sum_price
             |FROM orders JOIN customer ON o_custkey = c_custkey
             |GROUP BY 1""".stripMargin),
      (s, d) => {
        val tmp = graft.core.Scratch.dir("graft_bkt_")
        s.read.parquet(s"$d/orders.parquet")
          .select("o_custkey", "o_totalprice")
          .write.bucketBy(8, "o_custkey").sortBy("o_custkey")
          .option("path", s"$tmp/orders").mode("overwrite")
          .saveAsTable("q52_b_orders")
        s.read.parquet(s"$d/customer.parquet")
          .select("c_custkey", "c_mktsegment")
          .write.bucketBy(8, "c_custkey").sortBy("c_custkey")
          .option("path", s"$tmp/customer").mode("overwrite")
          .saveAsTable("q52_b_customer")
        s.table("q52_b_orders")
          .join(s.table("q52_b_customer"),
            col("o_custkey") === col("c_custkey"))
          .groupBy("c_mktsegment")
          .agg(count(lit(1)).cast("long").as("n"),
            round(sum("o_totalprice"), 2).as("sum_price"))
      }),

    QueryDef(
      "q53_constraint_audit",
      // Declarative data-quality constraint checking (the Deequ-style
      // validation pass a lake runs before publishing a table): each
      // constraint is one row with its violation count — completeness
      // (NOT NULL), range (quantity > 0), referential integrity
      // (lineitem.l_orderkey ⊆ orders, via anti-join semantics), and
      // key uniqueness ((orderkey, linenumber) count = rows). The
      // single-table checks share ONE scan+aggregate; the FK check is
      // a broadcast-able semi structure. Violations==0 rows still
      // appear — the audit reports what was CHECKED, not just what
      // failed.
      Some("""WITH base AS (
             |  SELECT CAST(count(*) AS BIGINT) AS n_rows,
             |    CAST(sum(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END)
             |      AS BIGINT) AS null_key,
             |    CAST(sum(CASE WHEN l_quantity <= 0 THEN 1 ELSE 0 END)
             |      AS BIGINT) AS bad_qty,
             |    CAST(count(*) - count(DISTINCT (l_orderkey, l_linenumber))
             |      AS BIGINT) AS dup_keys
             |  FROM lineitem),
             |fk AS (
             |  SELECT CAST(count(*) AS BIGINT) AS orphans FROM lineitem l
             |  WHERE NOT EXISTS (
             |    SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey))
             |SELECT 'not_null(l_orderkey)' AS constraint_name,
             |  null_key AS violations, n_rows FROM base
             |UNION ALL
             |SELECT 'range(l_quantity > 0)', bad_qty, n_rows FROM base
             |UNION ALL
             |SELECT 'unique(l_orderkey, l_linenumber)', dup_keys, n_rows FROM base
             |UNION ALL
             |SELECT 'fk(l_orderkey -> orders)', orphans, n_rows
             |FROM fk, base""".stripMargin),
      (s, d) => {
        val liDf = li(s, d)
        val base = liDf.agg(
          count(lit(1)).cast("long").as("n_rows"),
          sum(when(col("l_orderkey").isNull, 1L).otherwise(0L)).cast("long")
            .as("null_key"),
          sum(when(col("l_quantity") <= 0, 1L).otherwise(0L)).cast("long")
            .as("bad_qty"),
          (count(lit(1)) -
            countDistinct(col("l_orderkey"), col("l_linenumber")))
            .cast("long").as("dup_keys"))
        val orphans = liDf.join(ord(s, d),
            col("l_orderkey") === col("o_orderkey"), "left_anti")
          .agg(count(lit(1)).cast("long").as("orphans"))
        val b = Pin.once(base)
        b.select(lit("not_null(l_orderkey)").as("constraint_name"),
            col("null_key").as("violations"), col("n_rows"))
          .unionByName(b.select(lit("range(l_quantity > 0)").as("constraint_name"),
            col("bad_qty").as("violations"), col("n_rows")))
          .unionByName(b.select(
            lit("unique(l_orderkey, l_linenumber)").as("constraint_name"),
            col("dup_keys").as("violations"), col("n_rows")))
          .unionByName(orphans.crossJoin(b.select("n_rows"))
            .select(lit("fk(l_orderkey -> orders)").as("constraint_name"),
              col("orphans").as("violations"), col("n_rows")))
      }),

    QueryDef(
      "q54_table_diff",
      // Table reconciliation (CDC diff): compare two versions of a
      // keyed table and classify every key as added / removed /
      // changed / unchanged — the audit behind replication checks and
      // upsert validation. Version B is derived deterministically
      // (drop keys ≡0 mod 50, bump o_totalprice on keys ≡1 mod 7): a
      // full outer join on the key, one CASE per class, exact counts +
      // per-class key checksums. At 100 TB both sides shuffle once on
      // the key (or zero times under q52's bucketed layout).
      Some("""WITH b AS (
             |  SELECT o_orderkey,
             |    CASE WHEN o_orderkey % 7 = 1
             |      THEN round(o_totalprice + 1.5, 2) ELSE o_totalprice END
             |      AS o_totalprice
             |  FROM orders WHERE o_orderkey % 50 <> 0),
             |j AS (
             |  SELECT a.o_orderkey AS ka, b.o_orderkey AS kb,
             |    a.o_totalprice AS va, b.o_totalprice AS vb
             |  FROM orders a FULL OUTER JOIN b ON a.o_orderkey = b.o_orderkey)
             |SELECT
             |  CASE WHEN ka IS NULL THEN 'added'
             |       WHEN kb IS NULL THEN 'removed'
             |       WHEN va <> vb THEN 'changed' ELSE 'unchanged' END AS class,
             |  CAST(count(*) AS BIGINT) AS n,
             |  CAST(sum(coalesce(ka, kb)) AS BIGINT) AS key_sum
             |FROM j GROUP BY 1""".stripMargin),
      (s, d) => {
        val a = ord(s, d).select(col("o_orderkey"), col("o_totalprice"))
        val b = a.filter(col("o_orderkey") % 50 =!= 0)
          .select(col("o_orderkey"),
            when(col("o_orderkey") % 7 === 1,
              round(col("o_totalprice") + 1.5, 2))
              .otherwise(col("o_totalprice")).as("o_totalprice"))
        a.select(col("o_orderkey").as("ka"), col("o_totalprice").as("va"))
          .join(b.select(col("o_orderkey").as("kb"), col("o_totalprice").as("vb")),
            col("ka") === col("kb"), "full_outer")
          .groupBy(
            when(col("ka").isNull, "added")
              .when(col("kb").isNull, "removed")
              .when(col("va") =!= col("vb"), "changed")
              .otherwise("unchanged").as("class"))
          .agg(count(lit(1)).cast("long").as("n"),
            sum(coalesce(col("ka"), col("kb"))).cast("long").as("key_sum"))
      }),

    QueryDef(
      "q55_partial_agg_merge",
      // Mergeable partial aggregates — the incremental
      // materialized-view discipline: two disjoint slices of the fact
      // table (old data / new batch) aggregate INDEPENDENTLY, and the
      // final state is the algebraic merge of the partials
      // (sum+sum, count+count, min(min), max(max), and avg re-derived
      // from merged sum/count — never averaged averages). The oracle
      // aggregates the whole table directly: the hash match proves
      // merge(partial(A), partial(B)) ≡ agg(A ∪ B), which is what lets
      // a 100 TB rollup update from a day's delta instead of a rescan.
      Some("""SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
             |  round(sum(l_extendedprice), 2) AS sum_px,
             |  round(min(l_extendedprice), 2) AS min_px,
             |  round(max(l_extendedprice), 2) AS max_px,
             |  round(sum(l_extendedprice) / count(*), 4) AS avg_px
             |FROM lineitem GROUP BY 1""".stripMargin),
      (s, d) => {
        def partial(df: org.apache.spark.sql.DataFrame) =
          df.groupBy("l_returnflag").agg(
            count(lit(1)).as("pn"),
            sum("l_extendedprice").as("psum"),
            min("l_extendedprice").as("pmin"),
            max("l_extendedprice").as("pmax"))
        val old = li(s, d).filter(col("l_orderkey") % 10 =!= 0)
        val delta = li(s, d).filter(col("l_orderkey") % 10 === 0)
        partial(old).unionByName(partial(delta))
          .groupBy("l_returnflag")
          .agg(sum("pn").cast("long").as("n"),
            round(sum("psum"), 2).as("sum_px"),
            round(min("pmin"), 2).as("min_px"),
            round(max("pmax"), 2).as("max_px"),
            round(sum("psum") / sum("pn"), 4).as("avg_px"))
      }),

    QueryDef(
      "q56_equiheight_histogram",
      // Equi-HEIGHT (quantile-bucket) histogram — ev13's equi-width
      // complement and what engine optimizers actually store: ntile
      // deciles over a total order (value, then key columns — so equal
      // values split deterministically at bucket boundaries), each
      // bucket reporting its value range and mass. ntile's exact
      // semantics run WITHOUT a single-partition window over the fact
      // table: the 9 decile boundary keys at ntile's exact cutoff ranks
      // come from the bracket-refine order-statistic selector
      // ([[graft.ops.GridQuantile.rankKeys]], ev30's machinery; the
      // unique (orderkey, linenumber) pair packs into one Long tie key),
      // and each row then buckets by comparing against 9 literals
      // map-side — three narrow column scans, zero row-scale shuffles.
      Some("""WITH r AS (
             |  SELECT l_extendedprice,
             |    ntile(10) OVER (ORDER BY l_extendedprice, l_orderkey,
             |      l_linenumber) AS bucket
             |  FROM lineitem)
             |SELECT CAST(bucket AS BIGINT) AS bucket,
             |  CAST(count(*) AS BIGINT) AS n,
             |  round(min(l_extendedprice), 2) AS lo,
             |  round(max(l_extendedprice), 2) AS hi,
             |  round(sum(l_extendedprice), 2) AS mass
             |FROM r GROUP BY 1""".stripMargin),
      (s, d) => {
        // l_linenumber is 1..7 (TPC-H), so orderkey*8+linenumber is a
        // collision-free Long encoding of the composite tie-break
        val src = li(s, d)
          .select(col("l_extendedprice"),
            (col("l_orderkey") * 8 + col("l_linenumber")).cast("long").as("tie"))
        // fused count+bracket pass: 3 narrow scans total (stats+bracket,
        // refine, assign) — the minimum without a global sort
        val (_, keys) =
          graft.ops.GridQuantile.ntileCutKeys(src, "l_extendedprice", "tie", 10)
        val v = col("l_extendedprice").cast("double")
        val bucket = keys.map { case (kv, kt) =>
          when(v > kv || (v === kv && col("tie") > kt), 1L).otherwise(0L)
        }.reduceOption(_ + _).getOrElse(lit(0L)) + 1L
        src
          .groupBy(bucket.as("bucket"))
          .agg(count(lit(1)).cast("long").as("n"),
            round(min("l_extendedprice"), 2).as("lo"),
            round(max("l_extendedprice"), 2).as("hi"),
            round(sum("l_extendedprice"), 2).as("mass"))
      }),

    QueryDef(
      "q57_chi_square",
      // χ² independence screen between two categorical columns — the
      // statistical dependency audit behind feature selection and
      // stratification design. Per-cell statistic kept integral as
      // long as possible: with observed O, row total R, column total
      // C, grand total N, the cell contribution is
      // (O·N − R·C)² / (R·C·N) — numerator exact integer, ONE double
      // division per cell, summed over the tiny |flags|×|statuses|
      // grid. The contingency table is one shuffle; the margins are
      // windows over the grid.
      Some("""WITH ct AS (
             |  SELECT l_returnflag AS rf, l_linestatus AS ls, count(*) AS o
             |  FROM lineitem GROUP BY 1, 2),
             |m AS (
             |  SELECT rf, ls, o,
             |    sum(o) OVER (PARTITION BY rf) AS r,
             |    sum(o) OVER (PARTITION BY ls) AS c,
             |    sum(o) OVER () AS n
             |  FROM ct)
             |SELECT rf, ls, CAST(o AS BIGINT) AS observed,
             |  round(CAST(r AS DOUBLE) * c / n, 4) AS expected,
             |  round(CAST((o * n - r * c) AS DOUBLE) * (o * n - r * c)
             |    / (CAST(r AS DOUBLE) * c * n), 4) AS chi2_cell
             |FROM m""".stripMargin),
      (s, d) => {
        val wr = Window.partitionBy("rf")
        val wc = Window.partitionBy("ls")
        val wn = Window.partitionBy(PrefixSum.onePart(col("rf")))
        li(s, d)
          .groupBy(col("l_returnflag").as("rf"), col("l_linestatus").as("ls"))
          .agg(count(lit(1)).as("o"))
          .withColumn("r", sum("o").over(wr))
          .withColumn("c", sum("o").over(wc))
          .withColumn("n", sum("o").over(wn))
          .select(col("rf"), col("ls"), col("o").cast("long").as("observed"),
            round(col("r").cast("double") * col("c") / col("n"), 4)
              .as("expected"),
            round((col("o") * col("n") - col("r") * col("c")).cast("double") *
              (col("o") * col("n") - col("r") * col("c")) /
              (col("r").cast("double") * col("c") * col("n")), 4)
              .as("chi2_cell"))
      }),

    QueryDef(
      "q58_mom_growth",
      // Month-over-month growth reporting: monthly order revenue with
      // the previous month's value and the percent change — the
      // time-series reporting staple. One rollup to |months| rows, one
      // lag window over the tiny series; the growth ratio divides two
      // already-2dp-rounded sums, so both engines divide identical
      // doubles.
      Some("""WITH m AS (
             |  SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
             |    CAST(month(o_orderdate) AS BIGINT) AS mo,
             |    round(sum(o_totalprice), 2) AS revenue,
             |    CAST(count(*) AS BIGINT) AS n_orders
             |  FROM orders GROUP BY 1, 2)
             |SELECT yr, mo, revenue, n_orders,
             |  lag(revenue) OVER (ORDER BY yr, mo) AS prev_revenue,
             |  round((revenue - lag(revenue) OVER (ORDER BY yr, mo)) * 100 /
             |    lag(revenue) OVER (ORDER BY yr, mo), 4) + 0.0 AS pct_change
             |FROM m""".stripMargin),
      (s, d) => {
        val w = Window.partitionBy(PrefixSum.onePart(col("yr")))
          .orderBy("yr", "mo")
        ord(s, d)
          .groupBy(year(col("o_orderdate")).cast("long").as("yr"),
            month(col("o_orderdate")).cast("long").as("mo"))
          .agg(round(sum("o_totalprice"), 2).as("revenue"),
            count(lit(1)).cast("long").as("n_orders"))
          .withColumn("prev_revenue", lag(col("revenue"), 1).over(w))
          .withColumn("pct_change",
            round((col("revenue") - col("prev_revenue")) * 100 /
              col("prev_revenue"), 4) + lit(0.0))
      }),

    QueryDef(
      "q59_retractable_agg",
      // RETRACTABLE aggregate maintenance — the sliding-window
      // complement of q55's append-only merge: the materialized state
      // (years ≤1999) slides forward by SUBTRACTING the expiring
      // partial (≤1996) and adding the new one (≥2000), never
      // rescanning the retained middle. Subtraction is only sound for
      // group/abelian aggregates (count, sum — NOT min/max), and only
      // EXACT arithmetic makes `state − expired` equal `sum(retained)`
      // bit-for-bit, so the money column is DECIMAL(18,2) throughout
      // (q38's discipline). The oracle aggregates years ≥1997
      // directly: the hash match proves the delta-maintained state ≡
      // the recomputed truth — a day-delta-sized job where a 100 TB
      // window refresh would otherwise rescan the window. Groups whose
      // count retracts to zero drop out (true deletion semantics).
      Some("""SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
             |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS VARCHAR) AS sum_dec,
             |  round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             |        / count(*), 4) AS avg_px
             |FROM orders WHERE year(o_orderdate) >= 1997
             |GROUP BY 1""".stripMargin),
      (s, d) => {
        val dec = org.apache.spark.sql.types.DecimalType(18, 2)
        def partial(f: org.apache.spark.sql.Column, sign: Int) =
          ord(s, d).filter(f)
            .groupBy("o_orderpriority")
            .agg((count(lit(1)) * sign).as("pn"),
              (sum(col("o_totalprice").cast(dec)) * sign).as("psum"))
        val state   = partial(year(col("o_orderdate")) <= 1999, 1)
        val expired = partial(year(col("o_orderdate")) <= 1996, -1)
        val fresh   = partial(year(col("o_orderdate")) >= 2000, 1)
        state.unionByName(expired).unionByName(fresh)
          .groupBy("o_orderpriority")
          .agg(sum("pn").cast("long").as("n"), sum("psum").as("s"))
          .filter(col("n") > 0)
          .select(col("o_orderpriority"), col("n"),
            col("s").cast(dec).cast("string").as("sum_dec"),
            round(col("s").cast("double") / col("n"), 4).as("avg_px"))
      }),

    QueryDef(
      "q60_nested_pruning",
      // Nested-struct round trip + NESTED column pruning — events/logs
      // lakes are full of struct columns, and reading a whole struct
      // to touch one leaf multiplies scan bytes. Orders go out as
      // parquet with two struct columns (who: {custkey, okey},
      // money: {total, priority}) and come back with only two LEAVES
      // referenced: Spark's nested-schema pruning cuts the ReadSchema
      // to those leaves (frozen in PlanQualitySpec), so the scan reads
      // 2 of 4 nested fields — at 100 TB that's the difference between
      // scanning the struct lake and scanning two columns. The oracle
      // aggregates the flat originals: any value/structure loss in the
      // nested round trip breaks the hash.
      Some("""SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
             |  CAST(sum(o_custkey) AS BIGINT) AS custkey_sum
             |FROM orders GROUP BY 1""".stripMargin),
      (s, d) => {
        val tmp = graft.core.Scratch.dir("graft_nested_")
        ord(s, d)
          .select(
            struct(col("o_custkey").as("custkey"), col("o_orderkey").as("okey"))
              .as("who"),
            struct(col("o_totalprice").as("total"),
              col("o_orderpriority").as("priority")).as("money"))
          .write.mode("overwrite").parquet(tmp)
        s.read.parquet(tmp)
          .groupBy(col("money.priority").as("o_orderpriority"))
          .agg(count(lit(1)).cast("long").as("n"),
            sum(col("who.custkey")).cast("long").as("custkey_sum"))
      }),

    QueryDef(
      "q61_star_join",
      // The 5-table star join (TPC-H Q5's shape): fact lineitem joins
      // through orders to the customer→nation→region dimension chain,
      // filtered by market segment and order year, revenue rolled up
      // by region and year. The plan the engine must produce at 100 TB:
      // every dimension (customer included — dims are orders-of-
      // magnitude smaller than facts) BROADCASTS, so the only shuffle
      // is lineitem⋈orders on the order key plus the final small
      // rollup; segment/date filters prune the dimension before it
      // ships. Revenue = extendedprice·(1−discount) summed as
      // DECIMAL(18,4) — exact, order-independent (doubles would make
      // a 6-way join's sum partition-order-dependent).
      Some("""SELECT r_name, CAST(year(o_orderdate) AS BIGINT) AS yr,
             |  CAST(count(*) AS BIGINT) AS n_items,
             |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))
             |           * CAST(1 - l_discount AS DECIMAL(18,4))) AS VARCHAR)
             |    AS revenue_dec
             |FROM lineitem
             |JOIN orders   ON l_orderkey = o_orderkey
             |JOIN customer ON o_custkey = c_custkey
             |JOIN nation   ON c_nationkey = n_nationkey
             |JOIN region   ON n_regionkey = r_regionkey
             |WHERE c_mktsegment = 'BUILDING' AND year(o_orderdate) >= 1997
             |GROUP BY 1, 2""".stripMargin),
      (s, d) => {
        val dec = org.apache.spark.sql.types.DecimalType(18, 4)
        val rev = col("l_extendedprice").cast(dec) *
          (lit(1) - col("l_discount")).cast(dec)
        li(s, d)
          .join(ord(s, d).filter(year(col("o_orderdate")) >= 1997),
            col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(cust(s, d).filter(col("c_mktsegment") === "BUILDING")),
            col("o_custkey") === col("c_custkey"))
          .join(broadcast(Tables(s, d, "nation")),
            col("c_nationkey") === col("n_nationkey"))
          .join(broadcast(Tables(s, d, "region")),
            col("n_regionkey") === col("r_regionkey"))
          .groupBy(col("r_name"), year(col("o_orderdate")).cast("long").as("yr"))
          .agg(count(lit(1)).cast("long").as("n_items"),
            sum(rev).cast("string").as("revenue_dec"))
      }),

    QueryDef(
      "q62_recursive_cte",
      // Recursive CTE — transitive closure run BY THE SQL ENGINE
      // (Spark 4's WITH RECURSIVE), not by a driver-coordinated loop:
      // four exact copies of every doc linked in a +100k chain, roots =
      // nodes with no incoming edge, and the recursion walks each chain
      // down, labeling every member with its root (canonical) id. The
      // DataFrame loop (dd05's connectedComponents) stays the tool for
      // UNBOUNDED-diameter graphs — engine recursion is depth-limited
      // and UNION ALL only (cycles would not terminate) — but for the
      // DAG-shaped closures pipelines actually run (version chains,
      // directory trees, BOM explosions) the declarative form needs no
      // driver round-trips: the engine plans one iteration per depth
      // level, each a join of the frontier (4·|docs| rows max) against
      // the edge set. Both engines execute the IDENTICAL query text.
      Some(RecursiveClosureSql),
      (s, d) => {
        Tables(s, d, "documents").createOrReplaceTempView("documents")
        s.sql(RecursiveClosureSql)
      }),

    QueryDef(
      "q63_observed_metrics",
      // The OBSERVATION surface (df.observe): pipeline-health metrics
      // accumulated ON the rows a job already streams past — row
      // counts, null counts, sums — with ZERO extra scans. At 100 TB
      // this is the difference between "audit the load" and "read the
      // lake twice": the metrics ride the task stream as accumulators
      // and arrive at the driver with the action's completion. Here the
      // observed scan is a filtered lineitem pass (the shape of any
      // ingest validation); the query returns the metrics row itself,
      // so the oracle's plain aggregate pins exactly what the
      // instrumented path measured. Sums that must be exact are
      // integral or DECIMAL (never float accumulators).
      Some("""SELECT CAST(count(*) AS BIGINT) AS n_rows,
             |  CAST(sum(CASE WHEN l_quantity >= 25 THEN 1 ELSE 0 END) AS BIGINT)
             |    AS n_bulk,
             |  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty_sum,
             |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS VARCHAR)
             |    AS price_dec
             |FROM lineitem WHERE l_discount > 0.02""".stripMargin),
      (s, d) => {
        val obs = org.apache.spark.sql.Observation()
        val dec = org.apache.spark.sql.types.DecimalType(18, 2)
        val observed = li(s, d).filter(col("l_discount") > 0.02)
          .observe(obs,
            count(lit(1)).cast("long").as("n_rows"),
            sum(when(col("l_quantity") >= 25, 1L).otherwise(0L)).cast("long")
              .as("n_bulk"),
            sum(col("l_quantity").cast("long")).cast("long").as("qty_sum"),
            sum(col("l_extendedprice").cast(dec)).cast("string").as("price_dec"))
        // one foreach action drains the instrumented stream; the
        // metrics row IS the query result
        observed.write.format("noop").mode("overwrite").save()
        val m = obs.get
        import s.implicits._
        Seq((m("n_rows").asInstanceOf[Long], m("n_bulk").asInstanceOf[Long],
          m("qty_sum").asInstanceOf[Long], m("price_dec").asInstanceOf[String]))
          .toDF("n_rows", "n_bulk", "qty_sum", "price_dec")
      }),

    QueryDef(
      "q64_pipe_syntax",
      // SQL pipe syntax (Spark 4's |> operator chain) — the linear
      // FROM-first form of scan → filter → aggregate → having → project
      // that reads in EXECUTION order instead of SQL's inside-out
      // nesting. Same Catalyst plan as the ANSI spelling (the parser
      // desugars stage by stage), so the surface costs nothing; the
      // DuckDB oracle is the classic GROUP BY/HAVING equivalent, which
      // is itself the parity statement: two very different query
      // texts, one result hash. Sums go through BIGINT (quantities are
      // integral) so the aggregate is exact.
      Some("""SELECT l_returnflag, l_linestatus,
             |  CAST(count(*) AS BIGINT) AS n,
             |  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
             |FROM lineitem WHERE l_discount > 0.03
             |GROUP BY 1, 2 HAVING count(*) > 100""".stripMargin),
      (s, d) => {
        li(s, d).createOrReplaceTempView("lineitem")
        s.sql("""FROM lineitem
                ||> WHERE l_discount > 0.03
                ||> AGGREGATE CAST(count(*) AS BIGINT) AS n,
                |     CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
                |   GROUP BY l_returnflag, l_linestatus
                ||> WHERE n > 100
                ||> SELECT l_returnflag, l_linestatus, n, qty""".stripMargin)
      }),

    QueryDef(
      "q65_windowed_distinct",
      // Running COUNT(DISTINCT) over a window — a surface Spark's
      // window aggregates don't offer directly (DISTINCT is not
      // allowed in a window aggregate), expressed as
      // size(collect_set() OVER w): per customer, how many distinct
      // order priorities they have used up to each order. The oracle
      // runs DuckDB's native count(DISTINCT …) OVER — two different
      // evaluation strategies gated to the same answer. Scale shape:
      // one hash shuffle on o_custkey; the set state is bounded by the
      // DOMAIN of the counted column (5 priorities), not the frame
      // length, so per-row state stays O(domain) at any row count.
      Some("""SELECT o_orderkey,
             |  CAST(count(DISTINCT o_orderpriority) OVER (
             |    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             |    AS n_prio_seen
             |FROM orders""".stripMargin),
      (s, d) => {
        val w = Window.partitionBy("o_custkey")
          .orderBy("o_orderdate", "o_orderkey")
          .rowsBetween(Window.unboundedPreceding, 0)
        ord(s, d).select(col("o_orderkey"),
          size(collect_set(col("o_orderpriority")).over(w)).cast("long")
            .as("n_prio_seen"))
      }),

    QueryDef(
      "q66_variant_json",
      // The VARIANT type (Spark 4): semi-structured values carried in
      // the engine's binary-JSON encoding and read back with TYPED
      // path extraction — the open-schema column a pipeline lands
      // heterogeneous API payloads into (one column, per-row shape,
      // no schema migration to add a field). Here each order is
      // serialized to nested JSON (object + nested object + array),
      // parsed to VARIANT, and every output value is pulled back out
      // via variant_get typed paths — the oracle computes the same
      // aggregate straight from the base columns, so the gate pins the
      // whole encode→VARIANT→typed-decode loop as value-exact
      // (doubles survive: to_json's shortest-roundtrip formatting
      // parses back to the identical IEEE double). Scale shape: VARIANT
      // decode is per-row work in whole-stage codegen — no shuffle
      // added; the aggregate shuffles the same 2-key groupBy as any
      // rollup.
      Some("""SELECT o_orderpriority AS prio, o_orderstatus AS status,
             |  CAST(count(*) AS BIGINT) AS n,
             |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             |    AS cents
             |FROM orders GROUP BY 1, 2""".stripMargin),
      (s, d) =>
        ord(s, d)
          .select(to_json(struct(
            col("o_orderkey").as("k"),
            struct(col("o_orderpriority").as("p"),
              col("o_totalprice").as("t")).as("meta"),
            array(col("o_orderstatus")).as("tags"))).as("j"))
          .select(expr("parse_json(j)").as("v"))
          .select(
            expr("variant_get(v, '$.meta.p', 'string')").as("prio"),
            expr("variant_get(v, '$.tags[0]', 'string')").as("status"),
            expr("variant_get(v, '$.meta.t', 'double')").as("price"))
          .groupBy("prio", "status")
          .agg(count(lit(1)).cast("long").as("n"),
            sum(round(col("price") * 100).cast("long")).cast("long").as("cents"))),

    QueryDef(
      "q67_sql_udf",
      // SQL-defined functions (Spark 4 CREATE FUNCTION … RETURN):
      // a scalar UDF (net revenue per line) and a TABLE function (a
      // parameterized filtered view) declared in SQL and invoked from a
      // query — the catalog-level reuse surface that replaces
      // copy-pasted expressions across pipeline jobs. The optimizer
      // INLINES both bodies into the calling plan (no black-box eval
      // barrier, unlike a JVM UDF), so pushdown and codegen see through
      // them; the oracle runs the same logic textually inlined. Float
      // determinism: the net expression is evaluated per row in the
      // identical IEEE order in both engines, then cents-quantized
      // before the cross-row sum.
      Some("""SELECT l_returnflag AS flag, CAST(count(*) AS BIGINT) AS n,
             |  CAST(sum(CAST(round(
             |    l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax) * 100)
             |    AS BIGINT)) AS BIGINT) AS net_cents
             |FROM lineitem WHERE l_quantity >= 30
             |GROUP BY 1""".stripMargin),
      (s, d) => {
        li(s, d).createOrReplaceTempView("lineitem")
        s.sql("""CREATE OR REPLACE TEMPORARY FUNCTION graft_net(
                |  p DOUBLE, disc DOUBLE, tax DOUBLE) RETURNS DOUBLE
                |RETURN p * (1.0 - disc) * (1.0 + tax)""".stripMargin)
        s.sql("""CREATE OR REPLACE TEMPORARY FUNCTION graft_bulk_lines(minq DOUBLE)
                |RETURNS TABLE (flag STRING, p DOUBLE, disc DOUBLE, tax DOUBLE)
                |RETURN SELECT l_returnflag, l_extendedprice, l_discount, l_tax
                |FROM lineitem WHERE l_quantity >= minq""".stripMargin)
        s.sql("""SELECT flag, CAST(count(*) AS BIGINT) AS n,
                |  CAST(sum(CAST(round(graft_net(p, disc, tax) * 100) AS BIGINT))
                |    AS BIGINT) AS net_cents
                |FROM graft_bulk_lines(30.0)
                |GROUP BY flag""".stripMargin)
      }),

    QueryDef(
      "q68_k_anonymity",
      // Governance audit: k-anonymity of a quasi-identifier tuple
      // (nation, market segment) over customers — the release-gate
      // check run before publishing any per-row extract of a 100 TB
      // lake. One row out: the k actually achieved (smallest QI group),
      // how many QI groups fall below the k=4 policy, and how many
      // ROWS those risky groups expose. One groupBy shuffle on the QI
      // columns + a broadcast-sized rollup of the group-size table —
      // group count is bounded by the QI domain, so the second
      // aggregate never shuffles meaningful volume at any scale.
      Some("""WITH g AS (
             |  SELECT c_nationkey, c_mktsegment, count(*) AS sz
             |  FROM customer GROUP BY 1, 2)
             |SELECT CAST(min(sz) AS BIGINT) AS k_achieved,
             |  CAST(sum(CASE WHEN sz < 4 THEN 1 ELSE 0 END) AS BIGINT)
             |    AS n_risky_groups,
             |  CAST(sum(CASE WHEN sz < 4 THEN sz ELSE 0 END) AS BIGINT)
             |    AS n_risky_rows
             |FROM g""".stripMargin),
      (s, d) =>
        cust(s, d)
          .groupBy("c_nationkey", "c_mktsegment")
          .agg(count(lit(1)).as("sz"))
          .agg(min("sz").cast("long").as("k_achieved"),
            sum(when(col("sz") < 4, 1).otherwise(0)).cast("long")
              .as("n_risky_groups"),
            sum(when(col("sz") < 4, col("sz")).otherwise(0)).cast("long")
              .as("n_risky_rows")))
  )

  /** q62's query text — one string, submitted verbatim to BOTH engines
    * (Spark executes it natively; the driver runs it as the DuckDB
    * oracle): the strongest possible parity statement for the
    * recursive-CTE surface. */
  private def RecursiveClosureSql: String =
    """WITH RECURSIVE
      |u AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL SELECT doc_id + 100000, text FROM documents
      |  UNION ALL SELECT doc_id + 200000, text FROM documents
      |  UNION ALL SELECT doc_id + 300000, text FROM documents
      |),
      |h AS (SELECT doc_id, md5(text) AS hh FROM u),
      |e AS (
      |  SELECT x.doc_id AS a, y.doc_id AS b
      |  FROM h x JOIN h y ON x.hh = y.hh AND y.doc_id = x.doc_id + 100000),
      |r(node, canonical) AS (
      |  SELECT doc_id, doc_id FROM h WHERE doc_id NOT IN (SELECT b FROM e)
      |  UNION ALL
      |  SELECT e.b, r.canonical FROM r JOIN e ON e.a = r.node
      |)
      |SELECT node AS doc_id, CAST(canonical AS BIGINT) AS canonical
      |FROM r""".stripMargin
}

package graft.ops

import graft.functions.TextFunctions
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Ad-hoc analytical queries over the star schema — the silver-layer
  * analysis surface (SURVEY §2.4 [inferred, optional]) plus the window /
  * set operators that round out the engine beyond strict parity. These
  * are the bench headliners: aggregation-heavy shapes whose plans must
  * stay partial-agg + broadcast-join at scale.
  */
object AnalyticsQueries {
  import Tables.load

  private val dec = DecimalType(18, 2)
  private val dec6 = DecimalType(28, 6)

  /** The partsupp recast shared by the Q9/Q11/Q20 shapes (and mirrored
    * by Q2/Q16 inline): the corpus has no partsupp table, so the
    * DISTINCT (l_partkey, l_suppkey) pair set derived from the fact IS
    * the engine's partsupp, and the two partsupp attributes are
    * deterministic integer functions of the pair key — exact in any
    * engine, so the DuckDB oracle recomputes them bit-identically:
    * supplycost = (pk·37 + sk·17) % 900 + 100 (whole dollars, keeps
    * the profit arithmetic pure integer/decimal), availqty =
    * (pk·7 + sk·11) % 9999 + 1. The distinct partial-aggregates
    * map-side and the attributes are a post-distinct projection, so
    * the pair set costs one keyed shuffle at any sf.
    */
  private def partsuppRecast(spark: org.apache.spark.sql.SparkSession,
                             dir: String): org.apache.spark.sql.DataFrame =
    load(spark, dir, "lineitem")
      .select(col("l_partkey"), col("l_suppkey")).distinct()
      .select(
        col("l_partkey").as("ps_partkey"), col("l_suppkey").as("ps_suppkey"),
        ((col("l_partkey") * 37 + col("l_suppkey") * 17) % 900 + 100)
          .as("ps_supplycost"),
        ((col("l_partkey") * 7 + col("l_suppkey") * 11) % 9999 + 1)
          .as("ps_availqty"))

  val all: Seq[Q] = Seq(

    // TPC-H Q1-shaped pricing summary: the canonical partial+final
    // HashAggregate. All sums decimal-exact, cast to double at the end.
    Q("agg_pricing_summary", (spark, dir) =>
      load(spark, dir, "lineitem")
        .filter(col("l_shipdate") <= lit("1998-09-01").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity").cast(dec)).cast("double").as("sum_qty"),
          sum(col("l_extendedprice").cast(dec)).cast("double").as("sum_base_price"),
          sum((col("l_extendedprice") * (lit(1) - col("l_discount"))).cast(dec6))
            .cast("double").as("sum_disc_price"),
          (sum(col("l_quantity").cast(dec)).cast("double") / count(lit(1))).as("avg_qty"),
          count(lit(1)).as("count_order")),
      oracle = Some("""
      SELECT l_returnflag, l_linestatus,
             CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
             CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
             CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,6))) AS DOUBLE) AS sum_disc_price,
             CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_qty,
             count(*) AS count_order
      FROM lineitem
      WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00'
      GROUP BY l_returnflag, l_linestatus"""), bench = true),

    // ROLLUP grouping sets over the nation→region hierarchy.
    Q("agg_rollup", (spark, dir) => {
      val c = load(spark, dir, "customer")
      val n = broadcast(load(spark, dir, "nation"))
      c.join(n, c("c_nationkey") === n("n_nationkey"), "left")
        .rollup(col("n_name"), col("c_mktsegment"))
        .agg(count(lit(1)).as("n_customers"),
          sum(col("c_acctbal").cast(dec)).cast("double").as("total_bal"))
    }, oracle = Some("""
      SELECT n_name, c_mktsegment, count(*) AS n_customers,
             CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
      FROM customer LEFT JOIN nation ON c_nationkey = n_nationkey
      GROUP BY ROLLUP (n_name, c_mktsegment)""")),

    // CUBE grouping sets: all 4 aggregation levels in one pass.
    Q("agg_cube", (spark, dir) => {
      val o = load(spark, dir, "orders")
      o.cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast(dec)).cast("double").as("total"))
    }, oracle = Some("""
      SELECT o_orderstatus, o_orderpriority, count(*) AS n,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
      FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)""")),

    // Fixed-width histogram: one integer bucket column + one groupBy —
    // the two-pass (bounds, then counts) OLAP histogram collapsed to a
    // single pass because the width is fixed. Bucket arithmetic is
    // integer division, so edges are engine-exact; empty buckets are
    // absent on both sides (no densify step to disagree on).
    Q("agg_histogram_fixed", (spark, dir) =>
      load(spark, dir, "orders")
        .withColumn("bucket",
          expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) div 5000000"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast(dec)).cast("double").as("bucket_total")),
      oracle = Some("""
      SELECT CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) // 5000000
                  AS BIGINT) AS bucket,
             count(*) AS n,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS bucket_total
      FROM orders GROUP BY 1""")),

    // Grouped top-k through the BOUNDED-HEAP custom aggregate
    // ([[graft.functions.expressions.TopKAgg]]): per-group state is
    // O(k) regardless of group size and partials push map-side, where
    // the window row_number() formulation must sort each group's full
    // row set. The oracle is that window formulation — proving the
    // sketch-shaped plan computes the identical top-k multiset. Prices
    // go through exact DECIMAL cents so the values are integers.
    Q("agg_topk_heap", (spark, dir) => {
      val cents = (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
      load(spark, dir, "orders")
        .groupBy(col("o_orderpriority"))
        .agg(graft.functions.expressions.TopKAgg
          .topk_agg(spark, cents, 5).as("top"))
        .select(col("o_orderpriority"), posexplode(col("top")))
        .select(col("o_orderpriority"), (col("pos") + 1).cast("int").as("rank"),
          col("col").as("cents"))
    }, oracle = Some("""
      WITH c AS (
        SELECT o_orderpriority,
               CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        FROM orders),
      r AS (
        SELECT o_orderpriority, cents,
               row_number() OVER (PARTITION BY o_orderpriority
                                  ORDER BY cents DESC) AS rank
        FROM c)
      SELECT o_orderpriority, CAST(rank AS INT) AS rank, cents
      FROM r WHERE rank <= 5""")),

    // Explicit GROUPING SETS (neither rollup nor cube): exactly the
    // per-status and per-priority marginals plus the grand total, with
    // grouping_id disambiguating the null-key rows from genuine nulls —
    // the warehouse reporting shape Catalyst expands into one Expand +
    // single-pass aggregate.
    Q("agg_grouping_sets", (spark, dir) => {
      load(spark, dir, "orders").createOrReplaceTempView("graft_orders_gs")
      spark.sql("""
        SELECT o_orderstatus, o_orderpriority,
               CAST(grouping_id(o_orderstatus, o_orderpriority) AS BIGINT) AS gid,
               count(*) AS n,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        FROM graft_orders_gs
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())""")
    }, oracle = Some("""
      SELECT o_orderstatus, o_orderpriority,
             CAST(grouping(o_orderstatus) * 2 + grouping(o_orderpriority) AS BIGINT) AS gid,
             count(*) AS n,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
      FROM orders GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())""")),

    // Exact interpolated median (percentile, not the approx sketch) —
    // quantities are small integers stored as double, so the (a+b)/2
    // interpolation is bit-exact across engines.
    Q("agg_median", (spark, dir) =>
      load(spark, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(expr("percentile(l_quantity, 0.5)").as("median_qty"),
          count(lit(1)).as("n")),
      oracle = Some("""
      SELECT l_returnflag, quantile_cont(l_quantity, 0.5) AS median_qty,
             count(*) AS n
      FROM lineitem GROUP BY l_returnflag""")),

    // EXACT interpolated percentile spread (p10 / p90 / IQR) — the
    // distribution profile a data-quality report carries. Spark's
    // `percentile` and DuckDB's `quantile_cont` share the textbook
    // lerp (lo + (hi-lo)·frac at rank p·(N-1)), so the doubles —
    // and their difference — hash-match bit-for-bit. Exact percentiles
    // sort within each group partition; at 100 TB the approx-quantile
    // sketch (`agg_approx_quantile_bound`) is the scan-only variant.
    Q("agg_percentile_spread", (spark, dir) =>
      load(spark, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(expr("percentile(l_extendedprice, 0.1)").as("p10"),
          expr("percentile(l_extendedprice, 0.9)").as("p90"),
          expr("percentile(l_extendedprice, 0.75) - percentile(l_extendedprice, 0.25)")
            .as("iqr")),
      oracle = Some("""
      SELECT l_returnflag,
             quantile_cont(l_extendedprice, 0.1) AS p10,
             quantile_cont(l_extendedprice, 0.9) AS p90,
             quantile_cont(l_extendedprice, 0.75)
               - quantile_cont(l_extendedprice, 0.25) AS iqr
      FROM lineitem GROUP BY l_returnflag""")),

    // TPC-H Q3 shape — shipping priority: segment-filtered 3-way join,
    // discounted-revenue rollup per order, exact top-10. Orders and
    // customer grow WITH the fact (orders ≈ lineitem/4, customer ∝ sf),
    // so neither carries a broadcast hint — a hint would override AQE
    // and OOM at the 100 TB design point. Statistics/AQE pick broadcast
    // where the filtered side fits (it does at test scale — plan-pinned
    // in PlanSpec under an explicit threshold; the SMJ fallback is
    // proven result-identical in ScaleSpec at threshold=-1). The top-k
    // is a WindowGroupLimit-free global sort-limit
    // (TakeOrderedAndProject — per-partition heap + driver merge of 10
    // rows, never a full sort). Decimal(28,6) sums keep the revenue
    // exact cross-engine; (rev DESC, orderkey) is a total order so
    // LIMIT cannot flip.
    Q("q3_shipping_priority", (spark, dir) => {
      val cutoff = "1998-06-15"
      val c = load(spark, dir, "customer")
        .filter(col("c_mktsegment") === "BUILDING").select(col("c_custkey"))
      val o = load(spark, dir, "orders")
        .filter(col("o_orderdate") < lit(cutoff).cast("timestamp"))
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"), col("o_orderpriority"))
      val l = load(spark, dir, "lineitem")
        .filter(col("l_shipdate") > lit(cutoff).cast("timestamp"))
        .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
        .agg(sum((col("l_extendedprice") * (lit(1) - col("l_discount"))).cast(dec6))
          .cast("double").as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10)
    }, oracle = Some("""
      SELECT l_orderkey, o_orderdate, o_orderpriority,
             CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,6))) AS DOUBLE) AS revenue
      FROM customer, orders, lineitem
      WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey
        AND l_orderkey = o_orderkey
        AND o_orderdate < TIMESTAMP '1998-06-15'
        AND l_shipdate > TIMESTAMP '1998-06-15'
      GROUP BY l_orderkey, o_orderdate, o_orderpriority
      ORDER BY revenue DESC, l_orderkey LIMIT 10""")),

    // TPC-H Q5 shape — local supplier volume: the 6-table star-and-
    // snowflake join (customer⋈orders⋈lineitem⋈supplier⋈nation⋈region)
    // with the co-location predicate (customer and supplier share a
    // nation). Only the BOUNDED frames carry broadcast hints: region
    // (5 rows) and nation (25 rows) are constants of the schema.
    // Supplier, orders and customer all grow linearly with sf, so they
    // get NO hint — statistics/AQE broadcast them while they fit (they
    // do at test scale, plan-pinned) and degrade to shuffle joins at
    // the 100 TB design point instead of OOMing on a forced broadcast.
    Q("q5_region_volume", (spark, dir) => {
      val r = load(spark, dir, "region").filter(col("r_name") === "ASIA")
      val n = load(spark, dir, "nation")
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey"), col("n_name"))
      val s = load(spark, dir, "supplier")
        .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("s_nationkey"), col("n_name"))
      val c = load(spark, dir, "customer").select(col("c_custkey"), col("c_nationkey"))
      val o = load(spark, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
      load(spark, dir, "lineitem")
        .select(col("l_orderkey"), col("l_suppkey"), col("l_extendedprice"), col("l_discount"))
        .join(s, col("l_suppkey") === col("s_suppkey"))
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey") &&
          col("c_nationkey") === col("s_nationkey"))
        .groupBy(col("n_name"))
        .agg(sum((col("l_extendedprice") * (lit(1) - col("l_discount"))).cast(dec6))
          .cast("double").as("revenue"))
    }, oracle = Some("""
      SELECT n_name,
             CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,6))) AS DOUBLE) AS revenue
      FROM customer, orders, lineitem, supplier, nation, region
      WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
        AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
        AND r_name = 'ASIA'
      GROUP BY n_name""")),

    // TPC-H Q6 shape — the forecast-revenue scan: NO join, NO group —
    // pure predicate pushdown + one global aggregate. The point at
    // 100 TB is that all three filters reach the parquet scan
    // (PushedFilters, plan-pinned) so row groups outside the
    // date/discount/quantity bounds never decompress.
    Q("q6_forecast_revenue", (spark, dir) =>
      load(spark, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1998-01-01").cast("timestamp") &&
          col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
        .agg(sum((col("l_extendedprice") * col("l_discount")).cast(dec6))
          .cast("double").as("revenue"),
          count(lit(1)).as("n_lines")),
      oracle = Some("""
      SELECT CAST(sum(CAST(l_extendedprice * l_discount AS DECIMAL(28,6))) AS DOUBLE) AS revenue,
             count(*) AS n_lines
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        AND l_shipdate < TIMESTAMP '1998-01-01'
        AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""")),

    // TPC-H Q14 shape — promotion share: conditional revenue ratio in
    // ONE pass over the fact — numerator and denominator are two
    // conditionally-predicated aggregates of the same scan, never two
    // scans. Part grows linearly with sf, so it carries NO broadcast
    // hint — stats/AQE broadcast it while it fits. Ratio kept as exact
    // decimal sums cast at the end.
    Q("q14_promo_share", (spark, dir) => {
      val p = load(spark, dir, "part").select(col("p_partkey"), col("p_type"))
      load(spark, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1997-06-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-07-01").cast("timestamp"))
        .select(col("l_partkey"), (col("l_extendedprice") * (lit(1) - col("l_discount"))).cast(dec6).as("rev"))
        .join(p, col("l_partkey") === col("p_partkey"))
        .agg((lit(100.0) * sum(when(col("p_type") === "PROMO", col("rev")).otherwise(lit(0).cast(dec6))).cast("double")
          / sum(col("rev")).cast("double")).as("promo_share"))
    }, oracle = Some("""
      SELECT 100.0 * CAST(sum(CASE WHEN p_type = 'PROMO'
                 THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,6))
                 ELSE CAST(0 AS DECIMAL(28,6)) END) AS DOUBLE)
             / CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,6))) AS DOUBLE)
               AS promo_share
      FROM lineitem, part
      WHERE l_partkey = p_partkey
        AND l_shipdate >= TIMESTAMP '1997-06-01'
        AND l_shipdate < TIMESTAMP '1997-07-01'""")),

    // TPC-H Q18 shape — large-quantity orders: a HAVING-gated
    // aggregation reduced FIRST (the per-order qty rollup is the only
    // full-fact pass), then the surviving key set joins orders. NO
    // side carries a hint: the HAVING keeps a roughly constant
    // FRACTION of orders, so `big` still grows linearly with sf — a
    // forced broadcast on it is the same deferred OOM the r4 verdict
    // flagged on q3/q5/q14, just with a smaller constant. At test
    // scale statistics/AQE broadcast it (it easily fits); at 100 TB
    // the join degrades to shuffle instead of dying on a hint.
    Q("q18_large_orders", (spark, dir) => {
      val big = load(spark, dir, "lineitem")
        .groupBy(col("l_orderkey"))
        .agg(sum(col("l_quantity").cast(dec)).as("total_qty"))
        .filter(col("total_qty") > 150)
      val o = load(spark, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      val c = load(spark, dir, "customer").select(col("c_custkey"), col("c_name"))
      o.join(big, col("o_orderkey") === col("l_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .select(col("c_name"), col("o_orderkey"),
          col("total_qty").cast("double").as("total_qty"), col("o_totalprice"))
        .orderBy(col("total_qty").desc, col("o_orderkey"))
        .limit(20)
    }, oracle = Some("""
      WITH big AS (
        SELECT l_orderkey, sum(CAST(l_quantity AS DECIMAL(18,2))) AS total_qty
        FROM lineitem GROUP BY l_orderkey
        HAVING sum(CAST(l_quantity AS DECIMAL(18,2))) > 150)
      SELECT c_name, o_orderkey, CAST(total_qty AS DOUBLE) AS total_qty, o_totalprice
      FROM big JOIN orders ON o_orderkey = l_orderkey
      JOIN customer ON o_custkey = c_custkey
      ORDER BY total_qty DESC, o_orderkey LIMIT 20""")),

    // TPC-H Q4 shape — order-priority checking: a date-sliced orders
    // scan SEMI-joined to lineitem on a CORRELATED inequality (the
    // EXISTS rewrite — l_shipdate > o_orderdate + 30 days references
    // both sides, so it lands in the semi-join condition, never a
    // post-join filter that would duplicate orders). At 100 TB the
    // date filter prunes the orders scan first and the semi-join
    // never materializes lineitem rows — existence is decided per
    // probe. No hints: both sides grow with sf.
    Q("q4_priority_exists", (spark, dir) => {
      val o = load(spark, dir, "orders")
        .filter(col("o_orderdate") >= lit("1997-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1997-04-01").cast("timestamp"))
        .select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      val l = load(spark, dir, "lineitem").select(col("l_orderkey"), col("l_shipdate"))
      o.join(l, o("o_orderkey") === l("l_orderkey") &&
          l("l_shipdate") > o("o_orderdate") + expr("INTERVAL 30 DAYS"), "left_semi")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("order_count"))
    }, oracle = Some("""
      SELECT o_orderpriority, count(*) AS order_count
      FROM orders
      WHERE o_orderdate >= TIMESTAMP '1997-01-01'
        AND o_orderdate < TIMESTAMP '1997-04-01'
        AND EXISTS (SELECT 1 FROM lineitem
                    WHERE l_orderkey = o_orderkey
                      AND l_shipdate > o_orderdate + INTERVAL 30 DAY)
      GROUP BY o_orderpriority""")),

    // TPC-H Q7 shape — volume shipping between two nations, by year:
    // the two-nation filter is pushed INTO the supplier and customer
    // dim scans (each keeps only rows of the two nations) before the
    // fact joins, so the fact rows that survive the supplier join are
    // already nation-filtered — the classic selective-dim star probe.
    // Nation broadcasts (bounded); supplier/customer/orders grow with
    // sf and carry no hints.
    Q("q7_nation_volume", (spark, dir) => {
      val pair = Seq("NATION_1", "NATION_2")
      val n = load(spark, dir, "nation")
        .filter(col("n_name").isin(pair: _*))
        .select(col("n_nationkey"), col("n_name"))
      val s = load(spark, dir, "supplier")
        .join(broadcast(n.select(col("n_nationkey").as("sn_key"),
          col("n_name").as("supp_nation"))), col("s_nationkey") === col("sn_key"))
        .select(col("s_suppkey"), col("supp_nation"))
      val c = load(spark, dir, "customer")
        .join(broadcast(n.select(col("n_nationkey").as("cn_key"),
          col("n_name").as("cust_nation"))), col("c_nationkey") === col("cn_key"))
        .select(col("c_custkey"), col("cust_nation"))
      val o = load(spark, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
      load(spark, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
        .select(col("l_orderkey"), col("l_suppkey"),
          year(col("l_shipdate")).as("l_year"),
          (col("l_extendedprice") * (lit(1) - col("l_discount"))).cast(dec6).as("volume"))
        .join(s, col("l_suppkey") === col("s_suppkey"))
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .filter(col("supp_nation") =!= col("cust_nation"))
        .groupBy(col("supp_nation"), col("cust_nation"), col("l_year"))
        .agg(sum(col("volume")).cast("double").as("revenue"))
    }, oracle = Some("""
      SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
             CAST(year(l_shipdate) AS INT) AS l_year,
             CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,6))) AS DOUBLE) AS revenue
      FROM lineitem
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation sn ON s_nationkey = sn.n_nationkey
      JOIN nation cn ON c_nationkey = cn.n_nationkey
      WHERE sn.n_name IN ('NATION_1', 'NATION_2')
        AND cn.n_name IN ('NATION_1', 'NATION_2')
        AND sn.n_name <> cn.n_name
        AND l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate < TIMESTAMP '1998-01-01'
      GROUP BY 1, 2, 3""")),

    // TPC-H Q10 shape — returned-item reporting: quarter-sliced orders
    // ⋈ return-flagged lineitem ⋈ customer ⋈ nation, lost-revenue
    // rollup per customer, exact top-20 (TakeOrderedAndProject, never
    // a full sort). Both selective filters (date, returnflag) push to
    // their scans; only nation broadcasts.
    Q("q10_returned_items", (spark, dir) => {
      val o = load(spark, dir, "orders")
        .filter(col("o_orderdate") >= lit("1997-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1997-04-01").cast("timestamp"))
        .select(col("o_orderkey"), col("o_custkey"))
      val l = load(spark, dir, "lineitem")
        .filter(col("l_returnflag") === "R")
        .select(col("l_orderkey"),
          (col("l_extendedprice") * (lit(1) - col("l_discount"))).cast(dec6).as("rev"))
      val c = load(spark, dir, "customer")
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"), col("c_nationkey"))
      val n = load(spark, dir, "nation").select(col("n_nationkey"), col("n_name"))
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("c_custkey"), col("c_name"), col("c_acctbal"), col("n_name"))
        .agg(sum(col("rev")).cast("double").as("revenue"))
        .orderBy(col("revenue").desc, col("c_custkey"))
        .limit(20)
    }, oracle = Some("""
      SELECT c_custkey, c_name, c_acctbal, n_name,
             CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,6))) AS DOUBLE) AS revenue
      FROM customer, orders, lineitem, nation
      WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
        AND o_orderdate >= TIMESTAMP '1997-01-01'
        AND o_orderdate < TIMESTAMP '1997-04-01'
        AND l_returnflag = 'R' AND c_nationkey = n_nationkey
      GROUP BY c_custkey, c_name, c_acctbal, n_name
      ORDER BY revenue DESC, c_custkey LIMIT 20""")),

    // TPC-H Q13 shape — customer order-count distribution: LEFT outer
    // join (customers with zero orders must survive with count 0),
    // then a DOUBLE aggregation — per-customer count, then the
    // distribution over counts. The second groupBy's key cardinality
    // is tiny (max orders per customer), so the heavy shuffle is only
    // the first; the orders-side filter stands in for Q13's comment
    // NOT LIKE.
    Q("q13_order_distribution", (spark, dir) => {
      val o = load(spark, dir, "orders")
        .filter(col("o_orderpriority") =!= "1-URGENT")
        .select(col("o_custkey"), col("o_orderkey"))
      load(spark, dir, "customer").select(col("c_custkey"))
        .join(o, col("c_custkey") === col("o_custkey"), "left")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("c_count"))
        .groupBy(col("c_count"))
        .agg(count(lit(1)).as("custdist"))
    }, oracle = Some("""
      SELECT c_count, count(*) AS custdist FROM (
        SELECT c_custkey, count(o_orderkey) AS c_count
        FROM customer LEFT JOIN orders
          ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
        GROUP BY c_custkey)
      GROUP BY c_count""")),

    // TPC-H Q16 shape (partsupp-free recast) — supplier diversity per
    // part class: the DISTINCT (partkey, suppkey) pair set is derived
    // from the fact (the engine's partsupp), a blacklist is removed
    // with the NOT-IN anti-join (every 97th supplier — Q16's
    // complaints subquery), and supplier_cnt is an exact
    // count(DISTINCT) per (brand, type, size). The pair-set distinct
    // and the count-distinct both partial-aggregate map-side.
    Q("q16_supplier_diversity", (spark, dir) => {
      val pairs = load(spark, dir, "lineitem")
        .select(col("l_partkey"), col("l_suppkey")).distinct()
      val blacklist = load(spark, dir, "supplier")
        .filter(col("s_suppkey") % 97 === 0).select(col("s_suppkey"))
      val p = load(spark, dir, "part")
        .filter(col("p_brand") =!= "Brand#1" && col("p_size") <= 25)
        .select(col("p_partkey"), col("p_brand"), col("p_type"), col("p_size"))
      pairs.join(blacklist, col("l_suppkey") === col("s_suppkey"), "left_anti")
        .join(p, col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"), col("p_type"), col("p_size"))
        .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
    }, oracle = Some("""
      WITH pairs AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
      SELECT p_brand, p_type, p_size,
             count(DISTINCT l_suppkey) AS supplier_cnt
      FROM pairs JOIN part ON l_partkey = p_partkey
      WHERE p_brand <> 'Brand#1' AND p_size <= 25
        AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_suppkey % 97 = 0)
      GROUP BY p_brand, p_type, p_size""")),

    // TPC-H Q19 shape — disjunctive predicate join: three
    // (brand, size-band, quantity-band) conjunctions OR'd together.
    // The part-side disjuncts (brand ∈ {1,2,3}, size ≤ 50) are
    // factored out and PUSHED to the part scan; the mixed
    // lineitem×part residual stays in the join condition. At 100 TB
    // the factored pushdown is the difference between scanning 3
    // brands and scanning the whole part table.
    Q("q19_disjunctive_bands", (spark, dir) => {
      val p = load(spark, dir, "part")
        .filter(col("p_brand").isin("Brand#1", "Brand#2", "Brand#3"))
        .select(col("p_partkey"), col("p_brand"), col("p_size"))
      val l = load(spark, dir, "lineitem")
        .select(col("l_partkey"), col("l_quantity"),
          (col("l_extendedprice") * (lit(1) - col("l_discount"))).cast(dec6).as("rev"))
      l.join(p, col("l_partkey") === col("p_partkey") && (
          (col("p_brand") === "Brand#1" && col("p_size").between(1, 15) &&
            col("l_quantity").between(1, 30)) ||
          (col("p_brand") === "Brand#2" && col("p_size").between(10, 30) &&
            col("l_quantity").between(20, 40)) ||
          (col("p_brand") === "Brand#3" && col("p_size").between(20, 50) &&
            col("l_quantity").between(30, 50))))
        .agg(sum(col("rev")).cast("double").as("revenue"),
          count(lit(1)).as("n_lines"))
    }, oracle = Some("""
      SELECT CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,6))) AS DOUBLE) AS revenue,
             count(*) AS n_lines
      FROM lineitem JOIN part ON l_partkey = p_partkey
       AND ((p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 30)
         OR (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 30 AND l_quantity BETWEEN 20 AND 40)
         OR (p_brand = 'Brand#3' AND p_size BETWEEN 20 AND 50 AND l_quantity BETWEEN 30 AND 50))""")),

    // TPC-H Q21 shape — suppliers who kept orders waiting, via the
    // GROUPED rewrite of the exists/not-exists pair: reduce the fact
    // ONCE to (order, supplier, was-late) grain (late = shipped > 60
    // days after order date), then attach per-order supplier/late
    // counts with a WINDOW over the order key — a late pair in a
    // multi-supplier order whose supplier is the only late one is a
    // wait event. One fact scan, two keyed shuffles, zero self-joins —
    // the naive exists/not-exists formulation scans lineitem three
    // times and self-joins it twice, which is exactly what dies first
    // at 100 TB. Top-20 by wait count, exact.
    Q("q21_waiting_suppliers", (spark, dir) => {
      val o = load(spark, dir, "orders")
        .filter(col("o_orderstatus") === "F")
        .select(col("o_orderkey"), col("o_orderdate"))
      val pairs = load(spark, dir, "lineitem")
        .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"))
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_orderkey"), col("l_suppkey"))
        .agg(max(col("l_shipdate") >
          col("o_orderdate") + expr("INTERVAL 60 DAYS")).as("late"))
      val w = Window.partitionBy(col("l_orderkey"))
      val s = load(spark, dir, "supplier").select(col("s_suppkey"), col("s_name"))
      pairs
        .withColumn("nsupp", count(lit(1)).over(w))
        .withColumn("nlate", sum(when(col("late"), 1L).otherwise(0L)).over(w))
        .filter(col("late") && col("nsupp") > 1 && col("nlate") === 1)
        .join(s, col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("s_name"))
        .agg(count(lit(1)).as("numwait"))
        .orderBy(col("numwait").desc, col("s_name"))
        .limit(20)
    }, oracle = Some("""
      WITH l AS (
        SELECT l.l_orderkey, l.l_suppkey,
               l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY AS late
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        WHERE o.o_orderstatus = 'F'),
      stats AS (
        SELECT l_orderkey,
               count(DISTINCT l_suppkey) AS nsupp,
               count(DISTINCT CASE WHEN late THEN l_suppkey END) AS nlate
        FROM l GROUP BY l_orderkey),
      waits AS (
        SELECT DISTINCT l.l_orderkey, l.l_suppkey
        FROM l JOIN stats USING (l_orderkey)
        WHERE l.late AND stats.nsupp > 1 AND stats.nlate = 1)
      SELECT s_name, count(*) AS numwait
      FROM waits JOIN supplier ON l_suppkey = s_suppkey
      GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 20""")),

    // TPC-H Q22 shape — inactive high-balance customers: the global
    // average balance is a 1-row aggregate joined back by BROADCAST
    // (never a collect), the comparison is kept in EXACT integer form
    // (bal·n > total over DECIMAL — a cross-engine-stable rewrite of
    // bal > total/n), and "inactive" is an ANTI join against the
    // recent-orders key set. Grouped per nation.
    Q("q22_inactive_customers", (spark, dir) => {
      val c = load(spark, dir, "customer")
        .select(col("c_custkey"), col("c_nationkey"),
          col("c_acctbal").cast(dec).as("bal"))
      val t = c.filter(col("bal") > 0)
        .agg(sum(col("bal")).as("total"), count(lit(1)).as("n"))
      val recent = load(spark, dir, "orders")
        .filter(col("o_orderdate") >= lit("1999-01-01").cast("timestamp"))
        .select(col("o_custkey"))
      c.crossJoin(broadcast(t))
        .filter(col("bal") * col("n") > col("total"))
        .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("numcust"),
          sum(col("bal")).cast("double").as("totacctbal"))
    }, oracle = Some("""
      WITH c AS (
        SELECT c_custkey, c_nationkey, CAST(c_acctbal AS DECIMAL(18,2)) AS bal
        FROM customer),
      t AS (SELECT sum(bal) AS total, count(*) AS n FROM c WHERE bal > 0)
      SELECT c_nationkey, count(*) AS numcust,
             CAST(sum(bal) AS DOUBLE) AS totacctbal
      FROM c, t
      WHERE bal * n > total
        AND NOT EXISTS (SELECT 1 FROM orders
                        WHERE o_custkey = c_custkey
                          AND o_orderdate >= TIMESTAMP '1999-01-01')
      GROUP BY c_nationkey""")),

    // TPC-H Q8 shape — market share: the share of one nation's
    // suppliers in a region's yearly revenue, as a ratio of two
    // conditional aggregates over ONE joined pass (like q14, never two
    // scans). Customer-side nation keys restrict to the region
    // (broadcast — nation/region are schema constants); the supplier
    // side only tags whether the line is "ours". Exact decimal sums;
    // the final division is one double op on identical operands.
    Q("q8_market_share", (spark, dir) => {
      val focus = "NATION_3"
      val r = load(spark, dir, "region").filter(col("r_name") === "EUROPE")
      val regionNations = load(spark, dir, "nation")
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey").as("cn_key"))
      val sNation = load(spark, dir, "nation")
        .select(col("n_nationkey").as("sn_key"), col("n_name").as("supp_nation"))
      val s = load(spark, dir, "supplier")
        .join(broadcast(sNation), col("s_nationkey") === col("sn_key"))
        .select(col("s_suppkey"), col("supp_nation"))
      val c = load(spark, dir, "customer")
        .join(broadcast(regionNations), col("c_nationkey") === col("cn_key"))
        .select(col("c_custkey"))
      val o = load(spark, dir, "orders")
        .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
        .select(col("o_orderkey"), col("o_custkey"),
          year(col("o_orderdate")).as("o_year"))
      load(spark, dir, "lineitem")
        .select(col("l_orderkey"), col("l_suppkey"),
          (col("l_extendedprice") * (lit(1) - col("l_discount"))).cast(dec6).as("volume"))
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(s, col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("o_year"))
        .agg((sum(when(col("supp_nation") === focus, col("volume"))
            .otherwise(lit(0).cast(dec6))).cast("double")
          / sum(col("volume")).cast("double")).as("mkt_share"))
    }, oracle = Some("""
      SELECT CAST(year(o_orderdate) AS INT) AS o_year,
             CAST(sum(CASE WHEN sn.n_name = 'NATION_3'
                   THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,6))
                   ELSE CAST(0 AS DECIMAL(28,6)) END) AS DOUBLE)
             / CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,6))) AS DOUBLE)
               AS mkt_share
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation cn ON c_nationkey = cn.n_nationkey
      JOIN region ON cn.n_regionkey = r_regionkey
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation sn ON s_nationkey = sn.n_nationkey
      WHERE r_name = 'EUROPE'
        AND o_orderdate >= TIMESTAMP '1996-01-01'
        AND o_orderdate < TIMESTAMP '1998-01-01'
      GROUP BY 1""")),

    // TPC-H Q15 shape — top supplier: the quarterly per-supplier
    // revenue view, then the suppliers whose revenue EQUALS the view's
    // max (ties kept, as the spec demands). The max is a 1-row
    // aggregate of the view broadcast back — never a collect — and
    // revenues stay exact decimals end to end, so the equality cannot
    // miss by an ulp on any engine.
    Q("q15_top_supplier", (spark, dir) => {
      val rev = load(spark, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-04-01").cast("timestamp"))
        .groupBy(col("l_suppkey"))
        .agg(sum((col("l_extendedprice") * (lit(1) - col("l_discount"))).cast(dec6))
          .as("total_rev"))
      val top = rev.agg(max(col("total_rev")).as("max_rev"))
      val s = load(spark, dir, "supplier").select(col("s_suppkey"), col("s_name"))
      rev.crossJoin(broadcast(top))
        .filter(col("total_rev") === col("max_rev"))
        .join(s, col("l_suppkey") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"),
          col("total_rev").cast("double").as("total_rev"))
    }, oracle = Some("""
      WITH rev AS (
        SELECT l_suppkey,
               sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,6))) AS total_rev
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1997-01-01'
          AND l_shipdate < TIMESTAMP '1997-04-01'
        GROUP BY l_suppkey)
      SELECT s_suppkey, s_name, CAST(total_rev AS DOUBLE) AS total_rev
      FROM rev JOIN supplier ON l_suppkey = s_suppkey
      WHERE total_rev = (SELECT max(total_rev) FROM rev)""")),

    // TPC-H Q17 shape — small-quantity-order revenue: the correlated
    // per-part average-quantity subquery becomes a WHOLE-PARTITION
    // window over the brand-filtered fact rows — ONE lineitem scan
    // (the brand join prunes it first; a part's lineitem rows all
    // survive that join, so window stats ≡ the global per-part stats),
    // one shuffle on partkey, no fact self-join and no stats pass over
    // parts the brand excluded. The 20% threshold comparison is
    // exact: qty·5·n < sum(qty) in decimal arithmetic instead of a
    // rounded avg — bit-stable cross-engine.
    Q("q17_small_quantity", (spark, dir) => {
      val p = load(spark, dir, "part")
        .filter(col("p_brand") === "Brand#5")
        .select(col("p_partkey"))
      val wPart = Window.partitionBy(col("l_partkey"))
      load(spark, dir, "lineitem")
        .select(col("l_partkey"), col("l_quantity"), col("l_extendedprice"))
        .join(p, col("l_partkey") === col("p_partkey"))
        .withColumn("qty_sum", sum(col("l_quantity").cast(dec)).over(wPart))
        .withColumn("qty_n", count(lit(1)).over(wPart))
        .filter(col("l_quantity").cast(dec) * lit(5) * col("qty_n") < col("qty_sum"))
        .agg((sum(col("l_extendedprice").cast(dec6)) / lit(7.0))
          .cast("double").as("avg_yearly"),
          count(lit(1)).as("n_lines"))
    }, oracle = Some("""
      WITH br AS (
        SELECT l_partkey, l_quantity, l_extendedprice
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE p_brand = 'Brand#5'),
      st AS (
        SELECT l_quantity, l_extendedprice,
               sum(CAST(l_quantity AS DECIMAL(18,2)))
                 OVER (PARTITION BY l_partkey) AS qty_sum,
               count(*) OVER (PARTITION BY l_partkey) AS qty_n
        FROM br)
      SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(28,6))) / 7.0 AS DOUBLE) AS avg_yearly,
             count(*) AS n_lines
      FROM st
      WHERE CAST(l_quantity AS DECIMAL(18,2)) * 5 * qty_n < qty_sum""")),

    // TPC-H Q9 shape (partsupp recast) — product-type profit by
    // supplier nation and year: the widest TPC-H join tree (fact +
    // FIVE sides). Join order matters at 100 TB: the selective part
    // filter (name LIKE, pushed to the part scan) prunes the fact
    // FIRST, the pair-set supplycost attaches on the already-pruned
    // rows, and bounded nation broadcasts; profit stays exact —
    // DECIMAL(28,6) revenue minus integer-dollar cost — until the one
    // final double cast.
    Q("q9_product_profit", (spark, dir) => {
      val ps = partsuppRecast(spark, dir)
        .select(col("ps_partkey"), col("ps_suppkey"), col("ps_supplycost"))
      val p = load(spark, dir, "part")
        .filter(col("p_name").contains("red"))
        .select(col("p_partkey"))
      val s = load(spark, dir, "supplier")
        .select(col("s_suppkey"), col("s_nationkey"))
      val n = load(spark, dir, "nation")
        .select(col("n_nationkey"), col("n_name"))
      val o = load(spark, dir, "orders")
        .select(col("o_orderkey"), year(col("o_orderdate")).as("o_year"))
      load(spark, dir, "lineitem")
        .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
          col("l_quantity").cast("long").as("qty"),
          (col("l_extendedprice") * (lit(1) - col("l_discount"))).cast(dec6).as("rev"))
        .join(p, col("l_partkey") === col("p_partkey"))
        .join(ps, col("l_partkey") === col("ps_partkey") &&
          col("l_suppkey") === col("ps_suppkey"))
        .join(s, col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("n_name").as("nation"), col("o_year"))
        .agg(sum(col("rev") - col("ps_supplycost") * col("qty"))
          .cast("double").as("sum_profit"))
    }, oracle = Some("""
      WITH ps AS (
        SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
               (l_partkey*37 + l_suppkey*17) % 900 + 100 AS ps_supplycost
        FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem))
      SELECT n_name AS nation, CAST(year(o_orderdate) AS INT) AS o_year,
             CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,6))
                      - ps_supplycost * CAST(l_quantity AS BIGINT)) AS DOUBLE) AS sum_profit
      FROM lineitem l
      JOIN part ON l.l_partkey = p_partkey
      JOIN ps ON ps_partkey = l.l_partkey AND ps_suppkey = l.l_suppkey
      JOIN supplier ON l.l_suppkey = s_suppkey
      JOIN nation ON s_nationkey = n_nationkey
      JOIN orders ON l.l_orderkey = o_orderkey
      WHERE p_name LIKE '%red%'
      GROUP BY 1, 2""")),

    // TPC-H Q11 shape (partsupp recast) — important stock: the value
    // held by one region's suppliers per part, kept when it exceeds
    // 0.1% of the region's total. Pure INTEGER value arithmetic
    // (dollar cost × availqty), so the HAVING threshold is the exact
    // rewrite value·1000 > total — no division, bit-stable on any
    // engine. The total is a 1-row aggregate broadcast back (never a
    // collect), the Q22 discipline. Region-scoped (not single-nation)
    // so the supplier slice is non-empty at every sf.
    Q("q11_important_stock", (spark, dir) => {
      val r = load(spark, dir, "region")
        .filter(col("r_name") === "EUROPE").select(col("r_regionkey"))
      val n = load(spark, dir, "nation")
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey"))
      val s = load(spark, dir, "supplier")
        .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"))
      val nat = partsuppRecast(spark, dir)
        .join(s, col("ps_suppkey") === col("s_suppkey"))
        .select(col("ps_partkey"),
          (col("ps_supplycost") * col("ps_availqty")).as("v"))
      val tot = nat.agg(sum(col("v")).as("total"))
      nat.groupBy(col("ps_partkey"))
        .agg(sum(col("v")).as("value"))
        .crossJoin(broadcast(tot))
        .filter(col("value") * 1000 > col("total"))
        .select(col("ps_partkey"), col("value"))
    }, oracle = Some("""
      WITH ps AS (
        SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
               (l_partkey*37 + l_suppkey*17) % 900 + 100 AS ps_supplycost,
               (l_partkey*7 + l_suppkey*11) % 9999 + 1 AS ps_availqty
        FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)),
      nat AS (
        SELECT ps_partkey, ps_supplycost * ps_availqty AS v
        FROM ps JOIN supplier ON ps_suppkey = s_suppkey
                JOIN nation ON s_nationkey = n_nationkey
                JOIN region ON n_regionkey = r_regionkey
        WHERE r_name = 'EUROPE'),
      tot AS (SELECT sum(v) AS total FROM nat)
      SELECT ps_partkey, CAST(sum(v) AS BIGINT) AS value
      FROM nat, tot
      GROUP BY ps_partkey, total
      HAVING sum(v) * 1000 > total""")),

    // TPC-H Q12 shape — ship-mode priority: the cheapest win in the
    // sweep, ONE fact pass joined only to orders (no partsupp at all).
    // Ship mode is a deterministic derivation of the line key (the
    // corpus carries no l_shipmode column) — CASE over
    // (orderkey·3+linenumber) mod 7, identical arithmetic in the
    // oracle — and "late" is shipped > 45 days after order date. The
    // ship-date year slice pushes to the lineitem scan; the two
    // priority counts are conditional aggregates in the same pass.
    Q("q12_shipmode_priority", (spark, dir) => {
      val modeIdx = pmod(col("l_orderkey") * 3 + col("l_linenumber"), lit(7))
      val shipmode = when(modeIdx === 0, "AIR").when(modeIdx === 1, "FOB")
        .when(modeIdx === 2, "MAIL").when(modeIdx === 3, "RAIL")
        .when(modeIdx === 4, "REG AIR").when(modeIdx === 5, "SHIP")
        .otherwise("TRUCK")
      val hi = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
      val o = load(spark, dir, "orders")
        .select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      load(spark, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1998-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1999-01-01").cast("timestamp"))
        .select(col("l_orderkey"), col("l_shipdate"), shipmode.as("shipmode"))
        .filter(col("shipmode").isin("MAIL", "SHIP"))
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .filter(col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 45 DAYS"))
        .groupBy(col("shipmode"))
        .agg(sum(when(hi, 1L).otherwise(0L)).as("high_line_count"),
          sum(when(hi, 0L).otherwise(1L)).as("low_line_count"))
    }, oracle = Some("""
      SELECT CASE (l_orderkey*3 + l_linenumber) % 7
               WHEN 0 THEN 'AIR' WHEN 1 THEN 'FOB' WHEN 2 THEN 'MAIL'
               WHEN 3 THEN 'RAIL' WHEN 4 THEN 'REG AIR' WHEN 5 THEN 'SHIP'
               ELSE 'TRUCK' END AS shipmode,
             CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
                      THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
             CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
                      THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      WHERE l_shipdate >= TIMESTAMP '1998-01-01'
        AND l_shipdate < TIMESTAMP '1999-01-01'
        AND l_shipdate > o_orderdate + INTERVAL 45 DAY
        AND CASE (l_orderkey*3 + l_linenumber) % 7
              WHEN 2 THEN 'MAIL' WHEN 5 THEN 'SHIP' ELSE 'X' END
            IN ('MAIL','SHIP')
      GROUP BY 1""")),

    // TPC-H Q20 shape (partsupp recast) — part-supplier pruning:
    // suppliers in one nation holding EXCESS stock of the filtered
    // parts (availqty > half the quantity they actually shipped of
    // that part in the year). The pruning cascade is the point at
    // 100 TB: the part-name filter prunes the pair set, the year
    // slice prunes the shipped-quantity aggregate, their join is
    // pair-keyed, and the surviving supplier keys reach the supplier
    // table as a LEFT SEMI probe — the supplier scan never fans out.
    Q("q20_excess_stock", (spark, dir) => {
      val ps = partsuppRecast(spark, dir)
        .select(col("ps_partkey"), col("ps_suppkey"), col("ps_availqty"))
      val p = load(spark, dir, "part")
        .filter(col("p_name").startsWith("small"))
        .select(col("p_partkey"))
      val sq = load(spark, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1998-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1999-01-01").cast("timestamp"))
        .groupBy(col("l_partkey"), col("l_suppkey"))
        .agg(sum(col("l_quantity").cast(dec)).as("shipped"))
      val excess = ps
        .join(p, col("ps_partkey") === col("p_partkey"))
        .join(sq, col("ps_partkey") === col("l_partkey") &&
          col("ps_suppkey") === col("l_suppkey"))
        .filter(col("ps_availqty") * 2 > col("shipped"))
        .select(col("ps_suppkey"))
      val n = load(spark, dir, "nation")
        .filter(col("n_name") === "NATION_3").select(col("n_nationkey"))
      load(spark, dir, "supplier")
        .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
        .join(excess, col("s_suppkey") === col("ps_suppkey"), "left_semi")
        .select(col("s_suppkey"), col("s_name"))
        .orderBy(col("s_name"))
    }, oracle = Some("""
      WITH ps AS (
        SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
               (l_partkey*7 + l_suppkey*11) % 9999 + 1 AS ps_availqty
        FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)),
      sq AS (
        SELECT l_partkey, l_suppkey,
               sum(CAST(l_quantity AS DECIMAL(18,2))) AS shipped
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1998-01-01'
          AND l_shipdate < TIMESTAMP '1999-01-01'
        GROUP BY 1, 2),
      excess AS (
        SELECT DISTINCT ps_suppkey
        FROM ps
        JOIN sq ON ps_partkey = l_partkey AND ps_suppkey = l_suppkey
        WHERE ps_partkey IN (SELECT p_partkey FROM part
                             WHERE p_name LIKE 'small%')
          AND ps_availqty * 2 > shipped)
      SELECT s_suppkey, s_name
      FROM supplier JOIN nation ON s_nationkey = n_nationkey
      WHERE n_name = 'NATION_3'
        AND s_suppkey IN (SELECT ps_suppkey FROM excess)
      ORDER BY s_name""")),

    // ROBUST outlier detection via MAD (median absolute deviation) —
    // the heavy-tail-safe alternative to the z-score sweep
    // (`events_anomaly_hours`): per flag, med = median(price), MAD =
    // median(|price − med|), outlier when |price − med| > 1.5·MAD.
    // Both medians run through the DISTRIBUTED two-phase rank
    // ([[groupedMedian]]) — Spark's exact `percentile` buffers every
    // group value in one aggregation buffer, the per-group OOM at the
    // 100 TB design point — and the median is assembled with the SAME
    // lerp arithmetic (lo + (hi−lo)·0.5) DuckDB's quantile_cont uses,
    // so medians, deviations, and the 1.5·MAD cut are identical
    // doubles cross-engine. Broadcast 3-row frames, never a collect.
    Q("agg_mad_outliers", (spark, dir) => {
      // MAD is inherently multi-pass (median → deviations → median →
      // cut): materialize the projected fact ONCE and run every pass
      // off the columnar cache — the alternative re-reads the fact per
      // consumer (6 scans). At 100 TB this is the standard cache-the-
      // projection trade; the projection is 4 narrow columns.
      val li = load(spark, dir, "lineitem")
        .select(col("l_returnflag"), col("l_extendedprice"),
          col("l_orderkey"), col("l_linenumber"))
        .localCheckpoint(true)
      // med/mad are 3-row (one per returnflag) METADATA frames, but
      // each embeds a full GlobalRank pass over the fact. Left lazy,
      // every consumer INLINES that pass: the r18 plan audit measured
      // the un-truncated query at 213 physical operators / 112
      // Exchanges (med's rank subtree replicated up to 6×, each copy
      // re-sorting the fact at runtime — expression-id renaming defeats
      // AQE exchange reuse across the copies). Checkpointing the 3-row
      // results truncates the lineage (guide §3.3: materialise an
      // intermediate to stop a plan replaying expensive subtrees): each
      // median pass now executes exactly once, and the final plan is
      // two broadcast joins over the cached projection.
      val med = groupedMedian(li, "l_returnflag", "l_extendedprice",
        Seq(col("l_orderkey"), col("l_linenumber"))).withColumnRenamed("__med", "med")
        .localCheckpoint(true)
      // dev stays lazy: from the cached projection it is one broadcast
      // join + an abs — cheaper to re-derive than to materialize
      val dev = li.join(broadcast(med), "l_returnflag")
        .withColumn("ad", abs(col("l_extendedprice") - col("med")))
      val mad = groupedMedian(dev, "l_returnflag", "ad",
        Seq(col("l_orderkey"), col("l_linenumber"))).withColumnRenamed("__med", "mad")
        .localCheckpoint(true)
      dev.join(broadcast(mad), "l_returnflag")
        .filter(col("ad") > lit(1.5) * col("mad"))
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n_outliers"),
          min(col("l_extendedprice")).as("lo"),
          max(col("l_extendedprice")).as("hi"))
    }, oracle = Some("""
      WITH med AS (
        SELECT l_returnflag, quantile_cont(l_extendedprice, 0.5) AS med
        FROM lineitem GROUP BY 1),
      dev AS (
        SELECT l.l_returnflag, l.l_extendedprice,
               abs(l.l_extendedprice - m.med) AS ad
        FROM lineitem l JOIN med m USING (l_returnflag)),
      mad AS (
        SELECT l_returnflag, quantile_cont(ad, 0.5) AS mad
        FROM dev GROUP BY 1)
      SELECT d.l_returnflag, count(*) AS n_outliers,
             min(d.l_extendedprice) AS lo, max(d.l_extendedprice) AS hi
      FROM dev d JOIN mad m USING (l_returnflag)
      WHERE d.ad > 1.5 * m.mad
      GROUP BY d.l_returnflag""")),

    // EXACT equi-depth histogram — the statistics a cost-based
    // optimizer actually stores: 10 equal-population buckets over
    // price, each reporting its bounds and count. Bucket assignment is
    // the DISTRIBUTED exact ntile (range partition + local rank +
    // broadcast offsets — `ntile().over(Window.orderBy)` would drag
    // the whole column through one task); (price, orderkey,
    // linenumber) totally orders ties so the cut points are
    // bit-stable cross-engine.
    Q("agg_equidepth_hist", (spark, dir) => {
      val l = load(spark, dir, "lineitem")
        .select(col("l_extendedprice"), col("l_orderkey"), col("l_linenumber"))
      CurationQueries.distributedNtile(l, 10, 32,
          col("l_extendedprice"), col("l_orderkey"), col("l_linenumber"))
        .groupBy(col("tier").as("bucket"))
        .agg(min(col("l_extendedprice")).as("lo"),
          max(col("l_extendedprice")).as("hi"),
          count(lit(1)).as("n"))
    }, oracle = Some("""
      WITH t AS (
        SELECT l_extendedprice,
               ntile(10) OVER (ORDER BY l_extendedprice, l_orderkey, l_linenumber) AS bucket
        FROM lineitem)
      SELECT bucket, min(l_extendedprice) AS lo, max(l_extendedprice) AS hi,
             count(*) AS n
      FROM t GROUP BY bucket""")),

    // Deterministic ARGMAX per group via max(struct): the struct's
    // lexicographic order (balance desc ⇒ max; then NEGATED custkey ⇒
    // lowest key wins ties) makes the pick total-order-deterministic,
    // and — unlike the row_number() formulation the oracle uses — it is
    // a plain aggregate: partial max per partition, merge, no
    // shuffle-sort and no window state. The 100 TB argmax shape.
    Q("agg_argmax", (spark, dir) =>
      load(spark, dir, "customer")
        .groupBy(col("c_nationkey"))
        .agg(max(struct(col("c_acctbal").cast(dec).as("bal"),
          (-col("c_custkey")).as("negkey"))).as("m"))
        .select(col("c_nationkey"),
          col("m.bal").cast("double").as("top_bal"),
          (-col("m.negkey")).as("top_cust")),
      oracle = Some("""
      SELECT c_nationkey, CAST(bal AS DOUBLE) AS top_bal, c_custkey AS top_cust
      FROM (
        SELECT c_nationkey, CAST(c_acctbal AS DECIMAL(18,2)) AS bal, c_custkey,
               row_number() OVER (
                 PARTITION BY c_nationkey
                 ORDER BY CAST(c_acctbal AS DECIMAL(18,2)) DESC, c_custkey) AS r
        FROM customer) WHERE r = 1""")),

    // Ranking window: top-3 orders per customer (deterministic
    // tie-break on the unique order key).
    Q("window_topk", (spark, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      load(spark, dir, "orders")
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
        .select(col("o_custkey"), col("o_orderkey"),
          col("o_totalprice").cast(dec).cast("double").as("price"), col("rk"))
    }, oracle = Some("""
      SELECT o_custkey, o_orderkey,
             CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS price, rk
      FROM (SELECT o_custkey, o_orderkey, o_totalprice,
                   CAST(row_number() OVER (PARTITION BY o_custkey
                        ORDER BY o_totalprice DESC, o_orderkey) AS INT) AS rk
            FROM orders)
      WHERE rk <= 3"""), bench = true),

    // Analytic window: per-supplier running quantity over ship time —
    // exact decimal running sum (order-independent of float issues),
    // frame ordered by a unique triple.
    Q("window_running_sum", (spark, dir) => {
      // l_quantity in the sort key: the synthetic lineitem is NOT
      // unique on (orderkey, linenumber) — sf0.1 carries one exact
      // (suppkey, shipdate, orderkey, linenumber) duplicate, and a
      // ROWS frame over a non-total order is engine-dependent on the
      // tie. With quantity appended, ties are either broken or carry
      // identical rows (whose running values form the same multiset
      // under any tie order), so the comparison is deterministic.
      val w = Window.partitionBy(col("l_suppkey"))
        .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"),
          col("l_quantity"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      load(spark, dir, "lineitem")
        .withColumn("running_qty", sum(col("l_quantity").cast(dec)).over(w).cast("double"))
        .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"), col("running_qty"))
    }, oracle = Some("""
      SELECT l_suppkey, l_orderkey, l_linenumber,
             CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) OVER (
               PARTITION BY l_suppkey
               ORDER BY l_shipdate, l_orderkey, l_linenumber, l_quantity
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_qty
      FROM lineitem""")),

    // lag/lead navigation: per-user inter-event gap (µs) and the next
    // event's type — the building block of funnel/session analysis.
    // Order key (ts, event_id) is total, so lag/lead are deterministic.
    Q("window_lag_delta", (spark, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      Tables.loadEvents(spark, dir)
        .withColumn("us", unix_micros(col("ts")))
        .withColumn("gap_us", col("us") - lag(col("us"), 1).over(w))
        .withColumn("next_type", lead(col("event_type"), 1).over(w))
        .select(col("user_id"), col("event_id"), col("gap_us"), col("next_type"))
    }, oracle = Some("""
      SELECT user_id, event_id,
             epoch_us(ts) - lag(epoch_us(ts)) OVER w AS gap_us,
             lead(event_type) OVER w AS next_type
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)""")),

    // Boolean aggregates — the data-quality invariants a table
    // publishes as one row per group: does EVERY order have a positive
    // total (bool_and), does ANY carry the urgent priority (bool_or).
    // Plain partial-merge aggregates, no counting detours.
    Q("agg_bool_logic", (spark, dir) =>
      load(spark, dir, "orders")
        .groupBy(col("o_orderstatus"))
        .agg(expr("bool_and(o_totalprice > 0)").as("all_positive"),
          expr("bool_or(o_orderpriority = '1-URGENT')").as("any_urgent"),
          expr("bool_and(o_orderdate IS NOT NULL)").as("all_dated")),
      oracle = Some("""
      SELECT o_orderstatus,
             bool_and(o_totalprice > 0) AS all_positive,
             bool_or(o_orderpriority = '1-URGENT') AS any_urgent,
             bool_and(o_orderdate IS NOT NULL) AS all_dated
      FROM orders GROUP BY o_orderstatus""")),

    // FILTER-clause conditional aggregation — several differently-
    // predicated aggregates in ONE grouped pass (the alternative is N
    // scans or N self-joins); Catalyst folds each FILTER into the
    // aggregate's update path, so the fact table is read exactly once.
    Q("agg_filter_clause", (spark, dir) => {
      Tables.registerAll(spark, dir)
      spark.sql("""
        SELECT o_orderpriority,
               count(*) AS n,
               count(*) FILTER (WHERE o_totalprice > 200000) AS n_big,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
                 FILTER (WHERE o_orderstatus = 'F') AS DOUBLE) AS f_total,
               count(DISTINCT o_custkey) FILTER (WHERE o_orderstatus = 'O') AS open_custs
        FROM orders GROUP BY o_orderpriority""")
    }, oracle = Some("""
      SELECT o_orderpriority,
             count(*) AS n,
             count(*) FILTER (WHERE o_totalprice > 200000) AS n_big,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
               FILTER (WHERE o_orderstatus = 'F') AS DOUBLE) AS f_total,
             count(DISTINCT o_custkey) FILTER (WHERE o_orderstatus = 'O') AS open_custs
      FROM orders GROUP BY o_orderpriority""")),

    // FIRST/LAST navigation over the full partition frame: each
    // event annotated with its user's first and latest event type as
    // of that row (running last) and the session-anchoring first
    // timestamp. first_value needs the explicit unbounded frame or
    // the default RANGE frame cuts it at CURRENT ROW.
    Q("window_first_last", (spark, dir) => {
      val base = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val unbounded = base.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.loadEvents(spark, dir)
        .withColumn("first_type", first(col("event_type")).over(unbounded))
        .withColumn("running_last_type", last(col("event_type")).over(unbounded))
        .withColumn("first_ts", min(col("ts")).over(base))
        .select(col("user_id"), col("event_id"), col("first_type"),
          col("running_last_type"), col("first_ts"))
    }, oracle = Some("""
      SELECT user_id, event_id,
             first_value(event_type) OVER w AS first_type,
             last_value(event_type) OVER w AS running_last_type,
             min(ts) OVER (PARTITION BY user_id) AS first_ts
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""")),

    // nth_value + cume_dist — the remaining ranked-window surface: per
    // user, the type of the SECOND event ever (nth_value over the
    // running frame — null until the frame holds two rows) and each
    // event's cumulative time-rank. cume_dist is peers-inclusive; the
    // (ts, event_id) order is total, so every value is an exact
    // rational k/n that both engines compute as the same double.
    Q("window_nth_cume", (spark, dir) => {
      val base = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val unbounded = base.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.loadEvents(spark, dir)
        .withColumn("second_type", nth_value(col("event_type"), 2).over(unbounded))
        .withColumn("time_pctile", cume_dist().over(base))
        .select(col("user_id"), col("event_id"), col("second_type"),
          col("time_pctile"))
    }, oracle = Some("""
      SELECT user_id, event_id,
             nth_value(event_type, 2) OVER w AS second_type,
             cume_dist() OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS time_pctile
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""")),

    // RANGE-framed time window: per event, the count and exact decimal
    // sum of the same user's events in the trailing hour — a sliding
    // window keyed by VALUE distance, not row offsets. RANGE frames
    // include all ordering peers, so duplicate timestamps cannot make
    // the frame contents order-dependent.
    Q("window_time_range", (spark, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("us"))
        .rangeBetween(-3600000000L, 0L)
      Tables.loadEvents(spark, dir)
        .withColumn("us", unix_micros(col("ts")))
        .withColumn("n_trailing_hour", count(lit(1)).over(w))
        .withColumn("sum_trailing_hour",
          sum(col("value").cast(dec)).over(w).cast("double"))
        .select(col("user_id"), col("event_id"),
          col("n_trailing_hour"), col("sum_trailing_hour"))
    }, oracle = Some("""
      SELECT user_id, event_id,
             count(*) OVER w AS n_trailing_hour,
             CAST(sum(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS sum_trailing_hour
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
                   RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)""")),

    // Semi join — EXISTS (customers who placed a high-value order).
    Q("join_semi", (spark, dir) => {
      val c = load(spark, dir, "customer")
      val o = load(spark, dir, "orders").filter(col("o_totalprice") > 400000)
      c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_name"))
    }, oracle = Some("""
      SELECT c_custkey, c_name FROM customer c
      WHERE EXISTS (SELECT 1 FROM orders o
                    WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000)""")),

    // Anti join — NOT EXISTS.
    Q("join_anti", (spark, dir) => {
      val c = load(spark, dir, "customer")
      val o = load(spark, dir, "orders").filter(col("o_totalprice") > 400000)
      c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"))
    }, oracle = Some("""
      SELECT c_custkey, c_name FROM customer c
      WHERE NOT EXISTS (SELECT 1 FROM orders o
                        WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000)""")),

    // Set ops beyond union: INTERSECT / EXCEPT (distinct semantics).
    Q("set_intersect", (spark, dir) => {
      val hi = load(spark, dir, "orders").filter(col("o_totalprice") > 200000)
        .select(col("o_custkey"))
      val recent = load(spark, dir, "orders")
        .filter(col("o_orderdate") > lit("1997-01-01").cast("timestamp"))
        .select(col("o_custkey"))
      hi.intersect(recent)
    }, oracle = Some("""
      SELECT o_custkey FROM orders WHERE o_totalprice > 200000
      INTERSECT
      SELECT o_custkey FROM orders
      WHERE o_orderdate > TIMESTAMP '1997-01-01 00:00:00'""")),

    Q("set_except", (spark, dir) => {
      val all = load(spark, dir, "customer").select(col("c_custkey"))
      val buyers = load(spark, dir, "orders").select(col("o_custkey").as("c_custkey"))
      all.except(buyers)
    }, oracle = Some("""
      SELECT c_custkey FROM customer
      EXCEPT
      SELECT o_custkey AS c_custkey FROM orders""")),

    // Global sort + limit (top-k without a window).
    Q("sort_limit_topk", (spark, dir) =>
      load(spark, dir, "orders")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(50)
        .select(col("o_orderkey"),
          col("o_totalprice").cast(dec).cast("double").as("price")),
      oracle = Some("""
      SELECT o_orderkey, CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS price
      FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 50""")),

    // Distribution-position windows: percent_rank + cume_dist per
    // event_type over a TOTAL order (value, event_id) — tie-free, so
    // both statistics are exact integer ratios ((rank−1)/(n−1),
    // rank/n in doubles — bit-identical cross-engine). Partitioned
    // window: each event_type's frame hashes to its own partition, no
    // global funnel.
    Q("window_percent_rank", (spark, dir) => {
      val w = Window.partitionBy(col("event_type"))
        .orderBy(col("value"), col("event_id"))
      Tables.loadEvents(spark, dir)
        .withColumn("pr", percent_rank().over(w))
        .withColumn("cd", cume_dist().over(w))
        .select(col("event_type"), col("event_id"), col("pr"), col("cd"))
    }, oracle = Some("""
      SELECT event_type, event_id,
             percent_rank() OVER w AS pr, cume_dist() OVER w AS cd
      FROM events
      WINDOW w AS (PARTITION BY event_type ORDER BY value, event_id)""")),

    // MODE per group (most frequent value, ties to the smallest) — the
    // categorical summary SQL has no portable built-in for: one keyed
    // count aggregation, then a top-1 window over the per-group value
    // counts (frame cardinality = distinct values per group — bounded
    // metadata, not corpus rows).
    Q("agg_mode", (spark, dir) => {
      val w = Window.partitionBy(col("o_orderstatus"))
        .orderBy(col("n").desc, col("o_orderpriority"))
      load(spark, dir, "orders")
        .groupBy(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") === 1)
        .select(col("o_orderstatus"), col("o_orderpriority").as("mode_priority"),
          col("n"))
    }, oracle = Some("""
      WITH c AS (
        SELECT o_orderstatus, o_orderpriority, count(*) AS n
        FROM orders GROUP BY 1, 2),
      r AS (
        SELECT o_orderstatus, o_orderpriority, n,
               row_number() OVER (PARTITION BY o_orderstatus
                   ORDER BY n DESC, o_orderpriority) AS rk
        FROM c)
      SELECT o_orderstatus, o_orderpriority AS mode_priority, n
      FROM r WHERE rk = 1""")),

    // Exact LEAST-SQUARES fit per group (chars regressed on tokens,
    // per language): slope/intercept from the four INTEGER moment sums
    // (Σx, Σy, Σxy, Σx² — exact longs at any corpus size; the closed
    // form divides once in doubles, bit-identical cross-engine). The
    // regression no built-in gives you exactly: one narrow scan + one
    // keyed aggregation — embarrassingly parallel, no second pass.
    Q("agg_linear_fit", (spark, dir) => {
      val d = load(spark, dir, "documents").select(col("lang"),
        TextFunctions.tokenCount(col("text")).cast("long").as("x"),
        col("n_chars").as("y"))
      d.groupBy(col("lang"))
        .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
          sum(col("y")).as("sy"), sum(col("x") * col("y")).as("sxy"),
          sum(col("x") * col("x")).as("sxx"))
        .withColumn("slope",
          (col("n") * col("sxy") - col("sx") * col("sy")).cast("double")
            / (col("n") * col("sxx") - col("sx") * col("sx")).cast("double"))
        .withColumn("intercept",
          (col("sy").cast("double") - col("slope") * col("sx")) / col("n"))
        .select(col("lang"), col("n"), col("slope"), col("intercept"))
    }, oracle = Some("""
      WITH m AS (
        SELECT lang, count(*) AS n,
               CAST(sum(len(string_split(text,' '))) AS BIGINT) AS sx,
               CAST(sum(n_chars) AS BIGINT) AS sy,
               CAST(sum(len(string_split(text,' ')) * n_chars) AS BIGINT) AS sxy,
               CAST(sum(len(string_split(text,' ')) * len(string_split(text,' '))) AS BIGINT) AS sxx
        FROM documents GROUP BY lang)
      SELECT lang, n,
             CAST(n * sxy - sx * sy AS DOUBLE)
               / CAST(n * sxx - sx * sx AS DOUBLE) AS slope,
             (CAST(sy AS DOUBLE)
               - (CAST(n * sxy - sx * sy AS DOUBLE)
                  / CAST(n * sxx - sx * sx AS DOUBLE)) * sx) / n AS intercept
      FROM m""")),

    // Exact higher-moment SHAPE statistics per group — skewness and
    // excess kurtosis from INTEGER power sums (Σc, Σc², Σc³, Σc⁴ of
    // the floored value are exact longs, order-independent), finished
    // by one fixed double expression tree per moment. sqrt is IEEE
    // correctly-rounded, so even σ³ is bit-identical cross-engine —
    // the one "transcendental" this repo's determinism rules allow.
    // Spark's own skewness()/kurtosis() stream floating partial sums
    // (order-dependent merges); at 100 TB this is the map-side-
    // combined one-pass formulation that stays exact.
    Q("agg_skewness_exact", (spark, dir) => {
      val d = Tables.loadEvents(spark, dir)
        .filter(col("value").isNotNull)
        .select(col("event_type"),
          expr("CAST(floor(value) AS BIGINT)").as("c"))
      val nD = col("n").cast("double")
      d.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("c")).as("s1"),
          sum(col("c") * col("c")).as("s2"),
          sum(col("c") * col("c") * col("c")).as("s3"),
          sum(col("c") * col("c") * col("c") * col("c")).as("s4"))
        .withColumn("mean", col("s1").cast("double") / nD)
        .withColumn("m2",
          col("s2").cast("double") / nD - col("mean") * col("mean"))
        .withColumn("m3",
          col("s3").cast("double") / nD
            - lit(3.0) * col("mean") * (col("s2").cast("double") / nD)
            + lit(2.0) * col("mean") * col("mean") * col("mean"))
        .withColumn("m4",
          col("s4").cast("double") / nD
            - lit(4.0) * col("mean") * (col("s3").cast("double") / nD)
            + lit(6.0) * col("mean") * col("mean") * (col("s2").cast("double") / nD)
            - lit(3.0) * col("mean") * col("mean") * col("mean") * col("mean"))
        .select(col("event_type"), col("n"), col("mean"),
          (col("m3") / (sqrt(col("m2")) * col("m2"))).as("skewness"),
          (col("m4") / (col("m2") * col("m2")) - lit(3.0)).as("kurtosis"))
    }, oracle = Some("""
      WITH b AS (
        SELECT event_type, CAST(floor(value) AS BIGINT) AS c
        FROM events WHERE value IS NOT NULL),
      m AS (
        SELECT event_type, count(*) AS n,
               CAST(sum(c) AS BIGINT) AS s1,
               CAST(sum(c*c) AS BIGINT) AS s2,
               CAST(sum(c*c*c) AS BIGINT) AS s3,
               CAST(sum(c*c*c*c) AS BIGINT) AS s4
        FROM b GROUP BY 1),
      w1 AS (SELECT *, CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS mean FROM m),
      w2 AS (SELECT *, CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE)
                       - mean * mean AS m2 FROM w1),
      w3 AS (SELECT *, CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE)
                       - 3.0 * mean * (CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE))
                       + 2.0 * mean * mean * mean AS m3 FROM w2),
      w4 AS (SELECT *, CAST(s4 AS DOUBLE) / CAST(n AS DOUBLE)
                       - 4.0 * mean * (CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE))
                       + 6.0 * mean * mean * (CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE))
                       - 3.0 * mean * mean * mean * mean AS m4 FROM w3)
      SELECT event_type, n, mean,
             m3 / (sqrt(m2) * m2) AS skewness,
             m4 / (m2 * m2) - 3.0 AS kurtosis
      FROM w4""")),

    // Inter-arrival statistics per user: mean/max gap between
    // consecutive events (µs) — sequence health metrics over the same
    // lag machinery as `window_lag_delta`; sums are exact longs, the
    // mean is one int/int double division. Window partitions by user —
    // parallel at any event volume.
    Q("events_interarrival", (spark, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      Tables.loadEvents(spark, dir)
        .withColumn("us", unix_micros(col("ts")))
        .withColumn("gap", col("us") - lag(col("us"), 1).over(w))
        .filter(col("gap").isNotNull)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_gaps"), sum(col("gap")).as("sum_gap_us"),
          max(col("gap")).as("max_gap_us"))
        .withColumn("mean_gap_us",
          col("sum_gap_us").cast("double") / col("n_gaps"))
    }, oracle = Some("""
      WITH g AS (
        SELECT user_id,
               epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id
                   ORDER BY ts, event_id) AS gap
        FROM events)
      SELECT user_id, count(*) AS n_gaps,
             CAST(sum(gap) AS BIGINT) AS sum_gap_us,
             CAST(max(gap) AS BIGINT) AS max_gap_us,
             CAST(sum(gap) AS DOUBLE) / count(*) AS mean_gap_us
      FROM g WHERE gap IS NOT NULL GROUP BY user_id""")),

    // COUNT-MIN-SKETCH-PRUNED heavy hitters — the two-pass pattern that
    // finds heavy keys WITHOUT shuffling the full key space: pass 1
    // folds every row into a fixed 4×1024 count-min sketch (explode to
    // (row, depth) cells → keyed count with map-side combine — the
    // sketch is an aggregate, never a collect; it leaves the pass as a
    // ONE-ROW broadcast frame). Pass 2 prunes rows MAP-SIDE by the
    // broadcast sketch's estimate (CMS only ever over-counts, so
    // est ≥ true count and the prune keeps a superset of the true
    // heavies) and exact-counts only the survivors. At 100 TB with
    // billions of distinct keys and a tiny heavy set, the exact
    // groupBy shuffles only candidate-key rows instead of every key —
    // the final exact filter makes the output independent of sketch
    // collisions, which is why a plain GROUP BY/HAVING oracle gates it.
    Q("agg_countmin_candidates", (spark, dir) => {
      val W = 1024; val D = 4; val tau = 45L
      def bucket(j: Int) =
        pmod(xxhash64(lit(j), col("l_partkey")), lit(W)).cast("int")
      val li = load(spark, dir, "lineitem").select(col("l_partkey"))
      val cells = li.select(explode(array((0 until D).map(j =>
          struct(lit(j).as("j"), bucket(j).as("b"))): _*)).as("c"))
        .groupBy(col("c.j").as("j"), col("c.b").as("b"))
        .agg(count(lit(1)).as("cnt"))
      // DENSE the sketch before probing: element_at on a MAP is a
      // linear key scan (O(W·D) per lookup — measured 11.7× at 10×
      // data, ~60 s at sf1, entirely probe-side), element_at on an
      // ARRAY is an O(1) index. The densify pass costs one (W·D)²
      // scan over the 4096-cell broadcast side — microseconds — and
      // the per-row probe drops to 4 indexed reads.
      val sketch = cells.agg(map_from_entries(collect_list(
          struct((col("j") * W + col("b")).as("k"), col("cnt")))).as("cms"))
        .select(transform(sequence(lit(0), lit(D * W - 1)),
          i => coalesce(element_at(col("cms"), i), lit(0L))).as("cms_arr"))
      val est = least((0 until D).map(j =>
        element_at(col("cms_arr"), lit(j * W) + bucket(j) + lit(1))): _*)
      li.crossJoin(broadcast(sketch))
        .filter(est >= tau) // map-side candidate prune, before any shuffle
        .groupBy(col("l_partkey"))
        .agg(count(lit(1)).as("n_lines"))
        .filter(col("n_lines") >= tau)
    }, oracle = Some("""
      SELECT l_partkey, CAST(count(*) AS BIGINT) AS n_lines
      FROM lineitem GROUP BY 1 HAVING count(*) >= 45""")),
  )

  /** EXACT per-group median through the distributed two-phase rank:
    * range-bucket the (group, value) order, rank locally + add
    * broadcast group offsets, keep only each group's middle row(s),
    * and assemble the median with quantile_cont's own lerp arithmetic
    * (lo + (hi − lo)·0.5) — bit-identical to DuckDB. One bucket
    * shuffle and a metadata-sized offsets frame; no per-group value
    * buffering (Spark's exact `percentile` holds every group value in
    * one aggregation buffer — the per-group OOM at 100 TB). `tb` must
    * complete a total order so the rank is deterministic (ties make
    * the VALUES at the middle positions identical either way). */
  private def groupedMedian(df: org.apache.spark.sql.DataFrame,
                            grp: String, v: String,
                            tb: Seq[org.apache.spark.sql.Column]): org.apache.spark.sql.DataFrame = {
    val ranked = graft.functions.GlobalRank.rowNumber(
      df.select(col(grp) +: col(v) +: tb: _*), "__gr", 32,
      col(grp) +: col(v) +: tb)
    val counts = df.groupBy(col(grp)).agg(count(lit(1)).as("__n"))
    val wOff = graft.functions.GlobalRank.metaWindow(col(grp)).orderBy(col(grp))
    val offs = counts.withColumn("__off",
      coalesce(sum(col("__n")).over(
        wOff.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    ranked.join(broadcast(offs), grp)
      .withColumn("__lr", col("__gr") - col("__off"))
      .filter(col("__lr") === expr("(__n + 1) div 2") ||
        col("__lr") === expr("(__n + 2) div 2"))
      .groupBy(col(grp))
      .agg(min(col(v)).as("__mlo"), max(col(v)).as("__mhi"))
      .select(col(grp),
        (col("__mlo") + (col("__mhi") - col("__mlo")) * lit(0.5)).as("__med"))
  }
}

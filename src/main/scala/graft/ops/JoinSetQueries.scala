package graft.ops

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Remaining join flavours and bag-semantics set operations, plus the
  * SQL-string path with subqueries (scalar + correlated) — completing
  * the relational algebra surface beyond the reference's left joins.
  */
object JoinSetQueries {
  import SessionScopedCache.scratchRoot
  import Tables.load

  private val dec = DecimalType(18, 2)

  val all: Seq[Q] = Seq(

    // FULL OUTER join: customers vs per-customer order rollup — both
    // unmatched sides survive with nulls.
    Q("join_full_outer", (spark, dir) => {
      val c = load(spark, dir, "customer")
        .filter(col("c_custkey") % 3 =!= 0)
        .select(col("c_custkey"), col("c_name"))
      val o = load(spark, dir, "orders")
        .filter(col("o_custkey") % 2 === 0)
        .groupBy(col("o_custkey")).agg(count(lit(1)).as("n_orders"))
      c.join(o, c("c_custkey") === o("o_custkey"), "full_outer")
        .select(col("c_custkey"), col("c_name"), col("o_custkey"), col("n_orders"))
    }, oracle = Some("""
      SELECT c.c_custkey, c.c_name, o.o_custkey, o.n_orders
      FROM (SELECT c_custkey, c_name FROM customer WHERE c_custkey % 3 <> 0) c
      FULL JOIN (SELECT o_custkey, count(*) AS n_orders FROM orders
                 WHERE o_custkey % 2 = 0 GROUP BY o_custkey) o
        ON c.c_custkey = o.o_custkey""")),

    // CROSS join (small × small): the region-nation grid.
    Q("join_cross", (spark, dir) =>
      load(spark, dir, "region").select(col("r_regionkey"), col("r_name"))
        .crossJoin(load(spark, dir, "nation").select(col("n_nationkey"), col("n_name"))),
      oracle = Some("""
      SELECT r_regionkey, r_name, n_nationkey, n_name
      FROM region CROSS JOIN nation""")),

    // Bag-semantics set ops: duplicates preserved by multiplicity.
    Q("set_except_all", (spark, dir) => {
      val allBuyers = load(spark, dir, "orders").select(col("o_custkey"))
      val bigBuyers = load(spark, dir, "orders")
        .filter(col("o_totalprice") > 150000).select(col("o_custkey"))
      allBuyers.exceptAll(bigBuyers)
    }, oracle = Some("""
      SELECT o_custkey FROM orders
      EXCEPT ALL
      SELECT o_custkey FROM orders WHERE o_totalprice > 150000""")),

    Q("set_intersect_all", (spark, dir) => {
      val early = load(spark, dir, "orders")
        .filter(col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
        .select(col("o_custkey"))
      val urgent = load(spark, dir, "orders")
        .filter(col("o_orderpriority") === "1-URGENT").select(col("o_custkey"))
      early.intersectAll(urgent)
    }, oracle = Some("""
      SELECT o_custkey FROM orders WHERE o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
      INTERSECT ALL
      SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'""")),

    // SQL-string path with a scalar subquery (price relative to the
    // global max — a single deterministic double division).
    Q("sql_scalar_subquery", (spark, dir) => {
      Tables.registerAll(spark, dir)
      spark.sql("""
        SELECT o_orderkey,
               o_totalprice / (SELECT max(o_totalprice) FROM orders) AS price_vs_max
        FROM orders WHERE o_totalprice > 300000""")
    }, oracle = Some("""
      SELECT o_orderkey,
             o_totalprice / (SELECT max(o_totalprice) FROM orders) AS price_vs_max
      FROM orders WHERE o_totalprice > 300000""")),

    // SQL-string path with a correlated EXISTS subquery.
    Q("sql_correlated_exists", (spark, dir) => {
      Tables.registerAll(spark, dir)
      spark.sql("""
        SELECT s_suppkey, s_name FROM supplier s
        WHERE EXISTS (SELECT 1 FROM lineitem l
                      WHERE l.l_suppkey = s.s_suppkey AND l.l_quantity >= 49)""")
    }, oracle = Some("""
      SELECT s_suppkey, s_name FROM supplier s
      WHERE EXISTS (SELECT 1 FROM lineitem l
                    WHERE l.l_suppkey = s.s_suppkey AND l.l_quantity >= 49)""")),

    // Correlated LATERAL subquery with ORDER BY + LIMIT — per-nation
    // top-2 customers by balance, written the way an analyst writes it.
    // Catalyst decorrelates the lateral into a ranked join (the
    // WindowGroupLimit shape) instead of re-executing the subquery per
    // outer row — the difference between O(nations) subqueries and one
    // pass at 100 TB.
    Q("sql_lateral_topn", (spark, dir) => {
      Tables.registerAll(spark, dir)
      spark.sql("""
        SELECT n.n_name, c.c_name, c.c_acctbal
        FROM nation n,
        LATERAL (SELECT c_name, c_acctbal FROM customer
                 WHERE c_nationkey = n.n_nationkey
                 ORDER BY c_acctbal DESC, c_custkey LIMIT 2) c""")
    }, oracle = Some("""
      SELECT n.n_name, c.c_name, c.c_acctbal
      FROM nation n,
      LATERAL (SELECT c_name, c_acctbal FROM customer
               WHERE c_nationkey = n.n_nationkey
               ORDER BY c_acctbal DESC, c_custkey LIMIT 2) c""")),

    // TPC-H Q2 shape (partsupp-free recast) — best supplier per part
    // via a CORRELATED aggregate subquery: for each small part, the
    // supplier(s) with the maximum account balance among those who
    // actually supplied it (the fact-derived pair set standing in for
    // partsupp). Written the way the spec writes it — the correlated
    // scalar subquery in the WHERE — precisely so Catalyst must
    // DECORRELATE it into one aggregate + join instead of re-running
    // the subquery per outer row; at 100 TB that rewrite is the
    // difference between one pass over the pair set and |part| passes
    // (plan-pinned in PlanSpec: two pair-set scans, one grouped max).
    Q("sql_correlated_best_supplier", (spark, dir) => {
      Tables.registerAll(spark, dir)
      load(spark, dir, "lineitem")
        .select(col("l_partkey"), col("l_suppkey")).distinct()
        .createOrReplaceTempView("supplies_v")
      spark.sql("""
        SELECT p.p_partkey, s.s_name, s.s_acctbal
        FROM part p
        JOIN supplies_v ps ON ps.l_partkey = p.p_partkey
        JOIN supplier s ON s.s_suppkey = ps.l_suppkey
        WHERE p.p_size <= 10
          AND s.s_acctbal = (
            SELECT max(s2.s_acctbal)
            FROM supplies_v ps2 JOIN supplier s2
              ON s2.s_suppkey = ps2.l_suppkey
            WHERE ps2.l_partkey = p.p_partkey)""")
    }, oracle = Some("""
      WITH supplies_v AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
      SELECT p.p_partkey, s.s_name, s.s_acctbal
      FROM part p
      JOIN supplies_v ps ON ps.l_partkey = p.p_partkey
      JOIN supplier s ON s.s_suppkey = ps.l_suppkey
      WHERE p.p_size <= 10
        AND s.s_acctbal = (
          SELECT max(s2.s_acctbal)
          FROM supplies_v ps2 JOIN supplier s2
            ON s2.s_suppkey = ps2.l_suppkey
          WHERE ps2.l_partkey = p.p_partkey)""")),

    // RECURSIVE CTE hierarchy rollup (Spark 4 WITH RECURSIVE): parts
    // form an implicit binary category tree (parent = key div 2); the
    // recursion enumerates every (part, ancestor) pair — ACYCLIC by
    // construction, so UNION ALL terminates after ⌈log₂ N⌉ iterations
    // with O(N log N) total rows, the scale-sane recursion shape (a
    // cyclic closure belongs to the pointer-doubling operator,
    // `dedup_clusters`). Revenue then rolls up from the fact to the
    // top 15 tree nodes: each node's subtree revenue and descendant
    // count — the org-chart/category-tree aggregation every warehouse
    // eventually needs.
    Q("sql_recursive_rollup", (spark, dir) => {
      Tables.registerAll(spark, dir)
      spark.sql("""
        WITH RECURSIVE anc(node, anc) AS (
          SELECT p_partkey, p_partkey FROM part
          UNION ALL
          SELECT node, anc div 2 FROM anc WHERE anc > 1
        ),
        rev AS (
          SELECT l_partkey, sum(CAST(l_extendedprice AS DECIMAL(28,6))) AS r,
                 count(*) AS n
          FROM lineitem GROUP BY l_partkey)
        SELECT a.anc AS tree_node,
               count(*) AS n_desc,
               CAST(sum(rev.n) AS BIGINT) AS n_lines,
               CAST(sum(rev.r) AS DOUBLE) AS subtree_revenue
        FROM anc a JOIN rev ON a.node = rev.l_partkey
        WHERE a.anc BETWEEN 1 AND 15
        GROUP BY a.anc""")
    }, oracle = Some("""
      WITH RECURSIVE anc(node, anc) AS (
        SELECT p_partkey, p_partkey FROM part
        UNION ALL
        SELECT node, anc // 2 FROM anc WHERE anc > 1
      ),
      rev AS (
        SELECT l_partkey, sum(CAST(l_extendedprice AS DECIMAL(28,6))) AS r,
               count(*) AS n
        FROM lineitem GROUP BY l_partkey)
      SELECT a.anc AS tree_node,
             count(*) AS n_desc,
             CAST(sum(rev.n) AS BIGINT) AS n_lines,
             CAST(sum(rev.r) AS DOUBLE) AS subtree_revenue
      FROM anc a JOIN rev ON a.node = rev.l_partkey
      WHERE a.anc BETWEEN 1 AND 15
      GROUP BY a.anc""")),

    // Explicit null ordering in a global sort (nulls first) with a
    // deterministic tie-break.
    Q("sort_nulls_first", (spark, dir) =>
      load(spark, dir, "customer")
        .select(col("c_custkey"),
          nullif(col("c_mktsegment"), lit("BUILDING")).as("seg"))
        .orderBy(col("seg").asc_nulls_first, col("c_custkey"))
        .limit(200),
      oracle = Some("""
      SELECT c_custkey, nullif(c_mktsegment, 'BUILDING') AS seg
      FROM customer
      ORDER BY seg ASC NULLS FIRST, c_custkey LIMIT 200""")),

    // As-of join (composed union+window operator, graft.operators
    // .AsOfJoin): each purchase event picks the user's latest view
    // event at-or-before it. Oracle is DuckDB's NATIVE ASOF JOIN —
    // two independent as-of implementations must agree row-for-row.
    Q("asof_join_events", (spark, dir) => {
      val ev = Tables.loadEvents(spark, dir)
      // right side deduped to one view per (user, ts): as-of ties are
      // ambiguous, every engine resolves them arbitrarily
      val views = ev.filter(col("event_type") === "view")
        .groupBy(col("user_id"), col("ts"))
        .agg(max(col("event_id")).as("view_id"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("event_id").as("purchase_id"))
      graft.operators.AsOfJoin.asofLeft(purchases, views,
          keys = Seq("user_id"), leftTs = "ts", rightTs = "ts")
        .select(col("user_id"), col("purchase_id"), col("view_id"))
    }, oracle = Some("""
      WITH v AS (
        SELECT user_id, ts, max(event_id) AS view_id
        FROM events WHERE event_type = 'view' GROUP BY user_id, ts),
      p AS (
        SELECT user_id, ts, event_id AS purchase_id
        FROM events WHERE event_type = 'purchase')
      SELECT p.user_id, p.purchase_id, v.view_id
      FROM p ASOF LEFT JOIN v
        ON p.user_id = v.user_id AND p.ts >= v.ts"""), bench = true),

    // AS-OF with a TOLERANCE bound (pandas merge_asof(tolerance=...)):
    // the latest view at-or-before each purchase counts only when it
    // happened within the last 30 minutes — staler matches null out.
    // Composed as the plain as-of (one shuffle, one pass) plus a
    // post-projection on the matched timestamp: tolerance is a FILTER
    // on the match, not a different join algorithm, so the scale shape
    // is identical to the unbounded as-of. DuckDB's native ASOF with a
    // CASE projection is the oracle.
    Q("asof_join_tolerance", (spark, dir) => {
      val ev = Tables.loadEvents(spark, dir)
      val views = ev.filter(col("event_type") === "view")
        .groupBy(col("user_id"), col("ts"))
        .agg(max(col("event_id")).as("view_id"))
        .select(col("user_id"), col("ts").as("vts"), col("view_id"),
          col("ts").as("view_ts"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("event_id").as("purchase_id"))
      graft.operators.AsOfJoin.asofLeft(purchases, views,
          keys = Seq("user_id"), leftTs = "ts", rightTs = "vts")
        .withColumn("view_id_tol",
          when(unix_micros(col("ts")) - unix_micros(col("view_ts")) <= 1800000000L,
            col("view_id")))
        .select(col("user_id"), col("purchase_id"), col("view_id_tol"))
    }, oracle = Some("""
      WITH v AS (
        SELECT user_id, ts, max(event_id) AS view_id
        FROM events WHERE event_type = 'view' GROUP BY user_id, ts),
      p AS (
        SELECT user_id, ts, event_id AS purchase_id
        FROM events WHERE event_type = 'purchase')
      SELECT p.user_id, p.purchase_id,
             CASE WHEN epoch_us(p.ts) - epoch_us(v.ts) <= 1800000000
                  THEN v.view_id END AS view_id_tol
      FROM p ASOF LEFT JOIN v
        ON p.user_id = v.user_id AND p.ts >= v.ts""")),

    // The SAME as-of semantics through the native custom operator
    // (graft.plans.NativeAsOfJoin: LogicalPlan + Strategy + merge
    // SparkPlan): one forward pass over hash-clustered, (key,ts)-sorted
    // children — no union materialization, no window state. THREE
    // independent as-of implementations (this, the composed form
    // above, DuckDB's native ASOF) must agree row-for-row.
    Q("asof_join_native", (spark, dir) => {
      val ev = Tables.loadEvents(spark, dir)
      val views = ev.filter(col("event_type") === "view")
        .groupBy(col("user_id"), col("ts"))
        .agg(max(col("event_id")).as("view_id"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("event_id").as("purchase_id"))
      graft.plans.NativeAsOfJoin.asofLeft(purchases, views,
          keys = Seq("user_id"), leftTs = "ts", rightTs = "ts")
        .select(col("user_id"), col("purchase_id"), col("view_id"))
    }, oracle = Some("""
      WITH v AS (
        SELECT user_id, ts, max(event_id) AS view_id
        FROM events WHERE event_type = 'view' GROUP BY user_id, ts),
      p AS (
        SELECT user_id, ts, event_id AS purchase_id
        FROM events WHERE event_type = 'purchase')
      SELECT p.user_id, p.purchase_id, v.view_id
      FROM p ASOF LEFT JOIN v
        ON p.user_id = v.user_id AND p.ts >= v.ts""")),

    // Range join (composed bucketed equi-join, graft.operators
    // .RangeJoin): events matched to non-uniform value bands. Oracle is
    // DuckDB's native inequality join — two independent range-join
    // implementations must agree.
    Q("range_join_bands", (spark, dir) => {
      import spark.implicits._
      val bands = Seq(
        ("micro", 0.0, 1.0), ("small", 1.0, 5.0), ("mid", 5.0, 20.0),
        ("large", 20.0, 100.0), ("huge", 100.0, 1000.0))
        .toDF("band", "lo", "hi")
      val ev = Tables.loadEvents(spark, dir)
        .select(col("event_id"), col("event_type"), col("value"))
      graft.operators.RangeJoin.bucketed(ev, "value", bands, "lo", "hi", width = 5.0)
        .groupBy(col("band"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,2)")).cast("double").as("value_total"))
    }, oracle = Some("""
      WITH bands(band, lo, hi) AS (VALUES
        ('micro', 0.0, 1.0), ('small', 1.0, 5.0), ('mid', 5.0, 20.0),
        ('large', 20.0, 100.0), ('huge', 100.0, 1000.0))
      SELECT band, event_type, count(*) AS n,
             CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS value_total
      FROM events JOIN bands ON value >= lo AND value < hi
      GROUP BY band, event_type""")),

    // Data-quality audit: referential integrity + null/domain checks in
    // one pass — the post-load validation an ETL pipeline runs on its
    // star schema (here: lineitem's FKs vs part/supplier, measure
    // domains).
    Q("dq_integrity_audit", (spark, dir) => {
      val li = load(spark, dir, "lineitem")
      val p = load(spark, dir, "part").select(col("p_partkey"))
      val s = load(spark, dir, "supplier").select(col("s_suppkey"))
      val orphansPart = li.join(p, li("l_partkey") === p("p_partkey"), "left_anti").count()
      val orphansSupp = li.join(s, li("l_suppkey") === s("s_suppkey"), "left_anti").count()
      li.agg(
        count(lit(1)).as("n_rows"),
        lit(orphansPart).as("orphan_partkeys"),
        lit(orphansSupp).as("orphan_suppkeys"),
        sum(when(col("l_quantity") <= 0 || col("l_quantity") > 50, 1L).otherwise(0L))
          .as("bad_quantity"),
        sum(when(col("l_discount") < 0 || col("l_discount") > 1, 1L).otherwise(0L))
          .as("bad_discount"),
        sum(when(col("l_returnflag").isNull, 1L).otherwise(0L)).as("null_returnflag"))
    }, oracle = Some("""
      SELECT count(*) AS n_rows,
             (SELECT count(*) FROM lineitem l
              WHERE NOT EXISTS (SELECT 1 FROM part p WHERE p.p_partkey = l.l_partkey))
               AS orphan_partkeys,
             (SELECT count(*) FROM lineitem l
              WHERE NOT EXISTS (SELECT 1 FROM supplier s WHERE s.s_suppkey = l.l_suppkey))
               AS orphan_suppkeys,
             CAST(sum(CASE WHEN l_quantity <= 0 OR l_quantity > 50 THEN 1 ELSE 0 END) AS BIGINT)
               AS bad_quantity,
             CAST(sum(CASE WHEN l_discount < 0 OR l_discount > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS bad_discount,
             CAST(sum(CASE WHEN l_returnflag IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS null_returnflag
      FROM lineitem""")),

    // Approximate distinct (HLL++ sketch). The sketch VALUES are
    // engine-specific and can never hash-match another engine, so the
    // query outputs what IS cross-engine checkable: the exact distinct
    // counts plus a boolean asserting each sketch estimate landed
    // within the default 5% relative error. The oracle pins the exact
    // counts and expects both assertions true — a driver-enforced
    // error-bound contract instead of a rows-only shrug.
    Q("agg_approx_distinct", (spark, dir) => {
      val tolerance = 0.05
      load(spark, dir, "lineitem").agg(
        countDistinct(col("l_partkey")).as("exact_parts"),
        countDistinct(col("l_suppkey")).as("exact_supps"),
        approx_count_distinct(col("l_partkey")).as("ap"),
        approx_count_distinct(col("l_suppkey")).as("as_"))
        .select(col("exact_parts"), col("exact_supps"),
          (abs(col("ap") - col("exact_parts")) <=
            col("exact_parts") * tolerance).as("parts_within_5pct"),
          (abs(col("as_") - col("exact_supps")) <=
            col("exact_supps") * tolerance).as("supps_within_5pct"))
    }, oracle = Some("""
      SELECT count(DISTINCT l_partkey) AS exact_parts,
             count(DISTINCT l_suppkey) AS exact_supps,
             true AS parts_within_5pct,
             true AS supps_within_5pct
      FROM lineitem""")),

    // MERGEABLE distinct sketches (Apache DataSketches HLL, built into
    // Spark 4): one sketch per source partition of the corpus, unioned
    // WITHOUT re-reading the data — the property that makes
    // incremental/rollup distinct counts possible at 100 TB (per-day
    // sketches union into month/year counts; recounting is a full
    // scan). The union's estimate must land within 5% of the exact
    // global distinct AND within 2% of a sketch built in one pass over
    // the whole corpus — the mergeability contract itself. Both
    // sketches use lgK 16: at the default lgK 12 the union's estimate
    // of sf0.01's 500 ids moves with the shuffle partition count
    // (490–501 over 1–16 partitions, outside the 2% band at some),
    // while at lgK 16 both estimates read 500 at every count.
    Q("agg_hll_mergeable", (spark, dir) => {
      val d = load(spark, dir, "documents")
      val perSource = d.groupBy(col("source"))
        .agg(expr("hll_sketch_agg(doc_id, 16)").as("sk"))
      val merged = perSource
        .agg(expr("hll_sketch_estimate(hll_union_agg(sk))").as("merged_est"))
      val oneShot = d.agg(
        expr("hll_sketch_estimate(hll_sketch_agg(doc_id, 16))").as("one_est"),
        countDistinct(col("doc_id")).as("exact"))
      merged.crossJoin(broadcast(oneShot))
        .select(col("exact"),
          (abs(col("merged_est") - col("exact")) <= col("exact") * 0.05)
            .as("merged_within_5pct"),
          (abs(col("merged_est") - col("one_est")) <= col("exact") * 0.02)
            .as("merge_matches_oneshot"))
    }, oracle = Some("""
      SELECT count(DISTINCT doc_id) AS exact,
             true AS merged_within_5pct,
             true AS merge_matches_oneshot
      FROM documents""")),

    // BUCKETED co-located join under the hash gate: both sides written
    // bucketed on the join key (8 buckets, sorted), so the join plans
    // with ZERO shuffle exchanges — bucket i joins bucket i in place.
    // At 100 TB this is the difference between re-shuffling the fact
    // on every join and paying the layout cost once at write time
    // (PlanSpec separately pins the no-Exchange plan; this query pins
    // that the bucketed layout changes NOTHING about the answer). The
    // merge hint forces the sort-merge path so bucketing, not
    // broadcast, is what eliminates the exchange.
    Q("join_bucketed_colocated", (spark, dir) => {
      val suffix = dir.hashCode.abs
      val (lt, ot) = (s"bj_lineitem_$suffix", s"bj_orders_$suffix")
      // layout via ensureBucketed: the bucketing WRITE is the one-time
      // ingest cost a deployment amortizes over every later join, so
      // repeat runs over unchanged sources reuse the existing tables
      // (fingerprint-checked) and a (re)write bills to
      // Scale.layoutNanos, which Bench reports separately — the timed
      // body of this query is then the join itself, not disk-write
      // noise (r6's apparent 1.48× "regression"). Layout happens HERE
      // (not after the query) because the returned DataFrame is lazy —
      // the caller evaluates it after this function returns, so the
      // tables must exist before the plan executes.
      Scale.ensureBucketed(spark, load(spark, dir, "lineitem")
        .select(col("l_orderkey"), col("l_quantity"), col("l_extendedprice")),
        lt, "l_orderkey", 8,
        Scale.sourceFingerprint(s"$dir/lineitem.parquet"))
      Scale.ensureBucketed(spark, load(spark, dir, "orders")
        .select(col("o_orderkey"), col("o_orderpriority")),
        ot, "o_orderkey", 8,
        Scale.sourceFingerprint(s"$dir/orders.parquet"))
      spark.table(lt)
        .join(spark.table(ot).hint("merge"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_lines"),
          sum(col("l_quantity").cast(dec)).cast("double").as("total_qty"))
    }, oracle = Some("""
      SELECT o_orderpriority, count(*) AS n_lines,
             CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      GROUP BY o_orderpriority""")),

    // Bloom-prefiltered semi join — the runtime-filter pattern as an
    // explicit operator: sketch the hot orders' keys (Spark's own
    // BloomFilterAggregate), drop non-matching lineitem rows AT THE
    // SCAN with a codegen'd bloom_contains probe, then let the exact
    // broadcast join remove false positives. At 100 TB the bloom cuts
    // the big side BEFORE any shuffle; result ≡ plain semi join
    // (oracle-proven), and JoinSetSpec pins that the prefilter really
    // prunes. Sketch + exact count come from ONE aggregation pass —
    // sized up front from Catalyst's plan statistics (the channel the
    // injected runtime bloom sizes from), capped at Spark's maxNumBits
    // default, then re-sketched at measured size only if the estimate
    // overflowed (FPP degraded). Common path: one pass, no count job.
    Q("join_bloom_prefilter", (spark, dir) => {
      val hot = load(spark, dir, "orders")
        .filter(col("o_totalprice") > 450000)
        .select(col("o_orderkey"))
      val stats = hot.queryExecution.optimizedPlan.stats
      val estItems = stats.rowCount.map(_.longValue)
        .getOrElse(stats.sizeInBytes.longValue / 8L) max 64L
      val estBits = (estItems * 10L) min 67108864L
      val (bf0, nHot) = graft.functions.BloomFunctions.sketchWithCount(
        hot, col("o_orderkey"), estItems, estBits)
      // correctness never depends on sizing (the exact join removes
      // false positives) — the rebuild is purely an FPP repair
      val bf = if (nHot <= estItems) bf0
        else graft.functions.BloomFunctions.sketch(
          hot, col("o_orderkey"), nHot, nHot * 10L)
      val li = load(spark, dir, "lineitem")
        .select(col("l_orderkey"), col("l_returnflag"), col("l_quantity"))
        .filter(graft.functions.BloomFunctions.mightContain(spark, bf, col("l_orderkey")))
      li.join(broadcast(hot), li("l_orderkey") === hot("o_orderkey"))
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n_lines"),
          sum(col("l_quantity").cast(dec)).cast("double").as("sum_qty"))
    }, oracle = Some("""
      SELECT l_returnflag, count(*) AS n_lines,
             CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
      FROM lineitem
      WHERE l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_totalprice > 450000)
      GROUP BY l_returnflag""")),

    // DYNAMIC partition pruning — the dominant 100 TB star-scan shape:
    // a fact table Hive-partitioned on date, joined to a dim whose
    // FILTER (not a literal on the fact) decides which partitions
    // matter. Catalyst turns the dim's filtered key set into a runtime
    // `dynamicpruningexpression` inside the fact scan's
    // PartitionFilters (plan-pinned in PlanSpec with a fewer-files-read
    // proof), so at scale only the matching date directories are ever
    // listed and decompressed — a literal-predicate pruning proof can't
    // show that, because in a real star join the literal lives on the
    // dim. Fact is materialized once per corpus under target/tmp.
    Q("join_dpp_star", (spark, dir) => {
      // cache key carries the source file's (size, mtime): a
      // regenerated events corpus at the same path invalidates the
      // materialized fact instead of silently serving stale gold
      val src = new java.io.File(s"$dir/events.parquet")
      val gold = s"$scratchRoot/dpp_gold_${dir.hashCode.abs}_" +
        s"${src.length}_${src.lastModified}/events_by_date"
      if (!new java.io.File(s"$gold/_SUCCESS").exists()) {
        // one-time layout build bills to layout_sec like every other
        // materialized layout (bucketed tables, served ANN indexes):
        // a deployment pays the partitionBy write at ingest, not per
        // query — a cold cache must not read as a query regression
        val t0 = System.nanoTime()
        Tables.loadEvents(spark, dir)
          .withColumn("event_date", to_date(col("ts")))
          .write.mode("overwrite").partitionBy("event_date").parquet(gold)
        Scale.layoutNanos.addAndGet(System.nanoTime() - t0)
      }
      val fact = spark.read.parquet(gold)
      // dim: the observed calendar with an AGGREGATE-derived attribute
      // filter (days whose traffic count ≡ 0 mod 7 — 4-5 of 30 at
      // every sf). The attribute is data-dependent, so Catalyst CANNOT
      // infer the predicate onto the fact statically (an expression of
      // the join key alone would propagate through the equi-join and
      // turn into static pruning) — the partitions can only fall at
      // RUNTIME, which is exactly what the pin must prove
      val dim = Tables.loadEvents(spark, dir)
        .groupBy(to_date(col("ts")).as("d"))
        .agg(count(lit(1)).as("n_day"))
        .filter(col("n_day") % 7 === 0)
        .select(col("d"))
      fact.join(dim, fact("event_date") === dim("d"))
        .groupBy(col("event_date"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast(dec)).cast("double").as("total_value"))
    }, oracle = Some("""
      WITH dim AS (
        SELECT CAST(ts AS DATE) AS d FROM events
        GROUP BY 1 HAVING count(*) % 7 = 0)
      SELECT CAST(e.ts AS DATE) AS event_date, count(*) AS n_events,
             CAST(sum(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
      FROM events e JOIN dim ON CAST(e.ts AS DATE) = dim.d
      GROUP BY 1""")),

    // Engine-native runtime bloom filter — the optimizer-injected
    // sibling of `join_bloom_prefilter`'s manual sketch: Spark's
    // InjectRuntimeFilter builds a bloom over the dim's filtered join
    // keys and probes it on the fact side BEFORE the join's shuffle,
    // for exactly the non-partition-key case DPP can't touch. The
    // query itself carries no hints and no session mutation (the
    // default thresholds only arm the rule at real scale — 10 GB scan
    // on the application side); PlanSpec pins the armed plan under
    // scoped thresholds and proves it result-identical. At test scale
    // statistics pick a plain broadcast join, which is the right plan
    // for this size — the pin proves the 100 TB path, the oracle
    // proves the semantics.
    Q("join_runtime_bloom", (spark, dir) => {
      val hot = load(spark, dir, "orders")
        .filter(col("o_totalprice") > 450000)
        .select(col("o_orderkey"), col("o_orderpriority"))
      load(spark, dir, "lineitem")
        .select(col("l_orderkey"), col("l_quantity"))
        .join(hot, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_lines"),
          sum(col("l_quantity").cast(dec)).cast("double").as("sum_qty"))
    }, oracle = Some("""
      SELECT o_orderpriority, count(*) AS n_lines,
             CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      WHERE o_totalprice > 450000
      GROUP BY 1""")),

    // Null-safe equality join (<=> / IS NOT DISTINCT FROM): null keys
    // MATCH each other instead of dropping — the semantics SCD key
    // reconciliation and "unknown bucket" joins need. Spark plans
    // EqualNullSafe as a hash-join key (coalesce-wrapped), so this
    // stays a broadcast hash join, not a cartesian filter.
    Q("join_null_safe", (spark, dir) => {
      val seg = (c: org.apache.spark.sql.Column) =>
        when(c % 5 === 3, lit(null)).otherwise(c % 5).cast("int")
      val c = load(spark, dir, "customer")
        .select(col("c_custkey"), seg(col("c_nationkey")).as("seg_k"))
      val n = load(spark, dir, "nation")
        .select(col("n_name"), seg(col("n_nationkey")).as("seg_k"))
      c.join(broadcast(n), c("seg_k") <=> n("seg_k"))
        .select(col("c_custkey"), col("n_name"))
    }, oracle = Some("""
      WITH c AS (SELECT c_custkey,
                        CAST(nullif(c_nationkey % 5, 3) AS INT) AS seg_k
                 FROM customer),
           n AS (SELECT n_name,
                        CAST(nullif(n_nationkey % 5, 3) AS INT) AS seg_k
                 FROM nation)
      SELECT c.c_custkey, n.n_name
      FROM c JOIN n ON c.seg_k IS NOT DISTINCT FROM n.seg_k""")),

    // JOIN-KEY SKEW PROFILE — the diagnostic a planner runs BEFORE
    // picking a join strategy at scale: per-key cardinalities of the
    // fact's join key folded into one row of skew statistics — key
    // count, row total, the heaviest key (deterministic argmax via
    // max(struct)), its share of all rows, and the Herfindahl
    // concentration index sum((cnt/total)²). HHI ≈ 1/n_keys means
    // uniform (hash-join safely); a top share or HHI far above that
    // means salt or skew-split THIS key. Two aggregations, both with
    // map-side partial combine; the squared-share sum is computed as
    // exact integer Σcnt²/total² with ONE double division, so the
    // statistic is bit-identical cross-engine.
    Q("dq_skew_profile", (spark, dir) => {
      val perKey = load(spark, dir, "lineitem")
        .groupBy(col("l_suppkey")).agg(count(lit(1)).as("cnt"))
      perKey.agg(
          count(lit(1)).as("n_keys"),
          sum(col("cnt")).as("n_rows"),
          max(struct(col("cnt"), (-col("l_suppkey")).as("nk"))).as("m"),
          sum(col("cnt") * col("cnt")).as("sumsq"))
        .select(col("n_keys"), col("n_rows"),
          col("m.cnt").as("max_cnt"), (-col("m.nk")).as("top_suppkey"),
          (col("m.cnt").cast("double") / col("n_rows")).as("top_share"),
          (col("sumsq").cast("double") /
            (col("n_rows") * col("n_rows")).cast("double")).as("hhi"))
    }, oracle = Some("""
      WITH k AS (
        SELECT l_suppkey, CAST(count(*) AS BIGINT) AS cnt
        FROM lineitem GROUP BY 1),
      top AS (
        SELECT l_suppkey, cnt,
               row_number() OVER (ORDER BY cnt DESC, l_suppkey) AS rk
        FROM k)
      SELECT CAST(count(*) AS BIGINT) AS n_keys,
             CAST(sum(cnt) AS BIGINT) AS n_rows,
             (SELECT cnt FROM top WHERE rk = 1) AS max_cnt,
             (SELECT l_suppkey FROM top WHERE rk = 1) AS top_suppkey,
             CAST((SELECT cnt FROM top WHERE rk = 1) AS DOUBLE)
               / CAST(sum(cnt) AS BIGINT) AS top_share,
             CAST(sum(cnt * cnt) AS DOUBLE)
               / CAST(sum(cnt) * sum(cnt) AS BIGINT) AS hhi
      FROM k""")),
  )
}

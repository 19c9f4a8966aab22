package graft.ops

import graft.pipeline.Upsert
import org.apache.spark.sql.functions._

/** O1/O2 — the hand-rolled Delta-equivalent MERGE, exercised through
  * [[graft.pipeline.Upsert]] on the test tables, with the merge
  * semantics spelled out in ANSI SQL for the DuckDB oracle:
  * matched target rows take the source row's values (UpdateAll),
  * unmatched target rows persist, unmatched source rows insert.
  */
object MergeQueries {
  import SessionScopedCache.scratchRoot
  import Tables.load

  /** The shared CDF commit history — orders seeded at v0 (%3≠0), a
    * merge at v1 (every %6=1 key's status → 'U', price+5; every %6=0
    * key inserted), a merge-on-read delete at v2 (price < 50000).
    * Built ONCE per (session, sf-dir) and consumed read-only by three
    * independently-oracled queries (`txlog_cdf` batch feed,
    * `txlog_cdf_mv` incremental-view fold, `txlog_stream_cdf`
    * streaming tail): the commit history is the shared fixture, the
    * consumers are the operators under test — rebuilding the table per
    * query would triple-bill the writes without changing any result
    * (the `events_state_store_audit` shared-replay pattern). */
  private def cdfScenarioRoot(spark: org.apache.spark.sql.SparkSession,
                              dir: String): String =
    SessionScopedCache.memoDir(spark, "txlog_cdf", dir) { root =>
      val t = graft.pipeline.TxLog(spark, root)
      val base = load(spark, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          col("o_totalprice").cast("decimal(18,2)").as("o_totalprice"))
      t.overwrite(base.filter(col("o_orderkey") % 3 =!= 0))          // v0
      val upd = base.filter(col("o_orderkey") % 6 === 1)
        .withColumn("o_orderstatus", lit("U"))
        .withColumn("o_totalprice",
          (col("o_totalprice") + lit(5)).cast("decimal(18,2)"))
      t.merge(upd.unionByName(base.filter(col("o_orderkey") % 6 === 0)),
        Seq("o_orderkey"))                                           // v1
      t.deleteWhere("o_totalprice < 50000")                          // v2
      root
    }

  val all: Seq[Q] = Seq(

    // O1 — SCD1 merge on a single natural key. Target: most suppliers;
    // source: an "incremental batch" that updates every 3rd supplier's
    // name/balance and inserts brand-new keys (suppkey+1000000).
    Q("o1_scd1_merge", (spark, dir) => {
      val sup = load(spark, dir, "supplier")
        .select(col("s_suppkey"), col("s_name"),
          col("s_acctbal").cast("decimal(18,2)").as("s_acctbal"))
      val target = sup.filter(col("s_suppkey") % 7 =!= 0)
      val updates = sup.filter(col("s_suppkey") % 3 === 0)
        .select(col("s_suppkey"), concat(col("s_name"), lit(" up")).as("s_name"),
          (col("s_acctbal") + lit(10)).cast("decimal(18,2)").as("s_acctbal"))
      val inserts = sup.filter(col("s_suppkey") % 5 === 0)
        .select((col("s_suppkey") + 1000000L).as("s_suppkey"), col("s_name"),
          col("s_acctbal"))
      val merged = Upsert.merge(target, updates.unionByName(inserts), Seq("s_suppkey"))
      merged.select(col("s_suppkey"), col("s_name"),
        col("s_acctbal").cast("double").as("s_acctbal"))
    }, oracle = Some("""
      WITH sup AS (
        SELECT s_suppkey, s_name, CAST(s_acctbal AS DECIMAL(18,2)) AS s_acctbal
        FROM supplier),
      target AS (SELECT * FROM sup WHERE s_suppkey % 7 <> 0),
      src AS (
        SELECT s_suppkey, s_name || ' up' AS s_name,
               CAST(s_acctbal + 10 AS DECIMAL(18,2)) AS s_acctbal
        FROM sup WHERE s_suppkey % 3 = 0
        UNION ALL
        SELECT s_suppkey + 1000000, s_name, s_acctbal
        FROM sup WHERE s_suppkey % 5 = 0)
      SELECT COALESCE(s.s_suppkey, t.s_suppkey) AS s_suppkey,
             CASE WHEN s.s_suppkey IS NOT NULL THEN s.s_name ELSE t.s_name END AS s_name,
             CAST(CASE WHEN s.s_suppkey IS NOT NULL THEN s.s_acctbal ELSE t.s_acctbal END AS DOUBLE) AS s_acctbal
      FROM target t LEFT JOIN src s ON t.s_suppkey = s.s_suppkey
      UNION ALL
      SELECT s.s_suppkey, s.s_name, CAST(s.s_acctbal AS DOUBLE)
      FROM src s LEFT JOIN target t ON s.s_suppkey = t.s_suppkey
      WHERE t.s_suppkey IS NULL""")),

    // O2 — composite-key merge on the fact grain (l_orderkey,
    // l_linenumber): an update batch re-prices recent lines; the merge
    // key is the full grain, mirroring the reference's 4-surrogate-key
    // conjunction (`gold_fact_sales.ipynb:72816-72819`).
    Q("o2_fact_merge", (spark, dir) => {
      val li = load(spark, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_quantity").cast("decimal(18,2)").as("qty"),
          col("l_extendedprice").cast("decimal(18,2)").as("price"))
      val target = li.filter(col("l_orderkey") % 4 =!= 0)
      // The grain is not unique in the data (same quirk as the
      // reference's 4-key fact grain, SURVEY §2.3 O2): pre-aggregate the
      // source to the merge grain — the documented resolution — so the
      // strict Delta-parity duplicate check passes.
      val src = li.filter(col("l_orderkey") % 6 === 0)
        .groupBy(col("l_orderkey"), col("l_linenumber"))
        .agg(sum(col("qty")).cast("decimal(18,2)").as("qty"),
          sum(col("price") * lit(2)).cast("decimal(18,2)").as("price"))
      val merged = Upsert.merge(target, src, Seq("l_orderkey", "l_linenumber"))
      merged.select(col("l_orderkey"), col("l_linenumber"),
        col("qty").cast("double").as("qty"), col("price").cast("double").as("price"))
    }, oracle = Some("""
      WITH li AS (
        SELECT l_orderkey, l_linenumber,
               CAST(l_quantity AS DECIMAL(18,2)) AS qty,
               CAST(l_extendedprice AS DECIMAL(18,2)) AS price
        FROM lineitem),
      target AS (SELECT * FROM li WHERE l_orderkey % 4 <> 0),
      src AS (
        SELECT l_orderkey, l_linenumber,
               CAST(sum(qty) AS DECIMAL(18,2)) AS qty,
               CAST(sum(price * 2) AS DECIMAL(18,2)) AS price
        FROM li WHERE l_orderkey % 6 = 0
        GROUP BY l_orderkey, l_linenumber)
      SELECT t.l_orderkey, t.l_linenumber,
             CAST(CASE WHEN s.l_orderkey IS NOT NULL THEN s.qty ELSE t.qty END AS DOUBLE) AS qty,
             CAST(CASE WHEN s.l_orderkey IS NOT NULL THEN s.price ELSE t.price END AS DOUBLE) AS price
      FROM target t LEFT JOIN src s
        ON t.l_orderkey = s.l_orderkey AND t.l_linenumber = s.l_linenumber
      UNION ALL
      SELECT s.l_orderkey, s.l_linenumber, CAST(s.qty AS DOUBLE), CAST(s.price AS DOUBLE)
      FROM src s LEFT JOIN target t
        ON s.l_orderkey = t.l_orderkey AND s.l_linenumber = t.l_linenumber
      WHERE t.l_orderkey IS NULL""")),

    // Change feed via TIME TRAVEL: full-load orders into a TxLog table,
    // merge an incremental batch (every 100th order's price doubled,
    // plus inserts above the key space), then DIFF snapshot v1 against
    // snapshot v0 — updates and inserts, each labeled. The oracle
    // recomputes the feed from the raw table, which is only possible
    // because versioned reads are deterministic; this puts the commit
    // protocol itself (not just its end state) under the driver's
    // hash gate. Doubling is exact in doubles, so values hash-match.
    Q("txlog_change_feed", (spark, dir) => {
      val root = s"$scratchRoot/txlog_cf_${dir.hashCode.abs}"
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
      val t = graft.pipeline.TxLog(spark, root)
      val orders = load(spark, dir, "orders")
        .select(col("o_orderkey"), col("o_totalprice"))
      t.overwrite(orders)
      val batch = orders.filter(col("o_orderkey") % 100 === 0)
        .withColumn("o_totalprice", col("o_totalprice") * 2)
        .unionByName(orders.filter(col("o_orderkey") % 100 === 0)
          .select((col("o_orderkey") + 10000000L).as("o_orderkey"),
            col("o_totalprice")))
      t.merge(batch, Seq("o_orderkey"))
      val v0 = t.snapshot(0).select(col("o_orderkey"),
        col("o_totalprice").as("old_price"))
      val v1 = t.snapshot(1).select(col("o_orderkey"),
        col("o_totalprice").as("new_price"))
      v1.join(v0, Seq("o_orderkey"), "left")
        .filter(col("old_price").isNull || col("old_price") =!= col("new_price"))
        .select(col("o_orderkey"),
          col("old_price"), col("new_price"),
          when(col("old_price").isNull, lit("insert"))
            .otherwise(lit("update")).as("change"))
    }, oracle = Some("""
      SELECT o_orderkey, o_totalprice AS old_price,
             o_totalprice * 2 AS new_price, 'update' AS change
      FROM orders WHERE o_orderkey % 100 = 0
      UNION ALL
      SELECT o_orderkey + 10000000, NULL, o_totalprice, 'insert'
      FROM orders WHERE o_orderkey % 100 = 0""")),

    // BLOOM-skipped POINT LOOKUP: orders committed into a TxLog table
    // as 4 append batches (keys striped by modulus, so every batch
    // spans the full key RANGE — min/max stats prune nothing, the
    // worst case for range skipping), each commit carrying a per-dir
    // Bloom filter on the key. A needle probe then opens ~1 of the 4
    // dirs (asserted structurally in TxLogSpec; here the driver's hash
    // gate pins the read's CONTENT). Probed keys are the corpus min
    // and max (two scalar driver fetches — the sanctioned S10 shape)
    // plus a ghost key that hits nothing on either side. This is the
    // 100 TB needle shape: manifest-level filter pruning, no full scan.
    Q("txlog_point_lookup", (spark, dir) => {
      val root = s"$scratchRoot/txlog_pt_${dir.hashCode.abs}"
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
      val t = graft.pipeline.TxLog(spark, root, bloomCols = Seq("o_orderkey"))
      val orders = load(spark, dir, "orders")
        .select(col("o_orderkey"), col("o_totalprice"))
      (0 until 4).foreach(b =>
        t.append(orders.filter(col("o_orderkey") % 4 === b)))
      val bounds = orders.agg(min(col("o_orderkey")), max(col("o_orderkey"))).head()
      val (lo, hi) = (bounds.getLong(0), bounds.getLong(1))
      t.snapshotPoint("o_orderkey", lo.toString)
        .unionByName(t.snapshotPoint("o_orderkey", hi.toString))
        .unionByName(t.snapshotPoint("o_orderkey", (hi + 1).toString))
    }, oracle = Some("""
      SELECT o_orderkey, o_totalprice FROM orders
      WHERE o_orderkey IN ((SELECT min(o_orderkey) FROM orders),
                           (SELECT max(o_orderkey) FROM orders))""")),

    // IDENTITY columns under the hash gate: GENERATED ALWAYS row ids
    // assigned by the manifest-stats high-water mark + the distributed
    // two-phase rank, committed across TWO appends — ids must be the
    // global 0-based rank of s_suppkey regardless of the batch split.
    Q("txlog_identity_ids", (spark, dir) => {
      val root = s"$scratchRoot/txlog_id_${dir.hashCode.abs}"
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
      val t = graft.pipeline.TxLog(spark, root, statsCols = Seq("row_id"))
      val sup = load(spark, dir, "supplier").select(col("s_suppkey"), col("s_name"))
      val half = sup.agg(expr("percentile_approx(s_suppkey, 0.5, 1000000)"))
        .head().getLong(0)
      // two ordered batches: low keys first, then the rest — identity
      // continues from the recorded mark, so ids stay the GLOBAL rank
      t.appendWithIdentity(sup.filter(col("s_suppkey") <= half), "row_id",
        orderCols = Seq(col("s_suppkey")))
      t.appendWithIdentity(sup.filter(col("s_suppkey") > half), "row_id",
        orderCols = Seq(col("s_suppkey")))
      t.snapshot().select(col("row_id"), col("s_suppkey"), col("s_name"))
    }, oracle = Some("""
      SELECT row_number() OVER (ORDER BY s_suppkey) - 1 AS row_id,
             s_suppkey, s_name
      FROM supplier""")),

    // Zero-copy SHALLOW CLONE under the hash gate: the clone of an
    // earlier VERSION must read exactly that snapshot's content
    // through its absolute-path manifest references — even after the
    // source keeps evolving — and the clone's own merge must not touch
    // the source. Final read: the clone after its own local merge.
    Q("txlog_clone_snapshot", (spark, dir) => {
      val root = s"$scratchRoot/txlog_clone_${dir.hashCode.abs}"
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
      val src = graft.pipeline.TxLog(spark, s"$root/src")
      val nat = load(spark, dir, "nation")
        .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
      src.overwrite(nat)                                    // v0 — the clone target
      src.merge(nat.filter(col("n_nationkey") % 2 === 0)    // v1 — source moves on
        .withColumn("n_name", concat(col("n_name"), lit(" MOVED"))),
        Seq("n_nationkey"))
      val clone = src.shallowCloneTo(s"$root/dest", version = 0L)
      clone.merge(nat.filter(col("n_nationkey") % 5 === 0)  // clone evolves alone
        .withColumn("n_name", concat(col("n_name"), lit(" CLONED"))),
        Seq("n_nationkey"))
      clone.snapshot()
    }, oracle = Some("""
      SELECT n_nationkey,
             CASE WHEN n_nationkey % 5 = 0 THEN n_name || ' CLONED'
                  ELSE n_name END AS n_name,
             n_regionkey
      FROM nation""")),

    // OPTIMIZE (target-size bin-packing) under the hash gate: a table
    // built as one bulk dir plus five tiny append dirs is packed with
    // compactSmallFiles — only under-target dirs fold, compliant dirs'
    // manifest lines (stats included) carry untouched, and a second
    // OPTIMIZE with no new debt is a version-preserving no-op. The
    // final read goes through the REPACKED stats (snapshotRange), so
    // the hash proves packing preserved both content and skipping
    // metadata.
    Q("txlog_optimize_pack", (spark, dir) => {
      val root = s"$scratchRoot/txlog_opt_${dir.hashCode.abs}"
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
      val t = graft.pipeline.TxLog(spark, root, statsCols = Seq("p_partkey"))
      val part = load(spark, dir, "part")
        .select(col("p_partkey"), col("p_name"),
          col("p_retailprice").cast("double").as("p_retailprice"))
      t.overwrite(part.filter(col("p_partkey") % 10 =!= 0)) // the compliant bulk
      (0 until 5).foreach(b => // small-file debt: five single-digit-KB dirs
        t.append(part.filter(col("p_partkey") % 10 === 0 &&
          (col("p_partkey") / 10) % 5 === b)))
      val v = t.compactSmallFiles(64L * 1024)
      require(t.compactSmallFiles(64L * 1024) == v,
        "second OPTIMIZE with no new small-file debt must be a no-op")
      t.snapshotRange("1", "100")
    }, oracle = Some("""
      SELECT p_partkey, p_name, CAST(p_retailprice AS DOUBLE) AS p_retailprice
      FROM part WHERE p_partkey BETWEEN 1 AND 100""")),

    // PARTITION-SCOPED OPTIMIZE (Delta's `OPTIMIZE … WHERE`): the
    // 100 TB maintenance shape — yesterday's ingest left small-file
    // debt in a handful of partitions; the pass packs ONLY those,
    // leaving every other partition's layout (and its manifest lines,
    // stats, blooms) byte-identical. Here both brand partitions take
    // per-batch appends, the scoped pass packs one of them, and the
    // requires pin the structural claims: the unscoped partition's
    // dirs survive untouched, a re-run is a version-preserving no-op,
    // and content is invariant (the oracle's job). Driven through the
    // SQL face (`OPTIMIZE t WHERE p = 'v'`) to keep the statement form
    // under the oracle gate too.
    Q("txlog_optimize_where", (spark, dir) => {
      val root = s"$scratchRoot/txlog_optw_${dir.hashCode.abs}"
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
      val t = graft.pipeline.TxLog(spark, root)
      val part = load(spark, dir, "part")
        .filter(col("p_brand").isin("Brand#11", "Brand#12"))
        .select(col("p_brand"), col("p_partkey"), col("p_name"))
      t.overwritePartitioned(part.filter(col("p_partkey") % 10 =!= 0), "p_brand")
      (0 until 4).foreach(b => // per-batch debt lands in BOTH partitions
        t.append(part.filter(col("p_partkey") % 10 === 0 &&
            (col("p_partkey") / 10) % 4 === b),
          tagBy = Some("p_brand")))
      val dirsBefore = new java.io.File(s"$root/data").listFiles()
        .filter(_.isDirectory).map(_.getName).toSet
      graft.sql.TxLogSql.register("txlog_optw", t)
      val v = spark.sql(
        "OPTIMIZE txlog_optw WHERE p_brand = 'Brand#11'").head().getLong(0)
      require(v == t.currentVersion(), "OPTIMIZE must commit a version")
      val dirsAfter = new java.io.File(s"$root/data").listFiles()
        .filter(_.isDirectory).map(_.getName).toSet
      require(dirsBefore.subsetOf(dirsAfter) && (dirsAfter -- dirsBefore).size == 1,
        "scoped OPTIMIZE must add exactly one packed dir and touch nothing else")
      require(spark.sql(
          "OPTIMIZE txlog_optw WHERE p_brand = 'Brand#11'").head().getLong(0) == v,
        "re-running the scoped pass with no new debt must be a no-op")
      graft.sql.TxLogSql.unregister("txlog_optw")
      t.snapshot().select(col("p_brand"), col("p_partkey"), col("p_name"))
    }, oracle = Some("""
      SELECT p_brand, p_partkey, p_name FROM part
      WHERE p_brand IN ('Brand#11', 'Brand#12')""")),

    // SQL-form MERGE (r6 verdict item 2): the IDENTICAL upsert as
    // o1_scd1_merge, but driven by the user-facing string
    // `MERGE INTO ... WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED
    // THEN INSERT *` against a registered TxLog table —
    // GraftExtensions' resolution rule routes the parsed
    // MergeIntoTable into TxLog.merge. Same oracle as o1: the SQL face
    // must be semantically invisible.
    Q("txlog_sql_merge", (spark, dir) => {
      val root = s"$scratchRoot/txlog_sqlmerge_${dir.hashCode.abs}"
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
      val sup = load(spark, dir, "supplier")
        .select(col("s_suppkey"), col("s_name"),
          col("s_acctbal").cast("decimal(18,2)").as("s_acctbal"))
      val t = graft.pipeline.TxLog(spark, root)
      t.overwrite(sup.filter(col("s_suppkey") % 7 =!= 0))
      sup.filter(col("s_suppkey") % 3 === 0)
        .select(col("s_suppkey"), concat(col("s_name"), lit(" up")).as("s_name"),
          (col("s_acctbal") + lit(10)).cast("decimal(18,2)").as("s_acctbal"))
        .unionByName(sup.filter(col("s_suppkey") % 5 === 0)
          .select((col("s_suppkey") + 1000000L).as("s_suppkey"), col("s_name"),
            col("s_acctbal")))
        .createOrReplaceTempView("txlog_sql_merge_src")
      graft.sql.TxLogSql.register("txlog_sql_merge_tgt", t)
      spark.sql("""
        MERGE INTO txlog_sql_merge_tgt AS t
        USING txlog_sql_merge_src AS s
        ON t.s_suppkey = s.s_suppkey
        WHEN MATCHED THEN UPDATE SET *
        WHEN NOT MATCHED THEN INSERT *""")
      t.snapshot().select(col("s_suppkey"), col("s_name"),
        col("s_acctbal").cast("double").as("s_acctbal"))
    }, oracle = Some("""
      WITH sup AS (
        SELECT s_suppkey, s_name, CAST(s_acctbal AS DECIMAL(18,2)) AS s_acctbal
        FROM supplier),
      target AS (SELECT * FROM sup WHERE s_suppkey % 7 <> 0),
      src AS (
        SELECT s_suppkey, s_name || ' up' AS s_name,
               CAST(s_acctbal + 10 AS DECIMAL(18,2)) AS s_acctbal
        FROM sup WHERE s_suppkey % 3 = 0
        UNION ALL
        SELECT s_suppkey + 1000000, s_name, s_acctbal
        FROM sup WHERE s_suppkey % 5 = 0)
      SELECT COALESCE(s.s_suppkey, t.s_suppkey) AS s_suppkey,
             CASE WHEN s.s_suppkey IS NOT NULL THEN s.s_name ELSE t.s_name END AS s_name,
             CAST(CASE WHEN s.s_suppkey IS NOT NULL THEN s.s_acctbal ELSE t.s_acctbal END AS DOUBLE) AS s_acctbal
      FROM target t LEFT JOIN src s ON t.s_suppkey = s.s_suppkey
      UNION ALL
      SELECT s.s_suppkey, s.s_name, CAST(s.s_acctbal AS DOUBLE)
      FROM src s LEFT JOIN target t ON s.s_suppkey = t.s_suppkey
      WHERE t.s_suppkey IS NULL""")),

    // SQL-form UPDATE + DELETE against the same TxLog DML route:
    // UPDATE is copy-on-write (every RHS sees the pre-update row),
    // DELETE is the merge-on-read deletion-vector path — both driven
    // by plain SQL strings; the oracle derives the end state
    // relationally.
    Q("txlog_sql_update_delete", (spark, dir) => {
      val root = s"$scratchRoot/txlog_sqlud_${dir.hashCode.abs}"
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
      val t = graft.pipeline.TxLog(spark, root)
      t.overwrite(load(spark, dir, "customer")
        .select(col("c_custkey"), col("c_name"), col("c_mktsegment"),
          col("c_acctbal").cast("decimal(18,2)").as("c_acctbal")))
      graft.sql.TxLogSql.register("txlog_sql_ud_tgt", t)
      spark.sql("""
        UPDATE txlog_sql_ud_tgt
        SET c_acctbal = c_acctbal + 100, c_name = concat(c_name, ' *')
        WHERE c_mktsegment = 'BUILDING'""")
      spark.sql("DELETE FROM txlog_sql_ud_tgt WHERE c_acctbal < 0")
      t.snapshot().select(col("c_custkey"), col("c_name"), col("c_mktsegment"),
        col("c_acctbal").cast("double").as("c_acctbal"))
    }, oracle = Some("""
      WITH base AS (
        SELECT c_custkey, c_name, c_mktsegment,
               CAST(c_acctbal AS DECIMAL(18,2)) AS c_acctbal
        FROM customer),
      updated AS (
        SELECT c_custkey,
               CASE WHEN c_mktsegment = 'BUILDING' THEN c_name || ' *'
                    ELSE c_name END AS c_name,
               c_mktsegment,
               CASE WHEN c_mktsegment = 'BUILDING'
                    THEN CAST(c_acctbal + 100 AS DECIMAL(18,2))
                    ELSE c_acctbal END AS c_acctbal
        FROM base)
      SELECT c_custkey, c_name, c_mktsegment, CAST(c_acctbal AS DOUBLE) AS c_acctbal
      FROM updated WHERE NOT (c_acctbal < 0)""")),

    // MERGE-ON-READ UPDATE + REORG PURGE lifecycle: the deletion-vector
    // UPDATE (the session conf routes the same UPDATE string to
    // tombstone-hits + append-images instead of copy-on-write — zero
    // existing dirs rewritten, the write shape a 100 TB one-row
    // correction needs), a stacked MoR DELETE, then
    // `REORG TABLE … APPLY (PURGE)` materializes exactly the DV debt.
    // The final content is identical to the copy-on-write result,
    // which the oracle derives relationally.
    Q("txlog_update_mor", (spark, dir) => {
      val root = s"$scratchRoot/txlog_updmor_${dir.hashCode.abs}"
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
      val t = graft.pipeline.TxLog(spark, root)
      t.overwrite(load(spark, dir, "customer")
        .select(col("c_custkey"), col("c_name"), col("c_mktsegment"),
          col("c_acctbal").cast("decimal(18,2)").as("c_acctbal")))
      graft.sql.TxLogSql.register("txlog_updmor_tgt", t)
      Q.withConf(spark, "spark.graft.update.mode" -> "mor") {
        spark.sql("""
          UPDATE txlog_updmor_tgt
          SET c_acctbal = c_acctbal + 50, c_name = concat(c_name, ' ~')
          WHERE c_mktsegment = 'MACHINERY'""")
      }
      spark.sql("DELETE FROM txlog_updmor_tgt WHERE c_acctbal < 0")
      spark.sql("REORG TABLE txlog_updmor_tgt APPLY (PURGE)")
      t.snapshot().select(col("c_custkey"), col("c_name"), col("c_mktsegment"),
        col("c_acctbal").cast("double").as("c_acctbal"))
    }, oracle = Some("""
      WITH base AS (
        SELECT c_custkey, c_name, c_mktsegment,
               CAST(c_acctbal AS DECIMAL(18,2)) AS c_acctbal
        FROM customer),
      updated AS (
        SELECT c_custkey,
               CASE WHEN c_mktsegment = 'MACHINERY' THEN c_name || ' ~'
                    ELSE c_name END AS c_name,
               c_mktsegment,
               CASE WHEN c_mktsegment = 'MACHINERY'
                    THEN CAST(c_acctbal + 50 AS DECIMAL(18,2))
                    ELSE c_acctbal END AS c_acctbal
        FROM base)
      SELECT c_custkey, c_name, c_mktsegment, CAST(c_acctbal AS DOUBLE) AS c_acctbal
      FROM updated WHERE NOT (c_acctbal < 0)""")),

    // The full SQL lakehouse loop in one statement history: INSERT INTO
    // routes to TxLog.append, DELETE stacks a deletion vector, and the
    // final SELECT addresses all three versions — `VERSION AS OF 0`,
    // `TIMESTAMP AS OF` an instant captured between commits (resolved
    // against manifest publish mtimes, Delta's time-travel-by-time),
    // and the bare name for current. Proves SQL reads see the SAME
    // per-version state the library snapshot() serves, with zero data
    // copies — each branch is the manifest-addressed parquet dirs.
    Q("txlog_sql_time_travel", (spark, dir) => {
      val root = s"$scratchRoot/txlog_sqltt_${dir.hashCode.abs}"
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
      val sup = load(spark, dir, "supplier")
        .select(col("s_suppkey"), col("s_name"),
          col("s_acctbal").cast("decimal(18,2)").as("s_acctbal"))
      val t = graft.pipeline.TxLog(spark, root)
      t.overwrite(sup.filter(col("s_suppkey") % 2 === 0)) // v0: evens
      graft.sql.TxLogSql.register("txlog_tt", t)
      sup.filter(col("s_suppkey") % 2 === 1)
        .createOrReplaceTempView("txlog_tt_inserts")
      // v1: SQL INSERT appends the odds — table now holds all suppliers
      spark.sql("INSERT INTO txlog_tt SELECT * FROM txlog_tt_inserts")
      // The probe instant is v1's commit time AS THE RESOLVER SEES IT —
      // the manifest's recorded mtime (served by history()), not a wall
      // clock racing it: under coarse filesystem mtime granularity a
      // System.currentTimeMillis() capture can precede v1's rounded
      // mtime (v1 invisible at the probe) or tie v2's (v2 leaking in).
      val tsAfterInsert = t.history().filter(col("version") === 1)
        .select(col("timestamp")).head().getTimestamp(0).getTime
      // ...then hold the DELETE until a fresh file on the SAME
      // filesystem stamps strictly later, so v2's manifest mtime can
      // never collapse onto the captured instant
      def fsNow(): Long = {
        val p = java.nio.file.Paths.get(root, ".ts_probe")
        java.nio.file.Files.write(p, Array[Byte](0))
        try java.nio.file.Files.getLastModifiedTime(p).toMillis
        finally java.nio.file.Files.delete(p)
      }
      while (fsNow() <= tsAfterInsert) Thread.sleep(5)
      spark.sql("DELETE FROM txlog_tt WHERE s_suppkey % 7 = 0") // v2: MoR delete
      spark.sql(s"""
        SELECT 0 AS v, count(*) AS n_rows,
               CAST(sum(s_acctbal) AS DOUBLE) AS bal
        FROM txlog_tt VERSION AS OF 0
        UNION ALL
        SELECT 1, count(*), CAST(sum(s_acctbal) AS DOUBLE)
        FROM txlog_tt TIMESTAMP AS OF timestamp_millis(${tsAfterInsert}L)
        UNION ALL
        SELECT 2, count(*), CAST(sum(s_acctbal) AS DOUBLE) FROM txlog_tt""")
    }, oracle = Some("""
      WITH sup AS (
        SELECT s_suppkey, CAST(s_acctbal AS DECIMAL(18,2)) AS s_acctbal
        FROM supplier),
      v0 AS (SELECT * FROM sup WHERE s_suppkey % 2 = 0),
      v2 AS (SELECT * FROM sup WHERE NOT (s_suppkey % 7 = 0))
      SELECT 0 AS v, count(*) AS n_rows, CAST(sum(s_acctbal) AS DOUBLE) AS bal FROM v0
      UNION ALL
      SELECT 1, count(*), CAST(sum(s_acctbal) AS DOUBLE) FROM sup
      UNION ALL
      SELECT 2, count(*), CAST(sum(s_acctbal) AS DOUBLE) FROM v2""")),

    // MERGE-ON-READ delete under the hash gate: orders committed as two
    // append dirs, then TWO stacked deleteWhere calls — each writes only
    // a (file, row-index) tombstone sidecar, no data dir is rewritten
    // (TxLogSpec pins the files untouched; at 100 TB this is the
    // difference between a GDPR delete costing bytes-proportional-to-
    // deleted-rows and rewriting whole dirs copy-on-write). The final
    // snapshot read anti-joins both vectors; the oracle recomputes the
    // surviving set from the raw table.
    Q("txlog_mor_delete", (spark, dir) => {
      val root = s"$scratchRoot/txlog_mor_${dir.hashCode.abs}"
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
      val t = graft.pipeline.TxLog(spark, root)
      val orders = load(spark, dir, "orders")
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
      t.append(orders.filter(col("o_orderkey") % 2 === 0))
      t.append(orders.filter(col("o_orderkey") % 2 === 1))
      t.deleteWhere("o_orderpriority = '1-URGENT' OR o_totalprice > 400000")
      t.deleteWhere("o_orderkey % 1000 = 0")
      t.snapshot()
    }, oracle = Some("""
      SELECT o_orderkey, o_totalprice, o_orderpriority FROM orders
      WHERE NOT (o_orderpriority = '1-URGENT' OR o_totalprice > 400000)
        AND NOT (o_orderkey % 1000 = 0)""")),

    // COLUMN MAPPING (Delta's rename/drop-without-rewrite): rename and
    // drop are manifest-metadata commits — parquet keeps the physical
    // names, appends after the rename speak the new schema, the
    // dropped column's bytes never resurface, and the whole history
    // stays time-travelable. The snapshot after [rename price→amount,
    // drop priority, append under the new schema] must equal a plain
    // relational projection — proving the mapping layer is invisible
    // to query semantics.
    Q("txlog_column_mapping", (spark, dir) => {
      val root = s"$scratchRoot/txlog_colmap_${dir.hashCode.abs}"
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
      val t = graft.pipeline.TxLog(spark, root)
      val orders = load(spark, dir, "orders")
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
      t.overwrite(orders.filter(col("o_orderkey") % 2 === 0))
      t.renameColumn("o_totalprice", "amount")
      t.dropColumn("o_orderpriority")
      t.append(orders.filter(col("o_orderkey") % 2 === 1)
        .select(col("o_orderkey"), col("o_totalprice").as("amount")))
      t.snapshot()
    }, oracle = Some("""
      SELECT o_orderkey, o_totalprice AS amount FROM orders""")),

    // GENERATED COLUMNS under the hash gate (Delta's GENERATED ALWAYS
    // AS): ship_year and gross_cents derive from expressions recorded
    // as table metadata. The first append writes a frame WITHOUT the
    // columns — the writer computes them; the second supplies them —
    // the derived CHECK (null-safe equality, persisted in the
    // manifest, binding every later writer) validates instead. A
    // frame carrying a wrong value is refused atomically
    // (TxLogSpec). The oracle derives the same expressions
    // relationally — generation must be invisible to query semantics.
    Q("txlog_generated_cols", (spark, dir) => {
      val root = s"$scratchRoot/txlog_gen_${dir.hashCode.abs}"
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
      val t = graft.pipeline.TxLog(spark, root, generatedCols = Seq(
        ("ship_year", "year(l_shipdate)"),
        ("gross_cents", "CAST(floor(l_extendedprice * 100) AS BIGINT)")))
      val li = load(spark, dir, "lineitem").select(
        col("l_orderkey"), col("l_linenumber"),
        col("l_shipdate"), col("l_extendedprice"))
      t.append(li.filter(col("l_orderkey") % 2 === 0))
      t.append(li.filter(col("l_orderkey") % 2 === 1)
        .withColumn("ship_year", expr("year(l_shipdate)"))
        .withColumn("gross_cents",
          expr("CAST(floor(l_extendedprice * 100) AS BIGINT)")))
      t.snapshot()
        .groupBy(col("ship_year"))
        .agg(count(lit(1)).as("n_lines"),
          sum(col("gross_cents")).cast("long").as("gross_cents"))
    }, oracle = Some("""
      SELECT CAST(year(l_shipdate) AS INT) AS ship_year,
             count(*) AS n_lines,
             CAST(sum(CAST(floor(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
               AS gross_cents
      FROM lineitem GROUP BY 1""")),

    // PARTITION EVOLUTION under the hash gate — Iceberg's partition-
    // spec change, which Delta lacks: a table partitioned by
    // o_orderpriority is switched — metadata-only, zero dirs
    // rewritten — to partition by o_orderstatus. Before the switch a
    // pruned old-scheme merge leaves DEAD rows in a carried dir
    // (superseded 1-URGENT originals); the evolution re-records that
    // dir's tags scheme-qualified, so the dead rows stay dead. The
    // post-evolution merge under the NEW column folds the foreign
    // dirs in (the self-heal path) and the final snapshot must equal
    // the plain relational result of the same three upserts — which
    // is exactly what the oracle computes from the raw table.
    Q("txlog_partition_evolution", (spark, dir) => {
      val root = s"$scratchRoot/txlog_evo_${dir.hashCode.abs}"
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
      val t = graft.pipeline.TxLog(spark, root)
      val orders = load(spark, dir, "orders").select(
        col("o_orderkey"), col("o_orderpriority"), col("o_orderstatus"),
        col("o_totalprice").cast("double").as("price"))
      val base = orders.filter(col("o_orderkey") % 100 < 30)
      t.overwritePartitioned(base, "o_orderpriority")
      t.mergePartitioned(
        base.filter(col("o_orderpriority") === "1-URGENT")
          .withColumn("price", col("price") + 1.0),
        Seq("o_orderkey"), "o_orderpriority")
      t.evolvePartitioning("o_orderstatus")
      t.mergePartitioned(
        orders.filter(col("o_orderkey") % 100 >= 30 && col("o_orderkey") % 100 < 35),
        Seq("o_orderkey"), "o_orderstatus")
      t.snapshot()
    }, oracle = Some("""
      SELECT o_orderkey, o_orderpriority, o_orderstatus,
             CAST(o_totalprice AS DOUBLE)
               + CASE WHEN o_orderpriority = '1-URGENT' AND o_orderkey % 100 < 30
                      THEN 1.0 ELSE 0.0 END AS price
      FROM orders WHERE o_orderkey % 100 < 35""")),

    // INCREMENTAL MATERIALIZED-VIEW refresh over a transactional
    // table: the MV is maintained by folding each version's NEW data
    // dirs (the manifest diff) into mergeable partial aggregates —
    // refresh cost is proportional to the appended data, never a
    // re-read of carried dirs. At 100 TB this is the
    // Delta-change-feed → silver-aggregate pattern: count and sum are
    // self-mergeable, so partials from each append combine exactly;
    // the result must equal the from-scratch aggregate.
    Q("txlog_incremental_mv", (spark, dir) => {
      val root = s"$scratchRoot/txlog_mv_${dir.hashCode.abs}"
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
      val t = graft.pipeline.TxLog(spark, root)
      val orders = load(spark, dir, "orders")
        .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"))
      (0 to 2).foreach(r => t.append(orders.filter(col("o_orderkey") % 3 === r)))
      // per-version manifest diff = exactly the appended dirs
      val perVersion = (0L to t.currentVersion())
        .map(v => t.snapshotDataDirs(v).toSet)
      val deltas = perVersion.zip(Set.empty[String] +: perVersion)
        .map { case (cur, prevDirs) => cur -- prevDirs }.filter(_.nonEmpty)
      deltas.map(dirs => spark.read.parquet(dirs.toSeq: _*)
          .groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("pn"),
            sum(col("o_totalprice").cast("decimal(18,2)")).as("ps")))
        .reduce(_.unionByName(_))
        .groupBy(col("o_orderpriority"))
        .agg(sum(col("pn")).as("n_orders"),
          sum(col("ps")).cast("double").as("total_price"))
    }, oracle = Some("""
      SELECT o_orderpriority, count(*) AS n_orders,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
      FROM orders GROUP BY o_orderpriority""")),

    // O4 — CDC APPLY CHANGES: three-clause MERGE folding an I/U/D
    // change feed into the supplier dim (Upsert.applyChanges). Disjoint
    // op classes: every 3rd key updated (name v2, bal+5), every 7th
    // non-3rd key DELETED, fresh +1e6-shifted keys inserted for every
    // 5th — plus a delete for an absent key (no-op path) exercised in
    // UpsertSpec.
    Q("o4_cdc_apply", (spark, dir) => {
      val sup = load(spark, dir, "supplier")
        .select(col("s_suppkey"), col("s_name"),
          col("s_acctbal").cast("decimal(18,2)").as("bal"))
      val updates = sup.filter(col("s_suppkey") % 3 === 0)
        .select(col("s_suppkey"),
          concat(col("s_name"), lit(" v2")).as("s_name"),
          (col("bal") + lit(5)).cast("decimal(18,2)").as("bal"),
          lit("U").as("op"))
      val deletes = sup.filter(col("s_suppkey") % 3 =!= 0 && col("s_suppkey") % 7 === 0)
        .select(col("s_suppkey"), col("s_name"), col("bal"), lit("D").as("op"))
      val inserts = sup.filter(col("s_suppkey") % 5 === 0)
        .select((col("s_suppkey") + 1000000L).as("s_suppkey"),
          col("s_name"), col("bal"), lit("I").as("op"))
      val changes = updates.unionByName(deletes).unionByName(inserts)
      Upsert.applyChanges(sup, changes, Seq("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"),
          col("bal").cast("double").as("s_acctbal"))
    }, oracle = Some("""
      WITH sup AS (
        SELECT s_suppkey, s_name, CAST(s_acctbal AS DECIMAL(18,2)) AS bal
        FROM supplier)
      SELECT s_suppkey,
             CASE WHEN s_suppkey % 3 = 0 THEN s_name || ' v2' ELSE s_name END AS s_name,
             CAST(CASE WHEN s_suppkey % 3 = 0 THEN bal + 5 ELSE bal END AS DOUBLE) AS s_acctbal
      FROM sup WHERE NOT (s_suppkey % 3 <> 0 AND s_suppkey % 7 = 0)
      UNION ALL
      SELECT s_suppkey + 1000000, s_name, CAST(bal AS DOUBLE) AS s_acctbal
      FROM sup WHERE s_suppkey % 5 = 0""")),

    // O4b — partition-pruned CDC apply through the TRANSACTION LOG:
    // the same three-clause fold as o4, but committed via
    // TxLog.applyChangesPartitioned against a nation-partitioned
    // customer table — only the partitions present in the change batch
    // are read and rewritten, deletes drop manifest lines (a fully
    // emptied partition vanishes without a dir-removal dance). The
    // oracle is the unpartitioned fold: partitioning must not change
    // the relation.
    Q("o5_cdc_partitioned", (spark, dir) => {
      val cust = load(spark, dir, "customer")
        .select(col("c_custkey"), col("c_nationkey"), col("c_name"),
          col("c_acctbal").cast("decimal(18,2)").as("bal"))
      val path = s"$scratchRoot/o5_cdc_part/customer"
      org.apache.commons.io.FileUtils.deleteDirectory(
        new java.io.File(path).getParentFile)
      val t = graft.pipeline.TxLog(spark, path)
      t.overwritePartitioned(cust, "c_nationkey")
      val updates = cust.filter(col("c_custkey") % 3 === 0)
        .select(col("c_custkey"), col("c_nationkey"),
          concat(col("c_name"), lit(" v2")).as("c_name"),
          (col("bal") + lit(5)).cast("decimal(18,2)").as("bal"),
          lit("U").as("op"))
      val deletes = cust.filter(col("c_custkey") % 3 =!= 0 && col("c_custkey") % 7 === 0)
        .withColumn("op", lit("D"))
      val inserts = cust.filter(col("c_custkey") % 5 === 0)
        .select((col("c_custkey") + 1000000L).as("c_custkey"), col("c_nationkey"),
          col("c_name"), col("bal"), lit("I").as("op"))
      t.applyChangesPartitioned(updates.unionByName(deletes).unionByName(inserts),
        Seq("c_custkey"), "c_nationkey")
      t.snapshot().select(col("c_custkey"), col("c_nationkey"), col("c_name"),
        col("bal").cast("double").as("c_acctbal"))
    }, oracle = Some("""
      WITH cust AS (
        SELECT c_custkey, c_nationkey, c_name,
               CAST(c_acctbal AS DECIMAL(18,2)) AS bal
        FROM customer)
      SELECT c_custkey, c_nationkey,
             CASE WHEN c_custkey % 3 = 0 THEN c_name || ' v2' ELSE c_name END AS c_name,
             CAST(CASE WHEN c_custkey % 3 = 0 THEN bal + 5 ELSE bal END AS DOUBLE) AS c_acctbal
      FROM cust WHERE NOT (c_custkey % 3 <> 0 AND c_custkey % 7 = 0)
      UNION ALL
      SELECT c_custkey + 1000000, c_nationkey, c_name, CAST(bal AS DOUBLE) AS c_acctbal
      FROM cust WHERE c_custkey % 5 = 0""")),

    // O3 — SCD Type 2: history-preserving dimension merge
    // (Upsert.scd2Merge). One batch against an all-current supplier dim
    // exercises all four paths: changed rows (every 3rd key → old
    // version closed + new open version), identical rows (every 4th
    // non-3rd key → proven no-op), brand-new keys (every 5th key
    // shifted +1e6 → first version), untouched rows.
    Q("o3_scd2_history", (spark, dir) => {
      val sup = load(spark, dir, "supplier")
        .select(col("s_suppkey"), col("s_name"),
          col("s_acctbal").cast("decimal(18,2)").as("bal"))
      val target = sup
        .withColumn("valid_from", lit("2024-01-01"))
        .withColumn("valid_to", lit(null).cast("string"))
        .withColumn("is_current", lit(true))
      val changed = sup.filter(col("s_suppkey") % 3 === 0)
        .select(col("s_suppkey"), concat(col("s_name"), lit(" v2")).as("s_name"),
          (col("bal") + lit(5)).cast("decimal(18,2)").as("bal"))
      val unchanged = sup.filter(col("s_suppkey") % 3 =!= 0 && col("s_suppkey") % 4 === 0)
      val fresh = sup.filter(col("s_suppkey") % 5 === 0)
        .select((col("s_suppkey") + 1000000L).as("s_suppkey"), col("s_name"), col("bal"))
      val src = changed.unionByName(unchanged).unionByName(fresh)
      Upsert.scd2Merge(target, src, Seq("s_suppkey"), effDate = "2024-06-01")
        .select(col("s_suppkey"), col("s_name"),
          col("bal").cast("double").as("s_acctbal"),
          col("valid_from"), col("valid_to"), col("is_current"))
    }, oracle = Some("""
      WITH sup AS (
        SELECT s_suppkey, s_name, CAST(s_acctbal AS DECIMAL(18,2)) AS bal
        FROM supplier),
      changed AS (
        SELECT s_suppkey, s_name || ' v2' AS s_name,
               CAST(bal + 5 AS DECIMAL(18,2)) AS bal
        FROM sup WHERE s_suppkey % 3 = 0)
      SELECT t.s_suppkey, t.s_name, CAST(t.bal AS DOUBLE) AS s_acctbal,
             '2024-01-01' AS valid_from,
             CASE WHEN c.s_suppkey IS NOT NULL THEN '2024-06-01' END AS valid_to,
             c.s_suppkey IS NULL AS is_current
      FROM sup t LEFT JOIN changed c ON t.s_suppkey = c.s_suppkey
      UNION ALL
      SELECT s_suppkey, s_name, CAST(bal AS DOUBLE), '2024-06-01',
             CAST(NULL AS VARCHAR), true
      FROM changed
      UNION ALL
      SELECT s_suppkey + 1000000, s_name, CAST(bal AS DOUBLE), '2024-06-01',
             CAST(NULL AS VARCHAR), true
      FROM sup WHERE s_suppkey % 5 = 0""")),

    // O6 — MERGE with AUTOMATIC SCHEMA EVOLUTION through the
    // transaction log (Delta's withSchemaEvolution): the source batch
    // carries a NEW `grade` column and LACKS the target's
    // `p_retailprice`. Updated rows must take the source name, KEEP
    // their retail price (UPDATE * never nulls a column the source
    // doesn't carry), and gain the grade; untouched rows read grade
    // null; inserted rows null-fill the price. The oracle spells the
    // widened relation out in SQL — evolution must not change a single
    // pre-existing value.
    Q("o6_evolve_merge", (spark, dir) => {
      val t0 = load(spark, dir, "part")
        .select(col("p_partkey"), col("p_name"), col("p_retailprice"))
      val src = load(spark, dir, "part").filter(col("p_partkey") % 4 === 0)
        .select(col("p_partkey"),
          concat(col("p_name"), lit(" v2")).as("p_name"), lit("A").as("grade"))
        .unionByName(load(spark, dir, "part").filter(col("p_partkey") % 6 === 0)
          .select((col("p_partkey") + 500000L).as("p_partkey"),
            col("p_name"), lit("B").as("grade")))
      val path = s"$scratchRoot/o6_evolve/part"
      org.apache.commons.io.FileUtils.deleteDirectory(
        new java.io.File(path).getParentFile)
      val t = graft.pipeline.TxLog(spark, path)
      t.overwrite(t0)
      t.merge(src, Seq("p_partkey"), evolve = true)
      t.snapshot()
    }, oracle = Some("""
      WITH t AS (
        SELECT p_partkey, p_name, p_retailprice FROM part),
      s AS (
        SELECT p_partkey, p_name || ' v2' AS p_name, 'A' AS grade
        FROM part WHERE p_partkey % 4 = 0
        UNION ALL
        SELECT p_partkey + 500000, p_name, 'B' AS grade
        FROM part WHERE p_partkey % 6 = 0)
      SELECT t.p_partkey,
             CASE WHEN s.p_partkey IS NOT NULL THEN s.p_name ELSE t.p_name END AS p_name,
             t.p_retailprice, s.grade
      FROM t LEFT JOIN s ON t.p_partkey = s.p_partkey
      UNION ALL
      SELECT s.p_partkey, s.p_name, CAST(NULL AS DOUBLE) AS p_retailprice, s.grade
      FROM s WHERE s.p_partkey NOT IN (SELECT p_partkey FROM t)""")),

    // POINT-IN-TIME join against SCD2 history — the lookup every
    // versioned-dimension warehouse runs: each event joins the dim
    // VERSION whose validity interval contains the event's own time,
    // not the current one. Dim: customers SCD2-versioned at 2024-06-01
    // (every 3rd key renamed " v2" via [[Upsert.scd2Merge]]); probes:
    // orders carrying a synthetic event_date on either side of the
    // cut. The join is an EQUI-join on the key with the interval test
    // as a residual predicate — SMJ/broadcast on c_custkey, never an
    // interval cross-product, so it scales like any keyed join (each
    // key's version chain is short; the residual prunes per key).
    // ISO-8601 date strings compare lexicographically = chronologically.
    Q("scd2_point_in_time", (spark, dir) => {
      val cust = load(spark, dir, "customer")
        .select(col("c_custkey"), col("c_name"))
      val target = cust
        .withColumn("valid_from", lit("2024-01-01"))
        .withColumn("valid_to", lit(null).cast("string"))
        .withColumn("is_current", lit(true))
      val changed = cust.filter(col("c_custkey") % 3 === 0)
        .select(col("c_custkey"), concat(col("c_name"), lit(" v2")).as("c_name"))
      val dim = Upsert.scd2Merge(target, changed, Seq("c_custkey"),
        effDate = "2024-06-01")
      val ev = load(spark, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"),
          when(col("o_orderkey") % 2 === 0, lit("2024-03-15"))
            .otherwise(lit("2024-09-15")).as("event_date"))
      ev.join(dim,
          ev("o_custkey") === dim("c_custkey") &&
            dim("valid_from") <= ev("event_date") &&
            (dim("valid_to").isNull || ev("event_date") < dim("valid_to")))
        .select(col("o_orderkey"), col("event_date"),
          col("c_custkey"), col("c_name"))
    }, oracle = Some("""
      WITH dim AS (
        SELECT c_custkey, c_name, '2024-01-01' AS valid_from,
               CASE WHEN c_custkey % 3 = 0 THEN '2024-06-01' END AS valid_to
        FROM customer
        UNION ALL
        SELECT c_custkey, c_name || ' v2', '2024-06-01', NULL
        FROM customer WHERE c_custkey % 3 = 0),
      ev AS (
        SELECT o_orderkey, o_custkey,
               CASE WHEN o_orderkey % 2 = 0 THEN '2024-03-15'
                    ELSE '2024-09-15' END AS event_date
        FROM orders)
      SELECT e.o_orderkey, e.event_date, d.c_custkey, d.c_name
      FROM ev e JOIN dim d ON e.o_custkey = d.c_custkey
       AND d.valid_from <= e.event_date
       AND (d.valid_to IS NULL OR e.event_date < d.valid_to)""")),

    // RESTORE + VACUUM under the hash gate: a bad overwrite (v2 wipes
    // the table down to a garbage subset) is rolled back METADATA-ONLY
    // by [[graft.pipeline.TxLog.restoreTo]] — v3 re-references v1's
    // data dirs, zero bytes copied, history intact — and a subsequent
    // vacuum(keepVersions=2) must treat the restored head's dirs as
    // live (restore re-referencing protects them) while reclaiming
    // nothing the kept manifests still need. The final snapshot reads
    // THROUGH the post-vacuum table, so the hash proves both the
    // rollback content and vacuum's liveness accounting. At 100 TB
    // this is the ops-mistake recovery path: an errant overwrite costs
    // one manifest write to undo, not a restore-from-backup.
    Q("txlog_restore_vacuum", (spark, dir) => {
      val root = s"$scratchRoot/txlog_rst_${dir.hashCode.abs}"
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
      val t = graft.pipeline.TxLog(spark, root)
      val cust = load(spark, dir, "customer")
        .select(col("c_custkey"), col("c_name"),
          col("c_acctbal").cast("double").as("c_acctbal"))
      t.overwrite(cust.filter(col("c_custkey") % 3 === 0))   // v0
      t.append(cust.filter(col("c_custkey") % 3 === 1))      // v1 — the good head
      t.overwrite(cust.filter(col("c_custkey") % 100 === 7)) // v2 — the mistake
      val v3 = t.restoreTo(1L)
      require(v3 == 3L, s"restore must commit as v3, got v$v3")
      t.vacuum(keepVersions = 2) // keeps v2+v3; v3 re-references v0/v1 dirs
      t.snapshot()
    }, oracle = Some("""
      SELECT c_custkey, c_name, CAST(c_acctbal AS DOUBLE) AS c_acctbal
      FROM customer WHERE c_custkey % 3 IN (0, 1)""")),

    // CHANGE DATA FEED under the hash gate: orders seeded at v0, a
    // merge batch (updates every %6=1 key, inserts every %6=0 key) at
    // v1, a merge-on-read delete at v2 — then `changes(0, 2, key)`
    // reconstructs the classified row-level delta from the SNAPSHOTS
    // alone (storage-free, dir-granular diff: untouched dirs are never
    // opened). The window is INCLUSIVE of the starting version —
    // Delta's table_changes semantics — so from=0 serves the v0 seed
    // as inserts at commit 0. The oracle re-derives the same feed
    // relationally from the raw table, so the hash proves
    // classification (insert / update_pre+postimage / delete),
    // per-commit attribution including the seed, and the exclusion of
    // rows the rewrite copied verbatim.
    Q("txlog_cdf", (spark, dir) => {
      val t = graft.pipeline.TxLog(spark, cdfScenarioRoot(spark, dir))
      t.changes(0, 2, Seq("o_orderkey"))
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          col("o_totalprice").cast("double").as("o_totalprice"),
          col("_change_type"), col("_commit_version"))
    }, oracle = Some("""
      WITH base AS (
        SELECT o_orderkey, o_custkey, o_orderstatus,
               CAST(o_totalprice AS DECIMAL(18,2)) AS o_totalprice
        FROM orders),
      t0 AS (SELECT * FROM base WHERE o_orderkey % 3 <> 0),
      upd AS (
        SELECT o_orderkey, o_custkey, 'U' AS o_orderstatus,
               CAST(o_totalprice + 5 AS DECIMAL(18,2)) AS o_totalprice
        FROM base WHERE o_orderkey % 6 = 1),
      ins AS (SELECT * FROM base WHERE o_orderkey % 6 = 0),
      hits AS (
        SELECT t.o_orderkey AS k,
               t.o_custkey AS pre_ck, t.o_orderstatus AS pre_st, t.o_totalprice AS pre_tp,
               u.o_custkey AS post_ck, u.o_orderstatus AS post_st, u.o_totalprice AS post_tp
        FROM t0 t JOIN upd u ON t.o_orderkey = u.o_orderkey
        WHERE t.o_orderstatus <> u.o_orderstatus OR t.o_totalprice <> u.o_totalprice),
      state1 AS (
        SELECT t.o_orderkey,
               COALESCE(u.o_custkey, t.o_custkey) AS o_custkey,
               CASE WHEN u.o_orderkey IS NOT NULL THEN u.o_orderstatus
                    ELSE t.o_orderstatus END AS o_orderstatus,
               CASE WHEN u.o_orderkey IS NOT NULL THEN u.o_totalprice
                    ELSE t.o_totalprice END AS o_totalprice
        FROM t0 t LEFT JOIN upd u ON t.o_orderkey = u.o_orderkey
        UNION ALL SELECT * FROM ins),
      feed AS (
        SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
               'insert' AS _change_type, 0 AS _commit_version
        FROM t0
        UNION ALL
        SELECT k, pre_ck, pre_st, pre_tp, 'update_preimage', 1 FROM hits
        UNION ALL
        SELECT k, post_ck, post_st, post_tp, 'update_postimage', 1 FROM hits
        UNION ALL
        SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, 'insert', 1
        FROM ins
        UNION ALL
        SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, 'delete', 2
        FROM state1 WHERE o_totalprice < 50000)
      SELECT o_orderkey, o_custkey, o_orderstatus,
             CAST(o_totalprice AS DOUBLE) AS o_totalprice, _change_type,
             CAST(_commit_version AS BIGINT) AS _commit_version
      FROM feed""")),

    // Delta's CDF SQL face: `table_changes('t', from, to)` as a
    // TABLE-VALUED FUNCTION over the same shared commit history —
    // change keys come from the table REGISTRATION (metadata), so the
    // TVF signature is exactly Delta's three-argument form. The query
    // aggregates the feed per (change type, commit version) with exact
    // decimal sums; the oracle re-derives the same rollup relationally.
    Q("txlog_sql_table_changes", (spark, dir) => {
      val t = graft.pipeline.TxLog(spark, cdfScenarioRoot(spark, dir))
      graft.sql.TxLogSql.register("txlog_cdf_tbl", t, Seq("o_orderkey"))
      spark.sql("""
        SELECT _change_type, CAST(_commit_version AS BIGINT) AS _commit_version,
               count(*) AS n, CAST(sum(o_totalprice) AS DOUBLE) AS tp
        FROM table_changes('txlog_cdf_tbl', 0, 2)
        GROUP BY _change_type, _commit_version""")
    }, oracle = Some("""
      WITH base AS (
        SELECT o_orderkey, o_custkey, o_orderstatus,
               CAST(o_totalprice AS DECIMAL(18,2)) AS o_totalprice
        FROM orders),
      t0 AS (SELECT * FROM base WHERE o_orderkey % 3 <> 0),
      upd AS (
        SELECT o_orderkey, o_custkey, 'U' AS o_orderstatus,
               CAST(o_totalprice + 5 AS DECIMAL(18,2)) AS o_totalprice
        FROM base WHERE o_orderkey % 6 = 1),
      ins AS (SELECT * FROM base WHERE o_orderkey % 6 = 0),
      hits AS (
        SELECT t.o_orderkey AS k, t.o_totalprice AS pre_tp, u.o_totalprice AS post_tp
        FROM t0 t JOIN upd u ON t.o_orderkey = u.o_orderkey
        WHERE t.o_orderstatus <> u.o_orderstatus OR t.o_totalprice <> u.o_totalprice),
      state1 AS (
        SELECT t.o_orderkey,
               CASE WHEN u.o_orderkey IS NOT NULL THEN u.o_totalprice
                    ELSE t.o_totalprice END AS o_totalprice
        FROM t0 t LEFT JOIN upd u ON t.o_orderkey = u.o_orderkey
        UNION ALL SELECT o_orderkey, o_totalprice FROM ins),
      feed AS (
        SELECT 'insert' AS _change_type, 0 AS _commit_version,
               o_totalprice FROM t0
        UNION ALL SELECT 'update_preimage', 1, pre_tp FROM hits
        UNION ALL SELECT 'update_postimage', 1, post_tp FROM hits
        UNION ALL SELECT 'insert', 1, o_totalprice FROM ins
        UNION ALL SELECT 'delete', 2, o_totalprice
        FROM state1 WHERE o_totalprice < 50000)
      SELECT _change_type, CAST(_commit_version AS BIGINT) AS _commit_version,
             count(*) AS n, CAST(sum(o_totalprice) AS DOUBLE) AS tp
      FROM feed GROUP BY 1, 2""")),

    // DESCRIBE HISTORY through SQL: the txlog_history TVF over the
    // shared CDF history, projected to its deterministic columns
    // (commit instants are wall-clock; version + operation are the
    // durable audit trail). The oracle is the known commit sequence —
    // trivial relationally, but it walks the whole TVF surface
    // (extension registration, literal-arg plan building, manifest op
    // records) through the driver's hash gate.
    Q("txlog_sql_history", (spark, dir) => {
      val t = graft.pipeline.TxLog(spark, cdfScenarioRoot(spark, dir))
      graft.sql.TxLogSql.register("txlog_cdf_hist", t)
      spark.sql("""
        SELECT version, operation FROM txlog_history('txlog_cdf_hist')
        ORDER BY version""")
    }, oracle = Some("""
      SELECT * FROM (VALUES (CAST(0 AS BIGINT), 'OVERWRITE'),
                            (CAST(1 AS BIGINT), 'MERGE'),
                            (CAST(2 AS BIGINT), 'DELETE')) AS t(version, operation)
      ORDER BY version""")),

    // Incremental materialized-view maintenance: the gold aggregate is
    // NOT recomputed after each commit — the change feed folds into it
    // with signed deltas (insert/postimage +1, delete/preimage −1), so
    // refresh cost tracks the commits' bytes, not the table (the 100 TB
    // shape of the reference's recompute-gold-every-run loop). Runs
    // over the shared CDF scenario grouped by o_orderstatus: the merge
    // MOVES every updated row into the 'U' group, exercising the
    // decrement-old/increment-new path, and the delete drains groups.
    // The oracle aggregates the derived FINAL state, so the hash
    // proves incremental == recompute (exact decimal arithmetic); the
    // frame-level exceptAll equivalence is additionally pinned in
    // TxLogCdfSpec, keeping the timed query to the fold itself.
    Q("txlog_cdf_mv", (spark, dir) => {
      val t = graft.pipeline.TxLog(spark, cdfScenarioRoot(spark, dir))
      val g = Seq("o_orderstatus"); val s = Seq("o_totalprice")
      val mv0 = graft.pipeline.IncrementalMV.recompute(t.snapshot(0), g, s)
      // the MV is seeded from v0's snapshot, so the delta to fold is
      // commits 1..2 (changes() is from-INCLUSIVE; from=0 would
      // double-count the seed as inserts)
      val inc = graft.pipeline.IncrementalMV.applyDelta(
        mv0, t.changes(1, 2, Seq("o_orderkey")), g, s)
      inc.select(col("o_orderstatus"),
        col("o_totalprice").cast("double").as("o_totalprice"), col("cnt"))
    }, oracle = Some("""
      WITH base AS (
        SELECT o_orderkey, o_orderstatus,
               CAST(o_totalprice AS DECIMAL(18,2)) AS o_totalprice
        FROM orders),
      t0 AS (SELECT * FROM base WHERE o_orderkey % 3 <> 0),
      upd AS (
        SELECT o_orderkey, 'U' AS o_orderstatus,
               CAST(o_totalprice + 5 AS DECIMAL(18,2)) AS o_totalprice
        FROM base WHERE o_orderkey % 6 = 1),
      ins AS (SELECT * FROM base WHERE o_orderkey % 6 = 0),
      state1 AS (
        SELECT t.o_orderkey,
               CASE WHEN u.o_orderkey IS NOT NULL THEN u.o_orderstatus
                    ELSE t.o_orderstatus END AS o_orderstatus,
               CASE WHEN u.o_orderkey IS NOT NULL THEN u.o_totalprice
                    ELSE t.o_totalprice END AS o_totalprice
        FROM t0 t LEFT JOIN upd u ON t.o_orderkey = u.o_orderkey
        UNION ALL SELECT * FROM ins),
      state2 AS (SELECT * FROM state1 WHERE NOT (o_totalprice < 50000))
      SELECT o_orderstatus,
             CAST(SUM(o_totalprice) AS DOUBLE) AS o_totalprice,
             COUNT(*) AS cnt
      FROM state2 GROUP BY 1""")),

    // STREAMING SOURCE over the transaction log: `readStream.format
    // ("graft-txlog")` tails version offsets (graft.streaming
    // .TxLogStreamProvider — the Delta-source pattern on the v1
    // Source API). Two Trigger.AvailableNow runs share one
    // checkpoint: run 1's batch 0 is the start-offset snapshot
    // (orders %3≠0 + the first append), run 2 resumes from the
    // checkpointed version and emits ONLY the two commits made in
    // between; the foreachBatch sink appends into a second TxLog
    // carrying (app, batchId) txn marks, so redelivery cannot
    // double-append. The oracle is the whole orders relation — the
    // hash proves tail completeness AND exactly-once (a dup or a
    // dropped microbatch both break it).
    Q("txlog_stream_source", (spark, dir) => {
      val tag = dir.hashCode.abs
      val root = s"$scratchRoot/txlog_stream_src_$tag"
      val sinkRoot = s"$scratchRoot/txlog_stream_sink_$tag"
      val ckpt = s"$scratchRoot/txlog_stream_ckpt_$tag"
      Seq(root, sinkRoot, ckpt).foreach(d =>
        org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(d)))
      val base = load(spark, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          col("o_totalprice").cast("decimal(18,2)").as("o_totalprice"))
      val t = graft.pipeline.TxLog(spark, root)
      t.overwrite(base.filter(col("o_orderkey") % 3 === 1))          // v0
      t.append(base.filter(col("o_orderkey") % 3 === 2))             // v1
      val sink = graft.pipeline.TxLog(spark, sinkRoot)
      def drain(): Unit = {
        val q = spark.readStream.format("graft-txlog").option("path", root)
          .load()
          .writeStream.option("checkpointLocation", ckpt)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
            sink.append(batch, txn = Some(("txlog_stream_source", id)))
            ()
          }.start()
        try q.awaitTermination() finally q.stop()
      }
      drain()                                  // snapshot batch through v1
      t.append(base.filter(col("o_orderkey") % 6 === 0))             // v2
      t.append(base.filter(col("o_orderkey") % 6 === 3))             // v3
      drain()                                  // tail: exactly v2 + v3
      sink.snapshot()
        .withColumn("o_totalprice", col("o_totalprice").cast("double"))
    }, oracle = Some("""
      SELECT o_orderkey, o_custkey, o_orderstatus,
             CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS o_totalprice
      FROM orders""")),

    // NATIVE STREAMING SINK: the same tail-and-land loop as
    // `txlog_stream_source`, but the landing side is
    // `writeStream.format("graft-txlog").start()` — no foreachBatch,
    // no hand-written txn plumbing. Each microbatch commits with a
    // #txn (checkpointLocation, batchId) mark inside the sink, so the
    // checkpoint-resumed second drain appends exactly the two new
    // commits and a crash-redelivered batch would be a version-level
    // no-op (the restart/redelivery contracts are pinned in
    // TxLogStreamSpec). Source and sink are both the transaction log:
    // the symmetric streaming story, Delta's readStream→writeStream
    // loop. The oracle is the whole orders relation — a dup or a
    // dropped microbatch both break the hash.
    Q("txlog_stream_sink", (spark, dir) => {
      val tag = dir.hashCode.abs
      val root = s"$scratchRoot/txlog_nsink_src_$tag"
      val sinkRoot = s"$scratchRoot/txlog_nsink_dst_$tag"
      val ckpt = s"$scratchRoot/txlog_nsink_ckpt_$tag"
      Seq(root, sinkRoot, ckpt).foreach(d =>
        org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(d)))
      val base = load(spark, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          col("o_totalprice").cast("decimal(18,2)").as("o_totalprice"))
      val t = graft.pipeline.TxLog(spark, root)
      t.overwrite(base.filter(col("o_orderkey") % 3 === 1))          // v0
      t.append(base.filter(col("o_orderkey") % 3 === 2))             // v1
      def drain(): Unit = {
        val q = spark.readStream.format("graft-txlog").option("path", root)
          .load()
          .writeStream.format("graft-txlog").option("path", sinkRoot)
          .option("checkpointLocation", ckpt)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        try q.awaitTermination() finally q.stop()
      }
      drain()                                  // snapshot batch through v1
      t.append(base.filter(col("o_orderkey") % 6 === 0))             // v2
      t.append(base.filter(col("o_orderkey") % 6 === 3))             // v3
      drain()                                  // resume: exactly v2 + v3
      graft.pipeline.TxLog(spark, sinkRoot).snapshot()
        .withColumn("o_totalprice", col("o_totalprice").cast("double"))
    }, oracle = Some("""
      SELECT o_orderkey, o_custkey, o_orderstatus,
             CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS o_totalprice
      FROM orders""")),

    // STREAMING CHANGE FEED: the same overwrite → merge → delete
    // commit history as `txlog_cdf`, but consumed through
    // `readChangeFeed=true` on the graft-txlog source — each
    // microbatch is the classified row-level diff of the commits it
    // covers, proving the streamed feed is byte-equal to the batch
    // `changes()` reconstruction (same oracle, same hash).
    Q("txlog_stream_cdf", (spark, dir) => {
      val tag = dir.hashCode.abs
      val ckpt = s"$scratchRoot/txlog_scdf_ckpt_$tag"
      val out = s"$scratchRoot/txlog_scdf_out_$tag"
      Seq(ckpt, out).foreach(d =>
        org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(d)))
      val root = cdfScenarioRoot(spark, dir)
      val q = spark.readStream.format("graft-txlog").option("path", root)
        .option("readChangeFeed", "true").option("keys", "o_orderkey")
        .load()
        .writeStream.option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          batch.write.mode("append").parquet(out)
          ()
        }.start()
      try q.awaitTermination() finally q.stop()
      spark.read.parquet(out)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          col("o_totalprice").cast("double").as("o_totalprice"),
          col("_change_type"), col("_commit_version"))
    }, oracle = Some("""
      WITH base AS (
        SELECT o_orderkey, o_custkey, o_orderstatus,
               CAST(o_totalprice AS DECIMAL(18,2)) AS o_totalprice
        FROM orders),
      t0 AS (SELECT * FROM base WHERE o_orderkey % 3 <> 0),
      upd AS (
        SELECT o_orderkey, o_custkey, 'U' AS o_orderstatus,
               CAST(o_totalprice + 5 AS DECIMAL(18,2)) AS o_totalprice
        FROM base WHERE o_orderkey % 6 = 1),
      ins AS (SELECT * FROM base WHERE o_orderkey % 6 = 0),
      hits AS (
        SELECT t.o_orderkey AS k,
               t.o_custkey AS pre_ck, t.o_orderstatus AS pre_st, t.o_totalprice AS pre_tp,
               u.o_custkey AS post_ck, u.o_orderstatus AS post_st, u.o_totalprice AS post_tp
        FROM t0 t JOIN upd u ON t.o_orderkey = u.o_orderkey
        WHERE t.o_orderstatus <> u.o_orderstatus OR t.o_totalprice <> u.o_totalprice),
      state1 AS (
        SELECT t.o_orderkey,
               COALESCE(u.o_custkey, t.o_custkey) AS o_custkey,
               CASE WHEN u.o_orderkey IS NOT NULL THEN u.o_orderstatus
                    ELSE t.o_orderstatus END AS o_orderstatus,
               CASE WHEN u.o_orderkey IS NOT NULL THEN u.o_totalprice
                    ELSE t.o_totalprice END AS o_totalprice
        FROM t0 t LEFT JOIN upd u ON t.o_orderkey = u.o_orderkey
        UNION ALL SELECT * FROM ins),
      feed AS (
        SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
               'insert' AS _change_type, 1 AS _commit_version FROM ins
        UNION ALL
        SELECT k, pre_ck, pre_st, pre_tp, 'update_preimage', 1 FROM hits
        UNION ALL
        SELECT k, post_ck, post_st, post_tp, 'update_postimage', 1 FROM hits
        UNION ALL
        SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, 'delete', 2
        FROM state1 WHERE o_totalprice < 50000)
      SELECT o_orderkey, o_custkey, o_orderstatus,
             CAST(o_totalprice AS DOUBLE) AS o_totalprice, _change_type,
             CAST(_commit_version AS BIGINT) AS _commit_version
      FROM feed""")),

    // CONTINUOUSLY-MAINTAINED VIEW: the full production loop in one
    // query — the CDF STREAM (maxVersionsPerTrigger=1, so each
    // microbatch is exactly one commit's classified diff) folds
    // per-commit signed deltas into the gold aggregate via
    // IncrementalMV.applyDelta. This is the reference's
    // recompute-gold-every-run notebook loop re-expressed for 100 TB:
    // per-trigger cost tracks ONE commit's bytes; the view is never
    // recomputed. localCheckpoint bounds fold lineage (a week-long
    // stream must not accrete a thousand-plan DAG). Oracle = the
    // final-state aggregate, so the hash proves every intermediate
    // fold composed exactly.
    Q("txlog_stream_mv", (spark, dir) => {
      val ckpt = s"$scratchRoot/txlog_smv_ckpt_${dir.hashCode.abs}"
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(ckpt))
      val t = graft.pipeline.TxLog(spark, cdfScenarioRoot(spark, dir))
      val g = Seq("o_orderstatus"); val s = Seq("o_totalprice")
      val mv = new java.util.concurrent.atomic.AtomicReference(
        graft.pipeline.IncrementalMV.recompute(t.snapshot(0), g, s)
          .localCheckpoint())
      val q = spark.readStream.format("graft-txlog").option("path", t.root)
        .option("readChangeFeed", "true").option("keys", "o_orderkey")
        .option("maxVersionsPerTrigger", "1")
        .load()
        .writeStream.option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          mv.set(graft.pipeline.IncrementalMV.applyDelta(mv.get, batch, g, s)
            .localCheckpoint())
          ()
        }.start()
      try q.awaitTermination() finally q.stop()
      mv.get.select(col("o_orderstatus"),
        col("o_totalprice").cast("double").as("o_totalprice"), col("cnt"))
    }, oracle = Some("""
      WITH base AS (
        SELECT o_orderkey, o_orderstatus,
               CAST(o_totalprice AS DECIMAL(18,2)) AS o_totalprice
        FROM orders),
      t0 AS (SELECT * FROM base WHERE o_orderkey % 3 <> 0),
      upd AS (
        SELECT o_orderkey, 'U' AS o_orderstatus,
               CAST(o_totalprice + 5 AS DECIMAL(18,2)) AS o_totalprice
        FROM base WHERE o_orderkey % 6 = 1),
      ins AS (SELECT * FROM base WHERE o_orderkey % 6 = 0),
      state1 AS (
        SELECT t.o_orderkey,
               CASE WHEN u.o_orderkey IS NOT NULL THEN u.o_orderstatus
                    ELSE t.o_orderstatus END AS o_orderstatus,
               CASE WHEN u.o_orderkey IS NOT NULL THEN u.o_totalprice
                    ELSE t.o_totalprice END AS o_totalprice
        FROM t0 t LEFT JOIN upd u ON t.o_orderkey = u.o_orderkey
        UNION ALL SELECT * FROM ins),
      state2 AS (SELECT * FROM state1 WHERE NOT (o_totalprice < 50000))
      SELECT o_orderstatus,
             CAST(SUM(o_totalprice) AS DOUBLE) AS o_totalprice,
             COUNT(*) AS cnt
      FROM state2 GROUP BY 1""")),

    // SQL DDL face under the hash gate: a table's WHOLE LIFE driven by
    // SQL strings alone — CREATE TABLE … USING graft (the parser
    // extension, graft.sql.GraftSqlParser), INSERT, DELETE, OPTIMIZE
    // (bin-packing + DV materialization), VACUUM RETAIN, DESCRIBE
    // HISTORY — zero library calls. The result folds the surviving
    // table's aggregate with the post-vacuum history (collected
    // driver-side: statement output is metadata, versions/ops are
    // deterministic), so the hash proves the DDL statements really
    // created/compacted/retired the versions they claim. Reference:
    // `db_notebook.ipynb:39,78,101` — the reference manages its tables
    // through SQL DDL; this is the TxLog parity the r7/r8 verdicts
    // tracked as missing.
    // AUTOMATIC data skipping under the oracle gate: a plain SQL WHERE
    // on a registered TxLog table must prune its scan to the dirs the
    // manifest stats cannot exclude — no snapshotPoint/snapshotRange
    // API call anywhere in the query. The table is built as four
    // disjoint-range appends; the requires pin the structural claim
    // (the optimized plan's parquet scan opens ONE of the four dirs,
    // and an impossible predicate compiles to an empty relation with
    // zero scans); the oracle pins the content. This is the SQL face
    // of the 100 TB skipping story: ad-hoc queries touch the dirs the
    // WHERE names, not the table.
    Q("txlog_sql_auto_skipping", (spark, dir) => {
      val root = s"$scratchRoot/txlog_autoskip_${dir.hashCode.abs}"
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
      val t = graft.pipeline.TxLog(spark, root, statsCols = Seq("o_orderkey"))
      val o = load(spark, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"),
          col("o_totalprice").cast("double").as("o_totalprice"))
      val maxKey = o.agg(max(col("o_orderkey"))).head().getLong(0)
      val q = maxKey / 4 + 1
      (0 until 4).foreach(b => t.append(
        o.filter(col("o_orderkey") >= b * q && col("o_orderkey") < (b + 1) * q)))
      graft.sql.TxLogSql.register("txlog_autoskip", t)
      def scans(df: org.apache.spark.sql.DataFrame): Int =
        df.queryExecution.optimizedPlan.collect {
          case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
            l.relation match {
              case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
                h.location.rootPaths.size
              case _ => 0
            }
        }.sum
      val out = spark.sql(
        s"SELECT o_orderkey, o_orderstatus, o_totalprice FROM txlog_autoskip " +
          s"WHERE o_orderkey >= ${q / 2} AND o_orderkey <= ${q - 2}")
      require(scans(out) == 1,
        s"auto-skipping must open exactly 1 of 4 dirs, opened ${scans(out)}")
      require(scans(spark.sql(
          s"SELECT * FROM txlog_autoskip WHERE o_orderkey = ${maxKey * 10}")) == 0,
        "an impossible predicate must compile to an empty relation")
      graft.sql.TxLogSql.unregister("txlog_autoskip")
      out
    }, oracle = Some("""
      WITH b AS (SELECT max(o_orderkey) // 4 + 1 AS q FROM orders)
      SELECT o_orderkey, o_orderstatus, CAST(o_totalprice AS DOUBLE) AS o_totalprice
      FROM orders, b
      WHERE o_orderkey >= q // 2 AND o_orderkey <= q - 2""")),

    // SHOW PARTITIONS under the oracle gate: the statement answers
    // from MANIFEST TAGS (no data scan for tagged entries), and the
    // oracle recomputes the same value set relationally — proving the
    // metadata answer equals the data's truth. DESCRIBE DETAIL and
    // VACUUM DRY RUN (physical-layout outputs, not SQL-expressible)
    // are spec-gated in TxLogSqlDdlSpec instead.
    Q("txlog_sql_show_partitions", (spark, dir) => {
      val root = s"$scratchRoot/txlog_showp_${dir.hashCode.abs}"
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
      val t = graft.pipeline.TxLog(spark, root)
      t.overwritePartitioned(load(spark, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment")), "c_mktsegment")
      graft.sql.TxLogSql.register("txlog_showp", t)
      val out = spark.sql("SHOW PARTITIONS txlog_showp")
      graft.sql.TxLogSql.unregister("txlog_showp")
      out
    }, oracle = Some("""
      SELECT DISTINCT 'c_mktsegment=' || c_mktsegment AS "partition"
      FROM customer""")),

    // TBLPROPERTIES lifecycle under the oracle gate: CREATE persists
    // the user properties (registration keys like 'keys' stay out of
    // the persisted set), SET upserts, UNSET removes, and the
    // properties RIDE EVERY COMMIT SHAPE in between (INSERT, OPTIMIZE)
    // because they are manifest footer metadata, not session state.
    // The folded row count proves the data commits really happened
    // around the metadata commits. Delta's TBLPROPERTIES contract;
    // behavior-bearing keys: graft.inCommitTimestamps,
    // graft.vacuum.retainVersions (both spec-gated in TxLogSqlDdlSpec).
    Q("txlog_sql_tblproperties", (spark, dir) => {
      val tag = dir.hashCode.abs
      val root = s"$scratchRoot/txlog_props_$tag"
      val name = s"txlog_props_$tag"
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
      graft.sql.TxLogSql.unregister(name)
      spark.sql(s"""
        CREATE TABLE $name (id BIGINT, seg STRING) USING graft
        TBLPROPERTIES ('keys' = 'id', 'owner' = 'data-eng',
                       'quality' = 'bronze')
        LOCATION '$root'""")
      load(spark, dir, "customer")
        .select(col("c_custkey").as("id"), col("c_mktsegment").as("seg"))
        .createOrReplaceTempView(s"${name}_src")
      spark.sql(s"INSERT INTO $name SELECT * FROM ${name}_src")
      spark.sql(s"""ALTER TABLE $name SET TBLPROPERTIES
        ('quality' = 'silver', 'graft.vacuum.retainVersions' = '4')""")
      spark.sql(s"OPTIMIZE $name") // a data commit BETWEEN property commits
      spark.sql(
        s"ALTER TABLE $name UNSET TBLPROPERTIES IF EXISTS ('owner', 'absent')")
      val props = spark.sql(s"SHOW TBLPROPERTIES $name")
      val out = props.unionByName(spark.sql(
        s"SELECT 'rows' AS key, CAST(count(*) AS STRING) AS value FROM $name"))
      out.collect() // materialize before unregistering
      graft.sql.TxLogSql.unregister(name)
      out
    }, oracle = Some("""
      SELECT 'graft.vacuum.retainVersions' AS key, '4' AS value
      UNION ALL SELECT 'quality', 'silver'
      UNION ALL SELECT 'rows', CAST(count(*) AS VARCHAR) FROM customer""")),

    // IN-COMMIT TIMESTAMPS under the oracle gate (Delta's
    // delta.enableInCommitTimestamps): the table property makes every
    // commit record its own instant in the manifest — strictly
    // monotone past its parent — and TIMESTAMP AS OF resolves on that
    // RECORDED clock. The query skews every manifest file's mtime ten
    // days into the future before time-traveling: on the mtime clock
    // nothing would be eligible, so the rows coming back hash-equal to
    // the pre-delete state PROVES the recorded clock answered. This is
    // the 100 TB operational story: tables survive storage migrations
    // and object-store copies (which reset mtimes) with time travel
    // and CDF windows intact.
    Q("txlog_ict_time_travel", (spark, dir) => {
      val tag = dir.hashCode.abs
      val root = s"$scratchRoot/txlog_ict_$tag"
      val name = s"txlog_ict_$tag"
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
      graft.sql.TxLogSql.unregister(name)
      spark.sql(s"""
        CREATE TABLE $name (id BIGINT, status STRING, price DECIMAL(18,2))
        USING graft
        TBLPROPERTIES ('keys' = 'id', 'graft.inCommitTimestamps' = 'true')
        LOCATION '$root'""")
      load(spark, dir, "orders")
        .select(col("o_orderkey").as("id"), col("o_orderstatus").as("status"),
          col("o_totalprice").cast("decimal(18,2)").as("price"))
        .createOrReplaceTempView(s"${name}_src")
      spark.sql(
        s"INSERT INTO $name SELECT * FROM ${name}_src WHERE id % 3 <> 0")
      val t = graft.pipeline.TxLog(spark, root)
      val vIns = t.currentVersion() // the post-insert, pre-delete version
      spark.sql(s"DELETE FROM $name WHERE id % 5 = 0")
      val instant = t.commitInstant(vIns) // the RECORDED in-commit instant
      // simulate a storage migration: every manifest mtime goes far
      // into the future — only the recorded clock can resolve now
      new java.io.File(s"$root/_txlog").listFiles()
        .filter(_.getName.endsWith(".json"))
        .foreach(_.setLastModified(System.currentTimeMillis() + 864000000L))
      spark.sql(s"""
        SELECT id, status, CAST(price AS DOUBLE) AS price
        FROM $name TIMESTAMP AS OF timestamp_millis(${instant}L)""")
    }, oracle = Some("""
      SELECT o_orderkey AS id, o_orderstatus AS status,
             CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS price
      FROM orders WHERE o_orderkey % 3 <> 0""")),

    // ANALYZE-fed COST-BASED PLANNING under the oracle gate: ANALYZE
    // persists table + column statistics as manifest properties (ONE
    // metadata commit, column-preserving — TxLogSqlDdl.scala), and the
    // snapshot read DECODES them into catalog statistics
    // (TxLogCatalogStats), so CBO estimates the id<=20 side at ~20
    // rows from ndv/min/max and BROADCASTS it — no scan at plan time.
    // The query asserts the flip STRUCTURALLY (a BroadcastHashJoin
    // must be in the executed plan under a 4 KB threshold the raw
    // file bytes exceed at every sf) and hashes the join's aggregate.
    // This is Delta+catalog-stats parity: the 100 TB star join whose
    // dimension broadcasts because the optimizer KNOWS it is small.
    Q("txlog_sql_analyze_cbo", (spark, dir) => {
      val tag = dir.hashCode.abs
      val root = s"$scratchRoot/txlog_cbo_$tag"
      val name = s"txlog_cbo_$tag"
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
      graft.sql.TxLogSql.unregister(name)
      spark.sql(s"""
        CREATE TABLE $name (id BIGINT, seg STRING, bal DECIMAL(18,2))
        USING graft TBLPROPERTIES ('keys' = 'id') LOCATION '$root'""")
      load(spark, dir, "customer")
        .select(col("c_custkey").as("id"), col("c_mktsegment").as("seg"),
          col("c_acctbal").cast("decimal(18,2)").as("bal"))
        .createOrReplaceTempView(s"${name}_src")
      spark.sql(s"INSERT INTO $name SELECT * FROM ${name}_src")
      spark.sql(s"ANALYZE TABLE $name COMPUTE STATISTICS FOR COLUMNS id, seg")
      val sql = s"""
        SELECT a.seg, count(*) AS n_cust,
               CAST(sum(CAST(b.bal AS DECIMAL(18,2))) AS DOUBLE) AS bal_sum
        FROM $name a
        JOIN (SELECT id, bal FROM $name WHERE id <= 20) b ON a.id = b.id
        GROUP BY a.seg"""
      Q.withConf(spark,
        "spark.sql.cbo.enabled" -> "true",
        "spark.sql.adaptive.enabled" -> "false",
        "spark.sql.autoBroadcastJoinThreshold" -> (4 * 1024).toString) {
        val df = spark.sql(sql)
        val bhj = df.queryExecution.sparkPlan.collect {
          case b: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => b
        }
        require(bhj.nonEmpty,
          "ANALYZEd statistics did not flip the filtered join to broadcast " +
            "under CBO — the stats consumer is not feeding the planner")
        df.collect() // materialize under the scoped confs
        graft.sql.TxLogSql.unregister(name)
        df
      }
    }, oracle = Some("""
      SELECT c_mktsegment AS seg, count(*) AS n_cust,
             CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS bal_sum
      FROM customer WHERE c_custkey <= 20 GROUP BY 1""")),

    Q("txlog_sql_ddl", (spark, dir) => {
      import spark.implicits._
      val tag = dir.hashCode.abs
      val root = s"$scratchRoot/txlog_ddl_$tag"
      val name = s"txlog_ddl_parts_$tag"
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
      graft.sql.TxLogSql.unregister(name)
      spark.sql(s"""
        CREATE TABLE $name (p_partkey BIGINT, p_name STRING,
                            retail DECIMAL(18,2))
        USING graft TBLPROPERTIES ('keys'='p_partkey') LOCATION '$root'""")
      load(spark, dir, "part")
        .select(col("p_partkey"), col("p_name"),
          col("p_retailprice").cast("decimal(18,2)").as("retail"))
        .createOrReplaceTempView(s"${name}_src")
      spark.sql(s"INSERT INTO $name SELECT * FROM ${name}_src")   // v1
      // metadata-only constraint commit: existing data validated, no
      // bytes rewritten — and it binds the statements that follow
      spark.sql(s"ALTER TABLE $name ADD CONSTRAINT retail_pos CHECK (retail >= 0)") // v2
      spark.sql(s"DELETE FROM $name WHERE p_partkey % 5 = 0")     // v3 (MoR)
      spark.sql(s"OPTIMIZE $name")                                // v4
      spark.sql(s"VACUUM $name RETAIN 1 VERSIONS")                // only v4 left
      val hist = spark.sql(s"DESCRIBE HISTORY $name")
        .select(col("version"), col("operation")).collect()
        .map(r => (s"v${r.getLong(0)}:${r.getString(1)}", r.getLong(0).toDouble))
      spark.sql(s"""
          SELECT 'rows' AS metric, CAST(count(*) AS DOUBLE) AS val FROM $name
          UNION ALL
          SELECT 'retail_sum', CAST(sum(retail) AS DOUBLE) FROM $name""")
        .unionByName(hist.toSeq.toDF("metric", "val"))
    }, oracle = Some("""
      WITH live AS (
        SELECT p_partkey, CAST(p_retailprice AS DECIMAL(18,2)) AS retail
        FROM part WHERE p_partkey % 5 <> 0)
      SELECT 'rows' AS metric, CAST(count(*) AS DOUBLE) AS val FROM live
      UNION ALL
      SELECT 'retail_sum', CAST(sum(retail) AS DOUBLE) FROM live
      UNION ALL
      SELECT 'v4:OPTIMIZE', CAST(4 AS DOUBLE)""")),

    // SQL DDL face, part two — the EVOLUTION statements under the hash
    // gate: CTAS (schema from the query), ALTER TABLE ADD COLUMNS
    // (additive evolution — old rows read null), column mapping RENAME/
    // DROP COLUMN (metadata-only, zero bytes rewritten), RESTORE TABLE
    // (rollback-as-commit — the dropped column comes back because the
    // MAPPING rolls back, not the data), and SHALLOW CLONE (zero-copy,
    // pinned at the clone instant while the source diverges). The
    // result folds both tables' aggregates with the post-restore
    // schema and the restore's history row, so the hash proves each
    // statement really did what its contract says. Reference:
    // `db_notebook.ipynb:39,78,101` (SQL-managed lakehouse tables).
    Q("txlog_sql_evolution", (spark, dir) => {
      import spark.implicits._
      val tag = dir.hashCode.abs
      val root = s"$scratchRoot/txlog_evo_$tag"
      val cloneRoot = s"$scratchRoot/txlog_evo_clone_$tag"
      val name = s"txlog_evo_$tag"
      val cname = s"txlog_evo_cl_$tag"
      Seq(root, cloneRoot).foreach(r =>
        org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(r)))
      Seq(name, cname).foreach(graft.sql.TxLogSql.unregister)
      load(spark, dir, "nation").createOrReplaceTempView(s"${name}_src")
      spark.sql(s"""
        CREATE TABLE $name USING graft TBLPROPERTIES ('keys'='k')
        LOCATION '$root'
        AS SELECT n_nationkey AS k, n_name AS name FROM ${name}_src""") // v0
      spark.sql(s"ALTER TABLE $name ADD COLUMNS (pop BIGINT)")          // v1
      spark.sql(s"""INSERT INTO $name
        SELECT n_nationkey + 100, upper(n_name), n_regionkey
        FROM ${name}_src""")                                            // v2
      spark.sql(s"ALTER TABLE $name RENAME COLUMN pop TO population")   // v3
      spark.sql(s"ALTER TABLE $name DROP COLUMN name")                  // v4
      spark.sql(s"RESTORE TABLE $name TO VERSION AS OF 3")              // v5
      spark.sql(s"CREATE TABLE $cname SHALLOW CLONE $name LOCATION '$cloneRoot'")
      // post-clone divergence: the pinned clone must not see these
      spark.sql(s"""INSERT INTO $name
        SELECT n_nationkey + 200, n_name, CAST(NULL AS BIGINT)
        FROM ${name}_src WHERE n_nationkey < 5""")                      // v6
      val cols = spark.sql(s"SELECT * FROM $name").columns.mkString(",")
      val restoreRow = spark.sql(s"DESCRIBE HISTORY $name")
        .select(col("version"), col("operation")).collect()
        .filter(_.getString(1).startsWith("RESTORE"))
        .map(r => (s"v${r.getLong(0)}:${r.getString(1)}", r.getLong(0).toDouble))
      spark.sql(s"""
          SELECT 'rows_table' AS metric, CAST(count(*) AS DOUBLE) AS val FROM $name
          UNION ALL
          SELECT 'rows_clone', CAST(count(*) AS DOUBLE) FROM $cname
          UNION ALL
          SELECT 'population_sum', CAST(sum(population) AS DOUBLE) FROM $name""")
        .unionByName(Seq((s"cols:$cols", 0.0)).toDF("metric", "val"))
        .unionByName(restoreRow.toSeq.toDF("metric", "val"))
    }, oracle = Some("""
      SELECT 'rows_table' AS metric, CAST(2 * count(*) + 5 AS DOUBLE) AS val FROM nation
      UNION ALL
      SELECT 'rows_clone', CAST(2 * count(*) AS DOUBLE) FROM nation
      UNION ALL
      SELECT 'population_sum', CAST(sum(n_regionkey) AS DOUBLE) FROM nation
      UNION ALL
      SELECT 'cols:k,name,population', CAST(0 AS DOUBLE)
      UNION ALL
      SELECT 'v5:RESTORE v3', CAST(5 AS DOUBLE)""")),

    // CONVERT TO GRAFT under the hash gate — the 100 TB onboarding
    // story: an EXISTING hive-partitioned parquet lake becomes a
    // transactional table IN PLACE (v0 references the source leaves by
    // absolute path; zero bytes rewritten, however large the lake),
    // and from version 0 every op works: the partition column — absent
    // from the files, materialized by discovery — groups correctly
    // across all leaves in one batched read, and a row-level DELETE
    // lays merge-on-read tombstones OVER the converted dirs without
    // touching them. The result is the per-partition aggregate after
    // the delete, so the hash proves both the import and the
    // transactional overlay. Reference: the reference's medallion
    // tables start from plain parquet dumps (`silver_notebook.ipynb`);
    // CONVERT is how such a lake adopts the log without a rewrite.
    Q("txlog_convert_inplace", (spark, dir) => {
      val tag = dir.hashCode.abs
      val src = s"$scratchRoot/txlog_conv_$tag"
      val name = s"txlog_conv_$tag"
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(src))
      graft.sql.TxLogSql.unregister(name)
      load(spark, dir, "lineitem")
        .select(col("l_orderkey"), col("l_partkey"), col("l_quantity"),
          col("l_returnflag"))
        .write.partitionBy("l_returnflag").mode("overwrite").parquet(src)
      spark.sql(s"CONVERT TO GRAFT parquet.`$src` PARTITIONED BY (l_returnflag STRING)")
      spark.sql(s"CREATE TABLE $name USING graft LOCATION '$src'")
      spark.sql(s"DELETE FROM $name WHERE l_returnflag = 'N' AND l_orderkey % 7 = 0")
      spark.sql(s"""
        SELECT l_returnflag, count(*) AS cnt,
               CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
        FROM $name GROUP BY l_returnflag""")
    }, oracle = Some("""
      WITH live AS (
        SELECT * FROM lineitem
        WHERE NOT (l_returnflag = 'N' AND l_orderkey % 7 = 0))
      SELECT l_returnflag, count(*) AS cnt,
             CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
      FROM live GROUP BY l_returnflag""")),

    // The FULL conditional MERGE under the hash gate — Delta's
    // complete clause surface in one statement: a conditional matched
    // DELETE ahead of an expression-assignment UPDATE (first passing
    // clause wins), a conditional column-list INSERT (unlisted column
    // → NULL), and a NOT MATCHED BY SOURCE DELETE (full-sync). The
    // commit rewrites only dirs holding modified rows and carries the
    // rest (TxLogMergeIntoSpec pins that); the oracle reproduces each
    // clause with plain joins. Reference: `gold_dim_branch.ipynb:88166`
    // is the unconditional upsert subset of this statement.
    Q("txlog_sql_merge_full", (spark, dir) => {
      val root = s"$scratchRoot/txlog_mergefull_${dir.hashCode.abs}"
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
      val sup = load(spark, dir, "supplier")
        .select(col("s_suppkey"), col("s_name"),
          col("s_acctbal").cast("decimal(18,2)").as("s_acctbal"))
      val t = graft.pipeline.TxLog(spark, root)
      t.overwrite(sup.filter(col("s_suppkey") % 7 =!= 0))
      sup.filter(col("s_suppkey") % 3 === 0)
        .createOrReplaceTempView("txlog_mergefull_src")
      graft.sql.TxLogSql.register("txlog_mergefull_tgt", t)
      spark.sql("""
        MERGE INTO txlog_mergefull_tgt AS t
        USING txlog_mergefull_src AS s
        ON t.s_suppkey = s.s_suppkey
        WHEN MATCHED AND s.s_acctbal < 0 THEN DELETE
        WHEN MATCHED THEN UPDATE SET
          s_name = concat(t.s_name, ' *'), s_acctbal = s.s_acctbal + 5
        WHEN NOT MATCHED AND s.s_acctbal >= 0 THEN
          INSERT (s_suppkey, s_name) VALUES (s.s_suppkey + 2000000, s.s_name)
        WHEN NOT MATCHED BY SOURCE AND t.s_suppkey % 11 = 0 THEN DELETE""")
      t.snapshot().select(col("s_suppkey"), col("s_name"),
        col("s_acctbal").cast("double").as("s_acctbal"))
    }, oracle = Some("""
      WITH sup AS (
        SELECT s_suppkey, s_name, CAST(s_acctbal AS DECIMAL(18,2)) AS s_acctbal
        FROM supplier),
      target AS (SELECT * FROM sup WHERE s_suppkey % 7 <> 0),
      src AS (SELECT * FROM sup WHERE s_suppkey % 3 = 0)
      SELECT t.s_suppkey, t.s_name || ' *' AS s_name,
             CAST(CAST(s.s_acctbal + 5 AS DECIMAL(18,2)) AS DOUBLE) AS s_acctbal
      FROM target t JOIN src s ON t.s_suppkey = s.s_suppkey
      WHERE NOT (s.s_acctbal < 0)
      UNION ALL
      SELECT t.s_suppkey, t.s_name, CAST(t.s_acctbal AS DOUBLE)
      FROM target t LEFT JOIN src s ON t.s_suppkey = s.s_suppkey
      WHERE s.s_suppkey IS NULL AND NOT (t.s_suppkey % 11 = 0)
      UNION ALL
      SELECT s.s_suppkey + 2000000, s.s_name, CAST(NULL AS DOUBLE)
      FROM src s LEFT JOIN target t ON s.s_suppkey = t.s_suppkey
      WHERE t.s_suppkey IS NULL AND s.s_acctbal >= 0""")),

    // COPY INTO under the hash gate — the 100 TB landing-zone story:
    // files arrive in a staging directory over time; each COPY loads
    // exactly the files the manifest-committed registry has not seen
    // (first run all 3, idempotent rerun 0, two late files 2), and the
    // final table holds every staged row exactly once. The hash folds
    // the per-run file counts AND the final aggregate, so it proves
    // the exactly-once file tracking, not just the end state.
    // Reference: the ADF-triggered landing-zone ingestion the
    // reference describes in prose (`README.md:8-10`) — COPY INTO is
    // its transactional, rerunnable form.
    Q("txlog_copy_into", (spark, dir) => {
      import spark.implicits._
      val tag = dir.hashCode.abs
      val stage = s"$scratchRoot/copyinto_stage_$tag"
      val root = s"$scratchRoot/copyinto_tbl_$tag"
      Seq(stage, root, s"${stage}_late").foreach(r =>
        org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(r)))
      val sup = load(spark, dir, "supplier")
        .select(col("s_suppkey"), col("s_name"),
          col("s_acctbal").cast("decimal(18,2)").as("s_acctbal"))
      sup.filter(col("s_suppkey") % 2 === 0).repartition(3)
        .write.parquet(stage)
      val t = graft.pipeline.TxLog(spark, root)
      val (_, n1) = t.copyInto(stage)
      val (_, n2) = t.copyInto(stage) // idempotent rerun
      // two late files land in the same staging dir
      val late = s"${stage}_late"
      sup.filter(col("s_suppkey") % 2 === 1).repartition(2)
        .write.parquet(late)
      new java.io.File(late).listFiles()
        .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
        .zipWithIndex.foreach { case (f, i) =>
          java.nio.file.Files.move(f.toPath,
            java.nio.file.Paths.get(s"$stage/late_$i.parquet")) }
      val (_, n3) = t.copyInto(stage)
      Seq(("files_first", n1.toDouble), ("files_rerun", n2.toDouble),
        ("files_late", n3.toDouble)).toDF("metric", "val")
        .unionByName(t.snapshot().agg(
            count(lit(1)).cast("double").as("rows"),
            sum(col("s_acctbal")).cast("double").as("bal"))
          .selectExpr("stack(2, 'rows', rows, 'bal_sum', bal) AS (metric, val)"))
    }, oracle = Some("""
      SELECT 'files_first' AS metric, CAST(3 AS DOUBLE) AS val
      UNION ALL SELECT 'files_rerun', 0
      UNION ALL SELECT 'files_late', 2
      UNION ALL SELECT 'rows', CAST(count(*) AS DOUBLE) FROM supplier
      UNION ALL SELECT 'bal_sum',
        CAST(sum(CAST(s_acctbal AS DECIMAL(18,2))) AS DOUBLE) FROM supplier""")),

    // Dynamic partition overwrite under the hash gate — the
    // recompute-one-partition story at 100 TB: `INSERT OVERWRITE …
    // PARTITION (l_returnflag = 'N')` replaces EXACTLY that
    // partition's rows with a recomputed batch; the other partitions'
    // manifest lines carry untouched (TxLogReplacePartitionsSpec pins
    // the structural carry; this query hash-pins the semantics). The
    // oracle rebuilds the same final state with plain set ops.
    Q("txlog_sql_replace_partition", (spark, dir) => {
      val tag = dir.hashCode.abs
      val root = s"$scratchRoot/txlog_replpart_$tag"
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
      graft.sql.TxLogSql.unregister("txlog_replpart_tgt")
      val li = load(spark, dir, "lineitem")
        .select(col("l_orderkey"),
          col("l_quantity").cast("decimal(18,2)").as("qty"),
          col("l_returnflag"))
      val t = graft.pipeline.TxLog(spark, root)
      t.overwritePartitioned(li, "l_returnflag")
      li.createOrReplaceTempView("txlog_replpart_src")
      graft.sql.TxLogSql.register("txlog_replpart_tgt", t)
      spark.sql("""
        INSERT OVERWRITE txlog_replpart_tgt PARTITION (l_returnflag = 'N')
        SELECT l_orderkey, CAST(qty * 2 AS DECIMAL(18,2))
        FROM txlog_replpart_src
        WHERE l_returnflag = 'N' AND l_orderkey % 3 = 0""")
      spark.sql("""
        SELECT l_returnflag, count(*) AS cnt,
               CAST(sum(qty) AS DOUBLE) AS qty_sum
        FROM txlog_replpart_tgt GROUP BY l_returnflag""")
    }, oracle = Some("""
      WITH li AS (
        SELECT l_orderkey, CAST(l_quantity AS DECIMAL(18,2)) AS qty,
               l_returnflag
        FROM lineitem),
      final AS (
        SELECT * FROM li WHERE l_returnflag <> 'N'
        UNION ALL
        SELECT l_orderkey, CAST(qty * 2 AS DECIMAL(18,2)), l_returnflag
        FROM li WHERE l_returnflag = 'N' AND l_orderkey % 3 = 0)
      SELECT l_returnflag, count(*) AS cnt, CAST(sum(qty) AS DOUBLE) AS qty_sum
      FROM final GROUP BY l_returnflag""")),

    // MERGE WITH SCHEMA EVOLUTION on the conditional clause path —
    // Delta's documented evolution contract: the source-only `tier`
    // column joins the target schema additively; `UPDATE SET *` keeps
    // the target-only `c_name` and `INSERT *` leaves it NULL; every
    // row the merge does not touch reads NULL for `tier` (carried dirs
    // NULL-fill the missing physical). The hash folds the per-tier
    // counts, the non-NULL-name counts AND the exact balance sums, so
    // it pins all four row provenances at once.
    Q("txlog_sql_merge_evolve", (spark, dir) => {
      val root = s"$scratchRoot/txlog_mergeevo_${dir.hashCode.abs}"
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
      graft.sql.TxLogSql.unregister("txlog_mergeevo_tgt")
      val cust = load(spark, dir, "customer")
        .select(col("c_custkey"), col("c_name"),
          col("c_acctbal").cast("decimal(18,2)").as("c_acctbal"))
      val t = graft.pipeline.TxLog(spark, root)
      t.overwrite(cust.filter(col("c_custkey") % 5 =!= 0))
      load(spark, dir, "customer")
        .filter(col("c_custkey") % 2 === 0)
        .select(col("c_custkey"),
          (col("c_acctbal").cast("decimal(18,2)") + lit(10))
            .cast("decimal(18,2)").as("c_acctbal"),
          substring(col("c_mktsegment"), 1, 3).as("tier"))
        .createOrReplaceTempView("txlog_mergeevo_src")
      graft.sql.TxLogSql.register("txlog_mergeevo_tgt", t)
      spark.sql("""
        MERGE WITH SCHEMA EVOLUTION INTO txlog_mergeevo_tgt AS t
        USING txlog_mergeevo_src AS s
        ON t.c_custkey = s.c_custkey
        WHEN MATCHED AND s.c_acctbal > 0 THEN UPDATE SET *
        WHEN NOT MATCHED THEN INSERT *""")
      spark.sql("""
        SELECT tier, count(*) AS cnt, count(c_name) AS named,
               CAST(sum(c_acctbal) AS DOUBLE) AS bal_sum
        FROM txlog_mergeevo_tgt GROUP BY tier""")
    }, oracle = Some("""
      WITH cust AS (
        SELECT c_custkey, c_name,
               CAST(c_acctbal AS DECIMAL(18,2)) AS c_acctbal,
               substr(c_mktsegment, 1, 3) AS tier3
        FROM customer),
      tgt AS (SELECT c_custkey, c_name, c_acctbal FROM cust
              WHERE c_custkey % 5 <> 0),
      src AS (SELECT c_custkey,
                     CAST(c_acctbal + 10 AS DECIMAL(18,2)) AS c_acctbal,
                     tier3 AS tier
              FROM cust WHERE c_custkey % 2 = 0),
      final AS (
        SELECT t.c_custkey, t.c_name, s.c_acctbal, s.tier
        FROM tgt t JOIN src s ON t.c_custkey = s.c_custkey
        WHERE s.c_acctbal > 0
        UNION ALL
        SELECT t.c_custkey, t.c_name, t.c_acctbal, NULL
        FROM tgt t LEFT JOIN src s ON t.c_custkey = s.c_custkey
        WHERE s.c_custkey IS NULL OR NOT (s.c_acctbal > 0)
        UNION ALL
        SELECT s.c_custkey, NULL, s.c_acctbal, s.tier
        FROM src s LEFT JOIN tgt t ON s.c_custkey = t.c_custkey
        WHERE t.c_custkey IS NULL)
      SELECT tier, count(*) AS cnt, count(c_name) AS named,
             CAST(sum(c_acctbal) AS DOUBLE) AS bal_sum
      FROM final GROUP BY tier""")),
  )
}

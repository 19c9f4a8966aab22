package graft.ops

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** Cost-based optimization: with table + column statistics ANALYZEd in,
  * Catalyst's join reorder must rewrite an adversarially-ordered join
  * chain so the selective dimension reduces the fact FIRST — the
  * statistics-driven planning a 100 TB star schema depends on.
  */
class CboSpec extends SparkTestBase {

  test("ANALYZEd statistics drive join reorder: selective dim joins the fact first") {
    Seq("cbo_lineitem", "cbo_orders", "cbo_region").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      org.apache.commons.io.FileUtils.deleteDirectory(warehouseDir(t))
    }
    spark.read.parquet(sf("0.001") + "/lineitem.parquet")
      .select(col("l_orderkey"), col("l_suppkey"), col("l_quantity"))
      .write.saveAsTable("cbo_lineitem")
    spark.read.parquet(sf("0.001") + "/orders.parquet")
      .select(col("o_orderkey"), col("o_custkey"))
      .write.saveAsTable("cbo_orders")
    // 5-row "dim" keyed to orders
    spark.read.parquet(sf("0.001") + "/orders.parquet")
      .select(col("o_orderkey").as("r_orderkey")).limit(5)
      .write.saveAsTable("cbo_region")
    Seq("cbo_lineitem", "cbo_orders", "cbo_region").foreach(t =>
      spark.sql(s"ANALYZE TABLE $t COMPUTE STATISTICS FOR ALL COLUMNS"))
    val sql = """
      SELECT count(*) AS n
      FROM cbo_lineitem l
      JOIN cbo_orders o ON l.l_orderkey = o.o_orderkey
      JOIN cbo_region r ON o.o_orderkey = r.r_orderkey"""
    def joinOrderLeaves(p: org.apache.spark.sql.execution.SparkPlan): Seq[String] =
      p.collectLeaves().map(_.toString)
    withConf("spark.sql.cbo.enabled" -> "true",
      "spark.sql.cbo.joinReorder.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.enabled" -> "false") {
      val df = spark.sql(sql)
      val optimized = df.queryExecution.optimizedPlan.toString
      // CBO must pull the 5-row dim INTO the first join against orders
      // (or lineitem) instead of leaving it last as written — i.e. the
      // innermost join must involve cbo_region
      val joins = df.queryExecution.optimizedPlan.collect {
        case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
      }
      assert(joins.size === 2, optimized.take(1500))
      val innermost = joins.last // deepest join in the tree
      val innerTables = innermost.collectLeaves().map(_.toString).mkString(" ")
      assert(innerTables.contains("cbo_region"),
        s"CBO left the 5-row dim out of the innermost join:\n${optimized.take(2000)}")
      assert(df.head().getLong(0) > 0)
    }
    // and WITHOUT CBO the join order stays as written (region last) —
    // proving the reorder came from the statistics, not the parser
    withConf("spark.sql.cbo.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.enabled" -> "false") {
      val joins = spark.sql(sql).queryExecution.optimizedPlan.collect {
        case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
      }
      val innerTables = joins.last.collectLeaves().map(_.toString).mkString(" ")
      assert(!innerTables.contains("cbo_region"),
        "baseline (no CBO) unexpectedly reordered the chain")
    }
  }

  test("TxLog ANALYZE feeds CBO: persisted stats flip a filtered join to broadcast, no scan") {
    import graft.sql.TxLogSql
    val loc = tmpDir("cbo_txlog")
    spark.sql(s"""
      CREATE TABLE cbo_txlog (id BIGINT, pad STRING) USING graft
      TBLPROPERTIES ('keys' = 'id') LOCATION '$loc'""")
    // ~30k rows of incompressible padding: the parquet footprint is
    // far above the broadcast threshold, so WITHOUT statistics the
    // planner sees only big file bytes on both sides
    spark.range(30000)
      .selectExpr("id", "md5(CAST(id AS STRING)) AS pad")
      .createOrReplaceTempView("cbo_txlog_src")
    spark.sql("INSERT INTO cbo_txlog SELECT id, pad FROM cbo_txlog_src")
    val sql = """
      SELECT count(*) AS n
      FROM cbo_txlog a
      JOIN (SELECT id, pad FROM cbo_txlog WHERE id <= 100) b
        ON a.id = b.id"""
    // INNER joins only: once a deletion vector is live the MoR read
    // itself plans a (broadcast) LeftAnti subtraction, which must not
    // satisfy the assertion for the query join under test
    def hasBroadcast(df: org.apache.spark.sql.DataFrame): Boolean =
      df.queryExecution.sparkPlan.collect {
        case b: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
            if b.joinType == org.apache.spark.sql.catalyst.plans.Inner => b
      }.nonEmpty
    withConf("spark.sql.cbo.enabled" -> "true",
      "spark.sql.adaptive.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> (64 * 1024).toString) {
      // BEFORE ANALYZE: no rowCount, the filtered side's estimate stays
      // the full file size → sort-merge
      assert(!hasBroadcast(spark.sql(sql)),
        "join broadcast before any statistics existed — threshold too high?")
      spark.sql("ANALYZE TABLE cbo_txlog COMPUTE STATISTICS FOR COLUMNS id")
      // AFTER ANALYZE: rowCount + id's min/max make the id<=100 side
      // ~0.3% selective → estimated bytes under the threshold →
      // broadcast. The statistics came from TABLE PROPERTIES (one
      // manifest read), not from scanning data at plan time.
      val df = spark.sql(sql)
      assert(hasBroadcast(df),
        "ANALYZEd statistics did not flip the filtered join to broadcast:\n" +
          df.queryExecution.optimizedPlan.toString.take(2000))
      assert(df.head().getLong(0) === 101L)
      // the injected stats carry the analyzed rowCount on the scan
      val scanStats = df.queryExecution.optimizedPlan.collect {
        case lr: org.apache.spark.sql.execution.datasources.LogicalRelation
            if lr.catalogTable.exists(_.provider.contains("graft")) =>
          lr.stats
      }
      assert(scanStats.nonEmpty, "no graft-stamped relation in the plan")
      assert(scanStats.exists(_.rowCount.contains(BigInt(30000))),
        s"scan stats missing the ANALYZEd rowCount: $scanStats")
      // a LIVE DELETION VECTOR must not de-CBO the table: after a
      // merge-on-read DELETE (tombstone sidecar, multi-relation plan)
      // and a re-ANALYZE, the base relation still carries stats and
      // the filtered join still flips to broadcast
      graft.pipeline.TxLog(spark, loc).deleteWhere("id >= 29000")
      spark.sql("ANALYZE TABLE cbo_txlog COMPUTE STATISTICS FOR COLUMNS id")
      val dv = spark.sql(sql)
      assert(hasBroadcast(dv),
        "stats stopped flipping the join to broadcast once a deletion " +
          "vector was live:\n" +
          dv.queryExecution.optimizedPlan.toString.take(2000))
      assert(dv.head().getLong(0) === 101L)
    }
    // time-traveled reads do NOT carry the stats (they describe the
    // analyzed snapshot, not an arbitrary historical one)
    val tt = spark.sql("SELECT * FROM cbo_txlog VERSION AS OF 0")
    assert(!tt.queryExecution.optimizedPlan.collect {
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation
          if lr.catalogTable.isDefined => lr
    }.exists(_ => true), "time travel carried current-snapshot stats")
    TxLogSql.unregister("cbo_txlog")
  }

  test("histogram statistics: a skewed range predicate flips to broadcast where min/max cannot") {
    import graft.sql.TxLogSql
    val loc = tmpDir("cbo_hist")
    spark.sql(s"""
      CREATE TABLE cbo_hist (v BIGINT, pad STRING) USING graft
      TBLPROPERTIES ('keys' = 'v') LOCATION '$loc'""")
    // 99% of the mass sits at v = 0; 1% spreads over [29700, 29999].
    // min/max selectivity for v >= 20000 is the UNIFORM fraction of
    // [0, 29999] ≈ 33% → ~10k rows → far above the broadcast
    // threshold. The real answer is ~300 rows.
    spark.range(30000).selectExpr(
        "CASE WHEN id < 29700 THEN CAST(0 AS BIGINT) ELSE id END AS v",
        "md5(CAST(id AS STRING)) AS pad")
      .createOrReplaceTempView("cbo_hist_src")
    spark.sql("INSERT INTO cbo_hist SELECT v, pad FROM cbo_hist_src")
    spark.sql("ANALYZE TABLE cbo_hist COMPUTE STATISTICS FOR COLUMNS v")
    val sql = """
      SELECT count(*) AS n
      FROM cbo_hist a
      JOIN (SELECT v, pad FROM cbo_hist WHERE v >= 20000) b ON a.v = b.v"""
    def innerBroadcast(df: org.apache.spark.sql.DataFrame): Boolean =
      df.queryExecution.sparkPlan.collect {
        case b: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
            if b.joinType == org.apache.spark.sql.catalyst.plans.Inner => b
      }.nonEmpty
    withConf("spark.sql.cbo.enabled" -> "true",
      "spark.sql.adaptive.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> (64 * 1024).toString) {
      val df = spark.sql(sql)
      assert(innerBroadcast(df),
        "histogram did not price the skewed filter selectively:\n" +
          df.queryExecution.optimizedPlan.toString.take(2000))
      assert(df.head().getLong(0) === 300L)
      // counterfactual — SAME statistics minus the histogram property:
      // min/max alone must over-estimate and keep the join sort-merge,
      // proving the flip came from the histogram, not rowCount/bounds
      spark.sql(
        "ALTER TABLE cbo_hist UNSET TBLPROPERTIES ('graft.stats.col.v.hist')")
      assert(!innerBroadcast(spark.sql(sql)),
        "join broadcast WITHOUT the histogram — the counterfactual is broken " +
          "(threshold too high, or min/max alone suffices here)")
    }
    TxLogSql.unregister("cbo_hist")
  }

  test("histogram statistics feed JOIN cardinality: skewed equi-join estimates near truth") {
    import graft.sql.TxLogSql
    // ndv-based join estimation prices a skewed equi-join at
    // |A|·|B|/max(ndv) — uniform-key arithmetic that under-estimates a
    // hot-key join by ORDERS of magnitude (the very joins that melt a
    // 1000-executor stage when the planner thought they were small).
    // With histograms on both keys, Catalyst's JoinEstimation overlaps
    // the bins: the hot bin's mass multiplies out and the estimate
    // lands near the true cardinality.
    def mk(name: String): Unit = {
      val loc = tmpDir(s"cbo_jh_$name")
      TxLogSql.unregister(name)
      spark.sql(s"""
        CREATE TABLE $name (v BIGINT, pad STRING) USING graft
        TBLPROPERTIES ('keys' = 'v') LOCATION '$loc'""")
      spark.range(20000).selectExpr(
          "CASE WHEN id < 19800 THEN CAST(0 AS BIGINT) ELSE id END AS v",
          "md5(CAST(id AS STRING)) AS pad")
        .createOrReplaceTempView(s"${name}_src")
      spark.sql(s"INSERT INTO $name SELECT v, pad FROM ${name}_src")
      spark.sql(s"ANALYZE TABLE $name COMPUTE STATISTICS FOR COLUMNS v")
    }
    mk("cbo_jh_a"); mk("cbo_jh_b")
    val trueCard = BigInt(19800L) * 19800L + 200L // hot key² + id matches
    withConf("spark.sql.cbo.enabled" -> "true") {
      def est: BigInt = spark.sql(
        "SELECT a.v FROM cbo_jh_a a JOIN cbo_jh_b b ON a.v = b.v")
        .queryExecution.optimizedPlan.stats.rowCount.getOrElse(BigInt(-1))
      val withHist = est
      assert(withHist * 2 > trueCard && withHist < trueCard * 2,
        s"histogram join estimate $withHist not within 2x of $trueCard")
      // counterfactual: identical stats minus the histograms → the
      // ndv-uniform formula under-estimates by orders of magnitude
      Seq("cbo_jh_a", "cbo_jh_b").foreach(t => spark.sql(
        s"ALTER TABLE $t UNSET TBLPROPERTIES ('graft.stats.col.v.hist')"))
      val noHist = est
      assert(noHist * 50 < trueCard,
        s"expected the ndv-only estimate to be far under truth, got $noHist " +
          s"vs $trueCard — the counterfactual no longer demonstrates the gap")
    }
    Seq("cbo_jh_a", "cbo_jh_b").foreach(TxLogSql.unregister)
  }

  test("DATE min/max stats: a date-range predicate's selectivity flips the join to broadcast") {
    import graft.sql.TxLogSql
    val loc = tmpDir("cbo_dates")
    spark.sql(s"""
      CREATE TABLE cbo_dates (d DATE, pad STRING) USING graft
      TBLPROPERTIES ('keys' = 'd') LOCATION '$loc'""")
    // 30k rows over 1,000 consecutive days; incompressible padding so
    // the parquet footprint sits far above the broadcast threshold
    spark.range(30000).selectExpr(
        "date_add(DATE'2024-01-01', CAST(id % 1000 AS INT)) AS d",
        "md5(CAST(id AS STRING)) AS pad")
      .createOrReplaceTempView("cbo_dates_src")
    spark.sql("INSERT INTO cbo_dates SELECT d, pad FROM cbo_dates_src")
    // dates are the dominant selectivity dimension of this pipeline
    // family (date-partitioned gold; the reference's watermark is a
    // date surrogate): d >= max-2 keeps 3 of 1,000 days ≈ 0.3%
    val sql = """
      SELECT count(*) AS n
      FROM cbo_dates a
      JOIN (SELECT d, pad FROM cbo_dates WHERE d >= DATE'2026-09-24') b
        ON a.d = b.d"""
    def innerBroadcast(df: org.apache.spark.sql.DataFrame): Boolean =
      df.queryExecution.sparkPlan.collect {
        case b: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
            if b.joinType == org.apache.spark.sql.catalyst.plans.Inner => b
      }.nonEmpty
    withConf("spark.sql.cbo.enabled" -> "true",
      "spark.sql.adaptive.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> (64 * 1024).toString) {
      assert(!innerBroadcast(spark.sql(sql)),
        "join broadcast before any statistics existed — threshold too high?")
      spark.sql("ANALYZE TABLE cbo_dates COMPUTE STATISTICS FOR COLUMNS d")
      // WITHOUT date min/max the filter over d would keep the default
      // selectivity and the filtered side would stay sort-merge; the
      // bounds make it ~0.3% → estimated bytes under the threshold
      val df = spark.sql(sql)
      assert(innerBroadcast(df),
        "DATE min/max stats did not flip the date-filtered join to broadcast:\n" +
          df.queryExecution.optimizedPlan.toString.take(2000))
      // 3 qualifying days × 30 rows/day joined against the same 3 days
      assert(df.head().getLong(0) === (3L * 30 * 30))
      // round-trip: the stamped bounds surface as Catalyst INTERNAL
      // date values (days since epoch) in the plan's column statistics
      val dStats = df.queryExecution.optimizedPlan.collect {
        case lr: org.apache.spark.sql.execution.datasources.LogicalRelation
            if lr.catalogTable.isDefined =>
          lr.stats.attributeStats.collect {
            case (a, s) if a.name == "d" => s }
      }.flatten
      assert(dStats.nonEmpty, "no column statistics for d on the stamped scan")
      val epochDay = java.time.LocalDate.of(2024, 1, 1).toEpochDay.toInt
      assert(dStats.exists(_.min.contains(epochDay)),
        s"date min did not round-trip to internal days: ${dStats.map(_.min)}")
      assert(dStats.exists(_.max.contains(epochDay + 999)),
        s"date max did not round-trip to internal days: ${dStats.map(_.max)}")
    }
    TxLogSql.unregister("cbo_dates")
  }

  test("DATE histogram: a skewed date-range predicate flips to broadcast only WITH the histogram") {
    import graft.pipeline.TxLog
    import graft.sql.TxLogSql
    val loc = tmpDir("cbo_dhist")
    spark.sql(s"""
      CREATE TABLE cbo_dhist (d DATE, pad STRING) USING graft
      TBLPROPERTIES ('keys' = 'd') LOCATION '$loc'""")
    // 99% of the mass on ONE early date; 1% spreads one-row-per-day
    // over the last 300 days of a 30,000-day span — the shape of a
    // date-partitioned events gold where history piles on backfill
    // days. min/max selectivity for d >= day-20000 is the UNIFORM
    // fraction of the span ≈ 33% → ~10k rows → above the broadcast
    // threshold. The real answer is 300 rows.
    spark.range(30000).selectExpr(
        "date_add(DATE'2024-01-01', CASE WHEN id < 29700 THEN 0 ELSE CAST(id AS INT) END) AS d",
        "md5(CAST(id AS STRING)) AS pad")
      .createOrReplaceTempView("cbo_dhist_src")
    spark.sql("INSERT INTO cbo_dhist SELECT d, pad FROM cbo_dhist_src")
    spark.sql("ANALYZE TABLE cbo_dhist COMPUTE STATISTICS FOR COLUMNS d")
    // the persisted endpoints are INTERNAL epoch days (zone-free, the
    // axis the optimizer compares date literals on)
    val hist = TxLog(spark, loc).properties().toMap
      .getOrElse("graft.stats.col.d.hist", fail("no persisted DATE histogram"))
    val es = hist.split(',').map(_.toDouble)
    val epochDay = java.time.LocalDate.of(2024, 1, 1).toEpochDay.toDouble
    assert(es.length === 33 && es.head === epochDay && es.last === epochDay + 29999,
      s"DATE histogram endpoints not in epoch days: ${hist.take(120)}")
    val sql = """
      SELECT count(*) AS n
      FROM cbo_dhist a
      JOIN (SELECT d, pad FROM cbo_dhist
            WHERE d >= date_add(DATE'2024-01-01', 20000)) b ON a.d = b.d"""
    def innerBroadcast(df: org.apache.spark.sql.DataFrame): Boolean =
      df.queryExecution.sparkPlan.collect {
        case b: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
            if b.joinType == org.apache.spark.sql.catalyst.plans.Inner => b
      }.nonEmpty
    withConf("spark.sql.cbo.enabled" -> "true",
      "spark.sql.adaptive.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> (64 * 1024).toString) {
      val df = spark.sql(sql)
      assert(innerBroadcast(df),
        "DATE histogram did not price the skewed date filter selectively:\n" +
          df.queryExecution.optimizedPlan.toString.take(2000))
      assert(df.head().getLong(0) === 300L)
      // counterfactual — SAME statistics minus the histogram property:
      // date min/max alone price the range uniformly, over-estimate,
      // and keep the join sort-merge — proving the flip came from the
      // DATE histogram, not from the bounds/rowCount
      spark.sql(
        "ALTER TABLE cbo_dhist UNSET TBLPROPERTIES ('graft.stats.col.d.hist')")
      assert(!innerBroadcast(spark.sql(sql)),
        "join broadcast WITHOUT the DATE histogram — the counterfactual is " +
          "broken (threshold too high, or min/max alone suffices here)")
    }
    TxLogSql.unregister("cbo_dhist")
  }

  test("TIMESTAMP stats round-trip: UTC 6-digit external rendering parses back to exact micros") {
    import graft.pipeline.TxLog
    import graft.sql.TxLogSql
    val loc = tmpDir("cbo_ts")
    spark.sql(s"""
      CREATE TABLE cbo_ts (ts TIMESTAMP, v BIGINT) USING graft
      TBLPROPERTIES ('keys' = 'v') LOCATION '$loc'""")
    spark.range(1000).selectExpr(
        "timestampadd(SECOND, CAST(id AS INT), TIMESTAMP'2024-06-01 08:30:00.123456') AS ts",
        "id AS v")
      .createOrReplaceTempView("cbo_ts_src")
    spark.sql("INSERT INTO cbo_ts SELECT ts, v FROM cbo_ts_src")
    spark.sql("ANALYZE TABLE cbo_ts COMPUTE STATISTICS FOR COLUMNS ts")
    // the persisted rendering is the external-string contract's v2
    // shape: UTC, space separator, 6-digit fraction — session-zone
    // casts would shift the instant and trim the fraction
    val props = TxLog(spark, loc).properties().toMap
    assert(props("graft.stats.col.ts.min") === "2024-06-01 08:30:00.123456",
      s"unexpected external min rendering: ${props("graft.stats.col.ts.min")}")
    assert(props("graft.stats.col.ts.max") === "2024-06-01 08:46:39.123456",
      s"unexpected external max rendering: ${props("graft.stats.col.ts.max")}")
    withConf("spark.sql.cbo.enabled" -> "true") {
      val df = spark.sql("SELECT * FROM cbo_ts")
      val tsStats = df.queryExecution.optimizedPlan.collect {
        case lr: org.apache.spark.sql.execution.datasources.LogicalRelation
            if lr.catalogTable.isDefined =>
          lr.stats.attributeStats.collect {
            case (a, s) if a.name == "ts" => s }
      }.flatten
      assert(tsStats.nonEmpty, "no column statistics for ts on the stamped scan")
      // exact micros: the parse must land on the written instants
      val expectMin = spark.sql(
        "SELECT unix_micros(TIMESTAMP'2024-06-01 08:30:00.123456')").head().getLong(0)
      assert(tsStats.exists(_.min.contains(expectMin)),
        s"timestamp min did not round-trip to exact micros: ${tsStats.map(_.min)}")
      assert(tsStats.exists(_.max.contains(expectMin + 999L * 1000000)),
        s"timestamp max did not round-trip to exact micros: ${tsStats.map(_.max)}")
      // the TIMESTAMP histogram decodes on the same internal-micros
      // axis: 32 bins spanning exactly [min, max]
      val h = tsStats.flatMap(_.histogram)
      assert(h.nonEmpty, "no decoded TIMESTAMP histogram on the stamped scan")
      assert(h.exists(hh => hh.bins.length == 32 &&
          hh.bins.head.lo == expectMin.toDouble &&
          hh.bins.last.hi == (expectMin + 999L * 1000000).toDouble),
        s"TIMESTAMP histogram bins not on the micros axis: " +
          h.map(hh => (hh.bins.length, hh.bins.head.lo, hh.bins.last.hi)))
    }
    TxLogSql.unregister("cbo_ts")
  }

  test("stats injection guards: inert with CBO off; MoR snapshot stamps the BASE relation only") {
    import graft.pipeline.TxLog
    import graft.sql.TxLogSql
    import org.apache.spark.sql.execution.datasources.LogicalRelation
    val loc = tmpDir("cbo_guards")
    spark.sql(s"""
      CREATE TABLE cbo_guards (id BIGINT, v STRING) USING graft
      TBLPROPERTIES ('keys' = 'id') LOCATION '$loc'""")
    spark.range(500).selectExpr("id", "CAST(id AS STRING) AS v")
      .createOrReplaceTempView("cbo_guards_src")
    spark.sql("INSERT INTO cbo_guards SELECT * FROM cbo_guards_src")
    spark.sql("ANALYZE TABLE cbo_guards COMPUTE STATISTICS FOR COLUMNS id")
    def stamped(df: org.apache.spark.sql.DataFrame): Boolean =
      df.queryExecution.optimizedPlan.collect {
        case lr: LogicalRelation if lr.catalogTable.isDefined => lr
      }.nonEmpty
    // CBO OFF (the default): the plan must stay on REAL file-size
    // estimates — CatalogStatistics.sizeInBytes would otherwise
    // override them, letting a stale ANALYZE of a since-grown table
    // under-estimate a huge join side below the broadcast threshold
    assert(!stamped(spark.sql("SELECT * FROM cbo_guards")),
      "stats were injected with cost-based planning disabled")
    withConf("spark.sql.cbo.enabled" -> "true") {
      assert(stamped(spark.sql("SELECT * FROM cbo_guards")),
        "stats missing under CBO on a single-relation snapshot")
      // a merge-on-read DELETE makes the snapshot a multi-relation
      // plan (tombstone anti-join sidecars). Sidecars sit under the
      // SUBTRAHEND side of a LeftAnti join — they subtract rows, they
      // don't contribute them — so they stay UNstamped, while the
      // table statistics APPORTION across the data relations by file
      // bytes: the counts must never multiply (a full stamp on each
      // relation would), and the bulk must land on the data dir (a
      // one-row delete must not de-CBO the table until REORG).
      TxLog(spark, loc).deleteWhere("id % 10 = 0")
      spark.sql("ANALYZE TABLE cbo_guards COMPUTE STATISTICS FOR COLUMNS id")
      val mor = spark.sql("SELECT * FROM cbo_guards")
      val rels = mor.queryExecution.optimizedPlan.collect {
        case lr: LogicalRelation => lr }
      assert(rels.size > 1, "expected a multi-relation MoR snapshot plan")
      val stampedCounts = mor.queryExecution.optimizedPlan.collect {
        case lr: LogicalRelation if lr.catalogTable.isDefined =>
          lr.catalogTable.get.stats.get.rowCount.get }
      assert(stampedCounts.nonEmpty,
        "a live deletion vector de-CBO'd the table (no stamped relation)")
      assert(stampedCounts.sum <= BigInt(450),
        s"apportioned rowCounts exceed the table total: $stampedCounts")
      assert(stampedCounts.max >= BigInt(300),
        s"the data dir did not receive the bulk of the rows: $stampedCounts")
      // the sidecar (under the anti-join's right side) is never stamped
      val sidecarStamped = mor.queryExecution.optimizedPlan.collect {
        case j: org.apache.spark.sql.catalyst.plans.logical.Join
            if j.joinType == org.apache.spark.sql.catalyst.plans.LeftAnti =>
          j.right.collect {
            case lr: LogicalRelation if lr.catalogTable.isDefined => lr }
      }.flatten
      assert(sidecarStamped.isEmpty, "tombstone sidecar got table stats")
      assert(mor.count() === 450)
    }
    TxLogSql.unregister("cbo_guards")
  }

  test("metadata caches purge on same-root recreate: no stale instants or properties") {
    import graft.pipeline.TxLog
    val loc = tmpDir("cbo_recreate")
    val t0 = TxLog(spark, loc)
    import spark.implicits._
    t0.overwrite(Seq((1L, "old")).toDF("id", "v"))
    t0.setProperties(Seq(TxLog.IctProp -> "true", "owner" -> "old"))
    t0.append(Seq((2L, "old2")).toDF("id", "v"))
    val oldInstant = t0.commitInstant(2L) // cached (recorded ICT)
    val oldProps = t0.properties() // cached
    assert(oldProps.toMap.apply("owner") === "old")
    // delete and RE-CREATE at the same root, same process — the new
    // incarnation's commits must purge the old one's cached metadata
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(loc))
    val t1 = TxLog(spark, loc)
    t1.overwrite(Seq((1L, "new")).toDF("id", "v"))
    t1.setProperties(Seq(TxLog.IctProp -> "true", "owner" -> "new"))
    t1.append(Seq((2L, "new2")).toDF("id", "v"))
    assert(t1.properties().toMap.apply("owner") === "new",
      "recreated table served the dead incarnation's cached properties")
    // the instant must come from the NEW manifest on disk, not the
    // dead incarnation's cache entry
    val recorded = java.nio.file.Files.readString(java.nio.file.Paths.get(
        s"$loc/_txlog/00000002.json")).linesIterator
      .find(_.startsWith("#commitTs=")).get.stripPrefix("#commitTs=").toLong
    assert(t1.commitInstant(2L) === recorded,
      "recreated table served the dead incarnation's cached instant")
    // and time travel resolves on the NEW clock
    assert(t1.versionAsOf(recorded) === 2L)
    assert(oldInstant > 0L) // silence unused warning; old value was read pre-delete
  }
}

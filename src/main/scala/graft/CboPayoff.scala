package graft

import org.apache.spark.sql.SparkSession

/** End-to-end CBO payoff measurement at bench fidelity (round-15
  * verdict item 7): the Q9 profit shape (fact ⋈ filtered part ⋈
  * supplier ⋈ date-filtered orders ⋈ nation, grouped by nation ×
  * year) over graft TxLog tables at the target SF, run under
  * identical confs in three stats conditions:
  *
  *   - `no_stats`   — tables never ANALYZEd (planner sees file bytes)
  *   - `analyzed`   — ANALYZE … FOR ALL COLUMNS (rowCount/ndv/bounds
  *                    AND the 32-bin equi-height histograms, numeric +
  *                    DATE/TIMESTAMP as of round 15)
  *   - `no_hist`    — identical stats minus every histogram property
  *                    (the UNSET counterfactual, isolating what the
  *                    histograms add over bounds at full fidelity)
  *
  * The discriminating predicate is a RANGE over a SKEWED date: the
  * harness's orders table packs 98% of orders into 1995 (deterministic
  * o_orderkey-derived dates) with the remaining 2% spread to 2001 —
  * the date-partitioned-gold shape the engine's real tables have —
  * and Q9 restricts to the sparse 1997+ tail. The driver's synthetic
  * orders are date-UNIFORM, where an equi-height histogram prices
  * nothing the min/max bounds don't already (the first cut of this
  * harness measured exactly that: three identical plans); the skewed
  * build is what separates the three conditions. Measured split at
  * sf1 (tools/cbo_payoff_r15_sf1.txt): `no_stats` sees file bytes
  * (orders sort-merged), `no_hist` interpolates the range UNIFORMLY
  * over [min,max] (≈70% of orders — sort-merge AND a worse
  * CBO-chosen join order, the confidently-wrong case), `analyzed`
  * prices the tail from the histogram (≈2% — broadcasts the filtered
  * orders side, BroadcastHashJoin ×4).
  *
  * Conditions interleave round-robin (3 reps each) so JIT/page-cache
  * warming cancels; the report is per-condition medians plus a plan
  * digest (join operator counts + chosen join ORDER) so a wall-time
  * delta is traceable to a plan change, not noise. Broadcast
  * threshold is pinned low enough that the filtered sides must EARN
  * a broadcast through statistics — the 100 TB posture, where file
  * sizes alone would sort-merge everything. Plan and execution time
  * report separately, and the whole matrix runs under BOTH AQE
  * settings — see the axis comment in the loop: with AQE on, runtime
  * replanning converges mis-estimated broadcast decisions, so the
  * histograms' irreducible value is the decisions that exist before
  * any exchange does (join order) plus planning determinism; with
  * AQE off the static misestimate runs as chosen (measured 5×
  * execution penalty for bounds-only stats vs histograms).
  *
  * `runMain graft.CboPayoff [sfDir]` (default target/sf1 — run
  * ScaleUp first). One-time table builds land under target/tmp.
  */
object CboPayoff {

  /** Join-strategy counts + scan order from a rendered physical plan.
    * Scan order = the join ORDER the optimizer chose — the part of
    * the decision AQE can never revisit (it replans strategies around
    * existing exchanges, it does not re-tree the joins). TxLog scans
    * render as LOCATION paths, not catalog names, so the order match
    * is the `<table>_(ns|an|nh)` directory suffix ANCHORED to this
    * harness's own `cbo_payoff_<hex-digest>/` root — an unanchored suffix
    * match could bind any plan token ending in _ns/_an/_nh (column
    * aliases, unrelated paths) — and it fails loudly when nothing
    * matches rather than printing an empty order (the
    * silent-[]-baseline bug this comparison exists to avoid).
    * Hoisted out of main so the regex has a regression spec. */
  private[graft] def digestOfPlanString(p: String): String = {
    val joins = "(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin)".r
      .findAllIn(p).toSeq
    val counts = joins.groupBy(identity).map { case (k, v) => s"$k x${v.size}" }
      .toSeq.sorted.mkString(", ")
    val order = "cbo_payoff_[0-9a-f]+/([a-z]+)_(?:ns|an|nh)\\b".r.findAllMatchIn(p)
      .map(_.group(1)).toSeq.distinct.mkString("->")
    require(order.nonEmpty,
      s"plan digest matched no cbo_payoff table scans:\n${p.take(2000)}")
    s"$counts  [$order]"
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/repo/target/sf1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      // the digest greps scan locations out of executedPlan.toString —
      // default field truncation can silently drop them from wide plans
      .config("spark.sql.debug.maxToStringFields", "4000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import graft.sql.TxLogSql

    // md5-digest root (the clf_weights scheme): hashCode.abs is
    // negative for Int.MinValue, which the digest regex's anchored
    // `cbo_payoff_\d+/` would then never match (r17 ADVICE — the same
    // .abs-of-MinValue pitfall the clf_weights root fixed)
    val sfDigest = java.security.MessageDigest.getInstance("MD5")
      .digest(sfDir.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(12)
    val root = s"${graft.ops.SessionScopedCache.scratchRoot}/cbo_payoff_$sfDigest"
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
    // three incarnations of each table, one per stats condition, so
    // the timed loop never mutates statistics: *_ns (never analyzed),
    // *_an (fully ANALYZEd), *_nh (ANALYZEd once, histogram
    // properties UNSET once). The first cut used two incarnations and
    // re-ANALYZEd inside the loop to restore UNSET histograms — 3
    // full-corpus ANALYZE passes per rep dominated the harness (30 min
    // at sf1) without adding information.
    val tables = Seq("lineitem", "orders", "part", "supplier", "nation")
    // orders: deterministic date SKEW (98% packed into 1995, 2% keep
    // the original 1995-2001 spread) — see the scaladoc; every other
    // table ships verbatim. Identical SELECT for _ns and _an so the
    // two incarnations are row-identical.
    def sourceSql(t: String): String =
      if (t == "orders")
        s"""SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
              CASE WHEN o_orderkey % 50 = 0 THEN CAST(o_orderdate AS DATE)
                   ELSE DATE_ADD(DATE'1995-01-01',
                                 CAST(o_orderkey % 365 AS INT)) END AS o_orderdate
            FROM parquet.`$sfDir/$t.parquet`"""
      else s"SELECT * FROM parquet.`$sfDir/$t.parquet`"
    for (t <- tables; suf <- Seq("ns", "an", "nh")) {
      val name = s"cbo9_${t}_$suf"
      spark.sql(s"DROP TABLE IF EXISTS $name")
      spark.sql(s"""CREATE TABLE $name USING graft LOCATION '$root/${t}_$suf'
        AS ${sourceSql(t)}""")
    }
    for (t <- tables; suf <- Seq("an", "nh"))
      spark.sql(s"ANALYZE TABLE cbo9_${t}_$suf COMPUTE STATISTICS FOR ALL COLUMNS")

    def q9(suf: String): String = s"""
      SELECT n_name AS nation, year(o_orderdate) AS o_year,
             CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (100 - CAST(l_discount * 100 AS INT)) / 100) AS DOUBLE) AS profit
      FROM cbo9_lineitem_$suf
      JOIN cbo9_part_$suf     ON p_partkey = l_partkey
      JOIN cbo9_supplier_$suf ON s_suppkey = l_suppkey
      JOIN cbo9_orders_$suf   ON o_orderkey = l_orderkey
      JOIN cbo9_nation_$suf   ON s_nationkey = n_nationkey
      WHERE p_name LIKE '%green%'
        AND o_orderdate >= DATE '1997-01-01'
      GROUP BY n_name, year(o_orderdate)"""

    tables.foreach { t =>
      val hists = graft.pipeline.TxLog(spark, s"$root/${t}_nh").properties()
        .map(_._1).filter(k => k.startsWith("graft.stats.col.") && k.endsWith(".hist"))
      if (hists.nonEmpty)
        spark.sql(s"ALTER TABLE cbo9_${t}_nh UNSET TBLPROPERTIES (" +
          hists.map(k => s"'$k'").mkString(", ") + ")")
    }

    // digest of an ALREADY-EXECUTED query's plan: under AQE the
    // executedPlan is the post-replanning FINAL plan only after
    // collect() — digesting before execution would show the static
    // initial plan and could not exhibit the runtime strategy changes
    // the exec deltas are attributed to
    def planDigest(df: org.apache.spark.sql.DataFrame): String =
      digestOfPlanString(df.queryExecution.executedPlan.toString)

    val conf = Seq(
      "spark.sql.cbo.enabled" -> "true",
      "spark.sql.cbo.joinReorder.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> (4 * 1024 * 1024).toString)

    // plan and execution timed SEPARATELY: CBO's cost is paid at
    // planning (stats/histogram decode, join reorder) and is
    // constant-per-query, while its payoff is paid at execution and
    // scales with data — folding them into one number at a small SF
    // lets a ~0.1 s planning overhead mask an execution win that is
    // the entire point at the 100 TB design scale
    def timed(sql: String): (Double, Double) = timedWithDf(sql)._1

    // the df is returned AFTER collect so callers can digest the
    // final (post-AQE) plan of the run they just timed
    def timedWithDf(sql: String): ((Double, Double), org.apache.spark.sql.DataFrame) = {
      val t0 = System.nanoTime()
      val df = spark.sql(sql)
      df.queryExecution.executedPlan
      val t1 = System.nanoTime()
      df.collect()
      val t2 = System.nanoTime()
      (((t1 - t0) / 1e9, (t2 - t1) / 1e9), df)
    }

    graft.ops.Q.withConf(spark, conf: _*) {
      // warm all three table sets once, untimed
      timed(q9("ns")); timed(q9("an")); timed(q9("nh"))
      // second axis: AQE on/off. With AQE ON, the runtime replans the
      // statically-chosen sort-merge into a broadcast join the moment
      // the filtered side's exchange materializes (it sees the true
      // bytes), so mis-estimated BROADCAST decisions converge at
      // execution and the histogram's measured value is planning-side.
      // With AQE OFF — every decision AQE cannot rescue in a real
      // plan, i.e. anything decided before an exchange exists (join
      // ORDER, pre-shuffle strategy) — the static plan runs as
      // chosen, exposing the execution cost the histogram avoids.
      val conds = Seq("no_stats" -> "ns", "analyzed" -> "an", "no_hist" -> "nh")
      val aqes = Seq("aqe_on" -> "true", "aqe_off" -> "false")
      val times = scala.collection.mutable.Map.empty[String, List[(Double, Double)]]
        .withDefaultValue(Nil)
      val digests = scala.collection.mutable.Map.empty[String, String]
      (1 to 3).foreach { _ =>
        for ((aqe, flag) <- aqes; (cond, suf) <- conds) {
          val key = s"$cond/$aqe"
          graft.ops.Q.withConf(spark, "spark.sql.adaptive.enabled" -> flag) {
            val (t, df) = timedWithDf(q9(suf))
            times(key) = t :: times(key)
            digests(key) = planDigest(df)
          }
        }
      }
      for ((aqe, _) <- aqes; (cond, _) <- conds) {
        val key = s"$cond/$aqe"
        def med(xs: Seq[Double]): Double = xs.sorted.apply(xs.size / 2)
        val (plans, execs) = times(key).unzip
        println(f"$key%-18s exec_median=${med(execs)}%6.2f s  plan_median=${med(plans)}%5.2f s" +
          f"  execs=${times(key).reverse.map(t => f"${t._2}%.2f").mkString("/")}" +
          f"  plan: ${digests(key)}")
      }
    }
    tables.foreach { t =>
      Seq("ns", "an", "nh").foreach(s => TxLogSql.unregister(s"cbo9_${t}_$s"))
    }
    spark.stop()
  }
}

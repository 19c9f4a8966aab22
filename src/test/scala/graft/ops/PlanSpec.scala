package graft.ops

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** Plan-shape regression tests: the physical plans the engine promises
  * (README "Design for scale") are asserted, not assumed — pushdown
  * reaching the scan, broadcast dim joins, partial aggregation, and
  * shuffle-free bucketed joins.
  */
class PlanSpec extends SparkTestBase {

  private def planOf(name: String): String =
    graft.SparkEntry.queries(name)(spark, sf("0.001"))
      .queryExecution.executedPlan.toString

  // withConf (SparkTestBase): the TPC-H shape pins steer broadcast
  // selection through the STATISTICS path — the queries carry no hints
  // on sf-growing sides, so plan shape at test scale is a function of
  // the threshold, not of a hard-coded broadcast() that would OOM at
  // the 100 TB design point.

  test("watermark filter is pushed into the parquet scan") {
    val p = planOf("s3_incremental_watermark")
    assert(p.contains("PushedFilters") && p.contains("o_orderdate"), p.take(800))
  }

  test("column pruning: pricing summary reads only needed columns") {
    val p = planOf("agg_pricing_summary")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("l_comment") && !readSchema.contains("l_orderkey"),
      readSchema)
    assert(p.contains("partial_sum"), "no partial (map-side) aggregation")
  }

  test("fact-style multiway join broadcasts every dimension side") {
    val p = planOf("r11_multiway_join")
    assert("BroadcastHashJoin".r.findAllIn(p).size === 3, p.take(800))
    assert(!p.contains("SortMergeJoin"))
  }

  test("bucketed tables join without any shuffle exchange") {
    spark.sql("DROP TABLE IF EXISTS b_lineitem")
    spark.sql("DROP TABLE IF EXISTS b_orders")
    // a previous JVM's managed-table dirs survive DROP in a new session
    Seq("b_lineitem", "b_orders").foreach(t =>
      org.apache.commons.io.FileUtils.deleteDirectory(
        new java.io.File(s"/root/repo/spark-warehouse/$t")))
    val li = spark.read.parquet(sf("0.001") + "/lineitem.parquet")
      .select(col("l_orderkey"), col("l_quantity"))
    val o = spark.read.parquet(sf("0.001") + "/orders.parquet")
      .select(col("o_orderkey"), col("o_totalprice"))
    Scale.writeBucketed(li, "b_lineitem", "l_orderkey", 8)
    Scale.writeBucketed(o, "b_orders", "o_orderkey", 8)
    val joined = spark.table("b_lineitem")
      .join(spark.table("b_orders"),
        col("l_orderkey") === col("o_orderkey"))
      // disable broadcast so the bucketing (not size) must eliminate
      // the shuffle
      .hint("merge")
    val p = joined.queryExecution.executedPlan.toString
    assert(!p.contains("ShuffleExchange") && !p.contains("Exchange hashpartitioning"),
      p.take(1200))
    assert(joined.count() === li.count())
  }

  test("salted join keeps the salt in the join key") {
    val p = planOf("join_salted_skew")
    assert(p.contains("__salt"), p.take(800))
  }

  test("token-budget prefix sum: arithmetic buckets, single-partition window only for offsets") {
    val p = planOf("pack_token_budget")
    // no range repartition (the bucket is an arithmetic column); the
    // document-level running sum is partitioned by that bucket — the
    // remaining SinglePartition exchanges carry only 1-row aggregates
    // and the numParts-row offsets frame
    assert(!p.toLowerCase.contains("rangepartitioning"), p.take(1200))
    assert(p.contains("hashpartitioning(pid"), p.take(1200))
  }

  test("tfidf top-k ranking uses the WindowGroupLimit pushdown") {
    val p = planOf("text_tfidf_topk")
    assert(p.contains("WindowGroupLimit"), p.take(800))
  }

  test("footer aggregation: the v2 parquet scan answers MIN/MAX/COUNT from metadata") {
    // parquet footers already carry per-row-group min/max/count — with
    // aggregate pushdown the scan never decodes a single data page. At
    // 100 TB that turns a table-wide MIN/MAX/COUNT into a
    // footer-listing job. (Proof lives here, not in a declared query:
    // the v2 read path + pushdown conf are session-global, and flipping
    // them inside a query would leak into every other plan.)
    withConf(
      "spark.sql.parquet.aggregatePushdown" -> "true",
      "spark.sql.sources.useV1SourceList" -> "") {
      val df = spark.read.parquet(sf("0.001") + "/lineitem.parquet")
        .agg(min(col("l_orderkey")).as("lo"), max(col("l_orderkey")).as("hi"),
          count(col("l_orderkey")).as("n"))
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("PushedAggregation: [MIN(l_orderkey)"), p.take(1500))
      // and the metadata answer equals the data answer
      val viaFooter = df.collect().head
      val viaData = spark.read.parquet(sf("0.001") + "/lineitem.parquet")
        .agg(min(col("l_orderkey")), max(col("l_orderkey")), count(col("l_orderkey")))
        .collect().head
      assert(viaFooter.toSeq === viaData.toSeq)
    }
  }

  test("NN-graph: bucket equi-join (no NLJ), per-vector top-3 via WindowGroupLimit") {
    // the declared queries consume the family-shared checkpointed
    // 3-NN frame (a checkpoint scan shows neither operator), so the
    // pin targets the BUILD plan they all share
    val e = Tables.load(spark, sf("0.001"), "embeddings")
    val p = VectorQueries.nnTop3Build(spark, e, VectorQueries.srpBits(e.count()))
      .queryExecution.executedPlan.toString
    // the candidate set is the LSH-bucket equi-join — all-pairs would
    // surface as a nested-loop/cartesian here
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      p.take(1200))
    // rank ≤ 3 executes as the pushed-down group limit, not a full
    // per-vector sort of every candidate
    assert(p.contains("WindowGroupLimit"), p.take(1200))
  }

  test("multi-table LSH: every candidate stage is a keyed join — no NLJ, no cartesian") {
    val p = planOf("sim_lsh_multitable")
    // four bucket equi-joins, a pair-keyed distinct, two vec_id
    // re-attach joins — an all-pairs fallback anywhere surfaces here
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      p.take(1200))
  }

  test("cosine calibrator: per-label sample cap executes as a WindowGroupLimit, no cartesian") {
    val p = planOf("dedup_embedding_cosine")
    // the md5-selected per-label sample (row_number ≤ cap) must run as
    // the pushed-down group limit — a cap-sized heap per input
    // partition — not a full per-label sort in one task
    assert(p.contains("WindowGroupLimit"), p.take(1200))
    // and the pair stage stays a label equi-join over the capped
    // sample, never an all-pairs cartesian
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      p.take(1200))
  }

  test("cluster-balance curation: budget broadcasts; survivor draw is a bounded heap, no window sort") {
    val p = planOf("curate_cluster_balance")
    // the nlist-row budget side must broadcast (joining it shuffled
    // would re-shuffle the whole corpus for a metadata-sized frame)
    assert(p.contains("BroadcastHashJoin"), p.take(1200))
    // the survivor draw's cap is VARIABLE (k_c = isqrt(n_c)), which
    // forecloses the WindowGroupLimit rewrite — a window formulation
    // here means one full linear sort per cell (nlist=64 single tasks
    // at any corpus size). The draw must run as the bounded-heap
    // aggregate: no window machinery anywhere, an ObjectHashAggregate
    // hosting bottomk_ids with a map-side partial pass.
    assert(!p.contains("Window"), s"survivor draw fell back to a window sort:\n${p.take(1500)}")
    assert(p.contains("ObjectHashAggregate") && p.contains("bottomk_ids"),
      s"bounded-heap survivor draw missing:\n${p.take(1500)}")
    assert(p.contains("partial_bottomk_ids"),
      s"no map-side partial heap pass:\n${p.take(1500)}")
  }

  test("repeated-span audit: the run-detection window partitions by document") {
    val p = planOf("text_repeated_spans")
    // gaps-and-islands must stay inside the doc — a partition-less
    // window here would funnel the whole corpus through one task
    assert(!p.linesIterator.exists(l =>
      l.contains("Window") && l.contains("partitionBy=[]")), p.take(1200))
    assert(p.contains("doc_id"), p.take(400))
  }

  test("heap top-k aggregates map-side with no window sort") {
    val p = planOf("agg_topk_heap")
    // the custom TypedImperativeAggregate plans as ObjectHashAggregate
    // with a partial pass — and there must be NO window/sort machinery
    assert(p.contains("ObjectHashAggregate"), p.take(800))
    assert(p.contains("partial_topk_agg"), p.take(800))
    assert(!p.contains("Window"), p.take(800))
  }

  test("vocab OOV join broadcasts the vocabulary side") {
    val p = planOf("text_vocab_oov")
    assert(p.contains("BroadcastHashJoin"), p.take(800))
    assert(!p.contains("SortMergeJoin"), p.take(800))
  }

  test("point lookup on a partitioned gold table prunes partitions at the scan") {
    val gold = s"$scratchRoot/planspec_gold/hourly"
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(gold).getParentFile)
    graft.streaming.EventStreams.hourlyMergeToGold(spark, sf("0.001"), gold)
    val lookup = spark.read.parquet(gold)
      .filter(col("event_date") === lit(java.sql.Date.valueOf("2024-01-03")))
    val p = lookup.queryExecution.executedPlan.toString
    // the predicate must land in PartitionFilters (dir-level pruning),
    // not as a post-scan Filter over a full read
    val pf = p.linesIterator.find(_.contains("PartitionFilters")).getOrElse("")
    assert(pf.contains("event_date"), p.take(1200))
    // and the pruned scan must read strictly fewer files than the table
    val all = spark.read.parquet(gold)
    def files(df: org.apache.spark.sql.DataFrame): Long =
      df.queryExecution.executedPlan.collectLeaves().map {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.selectedPartitions.totalNumberOfFiles
        case _ => 0L
      }.sum
    assert(files(lookup) > 0 && files(lookup) < files(all),
      s"pruned=${files(lookup)} total=${files(all)}")
  }

  test("PQ ADC scan joins the broadcast distance table — never a shuffled or nested-loop join") {
    val p = planOf("sim_pq_adc")
    assert(p.contains("BroadcastHashJoin"), p.take(800))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "ADC recombination fell out of the equi-join shape")
  }

  test("IVF-PQ: the ADC probe is a broadcast EQUI-join on (cell, s, cent_id)") {
    val p = planOf("sim_ivfpq_adc")
    // the code scan joins the broadcast distance table on the full
    // (cell, subspace, centroid) key — candidates outside probed cells
    // never materialize. The coarse assignment's centroid crossJoin is
    // a deliberate bounded broadcast (nlist rows), so BNLJ is not
    // globally forbidden here — the pin is on the ADC join's shape.
    assert(p.contains("BroadcastHashJoin [cell"), p.take(1200))
    assert(!p.contains("CartesianProduct"))
  }

  test("SQ8 re-rank: code scan joins the broadcast query side, windows keyed by query") {
    val p = planOf("sim_sq8_rerank")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      p.take(800))
    assert(p.contains("hashpartitioning(query_id"), p.take(1200))
  }

  test("DSIR weights: ≤256-row weight table broadcasts; selection is a TakeOrdered heap, not a global sort") {
    val p = planOf("curate_dsir_weights")
    assert(p.contains("BroadcastHashJoin"), p.take(800))
    assert(p.contains("TakeOrderedAndProject"), p.take(1200))
    assert(!p.contains("GlobalLimit"), "top-25 must be the distributed heap")
  }

  test("BM25: the 3-term query frame broadcasts; selection is a TakeOrdered heap") {
    val p = planOf("text_bm25_topk")
    assert(p.contains("BroadcastHashJoin"), p.take(800))
    assert(p.contains("TakeOrderedAndProject"), p.take(1200))
  }

  test("session overlap: the pair space is an equi-join on the hour bucket, never a cross product") {
    val p = planOf("events_session_overlap")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      p.take(1200))
    assert(p.contains("hashpartitioning(bucket") || p.contains("[bucket"), p.take(1200))
  }

  test("last-touch attribution stays an equi-join on user (band predicate as residual)") {
    val p = planOf("events_last_touch")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      p.take(1200))
  }

  test("paragraph dedup: boilerplate join is keyed, reassembly window partitions by doc") {
    val p = planOf("dedup_paragraphs")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    // the WindowExec tripwire already guarantees no partition-less
    // window; here pin that the final aggregation is keyed by doc_id
    assert(p.contains("hashpartitioning(doc_id") ||
      p.contains("hashpartitioning(chunk"), p.take(1200))
  }

  test("context-window packing: arithmetic buckets, offsets broadcast, fan-out stays narrow") {
    val p = planOf("pack_context_windows")
    // the exclusive-prefix offsets join ships as a broadcast (a
    // numParts-row frame), never a shuffled join; the doc→window
    // explode is a Generate over the row, no extra exchange
    assert(p.contains("BroadcastHashJoin"), p.take(1200))
    assert(!p.contains("SortMergeJoin"))
    assert(p.contains("Generate explode"), "sequence fan-out missing")
  }

  test("quarantine tagging is one narrow codegen'd pass (no UDF, no extra exchange)") {
    val p = planOf("dq_quarantine_split")
    assert(!p.contains("BatchEvalPython") && !p.contains("ScalaUDF"), p.take(800))
    // exactly the one aggregation exchange (partial + final)
    assert("Exchange hashpartitioning".r.findAllIn(p).size === 1, p.take(1200))
  }

  test("Q3 shape: heap top-10 (TakeOrdered), stats-picked broadcasts, pushed date filters") {
    // no hints in the query — the broadcasts must come from statistics
    // under the explicit (default-sized) threshold
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "10MB") {
      val p = planOf("q3_shipping_priority")
      assert(p.contains("TakeOrderedAndProject"), "global sort-limit not heap-merged")
      assert("BroadcastHashJoin".r.findAllIn(p).size === 2, p.take(1200))
      assert(!p.contains("SortMergeJoin"))
      assert(p.contains("PushedFilters") && p.contains("l_shipdate"), "ship-date not pushed")
    }
  }

  test("Q6 shape: every filter reaches the parquet scan, aggregation is partial") {
    val p = planOf("q6_forecast_revenue")
    val pushed = p.linesIterator.find(_.contains("PushedFilters")).getOrElse("")
    assert(pushed.contains("l_shipdate") && pushed.contains("l_discount") &&
      pushed.contains("l_quantity"), pushed)
    assert(p.contains("partial_sum"), "no map-side aggregation")
  }

  test("Q5 shape: the fact side joins every dimension via broadcast, no shuffle joins") {
    // only region/nation are hinted (bounded frames); supplier/orders/
    // customer must broadcast via statistics at this scale
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "10MB") {
      val p = planOf("q5_region_volume")
      assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"), p.take(1200))
      assert("BroadcastHashJoin".r.findAllIn(p).size >= 3, p.take(1200))
    }
  }

  test("Q14 shape: part broadcasts via statistics (no hint), filters pushed") {
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "10MB") {
      val p = planOf("q14_promo_share")
      assert(p.contains("BroadcastHashJoin"), p.take(1200))
      assert(!p.contains("SortMergeJoin"), p.take(1200))
      assert(p.contains("PushedFilters") && p.contains("l_shipdate"), "ship-date not pushed")
    }
  }

  test("star join: the dim's filter prunes fact partitions DYNAMICALLY (DPP)") {
    // the dominant 100 TB scan shape — the partition predicate arrives
    // through a joined dim, not as a literal on the fact. AQE off so
    // the executed tree is traversable for scan metrics; DPP itself is
    // orthogonal to AQE.
    withConf("spark.sql.adaptive.enabled" -> "false") {
      val df = graft.SparkEntry.queries("join_dpp_star")(spark, sf("0.001"))
      df.collect()
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("dynamicpruningexpression"),
        s"no DPP filter in the fact scan:\n${p.take(1500)}")
      // and the runtime subquery actually dropped files: the scan's
      // dynamic numFiles must be strictly below its static file count
      val scan = df.queryExecution.executedPlan.collectLeaves().collectFirst {
        case f: org.apache.spark.sql.execution.FileSourceScanExec
            if f.metrics.contains("staticFilesNum") => f
      }.getOrElse(fail("no dynamically-pruned FileSourceScan in the plan"))
      val dynamic = scan.metrics("numFiles").value
      val static0 = scan.metrics("staticFilesNum").value
      assert(dynamic > 0 && dynamic < static0, s"dynamic=$dynamic static=$static0")
    }
  }

  test("runtime bloom join: the optimizer injects the might_contain probe at scale thresholds") {
    // engine-native sibling of the manual join_bloom_prefilter: at the
    // default thresholds the rule arms only for 10 GB+ application-side
    // scans, so the pin scales the thresholds down (and disables
    // broadcast, the shape the rule targets) instead of hinting the
    // query
    val want = graft.SparkEntry.queries("join_runtime_bloom")(spark, sf("0.001"))
      .collect().map(_.toString).sorted.toSeq
    withConf(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1") {
      val df = graft.SparkEntry.queries("join_runtime_bloom")(spark, sf("0.001"))
      val opt = df.queryExecution.optimizedPlan.toString
      assert(opt.contains("might_contain"),
        s"runtime bloom not injected:\n${opt.take(1500)}")
      assert(df.collect().map(_.toString).sorted.toSeq === want,
        "bloom-armed plan changed results")
    }
    // the manual variant carries the same Catalyst probe expression
    // (BloomFilterMightContain) built explicitly — the pattern the
    // optimizer rule injects, available for shapes below its radar
    assert(planOf("join_bloom_prefilter").contains("might_contain"))
  }

  test("temperature mixture: metadata-size frames broadcast, corpus scanned once") {
    val p = planOf("curate_temperature_mixture")
    // the 1-row totals frame rides a broadcast (nested-loop on a
    // single row is the broadcast cross join — fine); what must NOT
    // appear is a shuffled join or an unbroadcast cartesian
    assert(!p.contains("SortMergeJoin"), p.take(1200))
    assert(!p.contains("CartesianProduct"), p.take(1200))
  }

  test("Q4 shape: EXISTS stays a LeftSemi probe with the correlated inequality in the join") {
    val p = planOf("q4_priority_exists")
    // a semi join decides existence per probe row — orders rows are
    // never duplicated by multiple matching lineitems
    assert(p.contains("LeftSemi"), p.take(1200))
    // and the date slice reaches the orders scan
    assert(p.contains("PushedFilters") && p.contains("o_orderdate"), p.take(1200))
  }

  test("Q19 shape: the factored brand disjunct is pushed to the part scan") {
    val p = planOf("q19_disjunctive_bands")
    val partScan = p.linesIterator
      .find(l => l.contains("PushedFilters") && l.contains("p_brand"))
      .getOrElse("")
    // In(p_brand, [Brand#1,Brand#2,Brand#3]) at the scan: 3 brands
    // decompress instead of the whole part table
    assert(partScan.contains("In(p_brand"), p.take(2000))
  }

  test("Q21 shape: the grouped rewrite scans the fact exactly once") {
    val p = planOf("q21_waiting_suppliers")
    val factScans = p.linesIterator.count(_.contains("lineitem.parquet"))
    assert(factScans === 1,
      s"expected ONE lineitem scan, found $factScans — the exists/not-exists " +
        "self-join crept back in:\n" + p.take(1500))
  }

  test("Q17 shape: the correlated-avg rewrite scans the fact exactly once") {
    val p = planOf("q17_small_quantity")
    val factScans = p.linesIterator.count(_.contains("lineitem.parquet"))
    assert(factScans === 1,
      s"expected ONE lineitem scan, found $factScans — the per-part stats " +
        "pass split off again:\n" + p.take(1500))
  }

  test("Q2 shape: the correlated best-supplier subquery decorrelates into ONE grouped max") {
    // the query's reason to exist: written as the spec writes it (a
    // correlated scalar subquery in the WHERE), executed as Catalyst
    // must rewrite it — one aggregate over the pair set joined back,
    // never a per-outer-row re-execution
    val df = graft.SparkEntry.queries("sql_correlated_best_supplier")(spark, sf("0.001"))
    val p = df.queryExecution.executedPlan.toString
    // the rewrite needs the pair set exactly twice: the outer join arm
    // and the grouped-max arm; |part| re-executions would multiply this
    val pairScans = p.linesIterator.count(_.contains("lineitem.parquet"))
    assert(pairScans === 2,
      s"expected TWO lineitem scans (outer + grouped max), found $pairScans:\n" +
        p.take(1500))
    // exactly one partial max — a single aggregate computes every
    // part's best balance in one pass
    assert("partial_max".r.findAllIn(p).size === 1, p.take(1500))
    // and no surviving subquery execution node
    assert(!p.contains("ScalarSubquery"), p.take(1500))
  }

  test("Q9 shape: part filter pushed, bounded dims broadcast, fact read for data + pairs only") {
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "10MB") {
      val p = planOf("q9_product_profit")
      // the selective name filter reaches the part scan — at 100 TB the
      // join tree starts from the pruned part slice, not the whole table
      val partScan = p.linesIterator
        .find(l => l.contains("PushedFilters") && l.contains("p_name"))
        .getOrElse("")
      assert(partScan.contains("StringContains"), p.take(2000))
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        p.take(1500))
      // the fact feeds the plan exactly twice: the data pass and the
      // pair-set (partsupp recast) derivation
      val factScans = p.linesIterator.count(_.contains("lineitem.parquet"))
      assert(factScans === 2,
        s"expected TWO lineitem scans (fact + pair set), found $factScans:\n" +
          p.take(1500))
    }
  }

  test("Q12 shape: ONE fact pass, ship-date slice pushed to the scan") {
    val p = planOf("q12_shipmode_priority")
    val factScans = p.linesIterator.count(_.contains("lineitem.parquet"))
    assert(factScans === 1,
      s"expected ONE lineitem scan, found $factScans:\n" + p.take(1500))
    val pushed = p.linesIterator
      .find(l => l.contains("PushedFilters") && l.contains("l_shipdate"))
      .getOrElse("")
    assert(pushed.nonEmpty, "ship-date year slice not pushed:\n" + p.take(1500))
  }

  test("SCD2 point-in-time: a KEYED join with the interval as residual, never NL/cartesian") {
    val p = planOf("scd2_point_in_time")
    // the validity-interval test must ride a c_custkey equi-join as a
    // residual predicate — a nested-loop/cartesian interval join would
    // be quadratic at 100 TB
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      p.take(1500))
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin"),
      p.take(1500))
  }

  test("brute-force top-k ranks through the bounded heap — no WindowExec in either plan") {
    // r6 verdict: row_number().over(partitionBy(query_id)) put each
    // query's ENTIRE corpus-sized candidate set through one task's
    // sort. Both retrieval baselines must now rank via TopKPairAgg
    // (O(k) per-query state, map-side partials) — assert the window
    // operator is gone and an ObjectHashAggregate (the
    // TypedImperativeAggregate host) is present.
    Seq("sim_topk_bruteforce", "mm_embed_topk").foreach { q =>
      val p = planOf(q)
      assert(!p.contains("Window"), s"$q still ranks through a window:\n" + p.take(1500))
      assert(p.contains("ObjectHashAggregate") && p.contains("topk_pair_agg"),
        s"$q: bounded-heap aggregate missing:\n" + p.take(1500))
    }
  }

  test("IVF/PQ family ranks through the bounded heap — no WindowExec anywhere in the plans") {
    // r7 verdict: the probed-cell candidate sets grow ~N/nlist (nlist
    // is an index constant), so row_number().over(partitionBy(query_id))
    // was a corpus-proportional single-task sort per query. The whole
    // family — including the nearest-centroid ASSIGNMENT itself (N·nlist
    // candidate rows, previously a per-vector window) — must rank via
    // TopKPairAgg. sim_sq8_rerank's 15-candidate pool cut runs over the
    // full corpus per query and is pinned with the family.
    Seq("sim_ivf_probe", "sim_ivf_multiprobe", "sim_ivf_served",
        "sim_ivf_served_multiprobe", "sim_ivf_served_filtered",
        "sim_pq_adc", "sim_pq_served",
        "sim_ivfpq_adc", "sim_ivfpq_served", "sim_sq8_rerank",
        "dedup_semantic_ivf").foreach { q =>
      val p = planOf(q)
      assert(!p.contains("Window"), s"$q still ranks through a window:\n" + p.take(1500))
      assert(p.contains("topk_pair_agg"),
        s"$q: bounded-heap aggregate missing:\n" + p.take(1500))
    }
  }

  test("served IVF probe reads ONLY the probed cells' subdirs — partition pruning is structural") {
    // The serving claim: a probe touches nProbe/nlist of the index
    // bytes. Assert it on the PLAN — every parquet scan location in
    // sim_ivf_served's postings reads is either a probed
    // `__cluster=<cell>` subdir (candidates) or the quantizer table;
    // no scan opens the postings dir root (which would read all cells).
    val df = graft.SparkEntry.queries("sim_ivf_served")(spark, sf("0.001"))
    val postingsLocs = df.queryExecution.optimizedPlan.collect {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        l.relation match {
          case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            h.location.rootPaths.map(_.toString)
          case _ => Seq.empty[String]
        }
    }.flatten.filter(p => p.contains("ivf_served") && p.contains("/postings/"))
    assert(postingsLocs.nonEmpty, "no postings scan found in the plan")
    postingsLocs.foreach(l =>
      assert(l.contains("__cluster="),
        s"postings scan not subdir-pruned: $l"))
    // and the probed-cell count is bounded by the query count (≤20
    // distinct cells), far under nlist=64 — the read-set is pruned
    assert(postingsLocs.flatMap(l => "__cluster=[0-9]+".r.findFirstIn(l))
      .distinct.size <= 20)
    // correctness of the served path itself is the oracle gate's job;
    // here pin the ranked rows equal the session-computed probe's
    val servedRows = df.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).sorted
    val sessionRows = graft.SparkEntry.queries("sim_ivf_probe")(spark, sf("0.001"))
      .collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).sorted
    assert(servedRows === sessionRows)
  }

  test("filtered ANN keeps the pruned read-set and applies the predicate before scoring") {
    val df = graft.SparkEntry.queries("sim_ivf_served_filtered")(spark, sf("0.001"))
    // same structural pruning claim as the unfiltered probe: every
    // postings scan opens a probed __cluster subdir, never the root
    val postingsLocs = df.queryExecution.optimizedPlan.collect {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        l.relation match {
          case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            h.location.rootPaths.map(_.toString)
          case _ => Seq.empty[String]
        }
    }.flatten.filter(p => p.contains("ivf_served") && p.contains("/postings/"))
    assert(postingsLocs.nonEmpty, "no postings scan found in the plan")
    postingsLocs.foreach(l =>
      assert(l.contains("__cluster="), s"postings scan not subdir-pruned: $l"))
    // the label predicate must land in the JOIN/filter BEFORE the
    // bounded-heap aggregate — i.e. below topk_pair_agg in the plan —
    // so no cosine is paid (and no top-k slot filled) by a row the
    // predicate drops. Cheap structural proxy: the executed plan keeps
    // the heap aggregate, and the result equals the driver-side
    // filter-then-rank reference below.
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("topk_pair_agg"), p.take(1200))
    val got = df.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).sorted.toSeq
    // driver-side reference: unfiltered served candidates re-derived
    // from the session probe (same assignment), filtered to the
    // query's label, re-ranked within the filtered set
    val e = Tables.load(spark, sf("0.001"), "embeddings")
    val labels = e.select(org.apache.spark.sql.functions.col("vec_id"),
        org.apache.spark.sql.functions.col("label"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    // the unfiltered probe ranks THE SAME candidate set; rebuilding the
    // filtered ranking from its underlying pairs requires the raw pair
    // scores, so reuse the operator's own scored pairs pre-heap: take
    // the unfiltered top-k's invariant instead — every returned
    // neighbor must share the query's label, ranks are 1..k dense per
    // query, and scores are non-increasing per query
    got.groupBy(_._1).foreach { case (q, rows) =>
      val sorted = rows.sortBy(_._3)
      assert(sorted.map(_._3) === (1 to sorted.size), s"ranks not dense for $q")
      assert(sorted.map(_._4) === sorted.map(_._4).sorted.reverse,
        s"scores not non-increasing for $q")
      rows.foreach { case (qid, nid, _, _) =>
        assert(labels(nid) === labels(qid),
          s"neighbor $nid label ${labels(nid)} != query $qid label ${labels(qid)}")
      }
    }
    assert(got.nonEmpty)
  }

  test("served PQ-ADC's corpus scan reads the compressed codes table, never an embedding") {
    // The PQ serving claim: the per-vector read is pqM small codes —
    // the stored codes table physically lacks the embedding column, so
    // no corpus-sized scan in the served plan CAN read floats. Assert
    // it on the plan: every scan under the served-PQ root reads a
    // schema without `embedding`, and the only embedding reads left
    // come from the source table (the 20 query vectors' distance
    // tables).
    val df = graft.SparkEntry.queries("sim_pq_served")(spark, sf("0.001"))
    val servedReads = df.queryExecution.optimizedPlan.collect {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        l.relation match {
          case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation
              if h.location.rootPaths.exists(_.toString.contains("pq_served")) =>
            Seq(h.dataSchema.fieldNames.toSeq)
          case _ => Nil
        }
    }.flatten
    assert(servedReads.nonEmpty, "no served-index scan found in the plan")
    servedReads.foreach(cols =>
      assert(!cols.contains("embedding"),
        s"served-index scan carries raw vectors: $cols"))
    assert(servedReads.exists(_.contains("codes")), "no codes-table scan found")
    // served rows equal the session-computed ADC's (oracle gates both,
    // but pin the equivalence directly too)
    val servedRows = df.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).sorted
    val sessionRows = graft.SparkEntry.queries("sim_pq_adc")(spark, sf("0.001"))
      .collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).sorted
    assert(servedRows === sessionRows)
  }

  test("served IVF-PQ composes both claims: probed-cell pruning AND a float-free corpus read") {
    // The production serving shape: every corpus-side scan under the
    // ivfpq_served root must (a) be a probed __cluster subdir — the
    // nProbe/nlist byte fraction — and (b) read a schema without
    // `embedding` — the PQ compression. The quantizer/codebooks reads
    // are broadcast-size metadata (cv columns), exempt from (a).
    val df = graft.SparkEntry.queries("sim_ivfpq_served")(spark, sf("0.001"))
    val servedScans = df.queryExecution.optimizedPlan.collect {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        l.relation match {
          case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation
              if h.location.rootPaths.exists(_.toString.contains("ivfpq_served")) =>
            Seq((h.location.rootPaths.map(_.toString), h.dataSchema.fieldNames.toSeq))
          case _ => Nil
        }
    }.flatten
    assert(servedScans.nonEmpty, "no served-index scan found in the plan")
    servedScans.foreach { case (paths, cols) =>
      assert(!cols.contains("embedding"),
        s"served-index scan carries raw vectors: $cols ($paths)")
      if (cols.contains("codes"))
        paths.filter(_.contains("/codes/")).foreach(p =>
          assert(p.contains("__cluster="), s"codes scan not subdir-pruned: $p"))
    }
    assert(servedScans.exists(_._2.contains("codes")), "no codes-table scan found")
    val servedRows = df.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).sorted
    val sessionRows = graft.SparkEntry.queries("sim_ivfpq_adc")(spark, sf("0.001"))
      .collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).sorted
    assert(servedRows === sessionRows)
  }

  test("heap-ranked brute-force top-k rows equal the window formulation bit-for-bit") {
    import graft.functions.expressions.VectorExpressions
    val e = spark.read.parquet(sf("0.001") + "/embeddings.parquet")
    val queries = broadcast(e.filter(col("vec_id") < 20)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("score").desc, col("neighbor_id"))
    val windowed = queries
      .join(e.select(col("vec_id").as("neighbor_id"), col("embedding")),
        col("query_id") =!= col("neighbor_id"))
      .withColumn("score", VectorExpressions.cosine_sim(spark, col("qv"), col("embedding")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select(col("query_id"), col("neighbor_id"), col("rank"), col("score"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
      .sortBy(t => (t._1, t._3))
    val heaped = graft.SparkEntry.queries("sim_topk_bruteforce")(spark, sf("0.001"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
      .sortBy(t => (t._1, t._3))
    assert(heaped === windowed)
  }

  test("count-min candidates: the sketch prune filters rows BELOW the exact-count shuffle") {
    val p = planOf("agg_countmin_candidates")
    // exactly one shuffle keyed by the probed key: the exact count of
    // the candidate set; the sketch pass shuffles by (depth, bucket)
    val keyExchanges = p.linesIterator
      .count(l => l.contains("Exchange hashpartitioning(l_partkey"))
    assert(keyExchanges === 1,
      s"expected ONE l_partkey exchange, found $keyExchanges:\n" + p.take(2000))
    // top-down plan print: the map-side estimate prune (the least(...)
    // over sketch cells) must sit BELOW that exchange — rows of
    // non-candidate keys never enter the shuffle
    val ex = p.indexOf("Exchange hashpartitioning(l_partkey")
    val prune = p.indexOf("least(")
    assert(prune > ex && ex >= 0,
      s"sketch prune not below the key exchange (ex=$ex, prune=$prune):\n" + p.take(2000))
    // the PER-ROW probe must index the densified ARRAY (cms_arr),
    // never look a key up in the map (cms): ElementAt over MapType is
    // a LINEAR scan of all W·D keys per row — measured 11.7× at 10×
    // data before the densify. Each operator prints as ONE plan line,
    // so anchoring the check to the probe's own line (the ones
    // containing the least(...) estimate) keeps it independent of
    // what the neighboring broadcast-side densify projection prints.
    val probeLines = p.linesIterator.filter(_.contains("least(")).toSeq
    assert(probeLines.nonEmpty, "probe line not found in the plan")
    probeLines.foreach { l =>
      assert(l.contains("element_at(cms_arr"),
        s"probe does not index the dense array:\n$l")
      assert(!l.contains("element_at(cms#"),
        s"per-row CMS probe scans map keys linearly:\n$l")
    }
  }
}

package graft.ops

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Event-stream analytics: tumbling-window aggregation (batch and
  * Structured Streaming), sessionization, and event-type funnels over
  * the `events` table. Timestamps follow the ns→µs truncation
  * convention of [[Tables.loadEvents]].
  */
object EventQueries {
  import SessionScopedCache.scratchRoot

  val all: Seq[Q] = Seq(

    // Hourly tumbling window per event_type — batch window() plan.
    Q("events_window_hourly", (spark, dir) =>
      Tables.loadEvents(spark, dir)
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast("decimal(18,2)")).cast("double").as("total_value"))
        .select(col("window.start").as("hour_start"), col("event_type"),
          col("n_events"), col("total_value")),
      oracle = Some("""
      SELECT time_bucket(INTERVAL '1 hour', ts) AS hour_start, event_type,
             count(*) AS n_events,
             CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
      FROM events GROUP BY 1, 2"""), bench = true),

    // SLIDING windows (1 h length, 30 min slide): every event lands in
    // exactly two overlapping windows. Spark's window() expands each
    // row to its window set before the hash aggregation — still one
    // shuffle, state ∝ windows not events. The oracle reconstructs the
    // overlap as a UNION ALL of two 30-min-offset tumbling bucketings
    // (an event at time t belongs to windows starting at bucket30(t)
    // and bucket30(t) − 30 min — both inclusive-start/exclusive-end,
    // matching Spark's window bounds).
    Q("events_sliding_windows", (spark, dir) =>
      Tables.loadEvents(spark, dir)
        .groupBy(window(col("ts"), "1 hour", "30 minutes"), col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast("decimal(18,2)")).cast("double").as("total_value"))
        .select(col("window.start").as("win_start"), col("window.end").as("win_end"),
          col("event_type"), col("n_events"), col("total_value")),
      oracle = Some("""
      WITH e AS (
        SELECT ts, event_type, value,
               time_bucket(INTERVAL '30 minutes', ts) AS b
        FROM events),
      w AS (
        SELECT b AS win_start, event_type, value FROM e
        UNION ALL
        SELECT b - INTERVAL '30 minutes' AS win_start, event_type, value FROM e)
      SELECT win_start, win_start + INTERVAL '1 hour' AS win_end, event_type,
             count(*) AS n_events,
             CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
      FROM w GROUP BY 1, 2, 3""")),

    // EXACT distinct users over a TRAILING 3-hour window, per hour —
    // the sliding-uniques metric (rolling DAU-style) that a correlated
    // per-row scan cannot survive at scale. Distributed shape: each
    // event CONTRIBUTES to the 3 hour-buckets whose trailing window
    // covers it (a 3× row expand — constant factor, no self-join),
    // then one distinct aggregation keyed by bucket. Buckets are
    // restricted to hours that actually contain events (broadcast
    // semi-join against the tiny distinct-hours frame), so the output
    // is the rolling metric AT each observed hour. Cost: one expand +
    // one two-phase distinct agg — the same plan at any event volume;
    // no window funnels through a single partition.
    Q("events_trailing_distinct", (spark, dir) => {
      val ev = Tables.loadEvents(spark, dir)
        .select(date_trunc("hour", col("ts")).as("h"), col("user_id"))
      val contrib = ev.select(explode(array(
          col("h"),
          col("h") + expr("INTERVAL 1 HOUR"),
          col("h") + expr("INTERVAL 2 HOURS"))).as("hour_start"),
        col("user_id"))
      contrib
        .join(broadcast(ev.select(col("h").as("hour_start")).distinct()),
          Seq("hour_start"), "leftsemi")
        .groupBy(col("hour_start"))
        .agg(countDistinct(col("user_id")).as("n_users"))
    }, oracle = Some("""
      WITH e AS (
        SELECT date_trunc('hour', ts) AS h, user_id FROM events),
      c AS (
        SELECT h + i * INTERVAL '1 hour' AS hour_start, user_id
        FROM e, range(0, 3) r(i))
      SELECT hour_start, count(DISTINCT user_id) AS n_users
      FROM c
      WHERE hour_start IN (SELECT h FROM e)
      GROUP BY 1""")),

    // LAST-TOUCH ATTRIBUTION: each purchase credits the same user's
    // most recent click within the trailing hour (ties on timestamp →
    // highest click id — total order, deterministic). Shape: a
    // user-keyed band join (pair space bounded by per-user activity in
    // one hour — never a cross of the event streams) + a per-purchase
    // top-1 window; unattributed purchases survive the left join with
    // null credit. The same plan at any event volume: both sides hash
    // on user_id, the window partitions by purchase.
    Q("events_last_touch", (spark, dir) => {
      val ev = Tables.loadEvents(spark, dir)
      val p = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id"),
          col("ts").as("purchase_ts"))
      val c = ev.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id").as("cu"),
          col("ts").as("click_ts"))
      val w = Window.partitionBy(col("purchase_id"))
        .orderBy(col("click_ts").desc, col("click_id").desc)
      p.join(c, col("user_id") === col("cu") &&
          col("click_ts") <= col("purchase_ts") &&
          col("click_ts") >= col("purchase_ts") - expr("INTERVAL 1 HOUR"),
          "left")
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") === 1)
        .select(col("purchase_id"), col("user_id"), col("purchase_ts"),
          col("click_id"), col("click_ts"))
    }, oracle = Some("""
      WITH p AS (
        SELECT event_id AS purchase_id, user_id, ts AS purchase_ts
        FROM events WHERE event_type = 'purchase'),
      c AS (
        SELECT event_id AS click_id, user_id AS cu, ts AS click_ts
        FROM events WHERE event_type = 'click'),
      j AS (
        SELECT p.*, c.click_id, c.click_ts,
               row_number() OVER (PARTITION BY p.purchase_id
                   ORDER BY c.click_ts DESC, c.click_id DESC) AS rk
        FROM p LEFT JOIN c
          ON p.user_id = c.cu
         AND c.click_ts <= p.purchase_ts
         AND c.click_ts >= p.purchase_ts - INTERVAL '1 hour')
      SELECT purchase_id, user_id, purchase_ts, click_id, click_ts
      FROM j WHERE rk = 1""")),

    // Event-type TRANSITION MATRIX (first-order Markov estimate): per
    // user, consecutive event pairs via lead() over the (ts, event_id)
    // total order, then counts and row-normalized probabilities. The
    // sequence window partitions by user (parallel); the normalizing
    // window's frame is the 5×5 type matrix — metadata cardinality.
    // p is an exact integer ratio in doubles — cross-engine stable.
    Q("events_transition_matrix", (spark, dir) => {
      val wSeq = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val wFrom = Window.partitionBy(col("from_type"))
      Tables.loadEvents(spark, dir)
        .withColumn("next_type", lead(col("event_type"), 1).over(wSeq))
        .filter(col("next_type").isNotNull)
        .groupBy(col("event_type").as("from_type"), col("next_type").as("to_type"))
        .agg(count(lit(1)).as("n"))
        .withColumn("p", col("n").cast("double")
          / sum(col("n")).over(wFrom).cast("double"))
    }, oracle = Some("""
      WITH t AS (
        SELECT event_type,
               lead(event_type) OVER (PARTITION BY user_id
                   ORDER BY ts, event_id) AS next_type
        FROM events),
      c AS (
        SELECT event_type AS from_type, next_type AS to_type,
               count(*) AS n
        FROM t WHERE next_type IS NOT NULL GROUP BY 1, 2)
      SELECT from_type, to_type, n,
             CAST(n AS DOUBLE)
               / CAST(sum(n) OVER (PARTITION BY from_type) AS DOUBLE) AS p
      FROM c""")),

    // The same aggregation through the real Structured Streaming path
    // (readStream → watermark → windowed agg → memory sink): the
    // streaming result must equal the batch oracle exactly.
    Q("events_stream_hourly", (spark, dir) =>
      graft.streaming.EventStreams.hourlyByType(spark, dir),
      oracle = Some("""
      SELECT time_bucket(INTERVAL '1 hour', ts) AS hour_start, event_type,
             count(*) AS n_events,
             CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
      FROM events GROUP BY 1, 2""")),

    // The production streaming shape: APPEND mode + watermark — windows
    // emit once on finalization and their state is dropped. Same oracle.
    Q("events_stream_hourly_append", (spark, dir) =>
      graft.streaming.EventStreams.hourlyByTypeAppend(spark, dir),
      oracle = Some("""
      SELECT time_bucket(INTERVAL '1 hour', ts) AS hour_start, event_type,
             count(*) AS n_events,
             CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
      FROM events GROUP BY 1, 2""")),

    // UNION of two independently-watermarked streaming sources into
    // one windowed aggregation — the query watermark is the MINIMUM
    // across branches, so state is bounded by the laggier source. The
    // branches project different shapes (purchases keep value, others
    // contribute 0), making the batch oracle a conditional sum.
    Q("events_stream_union", (spark, dir) =>
      graft.streaming.EventStreams.unionSources(spark, dir),
      oracle = Some("""
      SELECT time_bucket(INTERVAL '1 hour', ts) AS hour_start, event_type,
             count(*) AS n_events,
             CAST(sum(CASE WHEN event_type = 'purchase'
                           THEN CAST(value AS DECIMAL(18,2))
                           ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
               AS total_value
      FROM events GROUP BY 1, 2""")),

    // CHAINED stateful operators: hourly window agg → daily rollup in
    // ONE streaming query (two state stores, one watermark timeline) —
    // no intermediate sink/re-read hop. Decimal partial sums make the
    // two-stage streaming result equal the one-shot batch daily
    // aggregation exactly, however the input splits into microbatches.
    Q("events_stream_two_stage", (spark, dir) =>
      graft.streaming.EventStreams.hourlyToDaily(spark, dir),
      oracle = Some("""
      SELECT time_bucket(INTERVAL '1 day', ts) AS day_start, event_type,
             count(*) AS n_events,
             CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
      FROM events GROUP BY 1, 2""")),

    // transformWithState (Spark 4's arbitrary-state API, RocksDB
    // store): per-user running totals held as a typed ValueState of
    // exact integer cents, one snapshot emitted per (user, microbatch)
    // across the 4-batch replay; the query folds snapshots to each
    // user's final state. The batch per-user aggregate is the oracle —
    // state splitting across microbatches must not change a cent.
    Q("events_stream_running_totals", (spark, dir) =>
      graft.streaming.RunningTotals.perUser(spark, dir),
      oracle = Some("""
      SELECT user_id, count(*) AS n_events,
             CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
      FROM events GROUP BY user_id""")),

    // The SAME totals read back out of the RocksDB store itself via
    // Spark's state data source (format "statestore") after the
    // checkpointed replay — the state a streaming job carries IS the
    // batch aggregate, audited without replaying the stream. Shares
    // the running-totals oracle.
    Q("events_state_store_audit", (spark, dir) =>
      graft.streaming.RunningTotals.stateAudit(spark, dir),
      oracle = Some("""
      SELECT user_id, count(*) AS n_events,
             CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
      FROM events GROUP BY user_id""")),

    // Sessionization: a session breaks after >30 min of user inactivity.
    // lag + flag + running count — the classic gaps-and-islands plan;
    // at scale this is one shuffle on user_id and sorted windows within
    // partitions (no global sort).
    Q("events_sessionize", (spark, dir) => {
      val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val flagged = Tables.loadEvents(spark, dir)
        .withColumn("us", unix_micros(col("ts")))
        .withColumn("prev_us", lag(col("us"), 1).over(byUser))
        .withColumn("new_sess",
          when(col("prev_us").isNull || col("us") - col("prev_us") > 1800000000L, 1L)
            .otherwise(0L))
      flagged
        .withColumn("session_id", sum(col("new_sess"))
          .over(byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy(col("user_id"), col("session_id"))
        .agg(count(lit(1)).as("n_events"),
          min(col("ts")).as("session_start"),
          sum(col("value").cast("decimal(18,2)")).cast("double").as("session_value"))
    }, oracle = Some("""
      WITH flagged AS (
        SELECT user_id, ts, event_id, value,
               CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                         OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
                    THEN 1 ELSE 0 END AS new_sess
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      sess AS (
        SELECT user_id, ts, value,
               CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
        FROM flagged)
      SELECT user_id, session_id, count(*) AS n_events,
             min(ts) AS session_start,
             CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS session_value
      FROM sess GROUP BY user_id, session_id"""), bench = true),

    // INTERVAL-OVERLAP self-join over sessions — the temporal-join
    // operator behind concurrency analytics ("who was on-site while I
    // was"): cross-USER session pairs whose [start, end] spans
    // intersect, aggregated per lower user. The quadratic pair space
    // is blocked by HOUR BUCKET: each session emits one row per hour
    // it spans, pairs join on the bucket, and each surviving pair
    // counts exactly once — in the bucket holding its overlap start
    // (greatest(s1,s2) lies inside both spans by construction). At
    // 100 TB this is one shuffle on (hour) with AQE absorbing hot
    // hours, never an all-pairs product; the oracle computes the same
    // pairs with a plain unblocked inequality join, proving the
    // bucketing answer-preserving — the same discipline as the salted
    // joins in ScaleQueries.
    Q("events_session_overlap", (spark, dir) => {
      val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val HourUs = 3600000000L
      val sess = Tables.loadEvents(spark, dir)
        .withColumn("us", unix_micros(col("ts")))
        .withColumn("prev_us", lag(col("us"), 1).over(byUser))
        .withColumn("new_sess",
          when(col("prev_us").isNull || col("us") - col("prev_us") > 1800000000L, 1L)
            .otherwise(0L))
        .withColumn("session_id", sum(col("new_sess"))
          .over(byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy(col("user_id"), col("session_id"))
        .agg(min(col("us")).as("s"), max(col("us")).as("e"))
      val spans = sess.select(col("user_id"), col("s"), col("e"),
        explode(sequence(expr(s"s div $HourUs"), expr(s"e div $HourUs"))).as("bucket"))
      val a = spans.select(col("bucket"), col("user_id").as("u1"),
        col("s").as("s1"), col("e").as("e1"))
      val b = spans.select(col("bucket"), col("user_id").as("u2"),
        col("s").as("s2"), col("e").as("e2"))
      a.join(b, Seq("bucket"))
        .filter(col("u1") < col("u2")
          && col("s1") <= col("e2") && col("s2") <= col("e1")
          && col("bucket") === expr(s"greatest(s1, s2) div $HourUs"))
        .groupBy(col("u1").as("user_id"))
        .agg(count(lit(1)).as("n_overlap_pairs"),
          sum(expr("least(e1, e2) - greatest(s1, s2)")).cast("long")
            .as("total_overlap_us"))
    }, oracle = Some("""
      WITH flagged AS (
        SELECT user_id, ts, event_id,
               CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                         OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
                    THEN 1 ELSE 0 END AS new_sess
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      numbered AS (
        SELECT user_id, epoch_us(ts) AS us,
               CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
        FROM flagged),
      sess AS (
        SELECT user_id, session_id,
               CAST(min(us) AS BIGINT) AS s, CAST(max(us) AS BIGINT) AS e
        FROM numbered GROUP BY 1, 2),
      pairs AS (
        SELECT a.user_id AS u1,
               least(a.e, b.e) - greatest(a.s, b.s) AS ov
        FROM sess a JOIN sess b
          ON a.user_id < b.user_id AND a.s <= b.e AND b.s <= a.e)
      SELECT u1 AS user_id, count(*) AS n_overlap_pairs,
             CAST(sum(ov) AS BIGINT) AS total_overlap_us
      FROM pairs GROUP BY 1""")),

    // The same sessionization through the STATEFUL streaming path
    // Stream-stream interval join (both sides watermarked, join
    // condition time-bounds each side → bounded state): purchases ×
    // same-user views within the preceding 30 minutes. Oracle is the
    // equivalent batch inequality join.
    Q("events_stream_join", (spark, dir) =>
      graft.streaming.EventStreams.purchaseViewJoin(spark, dir),
      oracle = Some("""
      SELECT p.event_id AS purchase_id, v.event_id AS view_id
      FROM events p, events v
      WHERE p.event_type = 'purchase' AND v.event_type = 'view'
        AND p.user_id = v.user_id
        AND v.ts BETWEEN p.ts - INTERVAL 30 MINUTE AND p.ts""")),

    // Stream-stream LEFT OUTER interval join: unmatched purchases emit
    // (view_id null) only when the watermark proves no match can still
    // arrive — the state-expiry path the inner join never takes. Must
    // equal the batch left join exactly.
    Q("events_stream_left_join", (spark, dir) =>
      graft.streaming.EventStreams.purchaseViewLeftJoin(spark, dir),
      oracle = Some("""
      SELECT p.event_id AS purchase_id, v.event_id AS view_id
      FROM events p LEFT JOIN events v
        ON p.user_id = v.user_id AND v.event_type = 'view'
        AND v.ts BETWEEN p.ts - INTERVAL 30 MINUTE AND p.ts
      WHERE p.event_type = 'purchase'""")),

    // Stream-stream FULL OUTER interval join — every purchase AND
    // every view accounted for: matches pair up, unmatched rows on
    // EITHER side emit when the watermark expires their state. The
    // batch full-outer band join is the oracle.
    Q("events_stream_full_join", (spark, dir) =>
      graft.streaming.EventStreams.purchaseViewFullJoin(spark, dir),
      oracle = Some("""
      WITH p AS (SELECT user_id AS p_user, ts AS p_ts, event_id AS purchase_id
                 FROM events WHERE event_type = 'purchase'),
      v AS (SELECT user_id AS v_user, ts AS v_ts, event_id AS view_id
            FROM events WHERE event_type = 'view')
      SELECT purchase_id, view_id
      FROM p FULL OUTER JOIN v
        ON p_user = v_user
        AND v_ts BETWEEN p_ts - INTERVAL 30 MINUTE AND p_ts""")),

    // Streaming → gold MERGE via foreachBatch: update-mode hourly agg
    // upserted per microbatch with the engine's SCD1 merge; the final
    // gold table must equal the one-shot batch aggregation exactly —
    // same oracle as the batch/streaming hourly queries.
    // Stream-static enrichment: events stream ⟕ broadcast static
    // customer dim, aggregated per (segment, event_type). Stateless
    // join (stream-static joins keep no state), complete-mode agg over
    // a bounded key space; result must equal the one-shot batch join.
    Q("events_stream_static_enrich", (spark, dir) =>
      graft.streaming.EventStreams.segmentEnrich(spark, dir),
      oracle = Some("""
      SELECT coalesce(c.c_mktsegment, 'unknown') AS segment, e.event_type,
             count(*) AS n_events,
             CAST(sum(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
      FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
      GROUP BY 1, 2""")),

    Q("events_stream_merge_gold", (spark, dir) =>
      graft.streaming.EventStreams.hourlyMergeToGold(spark, dir,
        s"$scratchRoot/stream_gold_${dir.hashCode.abs}/hourly"),
      oracle = Some("""
      SELECT time_bucket(INTERVAL '1 hour', ts) AS hour_start, event_type,
             count(*) AS n_events,
             CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
      FROM events GROUP BY 1, 2""")),

    // Streaming ingest with FULL transactional semantics: every
    // microbatch is an ACID TxLog commit, partition-pruned to the
    // event_date partitions in the batch. Post-replay table must equal
    // the one-shot batch aggregation — same oracle as merge_gold.
    Q("events_stream_txlog_gold", (spark, dir) =>
      graft.streaming.EventStreams.hourlyMergeToTxLog(spark, dir,
        s"$scratchRoot/stream_txlog_${dir.hashCode.abs}/hourly"),
      oracle = Some("""
      SELECT time_bucket(INTERVAL '1 hour', ts) AS hour_start, event_type,
             count(*) AS n_events,
             CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
      FROM events GROUP BY 1, 2""")),

    // Ordered conversion funnel view → click → purchase: stage N's
    // entry time is the user's first qualifying event STRICTLY AFTER
    // stage N-1's (min-timestamp chaining — two broadcast-joined
    // conditional aggregations, no window over the full stream).
    // Per-user lifetime-value QUARTILES over the event stream — the
    // user-segmentation rollup, through the DISTRIBUTED exact ntile
    // (range-partitioned two-phase rank; a plain ntile() window would
    // single-task the whole user set — the classic 100× failure). LTV
    // sums are exact decimals; (ltv DESC, user_id) totally orders the
    // frame so tier assignment is bit-stable cross-engine.
    Q("events_ltv_tiers", (spark, dir) => {
      val ltv = Tables.loadEvents(spark, dir)
        .groupBy(col("user_id"))
        .agg(sum(col("value").cast("decimal(18,2)")).as("ltv"))
      CurationQueries.distributedNtile(ltv, 4, 16, col("ltv").desc, col("user_id"))
        .groupBy(col("tier"))
        .agg(count(lit(1)).as("n_users"),
          sum(col("ltv")).cast("double").as("tier_value"))
    }, oracle = Some("""
      WITH ltv AS (
        SELECT user_id, sum(CAST(value AS DECIMAL(18,2))) AS ltv
        FROM events GROUP BY user_id),
      tiers AS (
        SELECT ltv, ntile(4) OVER (ORDER BY ltv DESC, user_id) AS tier
        FROM ltv)
      SELECT tier, count(*) AS n_users,
             CAST(sum(ltv) AS DOUBLE) AS tier_value
      FROM tiers GROUP BY tier""")),

    // CEP-style CONTIGUOUS pattern detection — the MATCH_RECOGNIZE
    // shape: count view→click→purchase runs of three CONSECUTIVE
    // events per user (the funnel query allows gaps; this is the
    // strict-adjacency complement a clickstream CEP engine matches).
    // Two lead() columns over the per-user order and a filter — one
    // shuffle on user_id, no self-joins, linear at any scale.
    Q("events_pattern_detect", (spark, dir) => {
      val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      Tables.loadEvents(spark, dir)
        .withColumn("t1", lead(col("event_type"), 1).over(byUser))
        .withColumn("t2", lead(col("event_type"), 2).over(byUser))
        .filter(col("event_type") === "view" && col("t1") === "click"
          && col("t2") === "purchase")
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_matches"),
          min(col("ts")).as("first_match_ts"))
    }, oracle = Some("""
      WITH o AS (
        SELECT user_id, ts, event_type,
               lead(event_type, 1) OVER w AS t1,
               lead(event_type, 2) OVER w AS t2
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
      SELECT user_id, count(*) AS n_matches, min(ts) AS first_match_ts
      FROM o
      WHERE event_type = 'view' AND t1 = 'click' AND t2 = 'purchase'
      GROUP BY 1""")),

    // RFM SEGMENTATION — the classic customer-value grid: per-user
    // Recency (last event time), Frequency (event count), Monetary
    // (purchase value, exact decimal) each quartiled INDEPENDENTLY
    // through the distributed exact ntile (range-partitioned two-phase
    // rank — a plain ntile() window would single-task the whole user
    // set), then users counted per (R,F,M) cell. Three rank passes
    // over a users-sized frame plus broadcast-joined tier labels — at
    // 100 TB the frame is user-cardinality, not event-cardinality,
    // and every step before it is one map-side-combined aggregation.
    Q("events_rfm_segments", (spark, dir) => {
      val base = Tables.loadEvents(spark, dir)
        .withColumn("us", unix_micros(col("ts")))
        .groupBy(col("user_id"))
        .agg(max(col("us")).as("recency"),
          count(lit(1)).as("freq"),
          sum(when(col("event_type") === "purchase",
              col("value").cast("decimal(18,2)"))
            .otherwise(lit(0).cast("decimal(18,2)"))).as("monetary"))
        .localCheckpoint(true)
      def tiered(c: org.apache.spark.sql.Column, as: String) =
        CurationQueries.distributedNtile(base, 4, 16, c, col("user_id"))
          .select(col("user_id"), col("tier").as(as))
      base.select(col("user_id"))
        .join(tiered(col("recency").desc, "r_tier"), Seq("user_id"))
        .join(tiered(col("freq").desc, "f_tier"), Seq("user_id"))
        .join(tiered(col("monetary").desc, "m_tier"), Seq("user_id"))
        .groupBy(col("r_tier"), col("f_tier"), col("m_tier"))
        .agg(count(lit(1)).as("n_users"))
    }, oracle = Some("""
      WITH base AS (
        SELECT user_id, max(epoch_us(ts)) AS recency, count(*) AS freq,
               sum(CASE WHEN event_type = 'purchase'
                        THEN CAST(value AS DECIMAL(18,2))
                        ELSE CAST(0 AS DECIMAL(18,2)) END) AS monetary
        FROM events GROUP BY 1),
      t AS (
        SELECT user_id,
               ntile(4) OVER (ORDER BY recency DESC, user_id) AS r_tier,
               ntile(4) OVER (ORDER BY freq DESC, user_id) AS f_tier,
               ntile(4) OVER (ORDER BY monetary DESC, user_id) AS m_tier
        FROM base)
      SELECT r_tier, f_tier, m_tier, count(*) AS n_users
      FROM t GROUP BY 1, 2, 3""")),

    // Built-in session_window sessions (vs the custom stateful
    // sessionizer): gap-merge is STRICT (< 30 min), so the oracle's
    // islands rule uses >= for the new-session flag; session_end =
    // last event + gap.
    Q("events_stream_session_window", (spark, dir) =>
      graft.streaming.EventStreams.sessionWindows(spark, dir),
      oracle = Some("""
      WITH flagged AS (
        SELECT user_id, ts, event_id, value,
               CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                         OR epoch_us(ts) - lag(epoch_us(ts)) OVER w >= 1800000000
                    THEN 1 ELSE 0 END AS new_sess
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      sess AS (
        SELECT user_id, ts, value,
               sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                   ROWS UNBOUNDED PRECEDING) AS sid
        FROM flagged)
      SELECT user_id, min(ts) AS session_start,
             max(ts) + INTERVAL 30 MINUTE AS session_end,
             count(*) AS n_events,
             CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS session_value
      FROM sess GROUP BY user_id, sid""")),

    // Streaming expectation-gated ingest: every microbatch split-commits
    // into main + quarantine TxLog tables (soft rules: value cap, known
    // type) under one exactly-once txn id; the final two-table
    // accounting must equal the one-shot batch split.
    Q("events_stream_quarantine", (spark, dir) =>
      graft.streaming.EventStreams.quarantineIngest(spark, dir,
        s"$scratchRoot/stream_quar_${dir.hashCode.abs}"),
      oracle = Some("""
      SELECT CASE WHEN value <= 400 AND event_type <> 'error'
                  THEN 'main' ELSE 'quarantine' END AS sink,
             event_type, count(*) AS n_events
      FROM events GROUP BY 1, 2""")),

    Q("events_funnel", (spark, dir) => {
      val ev = Tables.loadEvents(spark, dir)
      def stage(t: String): org.apache.spark.sql.DataFrame =
        ev.filter(col("event_type") === t)
      val v = stage("view").groupBy(col("user_id")).agg(min(col("ts")).as("t1"))
      val c = stage("click").alias("e")
        .join(v.alias("v"), col("e.user_id") === col("v.user_id") &&
          col("e.ts") > col("v.t1"))
        .groupBy(col("e.user_id").as("user_id")).agg(min(col("e.ts")).as("t2"))
      val p = stage("purchase").alias("e")
        .join(c.alias("c"), col("e.user_id") === col("c.user_id") &&
          col("e.ts") > col("c.t2"))
        .groupBy(col("e.user_id").as("user_id")).agg(min(col("e.ts")).as("t3"))
      val counts = Seq(("1_view", v), ("2_click_after_view", c),
        ("3_purchase_after_click", p))
      counts.map { case (name, df) =>
        df.agg(count(lit(1)).as("n_users")).select(lit(name).as("stage"), col("n_users"))
      }.reduce(_.unionByName(_))
    }, oracle = Some("""
      WITH v AS (
        SELECT user_id, min(ts) AS t1 FROM events
        WHERE event_type = 'view' GROUP BY 1),
      c AS (
        SELECT e.user_id, min(e.ts) AS t2 FROM events e
        JOIN v ON e.user_id = v.user_id AND e.ts > v.t1
        WHERE e.event_type = 'click' GROUP BY 1),
      p AS (
        SELECT e.user_id, min(e.ts) AS t3 FROM events e
        JOIN c ON e.user_id = c.user_id AND e.ts > c.t2
        WHERE e.event_type = 'purchase' GROUP BY 1)
      SELECT '1_view' AS stage, CAST(count(*) AS BIGINT) AS n_users FROM v
      UNION ALL
      SELECT '2_click_after_view', CAST(count(*) AS BIGINT) FROM c
      UNION ALL
      SELECT '3_purchase_after_click', CAST(count(*) AS BIGINT) FROM p""")),

    // Streaming exact dedup: dropDuplicates state = one entry per
    // distinct key; emits first occurrences only. Batch DISTINCT is
    // the oracle.
    Q("events_stream_dedup", (spark, dir) =>
      graft.streaming.EventStreams.streamingDedup(spark, dir),
      oracle = Some("""
      SELECT DISTINCT user_id, event_type FROM events""")),

    // Streaming dedup with WATERMARK-BOUNDED state (the continuous-
    // ingest shape): key includes the event hour, replay is split by
    // time range, so the 2h-delay state covers every recurrence and
    // batch DISTINCT stays an exact oracle.
    Q("events_stream_dedup_bounded", (spark, dir) =>
      graft.streaming.EventStreams.streamingDedupBounded(spark, dir),
      oracle = Some("""
      SELECT DISTINCT user_id, event_type,
             date_trunc('hour', ts) AS hour_start
      FROM events""")),

    // (flatMapGroupsWithState + event-time timeout): closed sessions
    // emit on gap, open sessions time out via watermark. Must equal the
    // batch gaps-and-islands result exactly — same oracle.
    Q("events_stream_sessionize", (spark, dir) =>
      graft.streaming.SessionizeStream.sessionize(spark, dir),
      oracle = Some("""
      WITH flagged AS (
        SELECT user_id, ts, event_id, value,
               CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                         OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
                    THEN 1 ELSE 0 END AS new_sess
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      sess AS (
        SELECT user_id, ts, value,
               CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
        FROM flagged)
      SELECT user_id, session_id, count(*) AS n_events,
             min(ts) AS session_start,
             CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS session_value
      FROM sess GROUP BY user_id, session_id""")),

    // The SAME gap sessions through transformWithState EVENT-TIME
    // TIMERS (registerTimer/handleExpiredTimer): open sessions are
    // emitted by the timer callback when the watermark passes
    // last + gap — the eviction half of the new state API. THREE
    // independent sessionizers (this, the flatMapGroupsWithState twin
    // above, the batch gaps-and-islands plan) share one oracle.
    Q("events_stream_session_timers", (spark, dir) =>
      graft.streaming.SessionTimers.sessions(spark, dir),
      oracle = Some("""
      WITH flagged AS (
        SELECT user_id, ts, event_id, value,
               CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                         OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
                    THEN 1 ELSE 0 END AS new_sess
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      sess AS (
        SELECT user_id, ts, value,
               CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
        FROM flagged)
      SELECT user_id, session_id, count(*) AS n_events,
             min(ts) AS session_start,
             CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS session_value
      FROM sess GROUP BY user_id, session_id""")),

    // Daily per-type event funnel with conversion-style share-of-day —
    // two-level aggregation reusing the first shuffle's partitioning.
    Q("events_daily_share", (spark, dir) => {
      val daily = Tables.loadEvents(spark, dir)
        .groupBy(col("ts").cast("date").as("day"), col("event_type"))
        .agg(count(lit(1)).as("n_events"))
      val w = Window.partitionBy(col("day"))
      daily.withColumn("day_total", sum(col("n_events")).over(w))
        .withColumn("share", col("n_events").cast("double") / col("day_total"))
        .select(col("day"), col("event_type"), col("n_events"),
          col("day_total"), col("share"))
    }, oracle = Some("""
      WITH daily AS (
        SELECT CAST(ts AS DATE) AS day, event_type, count(*) AS n_events
        FROM events GROUP BY 1, 2)
      SELECT day, event_type, n_events,
             CAST(sum(n_events) OVER (PARTITION BY day) AS BIGINT) AS day_total,
             CAST(n_events AS DOUBLE) / CAST(sum(n_events) OVER (PARTITION BY day) AS BIGINT) AS share
      FROM daily""")),

    // Day-over-day event-mix DRIFT: each (day, type)'s chi-square
    // contribution against the PRIOR day's mix — the distribution-
    // shift monitor a training-data pipeline runs per ingest date
    // (observed count vs the count the previous day's proportions
    // predict; big contributions localize WHICH type moved). Exact
    // integer counts end-to-end; each row performs its own two double
    // operations in a pinned order (divide → multiply; subtract →
    // square → divide), so there is NO cross-row float accumulation
    // and both engines produce bit-identical doubles. Types absent on
    // the prior day drop out (inner join — chi-square is defined on
    // the common support; brand-new types are the novelty queries'
    // job). Cost: one corpus scan into a (days × types) metadata
    // frame, one window, one self-join — everything after the first
    // aggregate is broadcast-sized at any corpus scale.
    Q("events_drift_contrib", (spark, dir) => {
      val daily = Tables.loadEvents(spark, dir)
        .groupBy(col("ts").cast("date").as("day"), col("event_type"))
        .agg(count(lit(1)).as("o"))
      val w = Window.partitionBy(col("day"))
      val tot = daily.withColumn("day_total", sum(col("o")).over(w))
      val prev = tot.select(date_add(col("day"), 1).as("day"),
        col("event_type"), col("o").as("p"), col("day_total").as("pt"))
      val oD = col("o").cast("double")
      tot.join(prev, Seq("day", "event_type"))
        .withColumn("e", col("p").cast("double") / col("pt") * col("day_total"))
        .withColumn("contrib", (oD - col("e")) * (oD - col("e")) / col("e"))
        .select(col("day"), col("event_type"), col("o"), col("e"), col("contrib"))
    }, oracle = Some("""
      WITH daily AS (
        SELECT CAST(ts AS DATE) AS day, event_type, count(*) AS o
        FROM events GROUP BY 1, 2),
      tot AS (
        SELECT day, event_type, o,
               CAST(sum(o) OVER (PARTITION BY day) AS BIGINT) AS day_total
        FROM daily),
      joined AS (
        SELECT t.day, t.event_type, t.o, t.day_total,
               CAST(p.o AS DOUBLE) / p.day_total * t.day_total AS e
        FROM tot t JOIN tot p
          ON t.event_type = p.event_type AND t.day = p.day + 1)
      SELECT day, event_type, o, e,
             (CAST(o AS DOUBLE) - e) * (CAST(o AS DOUBLE) - e) / e AS contrib
      FROM joined""")),

    // Cohort retention: users grouped by FIRST-ACTIVITY week, counted
    // by distinct activity in each later week — the warehouse analytics
    // matrix behind every retention dashboard. Two aggregations + one
    // join on user_id; the cohort frame is one row per user so the
    // join broadcasts at dashboard scales and shuffles cleanly beyond.
    Q("events_retention_cohorts", (spark, dir) => {
      val ev = Tables.loadEvents(spark, dir)
        .select(col("user_id"), date_trunc("week", col("ts")).as("week"))
      val cohort = ev.groupBy(col("user_id")).agg(min(col("week")).as("cohort_week"))
      ev.join(cohort, "user_id")
        .groupBy(col("cohort_week"), col("week"))
        .agg(countDistinct(col("user_id")).as("n_active"))
        .withColumn("weeks_since",
          expr("CAST(datediff(week, cohort_week) AS BIGINT) div 7"))
        .select(col("cohort_week"), col("weeks_since"), col("n_active"))
    }, oracle = Some("""
      WITH ev AS (
        SELECT user_id, date_trunc('week', ts) AS week FROM events),
      cohort AS (
        SELECT user_id, min(week) AS cohort_week FROM ev GROUP BY 1)
      SELECT c.cohort_week,
             CAST(CAST(date_diff('day', c.cohort_week, e.week) AS BIGINT) // 7
                  AS BIGINT) AS weeks_since,
             CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_active
      FROM ev e JOIN cohort c ON e.user_id = c.user_id
      GROUP BY 1, 2""")),

    // Volume-anomaly detection in pure RATIONAL arithmetic: flag hours
    // whose event count deviates from the type's mean by more than 2
    // population standard deviations — compared as (n·x − Σ)² >
    // 4·(n·Σx² − Σ²), i.e. the z-score inequality (x−μ)² > 4σ²
    // multiplied through by n², so both engines evaluate EXACT
    // integers and the oracle hash-matches (no square roots, no
    // division). Plan: hourly agg → per-type stats agg → broadcast
    // stats back — two shuffles regardless of corpus size.
    Q("events_anomaly_hours", (spark, dir) => {
      val hourly = Tables.loadEvents(spark, dir)
        .groupBy(date_trunc("hour", col("ts")).as("hour_start"), col("event_type"))
        .agg(count(lit(1)).as("x"))
      val stats = hourly.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("x")).as("s"),
          sum(col("x") * col("x")).as("s2"))
      hourly.join(broadcast(stats), "event_type")
        .withColumn("dev", col("n") * col("x") - col("s"))
        .filter(col("dev") * col("dev") >
          lit(4L) * (col("n") * col("s2") - col("s") * col("s")))
        .select(col("hour_start"), col("event_type"), col("x").as("n_events"))
    }, oracle = Some("""
      WITH hourly AS (
        SELECT time_bucket(INTERVAL '1 hour', ts) AS hour_start, event_type,
               CAST(count(*) AS BIGINT) AS x
        FROM events GROUP BY 1, 2),
      stats AS (
        SELECT event_type, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(x) AS BIGINT) AS s,
               CAST(sum(x * x) AS BIGINT) AS s2
        FROM hourly GROUP BY 1)
      SELECT hour_start, h.event_type, x AS n_events
      FROM hourly h JOIN stats t ON h.event_type = t.event_type
      WHERE (n * x - s) * (n * x - s) > 4 * (n * s2 - s * s)""")),

    // GAP FILLING — the dense-timeline repair every downstream
    // time-series consumer (forecasting, anomaly baselines, charting)
    // needs: per event_type, a contiguous hourly spine from the
    // corpus's first to last hour (sequence() on a broadcast 1-row
    // bounds frame — never a driver loop), LEFT-joined to the observed
    // hourly counts; silent hours read n=0 plus a carry-forward of the
    // last OBSERVED count (last(ignoreNulls) over an ordered per-type
    // window). Spine cardinality is hours × types — metadata-scale
    // next to the event scan, which is the only data-sized pass.
    Q("events_gap_fill", (spark, dir) => {
      val ev = Tables.loadEvents(spark, dir)
      val hourly = ev
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hr"))
        .agg(count(lit(1)).as("n_obs"))
      val bounds = ev.agg(date_trunc("hour", min(col("ts"))).as("lo"),
        date_trunc("hour", max(col("ts"))).as("hi"))
      val spine = ev.select(col("event_type")).distinct()
        .crossJoin(broadcast(bounds))
        .select(col("event_type"),
          explode(expr("sequence(lo, hi, interval 1 hour)")).as("hr"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("hr"))
        .rowsBetween(Window.unboundedPreceding, 0)
      spine.join(hourly, Seq("event_type", "hr"), "left")
        .withColumn("n", coalesce(col("n_obs"), lit(0L)))
        .withColumn("carried",
          coalesce(last(col("n_obs"), ignoreNulls = true).over(w), lit(0L)))
        .select(col("event_type"), col("hr"), col("n"), col("carried"))
    }, oracle = Some("""
      WITH b AS (
        SELECT time_bucket(INTERVAL '1 hour', min(ts)) AS lo,
               time_bucket(INTERVAL '1 hour', max(ts)) AS hi
        FROM events),
      spine AS (
        SELECT t.event_type, g.hr
        FROM (SELECT DISTINCT event_type FROM events) t,
             b, LATERAL (SELECT unnest(generate_series(b.lo, b.hi,
                                 INTERVAL 1 HOUR)) AS hr) g),
      hourly AS (
        SELECT event_type, time_bucket(INTERVAL '1 hour', ts) AS hr,
               CAST(count(*) AS BIGINT) AS n_obs
        FROM events GROUP BY 1, 2)
      SELECT s.event_type, s.hr,
             COALESCE(h.n_obs, 0) AS n,
             COALESCE(last_value(h.n_obs IGNORE NULLS) OVER (
               PARTITION BY s.event_type ORDER BY s.hr
               ROWS UNBOUNDED PRECEDING), 0) AS carried
      FROM spine s LEFT JOIN hourly h
        ON s.event_type = h.event_type AND s.hr = h.hr""")),
  )
}

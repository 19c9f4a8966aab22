package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Structured Streaming path for the events table: file source →
  * event-time windowed aggregation → sink. The reference's incremental
  * loads are batch replays with a watermark (SURVEY §1.3); this module
  * is the genuine streaming generalization — same declarative
  * transform, `readStream`/`writeStream` around it.
  *
  * Scale design: event-time tumbling windows + watermark bound the
  * state store; keys are (window, event_type) so state cardinality is
  * #types × #open-windows regardless of input rate. For local
  * verification the memory sink in complete mode is driven to the end
  * of the (finite) input by [[StreamRun]] — the batch window()
  * aggregation over the same files is the oracle.
  */
object EventStreams {

  /** Schema of STAGED event files ([[SessionizeStream.stageWithSentinels]]
    * normalizes `ts` to epoch-micros longs, whatever the driver file's
    * physical timestamp vintage). */
  val rawSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", LongType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType),
  ))

  /** Schema of the driver's events.parquet read DIRECTLY (native
    * TIMESTAMP(MICROS) without zone → TIMESTAMP_NTZ). */
  private val directSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampNTZType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType),
  ))

  /** [[directSchema]] for the legacy TIMESTAMP(NANOS) vintage — read
    * as raw long under the session's `nanosAsLong` conf. */
  private val directSchemaNanos: StructType = StructType(
    directSchema.fields.map(f =>
      if (f.name == "ts") StructField("ts", LongType) else f))

  /** Stream the driver's events file straight from the sf dir (no
    * staging): the file's `ts` physical vintage is probed from the
    * parquet footer ([[graft.ops.Tables.eventsTsIsNanos]]) — a
    * readStream schema is fixed up front, so unlike the batch path it
    * cannot adapt from the inferred schema — then cast/converted to the
    * session zone (UTC everywhere here) so downstream windows match the
    * batch oracle whichever vintage the driver generated. */
  private def directSource(spark: SparkSession, dir: String): DataFrame =
    if (graft.ops.Tables.eventsTsIsNanos(spark, dir))
      spark.readStream
        .schema(directSchemaNanos)
        .option("pathGlobFilter", "events.parquet")
        .parquet(dir)
        .withColumn("ts", timestamp_micros(expr("ts div 1000")))
    else
      spark.readStream
        .schema(directSchema)
        // the file-stream source wants a directory; select the single
        // events file out of the sf dir with a glob filter
        .option("pathGlobFilter", "events.parquet")
        .parquet(dir)
        .withColumn("ts", col("ts").cast("timestamp"))

  /** Production-shape hourly aggregation: APPEND output mode — a window
    * emits exactly once, when the watermark passes its end, and its
    * state is then dropped (bounded state at any input rate, unlike
    * complete mode which retains every window forever). The finite
    * input is staged with far-future sentinels so every real window
    * finalizes; sentinel rows are filtered from the result. */
  def hourlyByTypeAppend(spark: SparkSession, dir: String,
                         queryName: String = "graft_events_hourly_append"): DataFrame = {
    val stagePath = SessionizeStream.stageWithSentinels(spark, dir, "hourly_append")
    val stream = spark.readStream
      .schema(rawSchema)
      .option("maxFilesPerTrigger", 1)
      .option("latestFirst", false)
      .parquet(stagePath)
      .withColumn("ts", timestamp_micros(col("ts")))
    val agg = stream
      .withWatermark("ts", "0 seconds")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("total_value"))
      .select(col("window.start").as("hour_start"), col("event_type"),
        col("n_events"), col("total_value"))
    StreamRun.drain(spark, agg, "append", queryName, stagePath)
      .filter(col("event_type") =!= "sentinel")
  }

  /** CHAINED stateful operators (Spark ≥ 3.4 multi-stateful support):
    * an event-time hourly aggregation feeding a DAILY rollup in ONE
    * streaming query — two state stores sharing a single watermark
    * timeline, the second keyed on `window_time()` of the first's
    * window. The alternative is two queries with an intermediate
    * sink + re-read; chaining removes that hop and its storage, and
    * state stays bounded at (#types × open-hours) + (#types ×
    * open-days) whatever the input rate. APPEND mode end to end: a
    * day emits exactly once, when the watermark passes its end. */
  def hourlyToDaily(spark: SparkSession, dir: String,
                    queryName: String = "graft_events_two_stage"): DataFrame = {
    val stagePath = SessionizeStream.stageWithSentinels(spark, dir, "two_stage")
    val stream = spark.readStream
      .schema(rawSchema)
      .option("maxFilesPerTrigger", 1)
      .option("latestFirst", false)
      .parquet(stagePath)
      .withColumn("ts", timestamp_micros(col("ts")))
    val hourly = stream
      .withWatermark("ts", "0 seconds")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_hour"),
        sum(col("value").cast("decimal(18,2)")).as("v_hour"))
    val daily = hourly
      .groupBy(window(window_time(col("window")), "1 day"), col("event_type"))
      .agg(sum(col("n_hour")).as("n_events"),
        sum(col("v_hour")).cast("double").as("total_value"))
      .select(col("window.start").as("day_start"), col("event_type"),
        col("n_events"), col("total_value"))
    StreamRun.drain(spark, daily, "append", queryName, stagePath)
      .filter(col("event_type") =!= "sentinel")
  }

  /** Streaming → gold MERGE: the production stream-to-star pattern.
    * UPDATE-mode hourly aggregation, each microbatch upserted into a
    * parquet gold table via `foreachBatch` + the engine's SCD1 merge
    * ([[graft.pipeline.Upsert.mergeIntoPath]]) keyed on (hour_start,
    * event_type). Decimal partial sums make the post-replay table equal
    * the one-shot batch aggregation EXACTLY, however the input was
    * split into microbatches — which is what the batch oracle asserts.
    * At scale this is the continuous-ingest shape for every gold table
    * in the medallion pipeline (bounded state via the watermark).
    *
    * The gold table is Hive-partitioned by `event_date =
    * to_date(hour_start)` and each microbatch merges through
    * [[graft.pipeline.Upsert.mergeIntoPartitionedPath]]: only the date
    * partitions present in the batch are read, merged, and rewritten
    * (dynamic partition overwrite). A continuous stream whose batches
    * span minutes touches 1–2 partitions of a years-deep table per
    * commit — the full-table copy-on-write rewrite this replaces is
    * the difference between O(batch) and O(table) per microbatch. */
  def hourlyMergeToGold(spark: SparkSession, dir: String,
                        goldPath: String): DataFrame = {
    val stagePath = SessionizeStream.stageWithSentinels(spark, dir, "merge_gold",
      splitEvents = 3)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(goldPath))
    // 2 files per trigger: UPDATE-mode aggregation emits changed keys
    // every batch regardless of the watermark, so sentinels need no
    // trailing batches of their own (unlike append-mode windows) —
    // 3 microbatches exercise the multi-batch merge at half the
    // per-batch commit overhead of 6.
    val stream = spark.readStream
      .schema(rawSchema)
      .option("maxFilesPerTrigger", 2)
      .option("latestFirst", false)
      .parquet(stagePath)
      .withColumn("ts", timestamp_micros(col("ts")))
    val agg = stream
      .withWatermark("ts", "0 seconds")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("total_value"))
      .select(col("window.start").as("hour_start"), col("event_type"),
        col("n_events"), col("total_value"),
        to_date(col("window.start")).as("event_date"))
    StreamRun.toEnd(spark, agg.writeStream
      .outputMode("update")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val b = batch.filter(col("event_type") =!= "sentinel")
        if (!b.isEmpty) {
          if (new java.io.File(goldPath).exists())
            // strict=false: update-mode groupBy output is unique per
            // (hour_start, event_type) within a batch by construction,
            // so the Delta-parity duplicate probe would only burn a job.
            graft.pipeline.Upsert.mergeIntoPartitionedPath(spark, goldPath, b,
              Seq("hour_start", "event_type"), "event_date", strict = false)
          else b.write.mode("overwrite").partitionBy("event_date").parquet(goldPath)
        }
      }, Some(stagePath))
    spark.read.parquet(goldPath).drop("event_date")
  }

  /** Stream-stream interval join: each purchase inner-joins the same
    * user's views from the 30 minutes at-or-before it. BOTH sides are
    * watermarked and the join condition time-bounds each side relative
    * to the other, so the join state is garbage-collected as the
    * watermark advances — the bounded-state contract that makes
    * stream-stream joins viable at production rates (unbounded-state
    * joins are rejected by Spark outright). Sentinel rows ride along on
    * both sides to advance the watermark, match only each other
    * (user_id −1, > 30 min apart), and are filtered from the output. */
  def purchaseViewJoin(spark: SparkSession, dir: String,
                       queryName: String = "graft_stream_join"): DataFrame = {
    val stagePath = SessionizeStream.stageWithSentinels(spark, dir, "ssj")
    // No maxFilesPerTrigger throttle: INNER join matches emit in the
    // microbatch they arrive (the watermark only garbage-collects
    // state; append-mode WINDOW queries are the ones that need
    // sentinel data in trailing batches to flush). Batching the whole
    // finite replay per trigger keeps the bounded-state contract while
    // not paying both sides a re-list + re-read per staged file.
    def side(t: String): DataFrame = spark.readStream
      .schema(rawSchema)
      .option("latestFirst", false)
      .parquet(stagePath)
      .withColumn("ts", timestamp_micros(col("ts")))
      .filter(col("event_type") === t || col("event_type") === "sentinel")
      .withWatermark("ts", "0 seconds")
    val p = side("purchase").select(col("user_id").as("p_user"),
      col("ts").as("p_ts"), col("event_id").as("purchase_id"))
    val v = side("view").select(col("user_id").as("v_user"),
      col("ts").as("v_ts"), col("event_id").as("view_id"))
    val joined = p.join(v, expr(
      "p_user = v_user AND v_ts BETWEEN p_ts - INTERVAL 30 MINUTES AND p_ts"))
    StreamRun.drain(spark, joined, "append", queryName, stagePath)
      .filter(col("p_user") >= 0)
      .select(col("purchase_id"), col("view_id"))
  }

  /** Streaming ingest through the TRANSACTION LOG: the same update-mode
    * hourly aggregation as [[hourlyMergeToGold]], but each microbatch
    * commits via [[graft.pipeline.TxLog.mergePartitioned]] — ACID
    * versioned commits, snapshot-isolated readers, time travel across
    * microbatches, AND partition-pruned rewrites (only the event_date
    * partitions present in the batch are touched). This is the full
    * production continuous-ingest contract: a crashed job leaves the
    * table at its last committed version, and a concurrent batch
    * writer's merge serializes through the optimistic log protocol. */
  def hourlyMergeToTxLog(spark: SparkSession, dir: String,
                         tablePath: String): DataFrame = {
    val stagePath = SessionizeStream.stageWithSentinels(spark, dir, "txlog_gold",
      splitEvents = 3)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tablePath))
    val log = graft.pipeline.TxLog(spark, tablePath)
    // 2 files per trigger — same reasoning as [[hourlyMergeToGold]]:
    // update-mode emission is watermark-independent, so 3 microbatches
    // (each a TxLog commit) exercise the transactional replay fully.
    val stream = spark.readStream
      .schema(rawSchema)
      .option("maxFilesPerTrigger", 2)
      .option("latestFirst", false)
      .parquet(stagePath)
      .withColumn("ts", timestamp_micros(col("ts")))
    val agg = stream
      .withWatermark("ts", "0 seconds")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("total_value"))
      .select(col("window.start").as("hour_start"), col("event_type"),
        col("n_events"), col("total_value"),
        to_date(col("window.start")).as("event_date"))
    StreamRun.toEnd(spark, agg.writeStream
      .outputMode("update")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        commitHourlyBatch(log, batch, batchId)
      }, Some(stagePath))
    log.snapshot().drop("event_date")
  }

  /** App id under which the hourly TxLog stream records its batch
    * high-water mark in each commit's manifest. */
  private[graft] val HourlyTxnApp = "graft_hourly_txlog"

  /** One microbatch's commit of [[hourlyMergeToTxLog]] — EXACTLY-ONCE
    * under foreachBatch redelivery: the commit carries
    * ([[HourlyTxnApp]], batchId), and [[graft.pipeline.TxLog]] skips a
    * batch id at-or-below the manifest's recorded high-water mark. A
    * restarted query that redelivers its last batch (commit landed,
    * checkpoint offset didn't) therefore cannot double-merge.
    * Exposed for the redelivery spec. */
  private[graft] def commitHourlyBatch(log: graft.pipeline.TxLog,
                                       batch: DataFrame, batchId: Long): Unit = {
    val b = batch.filter(col("event_type") =!= "sentinel")
    val txn = Some((HourlyTxnApp, batchId))
    if (!b.isEmpty) {
      if (log.exists())
        log.mergePartitioned(b, Seq("hour_start", "event_type"), "event_date", txn)
      else log.overwritePartitioned(b, "event_date", txn)
    }
    () // foreachBatch wants Unit; the commit version is logged in _txlog
  }

  /** Streaming EXACT dedup: `dropDuplicates` over the dedup key emits
    * each key's first occurrence and suppresses every later one. State
    * = one entry per distinct key, unbounded by input volume but NOT
    * by key cardinality — the variant you run when the dedup horizon
    * is "all of history" and the key set fits the state store (e.g.
    * content hashes of a curated corpus). [[streamingDedupBounded]] is
    * the watermark-bounded production shape. */
  def streamingDedup(spark: SparkSession, dir: String,
                     queryName: String = "graft_stream_dedup"): DataFrame = {
    val stagePath = SessionizeStream.stageWithSentinels(spark, dir, "dedup",
      splitEvents = 3)
    val stream = spark.readStream
      .schema(rawSchema)
      .option("latestFirst", false)
      .parquet(stagePath)
      .withColumn("ts", timestamp_micros(col("ts")))
      .select(col("user_id"), col("event_type"))
      .dropDuplicates("user_id", "event_type")
    StreamRun.drain(spark, stream, "append", queryName, stagePath)
      .filter(col("user_id") >= 0)
  }

  /** Streaming dedup with BOUNDED state: `dropDuplicatesWithinWatermark`
    * drops a key's state once the watermark passes its last-seen event
    * time + delay, so state tracks the active horizon, not history —
    * the 100 TB continuous-ingest shape. Exactness over the finite
    * replay is by construction: the dedup key includes the event HOUR
    * and the replay is split by TIME RANGE, so a key recurs only
    * within its own hour, and an hour straddles at most one batch
    * boundary — always inside the 2-hour delay. The batch DISTINCT is
    * therefore an exact oracle. */
  def streamingDedupBounded(spark: SparkSession, dir: String,
                            queryName: String = "graft_stream_dedup_wm"): DataFrame = {
    val stagePath = SessionizeStream.stageWithSentinels(spark, dir, "dedupwm",
      splitEvents = 3)
    val stream = spark.readStream
      .schema(rawSchema)
      .option("latestFirst", false)
      .parquet(stagePath)
      .withColumn("ts", timestamp_micros(col("ts")))
      .withWatermark("ts", "2 hours")
      .withColumn("hour_start", date_trunc("hour", col("ts")))
      .select(col("ts"), col("user_id"), col("event_type"), col("hour_start"))
      .dropDuplicatesWithinWatermark("user_id", "event_type", "hour_start")
      .select(col("user_id"), col("event_type"), col("hour_start"))
    StreamRun.drain(spark, stream, "append", queryName, stagePath)
      .filter(col("user_id") >= 0)
  }

  /** STREAM-STATIC enrichment — the canonical "join the firehose to a
    * dimension" pattern: the event stream broadcast-left-joins a
    * STATIC customer table per microbatch (no streaming state for the
    * join at all — stream-static joins are stateless, and the
    * broadcast keeps the dim off the shuffle), then aggregates per
    * (market segment, event_type) in complete mode. At 100 TB the dim
    * side is loaded once per microbatch and shipped with the task
    * binary; the stream side never shuffles for the join — only the
    * (segments × types)-key aggregation exchanges, which is bounded
    * metadata-scale state. */
  def segmentEnrich(spark: SparkSession, dir: String,
                    queryName: String = "graft_stream_enrich"): DataFrame = {
    val dim = broadcast(spark.read.parquet(s"$dir/customer.parquet")
      .select(col("c_custkey"), col("c_mktsegment")))
    val stream = directSource(spark, dir)
    val agg = stream
      .join(dim, stream("user_id") === dim("c_custkey"), "left")
      .withColumn("segment", coalesce(col("c_mktsegment"), lit("unknown")))
      .groupBy(col("segment"), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("total_value"))
    StreamRun.drain(spark, agg, "complete", queryName, s"$dir/events.parquet")
  }

  /** Per-user sessions via Spark's BUILT-IN `session_window` — the
    * declarative counterpart of the custom
    * [[SessionizeStream.run flatMapGroupsWithState sessionizer]]: the
    * engine merges events into gap-bounded windows (an event joins its
    * user's open session iff it lands strictly inside last_ts + gap)
    * and closes a session when the watermark passes its end. Append
    * mode + far-future sentinels flush every real session; state per
    * key is one open session — bounded at any rate. Note the boundary
    * semantics: `session_window` starts a NEW session at gap exactly
    * (strict `<` merge), where the batch islands query's `>` keeps it
    * — the oracle replays the strict rule. */
  def sessionWindows(spark: SparkSession, dir: String,
                     queryName: String = "graft_session_window"): DataFrame = {
    val stagePath = SessionizeStream.stageWithSentinels(spark, dir, "sess_win")
    val stream = spark.readStream
      .schema(rawSchema)
      .option("latestFirst", false)
      .parquet(stagePath)
      .withColumn("ts", timestamp_micros(col("ts")))
    val agg = stream
      .withWatermark("ts", "0 seconds")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("session_value"))
      .select(col("user_id"),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n_events"), col("session_value"))
    StreamRun.drain(spark, agg, "append", queryName, stagePath)
      .filter(col("user_id") >= 0)
  }

  /** Stream-stream LEFT OUTER interval join — the semantic the inner
    * join ([[purchaseViewJoin]]) cannot express: a purchase with NO
    * view in its preceding 30 minutes must still emit (with a null
    * view id), and it can only do so once the watermark proves no
    * matching view can still arrive — the state-expiry emission path.
    * Both sides watermarked, the join condition time-bounds each side,
    * so state stays bounded at any rate; far-future sentinels drive
    * the watermark past every real row so each unmatched purchase
    * flushes. */
  def purchaseViewLeftJoin(spark: SparkSession, dir: String,
                           queryName: String = "graft_stream_left_join"): DataFrame = {
    val stagePath = SessionizeStream.stageWithSentinels(spark, dir, "sslj")
    def side(t: String): DataFrame = spark.readStream
      .schema(rawSchema)
      .option("latestFirst", false)
      .parquet(stagePath)
      .withColumn("ts", timestamp_micros(col("ts")))
      .filter(col("event_type") === t || col("event_type") === "sentinel")
      .withWatermark("ts", "0 seconds")
    val p = side("purchase").select(col("user_id").as("p_user"),
      col("ts").as("p_ts"), col("event_id").as("purchase_id"))
    val v = side("view").select(col("user_id").as("v_user"),
      col("ts").as("v_ts"), col("event_id").as("view_id"))
    val joined = p.join(v, expr(
      "p_user = v_user AND v_ts BETWEEN p_ts - INTERVAL 30 MINUTES AND p_ts"),
      "leftOuter")
    StreamRun.drain(spark, joined, "append", queryName, stagePath)
      .filter(col("p_user") >= 0)
      .select(col("purchase_id"), col("view_id"))
  }

  /** Stream-stream FULL OUTER interval join — completes the engine's
    * inner/left/full matrix: purchases keep their attributed views,
    * unmatched purchases AND unmatched views both surface when the
    * watermark expires their state (the audit shape: every event
    * accounted for on either side of the attribution). Same bounded
    * per-key interval state as the left variant; sentinel rows drive
    * the watermark and are filtered by the user-id sign on whichever
    * side survived. */
  def purchaseViewFullJoin(spark: SparkSession, dir: String,
                           queryName: String = "graft_stream_full_join"): DataFrame = {
    val stagePath = SessionizeStream.stageWithSentinels(spark, dir, "ssfj")
    def side(t: String): DataFrame = spark.readStream
      .schema(rawSchema)
      .option("latestFirst", false)
      .parquet(stagePath)
      .withColumn("ts", timestamp_micros(col("ts")))
      .filter(col("event_type") === t || col("event_type") === "sentinel")
      .withWatermark("ts", "0 seconds")
    val p = side("purchase").select(col("user_id").as("p_user"),
      col("ts").as("p_ts"), col("event_id").as("purchase_id"))
    val v = side("view").select(col("user_id").as("v_user"),
      col("ts").as("v_ts"), col("event_id").as("view_id"))
    val joined = p.join(v, expr(
      "p_user = v_user AND v_ts BETWEEN p_ts - INTERVAL 30 MINUTES AND p_ts"),
      "fullOuter")
    StreamRun.drain(spark, joined, "append", queryName, stagePath)
      .filter(coalesce(col("p_user"), col("v_user")) >= 0)
      .select(col("purchase_id"), col("view_id"))
  }

  /** Streaming EXPECTATION-GATED ingest — the full production feed
    * shape composed from the engine's own parts: each microbatch runs
    * through [[graft.pipeline.Expectations.appendWithQuarantine]], so
    * clean events land in the MAIN TxLog table and rule-violating ones
    * in the QUARANTINE table (tagged with the rules they broke), both
    * as ACID commits carrying the same (appId, batchId) txn identity —
    * a redelivered batch double-commits NEITHER side. Returns the
    * per-(sink, event_type) accounting of the two tables, which must
    * equal the one-shot batch split exactly. */
  def quarantineIngest(spark: SparkSession, dir: String,
                       root: String): DataFrame = {
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
    val main = graft.pipeline.TxLog(spark, s"$root/events")
    val quar = graft.pipeline.TxLog(spark, s"$root/events_quarantine")
    val rules = Seq(
      "value_cap" -> (col("value") <= 400.0),
      "known_type" -> (col("event_type") =!= "error"))
    val stagePath = SessionizeStream.stageWithSentinels(spark, dir, "quar_ingest",
      splitEvents = 3)
    val stream = spark.readStream
      .schema(rawSchema)
      .option("maxFilesPerTrigger", 2)
      .option("latestFirst", false)
      .parquet(stagePath)
      .filter(col("event_type") =!= "sentinel")
      .select(col("event_id"), col("event_type"), col("value"))
    StreamRun.toEnd(spark, stream.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.pipeline.Expectations.appendWithQuarantine(
          main, quar, batch, rules, txn = Some(("graft_quar_ingest", batchId)))
        ()
      }, Some(stagePath))
    val tagged = main.snapshot().select(col("event_type"), lit("main").as("sink"))
      .unionByName(quar.snapshot().select(col("event_type"), lit("quarantine").as("sink")))
    tagged.groupBy(col("sink"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
  }

  /** Hourly tumbling-window aggregate per event_type, streaming. Runs
    * the query to completion over the finite input and returns the
    * result as a batch DataFrame. */
  def hourlyByType(spark: SparkSession, dir: String, queryName: String = "graft_events_hourly"): DataFrame = {
    val stream = directSource(spark, dir)
    val agg = stream
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("total_value"))
      .select(col("window.start").as("hour_start"), col("event_type"),
        col("n_events"), col("total_value"))
    StreamRun.drain(spark, agg, "complete", queryName, s"$dir/events.parquet")
  }

  /** UNION of two INDEPENDENT streaming sources feeding one stateful
    * aggregation — the multi-topic ingest shape (e.g. a purchases
    * stream joined by a clickstream into one hourly rollup). Each
    * source is watermarked separately (1 h vs 30 min); Structured
    * Streaming advances the query watermark as the MINIMUM across
    * sources, so the union's window state is bounded by the laggier
    * branch — exactly the semantics a multi-source 100 TB ingest
    * needs. The branches project different shapes (purchases keep
    * `value`, other events contribute 0) to prove the union is not a
    * trivial re-read of one source. */
  def unionSources(spark: SparkSession, dir: String,
                   queryName: String = "graft_events_union"): DataFrame = {
    def src(): DataFrame = directSource(spark, dir)
    val purchases = src()
      .filter(col("event_type") === "purchase")
      .select(col("ts"), col("event_type"), col("value"))
      .withWatermark("ts", "1 hour")
    val others = src()
      .filter(col("event_type") =!= "purchase")
      .select(col("ts"), col("event_type"), lit(0.0).as("value"))
      .withWatermark("ts", "30 minutes")
    val agg = purchases.unionByName(others)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("total_value"))
      .select(col("window.start").as("hour_start"), col("event_type"),
        col("n_events"), col("total_value"))
    StreamRun.drain(spark, agg, "complete", queryName, s"$dir/events.parquet")
  }
}

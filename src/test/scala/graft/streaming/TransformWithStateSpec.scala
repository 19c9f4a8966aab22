package graft.streaming

import graft.SparkTestBase
import graft.pipeline.TxLog
import org.apache.spark.sql.{Dataset, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming._

/** Per-key counter whose state carries a processing-time TTL: each
  * emission reports (key, new_count, previous_count) so a test can
  * SEE whether the previous batch's state survived or was evicted. */
class TtlCounterProcessor(ttlMs: Long)
    extends StatefulProcessor[Long, (Long, Long), (Long, Long, Long)] {
  @transient private var n: ValueState[Long] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    n = getHandle.getValueState("n", Encoders.scalaLong,
      if (ttlMs > 0) TTLConfig(java.time.Duration.ofMillis(ttlMs))
      else TTLConfig.NONE)

  override def handleInputRows(key: Long, rows: Iterator[(Long, Long)],
                               timerValues: TimerValues): Iterator[(Long, Long, Long)] = {
    val prev = if (n.exists()) n.get() else 0L
    val c = prev + rows.size
    n.update(c)
    Iterator.single((key, c, prev))
  }
}

/** The timer/TTL/restart half of `transformWithState` — the parts that
  * bound state at 100 TB user cardinality: TTL evicts idle keys,
  * event-time timers close sessions ([[SessionTimeoutProcessor]],
  * oracled as `events_stream_session_timers`), and a killed-and-
  * restarted query must restore RocksDB state and not double-commit
  * its redelivered batch. */
class TransformWithStateSpec extends SparkTestBase {
  import spark.implicits._

  private val RocksKey = "spark.sql.streaming.stateStore.providerClass"
  private val Rocks =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  private def withRocksDb[A](f: => A): A = {
    val prev = spark.conf.getOption(RocksKey)
    spark.conf.set(RocksKey, Rocks)
    try StreamRun.withStatePartitions(spark, 2)(f)
    finally prev.fold(spark.conf.unset(RocksKey))(spark.conf.set(RocksKey, _))
  }

  /** Stage `nBatches` single-row files for key 1 with ordered mtimes so
    * maxFilesPerTrigger=1 yields one row per microbatch. */
  private def stageBatches(name: String, nBatches: Int): String = {
    val dir = new java.io.File(tmpDir(s"tws_src_$name"))
    dir.mkdirs()
    (0 until nBatches).foreach { i =>
      val tmp = new java.io.File(dir, s"tmp_$i")
      Seq((1L, 1L)).toDF("user_id", "v")
        .coalesce(1).write.mode("overwrite").parquet(tmp.getAbsolutePath)
      val part = tmp.listFiles().find(_.getName.endsWith(".parquet")).get
      val target = new java.io.File(dir, f"$i%02d.parquet")
      org.apache.commons.io.FileUtils.moveFile(part, target)
      org.apache.commons.io.FileUtils.deleteDirectory(tmp)
      target.setLastModified(System.currentTimeMillis() - 60000L + i * 1000L)
    }
    dir.getAbsolutePath
  }

  /** Run the TTL counter over staged single-row batches, pausing
    * between microbatches so wall-clock TTLs can lapse; returns the
    * (key, count, prev) emissions in batch order. */
  private def runCounter(name: String, ttlMs: Long): Seq[(Long, Long, Long)] = {
    val src = stageBatches(name, 3)
    val buf = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
    withRocksDb {
      val stream = spark.readStream
        .schema("user_id LONG, v LONG")
        .option("maxFilesPerTrigger", 1)
        .option("latestFirst", false)
        .parquet(src)
        .as[(Long, Long)]
      val out = stream.groupByKey(_._1)
        .transformWithState(new TtlCounterProcessor(ttlMs),
          TimeMode.ProcessingTime(), OutputMode.Update())
      // In ProcessingTime mode the operator requests a batch on EVERY
      // trigger (processing time must keep advancing for eviction), so
      // neither processAllAvailable nor AvailableNow ever settles —
      // bound the run by waiting for the three data emissions instead
      val q = out.writeStream.outputMode("update")
        .foreachBatch { (batch: Dataset[(Long, Long, Long)], _: Long) =>
          val rows = batch.collect()
          buf.synchronized { buf ++= rows }
          // let wall-clock TTLs lapse before the next trigger fires
          Thread.sleep(100)
        }.start()
      try {
        val deadline = System.currentTimeMillis() + 120000L
        while (buf.synchronized(buf.size) < 3 &&
          System.currentTimeMillis() < deadline) Thread.sleep(50)
      } finally q.stop()
      assert(buf.synchronized(buf.size) === 3,
        s"expected 3 data emissions, got ${buf.toSeq}")
    }
    buf.toSeq
  }

  test("state TTL evicts idle keys between batches; TTLConfig.NONE accumulates") {
    // without TTL the counter accumulates across the three batches...
    assert(runCounter("none", 0L).sortBy(_._2) ===
      Seq((1L, 1L, 0L), (1L, 2L, 1L), (1L, 3L, 2L)))
    // ...with a 10 ms TTL and ≥100 ms between batches, every batch
    // finds the previous state EVICTED: prev always reads 0 — the
    // lever that bounds the store to recently-active keys at 100 TB
    assert(runCounter("ttl", 10L) ===
      Seq((1L, 1L, 0L), (1L, 1L, 0L), (1L, 1L, 0L)))
  }

  /** Split the real events across `n` time-range part files with
    * ordered mtimes — NO sentinel files: TimeMode.None needs no
    * watermark, and a sentinel-only (empty-after-filter) microbatch
    * would either trip the state-store commit validation (an isEmpty
    * probe scans one partition) or churn table versions. */
  private def stageSplitEvents(dir: String, n: Int, name: String): String = {
    val stage = new java.io.File(tmpDir(s"tws_split_$name"))
    org.apache.commons.io.FileUtils.deleteDirectory(stage)
    stage.mkdirs()
    val tmp = new java.io.File(stage, "tmp_split")
    // normalize ts to epoch-micros longs (the rawSchema convention),
    // robust to the driver file's physical timestamp vintage
    graft.ops.Tables.loadEvents(spark, dir)
      .select(col("event_id"),
        org.apache.spark.sql.functions.unix_micros(col("ts")).as("ts"),
        col("user_id"), col("event_type"), col("value"), col("props"))
      .repartitionByRange(n, col("ts"))
      .write.mode("overwrite").parquet(tmp.getAbsolutePath)
    tmp.listFiles().filter(_.getName.endsWith(".parquet"))
      .sortBy(_.getName).zipWithIndex.foreach { case (part, i) =>
        val target = new java.io.File(stage, f"ev_$i%02d.parquet")
        org.apache.commons.io.FileUtils.moveFile(part, target)
        target.setLastModified(System.currentTimeMillis() - 60000L + i * 1000L)
      }
    org.apache.commons.io.FileUtils.deleteDirectory(tmp)
    stage.getAbsolutePath
  }

  test("killed-and-restarted TIMER sessionizer: armed timers restore and still close sessions") {
    import org.apache.spark.sql.functions.{col, round, timestamp_micros, unix_micros, expr}
    val dir = sf("0.001")
    // 4 time-range event files + sentinel batches (watermark driver)
    val stagePath = SessionizeStream.stageWithSentinels(spark, dir,
      "tws_timer_restart", splitEvents = 4)
    val cp = tmpDir("tws_timer_restart_cp")
    // emissions per batch id — a redelivered batch id overwrites its
    // own slot, so replays never double-count
    val byBatch = scala.collection.mutable.Map.empty[Long, Seq[(Long, Long, Long, Long)]]
    @volatile var crashedOnce = false

    def run(failAtBatch: Long): Option[Throwable] = withRocksDb {
      val stream = spark.readStream
        .schema(EventStreams.rawSchema)
        .option("maxFilesPerTrigger", 1)
        .option("latestFirst", false)
        .parquet(stagePath)
        .withColumn("ts", timestamp_micros(col("ts")))
        .withWatermark("ts", "0 seconds")
        .select(col("user_id"), col("ts"), unix_micros(col("ts")).as("usec"),
          col("event_id"), round(col("value") * 100).cast("long").as("cents"))
        .as[SessionizeStream.Ev]
      val out = stream.groupByKey(_.user_id)
        .transformWithState(new SessionTimeoutProcessor,
          TimeMode.EventTime(), OutputMode.Append())
      val q = out.toDF().writeStream
        .outputMode("append")
        .option("checkpointLocation", cp)
        .foreachBatch { (batch: Dataset[Row], id: Long) =>
          val rows = batch.filter(col("user_id") >= 0).collect()
            .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
          byBatch.synchronized { byBatch(id) = rows.toSeq }
          // crash AFTER recording, BEFORE the offset commit: the batch
          // is redelivered on restart from restored RocksDB state —
          // including the ARMED TIMERS, which must still fire later
          if (id == failAtBatch && !crashedOnce) {
            crashedOnce = true
            throw new RuntimeException("injected crash")
          }
        }.start()
      try { q.processAllAvailable(); None }
      catch { case t: Throwable => Some(t) }
      finally q.stop()
    }

    assert(run(failAtBatch = 2L).isDefined, "injected crash did not surface")
    assert(run(failAtBatch = -1L).isEmpty, "restarted run failed")

    // every session closed exactly once across crash + restart, and the
    // total equals the batch gaps-and-islands ground truth
    val got = byBatch.synchronized(byBatch.values.flatten.toSeq)
      .map { case (u, start, n, cents) => (u, start, n, cents) }.sorted
    val gapUs = SessionTimers.GapUs
    graft.ops.Tables.loadEvents(spark, dir)
      .selectExpr("user_id", "unix_micros(ts) AS us", "event_id",
        "CAST(round(value * 100) AS LONG) AS cents")
      .createOrReplaceTempView("ev_truth")
    val want = spark.sql(s"""
      WITH flagged AS (
        SELECT user_id, us, event_id, cents,
               CASE WHEN lag(us) OVER w IS NULL OR us - lag(us) OVER w > $gapUs
                    THEN 1 ELSE 0 END AS new_sess
        FROM ev_truth WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
      sess AS (
        SELECT user_id, us, cents,
               sum(new_sess) OVER (PARTITION BY user_id ORDER BY us, event_id
                                   ROWS UNBOUNDED PRECEDING) AS sid
        FROM flagged)
      SELECT user_id, min(us) AS start_us, count(*) AS n, sum(cents) AS cents
      FROM sess GROUP BY user_id, sid""")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq.sorted
    assert(got === want)
  }

  test("killed-and-restarted TWS query: RocksDB state restores, redelivered batch dedupes") {
    restartScenario("tws_restart", changelog = false)
  }

  test("changelog checkpointing: killed-and-restarted TWS query restores equivalently") {
    // production path for LARGE state: instead of re-uploading a full
    // RocksDB snapshot per batch, only the batch's changelog ships to
    // the checkpoint and restore replays it over the last snapshot —
    // restart-equivalence must be indistinguishable from snapshot mode
    restartScenario("tws_restart_clog", changelog = true)
  }

  private def restartScenario(tag: String, changelog: Boolean): Unit = {
    val ClogKey =
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
    val prevClog = spark.conf.getOption(ClogKey)
    spark.conf.set(ClogKey, changelog.toString)
    try restartScenarioBody(tag)
    finally prevClog.fold(spark.conf.unset(ClogKey))(spark.conf.set(ClogKey, _))
  }

  private def restartScenarioBody(tag: String): Unit = {
    val dir = sf("0.001")
    val stagePath = stageSplitEvents(dir, 4, tag)
    val cp = tmpDir(s"${tag}_cp")
    val log = TxLog(spark, tmpDir(s"${tag}_table"))
    @volatile var crashedOnce = false

    def run(failAtBatch: Long): Option[Throwable] = withRocksDb {
      val stream = spark.readStream
        .schema(EventStreams.rawSchema)
        .option("maxFilesPerTrigger", 1)
        .option("latestFirst", false)
        .parquet(stagePath)
        .select(col("user_id"),
          (col("value").cast("decimal(18,2)") * 100).cast("long").as("cents"))
        .as[(Long, Long)]
      val out = stream.groupByKey(_._1)
        .transformWithState(new RunningTotalsProcessor,
          TimeMode.None(), OutputMode.Update())
      val q = out.toDF().writeStream
        .outputMode("update")
        .option("checkpointLocation", cp)
        .foreachBatch { (batch: Dataset[Row], id: Long) =>
          // decide BEFORE touching the batch, then make exactly ONE
          // full pass over it: a redelivered batch skips the table
          // write but must still be consumed — the TWS operator has to
          // commit its state stores for the batch either way (Spark's
          // state-store commit validation enforces this)
          if (log.txnHighWater(tag).exists(_ >= id))
            batch.foreach(_ => ())
          else if (log.exists())
            log.merge(batch, Seq("user_id"), Some((tag, id)))
          else log.overwrite(batch)
          // crash AFTER the commit, BEFORE the checkpoint offset write
          // — the redelivery window foreachBatch exactly-once covers
          if (id == failAtBatch && !crashedOnce) {
            crashedOnce = true
            throw new RuntimeException("injected crash after commit")
          }
        }.start()
      try { q.processAllAvailable(); None }
      catch { case t: Throwable => Some(t) }
      finally q.stop()
    }

    // run 1 dies after committing batch 1; run 2 resumes the SAME
    // checkpoint: batch 1 is redelivered (recomputed from restored
    // RocksDB state), its commit dedupes on (app, batchId), and the
    // remaining batches complete the totals
    assert(run(failAtBatch = 1L).isDefined, "injected crash did not surface")
    assert(run(failAtBatch = -1L).isEmpty, "restarted run failed")

    // final state equals the batch ground truth...
    val got = log.snapshot()
      .select(col("user_id"), col("n"), col("cents"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
    val want = graft.ops.Tables.loadEvents(spark, dir)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"),
        sum((col("value").cast("decimal(18,2)") * 100).cast("long")).as("cents"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
    assert(got === want)
    // ...and the redelivered batch committed NOTHING: v0 overwrite +
    // one merge per remaining real batch, no double-commit version
    assert(log.currentVersion() === 3L)
  }
}

package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, TimeMode, Trigger}

/** One-time-per-session streaming warm-up: a tiny synthetic replay
  * through the SAME machinery the streaming queries exercise — the
  * microbatch engine, offset/commit logs, the RocksDB state store
  * provider (JNI load + provider init), `transformWithState`
  * planning, the state data source, and the watermark +
  * `dropDuplicatesWithinWatermark` stack on the default provider.
  *
  * Why: this stack's process-wide class loading and JIT costs seconds
  * and lands on whichever streaming query happens to run FIRST — the
  * round-14 driver bench billed ~+2.7 s of it to
  * `events_state_store_audit` two rounds running, producing flags
  * that needed hand adjudication. Bench and BenchOne invoke this in
  * their UNTIMED warm-up section, so every streaming entry measures
  * its steady-state cost, the same discipline as the batch JIT
  * warm-up and the layout-billed bucketed writes. ~200 synthetic rows
  * in 2 microbatches — milliseconds of data, the cost is exactly the
  * one-time class/JNI loading being moved out of the timed region. */
object StreamWarmup {

  def run(spark: SparkSession): Unit =
    graft.ops.SessionScopedCache.memoDir(spark, "stream_warmup", ()) { base =>
      try warm(spark, base)
      catch { case _: Throwable => () } // advisory: a failed warm-up must never fail a query
    }

  private def warm(spark: SparkSession, base: String): Unit = {
    import spark.implicits._
    val src = spark.range(0, 200)
      .selectExpr("id % 10 AS user_id", "id AS cents",
        "timestamp_millis(1700000000000 + id * 1000) AS ts")
    src.repartition(2).write.parquet(s"$base/src")
    val schema = src.schema

    // leg 1: transformWithState on the RocksDB provider + changelog
    // checkpointing (the running-totals/session-timers stack), then a
    // state-data-source read-back (the audit stack)
    val confKey = "spark.sql.streaming.stateStore.providerClass"
    val clKey =
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
    graft.ops.Q.withConf(spark,
      confKey -> "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
      clKey -> "true") {
      SessionizeStream.withStatePartitions(spark, 4) {
        val q = spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", 1).parquet(s"$base/src")
          .select(col("user_id"), col("cents")).as[(Long, Long)]
          .groupByKey(_._1)
          .transformWithState(new RunningTotalsProcessor,
            TimeMode.None(), OutputMode.Update())
          .toDF().writeStream.outputMode("update")
          .format("memory").queryName("graft_stream_warmup_tws")
          .option("checkpointLocation", s"$base/cp_tws")
          .trigger(Trigger.AvailableNow()).start()
        try q.awaitTermination() finally q.stop()
      }
    }
    spark.read.format("statestore").option("stateVarName", "totals")
      .load(s"$base/cp_tws").count()

    // leg 2: watermark + bounded-state dedup on the default provider
    // (the dropDuplicatesWithinWatermark stack)
    SessionizeStream.withStatePartitions(spark, 4) {
      val q = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(s"$base/src")
        .withWatermark("ts", "10 seconds")
        .dropDuplicatesWithinWatermark(Seq("user_id"))
        .writeStream.format("memory")
        .queryName("graft_stream_warmup_dd")
        .option("checkpointLocation", s"$base/cp_dd")
        .trigger(Trigger.AvailableNow()).start()
      try q.awaitTermination() finally q.stop()
    }
    spark.sql("DROP TABLE IF EXISTS graft_stream_warmup_tws")
    spark.sql("DROP TABLE IF EXISTS graft_stream_warmup_dd")
  }
}

package graft.streaming

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming._

/** Typed state record: event count + value in exact integer cents. */
case class UserRunning(n: Long, cents: Long)

/** Per-emission snapshot of a user's running totals. */
case class UserRunningOut(user_id: Long, n: Long, cents: Long)

/** Per-user RUNNING totals via Spark 4's `transformWithState` — the
  * arbitrary-state successor of `mapGroupsWithState`: a typed
  * `ValueState` per key in the RocksDB state store, updated once per
  * microbatch with that batch's rows and re-emitted as a snapshot.
  * Values accumulate as integer cents so the running sums are exact
  * at any batch split. State is one 16-byte record per user — at
  * 100 TB input the store size tracks the USER cardinality, not the
  * event rate, and TTLConfig is the built-in eviction lever this
  * finite replay doesn't need.
  */
class RunningTotalsProcessor
    extends StatefulProcessor[Long, (Long, Long), UserRunningOut] {
  @transient private var totals: ValueState[UserRunning] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    totals = getHandle.getValueState("totals",
      Encoders.product[UserRunning], TTLConfig.NONE)

  override def handleInputRows(key: Long, rows: Iterator[(Long, Long)],
                               timerValues: TimerValues): Iterator[UserRunningOut] = {
    val prev = if (totals.exists()) totals.get() else UserRunning(0L, 0L)
    var n = prev.n
    var c = prev.cents
    rows.foreach { r => n += 1; c += r._2 }
    totals.update(UserRunning(n, c))
    Iterator.single(UserRunningOut(key, n, c))
  }
}

object RunningTotals {

  /** One CHECKPOINTED replay per (session, source dir), shared by the
    * running-totals query and the state audit: the replay emits its
    * per-batch snapshots into a memory table of the session AND
    * persists its RocksDB state under its memo directory. Returns
    * (memory table, checkpoint path). Sharing is not just a cost save —
    * it is the audit's semantics: an operator audits the state of a job
    * that ALREADY RAN, not a private re-execution. */
  private def replay(spark: SparkSession, dir: String): (String, String) =
    graft.ops.SessionScopedCache.memoDir(spark, "running_totals", dir) { cp =>
      import spark.implicits._
      // the memory table is named after the entry's own directory, so
      // no two replays in one session share a name
      val table = "graft_" + new java.io.File(cp).getName.replaceAll("\\W", "_")
      val stagePath = SessionizeStream.stageWithSentinels(spark, dir, "tws",
        splitEvents = 4)
      val stream = spark.readStream
        .schema(EventStreams.rawSchema)
        .option("maxFilesPerTrigger", 1)
        .option("latestFirst", false)
        .parquet(stagePath)
        .filter(col("event_type") =!= "sentinel")
        .select(col("user_id"),
          (col("value").cast("decimal(18,2)") * 100).cast("long").as("cents"))
        .as[(Long, Long)]
      // transformWithState requires the RocksDB state store provider;
      // changelog checkpointing uploads per-batch DELTAS instead of a
      // full RocksDB snapshot per commit — the production setting for
      // large state (restart-equivalence proven in
      // TransformWithStateSpec's changelog variant)
      val confKey = "spark.sql.streaming.stateStore.providerClass"
      val clKey =
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
      val prev = spark.conf.getOption(confKey)
      val prevCl = spark.conf.getOption(clKey)
      spark.conf.set(confKey,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      spark.conf.set(clKey, "true")
      try SessionizeStream.withStatePartitions(spark,
          SessionizeStream.statePartitionsFor(spark, stagePath)) {
        val out = stream.groupByKey(_._1)
          .transformWithState(new RunningTotalsProcessor,
            TimeMode.None(), OutputMode.Update())
        // Trigger.AvailableNow — the production drain mode: process
        // everything currently available as rate-limited microbatches,
        // then terminate on its own (vs processAllAvailable, a test
        // hook; vs Trigger.Once, one giant unbounded batch)
        val q = out.toDF().writeStream
          .outputMode("update")
          .format("memory")
          .queryName(table)
          .option("checkpointLocation", cp)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        try q.awaitTermination() finally q.stop()
      } finally {
        prev.fold(spark.conf.unset(confKey))(spark.conf.set(confKey, _))
        prevCl.fold(spark.conf.unset(clKey))(spark.conf.set(clKey, _))
      }
      (table, cp)
    }

  /** Runs the processor over the finite events replay (4 real
    * microbatches) and folds the emitted snapshots to each user's
    * final state: `n` is strictly increasing per user, so
    * max(struct(n, cents)) picks the last emission deterministically. */
  def perUser(spark: SparkSession, dir: String): DataFrame = {
    spark.table(replay(spark, dir)._1)
      .groupBy(col("user_id"))
      .agg(max(struct(col("n"), col("cents"))).as("s"))
      .select(col("user_id"), col("s.n").as("n_events"),
        (col("s.cents") / lit(100.0)).as("total_value"))
  }

  /** Reads the final per-user totals straight out of the shared
    * replay's RocksDB store with Spark's STATE DATA SOURCE
    * (`spark.read.format("statestore")`) — the Spark 4 operational
    * window into streaming state. The store contents must equal the
    * batch aggregate: at 100 TB this is how an operator audits state
    * size/skew and debugs a stateful job without replaying it. */
  def stateAudit(spark: SparkSession, dir: String): DataFrame = {
    val cp = replay(spark, dir)._2
    // the state source addresses a (checkpoint, operator, state
    // variable); transformWithState value state reads back as
    // (key struct, value struct) rows
    spark.read.format("statestore")
      .option("stateVarName", "totals")
      .load(cp)
      .select(col("key.value").as("user_id"),
        col("value.n").as("n_events"),
        (col("value.cents") / lit(100.0)).as("total_value"))
  }
}

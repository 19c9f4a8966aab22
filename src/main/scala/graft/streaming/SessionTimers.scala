package graft.streaming

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming._

/** Session state for the timer-driven sessionizer: bounds + totals +
  * the event-time timer currently armed for this user (ms epoch) —
  * tracking the armed timer in state lets re-registration delete the
  * stale one and lets [[SessionTimeoutProcessor.handleExpiredTimer]]
  * ignore a stale firing. */
case class TimerSessState(startUs: Long, lastUs: Long, n: Long, cents: Long,
                          timerMs: Long)

/** One closed session (append-mode emission). */
case class TimerSessOut(user_id: Long, start_us: Long, n_events: Long,
                        cents: Long)

/** Gap sessionization through `transformWithState` EVENT-TIME TIMERS —
  * the `registerTimer`/`handleExpiredTimer` half of the new API that
  * [[RunningTotalsProcessor]] (TimeMode.None) leaves unexercised:
  * every input batch re-arms the user's timer at last-event + gap, and
  * the session is emitted by the TIMER callback when the watermark
  * passes it — not by a later event. At 100 TB this is the eviction
  * half of the state contract: idle users leave the store the moment
  * their timer fires, so state tracks ACTIVE-user cardinality, and the
  * one-timer-per-key discipline (delete-then-re-register) keeps the
  * timer store the same size as the value store.
  *
  * Same session semantics as [[SessionizeStream]]'s
  * `flatMapGroupsWithState` sessionizer (an event joins its user's
  * open session iff it lands within last + gap), so the two operators
  * and the batch gaps-and-islands plan share one DuckDB oracle. */
class SessionTimeoutProcessor
    extends StatefulProcessor[Long, SessionizeStream.Ev, TimerSessOut] {
  import SessionTimers.GapUs
  @transient private var sess: ValueState[TimerSessState] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    sess = getHandle.getValueState("sess",
      Encoders.product[TimerSessState], TTLConfig.NONE)

  override def handleInputRows(key: Long, rows: Iterator[SessionizeStream.Ev],
                               timerValues: TimerValues): Iterator[TimerSessOut] = {
    // sentinel rows (user_id = -1) exist to advance the WATERMARK —
    // they must flow through the operator (a pre-operator filter would
    // push below the watermark node and stall it) but never touch state
    if (key < 0) return Iterator.empty
    val evs = rows.toVector.sortBy(e => (e.usec, e.event_id))
    if (evs.isEmpty) return Iterator.empty
    val prior = if (sess.exists()) Some(sess.get()) else None
    var open: Option[TimerSessState] = prior
    val closed = Vector.newBuilder[TimerSessOut]
    evs.foreach { e =>
      open match {
        case Some(s) if e.usec - s.lastUs <= GapUs =>
          open = Some(s.copy(lastUs = e.usec, n = s.n + 1,
            cents = s.cents + e.cents))
        case Some(s) =>
          // gap exceeded within the batch: close inline (the timer for
          // it may not have fired yet — watermark lags the data)
          closed += TimerSessOut(key, s.startUs, s.n, s.cents)
          open = Some(TimerSessState(e.usec, e.usec, 1L, e.cents, 0L))
        case None =>
          open = Some(TimerSessState(e.usec, e.usec, 1L, e.cents, 0L))
      }
    }
    open.foreach { s =>
      // ONE armed timer per key: re-arm at the new deadline, deleting
      // the stale registration (same ms arithmetic as the
      // flatMapGroupsWithState twin's setTimeoutTimestamp)
      val timerMs = (s.lastUs + GapUs) / 1000
      val old = prior.map(_.timerMs).getOrElse(0L)
      if (old > 0 && old != timerMs) getHandle.deleteTimer(old)
      if (old != timerMs) getHandle.registerTimer(timerMs)
      sess.update(s.copy(timerMs = timerMs))
    }
    closed.result().iterator
  }

  override def handleExpiredTimer(key: Long, timerValues: TimerValues,
                                  expired: ExpiredTimerInfo): Iterator[TimerSessOut] = {
    if (!sess.exists()) return Iterator.empty
    val s = sess.get()
    // only the CURRENTLY armed timer closes the session — a stale
    // firing (deleted-then-raced or pre-re-arm) is ignored
    if (s.timerMs != expired.getExpiryTimeInMs) return Iterator.empty
    sess.clear()
    Iterator.single(TimerSessOut(key, s.startUs, s.n, s.cents))
  }
}

object SessionTimers {

  private[streaming] def GapUs: Long = SessionizeStream.GapUs

  /** Runs the timer-driven sessionizer over the finite events replay
    * (sentinel batches advance the watermark so every open session's
    * timer fires) and shapes the emissions like the batch sessionize
    * query. */
  def sessions(spark: SparkSession, dir: String,
               queryName: String = "graft_tws_sessions"): DataFrame = {
    import spark.implicits._
    val stagePath = SessionizeStream.stageWithSentinels(spark, dir, "tws_sess")
    val stream = spark.readStream
      .schema(EventStreams.rawSchema)
      .option("maxFilesPerTrigger", 1)
      .option("latestFirst", false)
      .parquet(stagePath)
      .withColumn("ts", timestamp_micros(col("ts")))
      .withWatermark("ts", "0 seconds")
      // sentinel rows flow through to the operator (which ignores
      // key -1): filtering here would push BELOW the watermark node
      // and stall the watermark at the last real event
      .select(col("user_id"), col("ts"), unix_micros(col("ts")).as("usec"),
        col("event_id"), round(col("value") * 100).cast("long").as("cents"))
      .as[SessionizeStream.Ev]
    // transformWithState requires the RocksDB state store provider
    graft.ops.Q.withConf(spark, "spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider") {
      val out = stream.groupByKey(_.user_id)
        .transformWithState(new SessionTimeoutProcessor,
          TimeMode.EventTime(), OutputMode.Append())
      StreamRun.drain(spark, out.toDF(), "append", queryName, stagePath)
    }
      .filter(col("user_id") >= 0)
      .withColumn("session_id",
        row_number().over(Window.partitionBy(col("user_id"))
          .orderBy(col("start_us"))).cast("long"))
      .select(col("user_id"), col("session_id"), col("n_events"),
        timestamp_micros(col("start_us")).as("session_start"),
        (col("cents").cast("double") / 100.0).as("session_value"))
  }
}

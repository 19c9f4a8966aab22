package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Stateful streaming sessionization with `flatMapGroupsWithState` —
  * the engine's custom-state operator: per-user sessions close after
  * 30 min of event-time inactivity; closed sessions emit immediately,
  * open sessions live in the state store with an event-time timeout.
  *
  * State size is one open session per active user — bounded by user
  * cardinality, not event volume; the watermark garbage-collects
  * timed-out users. That is the 100 TB shape for streaming
  * sessionization (the batch gaps-and-islands plan in
  * [[graft.ops.EventQueries]] is its replay twin, and the DuckDB
  * oracle for both).
  *
  * Finite-replay protocol: a parquet file stream emits the events file
  * first, then three far-future sentinel batches. Sentinel batch 1
  * advances the watermark past every real session's timeout; batch 2
  * triggers the timeouts (watermarks take effect one microbatch after
  * the data that moved them). Sentinel rows carry user_id = -1 and are
  * filtered from the output.
  */
object SessionizeStream {

  // 30 min in µs — the ONE gap constant every sessionizer (this
  // flatMapGroupsWithState twin, the transformWithState timer variant,
  // and both oracle SQL literals) must agree on
  private[streaming] val GapUs = 1800000000L

  case class Ev(user_id: Long, ts: java.sql.Timestamp, usec: Long,
                event_id: Long, cents: Long)
  case class SessState(startUs: Long, lastUs: Long, n: Long, cents: Long)
  case class SessOut(user_id: Long, start_us: Long, n_events: Long, cents: Long)

  private def fn(uid: Long, it: Iterator[Ev],
                 state: GroupState[SessState]): Iterator[SessOut] = {
    def close(s: SessState) = SessOut(uid, s.startUs, s.n, s.cents)
    if (state.hasTimedOut) {
      val out = state.getOption.map(close).toList
      state.remove()
      return out.iterator
    }
    val evs = it.toVector.sortBy(e => (e.usec, e.event_id))
    if (evs.isEmpty) return Iterator.empty
    var open = state.getOption
    val closed = Vector.newBuilder[SessOut]
    evs.foreach { e =>
      open match {
        case Some(s) if e.usec - s.lastUs <= GapUs =>
          open = Some(SessState(s.startUs, e.usec, s.n + 1, s.cents + e.cents))
        case Some(s) =>
          closed += close(s)
          open = Some(SessState(e.usec, e.usec, 1, e.cents))
        case None =>
          open = Some(SessState(e.usec, e.usec, 1, e.cents))
      }
    }
    open.foreach { s =>
      state.update(s)
      state.setTimeoutTimestamp((s.lastUs + GapUs) / 1000) // ms epoch
    }
    closed.result().iterator
  }

  /** Stage the finite events file plus three far-future sentinel files
    * (flat siblings — the file-stream source does not list nested
    * dirs; staggered mod-times fix the processing order). The sentinel
    * batches drive the event-time watermark past every real window /
    * session so append-mode results and timeouts flush completely.
    * `splitEvents > 1` splits the events across that many part files so
    * `maxFilesPerTrigger=1` yields multiple REAL microbatches (needed
    * to exercise per-batch sinks like the foreachBatch merge).
    * Returns the staging dir to stream from. The sentinel protocol
    * stages identical content for every streaming query over the same
    * source dir, so the staged dir is memoized per (session, dir, split)
    * and shared (each query still streams it independently — only the
    * file copies + sentinel writes are saved). */
  private[graft] def stageWithSentinels(spark: SparkSession, dir: String,
                                        tag: String, splitEvents: Int = 1): String =
    graft.ops.SessionScopedCache.memoDir(spark, "stream_stage", (dir, splitEvents))(
      stage0(spark, dir, splitEvents, _))

  private def stage0(spark: SparkSession, dir: String, splitEvents: Int,
                     stageDir: String): String = {
    import spark.implicits._
    val stage = new java.io.File(stageDir)
    stage.mkdirs()
    // Normalize ts to epoch-MICROS longs in the staged files (the
    // rawSchema convention): the driver's physical timestamp type has
    // varied across data generations (nanos vs native micros), and a
    // plain long column keeps sentinel construction and the streaming
    // schema independent of that vintage.
    val normalized = graft.ops.Tables.loadEvents(spark, dir)
      .select(col("event_id"), unix_micros(col("ts")).as("ts"),
        col("user_id"), col("event_type"), col("value"), col("props"))
    if (splitEvents <= 1) {
      val tmp = new java.io.File(stage, "tmp_one")
      normalized.coalesce(1).write.mode("overwrite").parquet(tmp.getAbsolutePath)
      val part = tmp.listFiles().find(_.getName.endsWith(".parquet")).get
      org.apache.commons.io.FileUtils.moveFile(part,
        new java.io.File(stage, "0_events.parquet"))
      org.apache.commons.io.FileUtils.deleteDirectory(tmp)
    } else {
      // split by TIME RANGE so microbatches arrive in event-time order
      // — the shape real ingest has. Nothing is late against the
      // watermark, and batch boundaries fall inside hours, so later
      // batches both INSERT new hours and UPDATE boundary hours in the
      // per-batch sink (exercising the merge path). Part-file names
      // encode the range order; sorted staging mtimes preserve it.
      val tmp = new java.io.File(stage, "tmp_split")
      normalized
        .repartitionByRange(splitEvents, col("ts"))
        .write.mode("overwrite").parquet(tmp.getAbsolutePath)
      tmp.listFiles().filter(_.getName.endsWith(".parquet"))
        .sortBy(_.getName).zipWithIndex
        .foreach { case (part, i) =>
          val target = new java.io.File(stage, f"0_events_$i%02d.parquet")
          org.apache.commons.io.FileUtils.moveFile(part, target)
          target.setLastModified(System.currentTimeMillis() - 60000L + i * 1000L)
        }
      org.apache.commons.io.FileUtils.deleteDirectory(tmp)
    }
    val maxUs = normalized.agg(max("ts")).head().getLong(0)
    Seq(1, 2, 3).foreach { i =>
      val sentinelUs = maxUs + i * 3600L * 1000000L
      val tmp = new java.io.File(stage, s"tmp_sent$i")
      Seq((-1L, sentinelUs, -1L, "sentinel", 0.0, "{}"))
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.mode("overwrite").parquet(tmp.getAbsolutePath)
      val part = tmp.listFiles().find(_.getName.endsWith(".parquet")).get
      val target = new java.io.File(stage, s"z_sent$i.parquet")
      org.apache.commons.io.FileUtils.moveFile(part, target)
      org.apache.commons.io.FileUtils.deleteDirectory(tmp)
      target.setLastModified(System.currentTimeMillis() + i * 2000L)
    }
    stage.getAbsolutePath
  }

  /** Run the stateful sessionization over the finite events table and
    * return (user_id, session_id, n_events, session_start,
    * session_value) — the exact shape of the batch sessionize query. */
  def sessionize(spark: SparkSession, dir: String,
                 queryName: String = "graft_sessions"): DataFrame = {
    import spark.implicits._
    val stagePath = stageWithSentinels(spark, dir, "sess")

    val stream = spark.readStream
      .schema(EventStreams.rawSchema)
      .option("maxFilesPerTrigger", 1)
      .option("latestFirst", false)
      .parquet(stagePath)
      .withColumn("ts", timestamp_micros(col("ts")))
      .withWatermark("ts", "0 seconds")
      // keep the watermarked ts column itself through the typed view —
      // projecting it away would drop the event-time watermark marker
      .select(col("user_id"), col("ts"), unix_micros(col("ts")).as("usec"),
        col("event_id"), round(col("value") * 100).cast("long").as("cents"))
      .as[Ev]

    val sessions = stream.groupByKey(_.user_id)
      .flatMapGroupsWithState[SessState, SessOut](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout())(fn)

    StreamRun.drain(spark, sessions.toDF(), "append", queryName, stagePath)
      .filter(col("user_id") >= 0)
      .withColumn("session_id",
        row_number().over(Window.partitionBy(col("user_id")).orderBy(col("start_us")))
          .cast("long"))
      .select(col("user_id"), col("session_id"), col("n_events"),
        timestamp_micros(col("start_us")).as("session_start"),
        (col("cents").cast("double") / 100.0).as("session_value"))
  }
}

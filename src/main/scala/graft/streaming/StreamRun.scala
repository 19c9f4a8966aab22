package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}

/** The engine's one way to run a streaming query over a FINITE input
  * to its end. Every streaming query in the engine is a replay of
  * files or TxLog versions that exist when it starts, so each is
  * started under `Trigger.AvailableNow` — the production drain mode:
  * everything available at start runs as rate-limited microbatches
  * (`maxFilesPerTrigger`, `maxVersionsPerTrigger` are honoured, and
  * no-data batches still flush watermarked state), then the query
  * terminates on its own. `processAllAvailable` is a test hook and
  * `Trigger.Once` one unbounded batch; neither is used.
  *
  * What this object owns, so no call site writes it out again:
  *   - start, wait for the end, ALWAYS stop — a failed query's
  *     exception surfaces (as the `StreamingQueryException` whose cause
  *     is the query's error) and no active query is left behind;
  *   - the state-store partition count, sized from the source
  *     ([[statePartitionsFor]]) for the duration of the run;
  *   - for memory sinks, draining the sink out of the driver
  *     ([[drain]]) and dropping its temp view, on success or failure. */
object StreamRun {

  /** Starts `writer` under `Trigger.AvailableNow`, waits until it has
    * processed everything available at start, and stops it. With
    * `sizeFrom`, the query's state partitions are sized from the
    * source at that path. */
  def toEnd(spark: SparkSession, writer: DataStreamWriter[_],
            sizeFrom: Option[String] = None): Unit = {
    def run(): Unit = {
      val q = writer.trigger(Trigger.AvailableNow()).start()
      try q.awaitTermination() finally q.stop()
    }
    sizeFrom.fold(run())(p => withStatePartitions(spark, statePartitionsFor(spark, p))(run()))
  }

  /** Runs `df` to its end into the memory table `queryName` (state
    * partitions sized from `sizeFrom`) and returns its rows, drained
    * out of the driver.
    *
    * The memory sink buffers every emitted row in a driver-side array
    * that stays referenced by the temp-view registration for the LIFE
    * OF THE SESSION. A bench/verify session runs dozens of streaming
    * queries back-to-back, so at a 10×-scale leg the accumulated sinks
    * pinned multiple GB in the shared single-JVM heap and put every
    * LATER query into GC thrash — measured as leg-position-dependent
    * readings (the same query read 12 s clean vs 21-26 s after 15
    * prior streaming queries at sf3). So the rows are re-homed once:
    * localCheckpoint materializes them as block-manager partitions
    * (spillable to disk under pressure, unlike the sink's hard array)
    * and the temp view is dropped, making the sink's buffer
    * unreachable. The returned frame is the caller's only handle. */
  def drain(spark: SparkSession, df: DataFrame, outputMode: String,
            queryName: String, sizeFrom: String): DataFrame =
    try {
      toEnd(spark, df.writeStream.outputMode(outputMode).format("memory")
        .queryName(queryName), Some(sizeFrom))
      spark.table(queryName).localCheckpoint(true)
    } finally spark.catalog.dropTempView(queryName)

  /** Run `f` with the session's shuffle partitions temporarily set to
    * `n`: a streaming query pins its state-store partition count from
    * the conf at first start. */
  private[graft] def withStatePartitions[A](spark: SparkSession, n: Int)(f: => A): A = {
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    spark.conf.set(key, n.toString)
    try f finally spark.conf.set(key, prev)
  }

  /** State-store partition count AUTOSIZED from the source volume
    * (guide §2: derive partitioning from input size, never a constant
    * tuned for one deployment). A streaming query pins its state
    * partition count from `spark.sql.shuffle.partitions` at FIRST
    * start, and every microbatch then pays one state-store commit per
    * partition per stateful operator (stream-stream joins keep FOUR
    * stores per partition), whatever the data volume — so the count
    * must track the volume: for these finite demo replays (a few MB of
    * staged events across 4–6 microbatches) 8 stores per batch were
    * pure commit overhead, while a production-rate stream needs the
    * session's full parallelism and beyond.
    *
    * Sizing rule: one state partition per
    * `graft.streaming.statePartitionBytes` (conf, default 64 MiB —
    * the guide §2.2 advisory-partition scale) of source bytes, clamped
    * to [2, session shuffle partitions]. Source bytes are the sizes of
    * every file under `srcPath` (recursively, so a partitioned source
    * counts its nested files) whose name does not start with `.`, read
    * through the path's Hadoop `FileSystem`; a missing path is 0 bytes.
    * The floor of 2 keeps every demo exercising genuinely partitioned
    * state; the ceiling is the session knob a cluster deployment
    * already sizes to its cores. Partition count only shards keys
    * across stores — it is invisible in any query's RESULT (the memory
    * sink drains all partitions and every consumer aggregates or sorts
    * by key), which is what makes this a pure §2 overhead cut. */
  private[graft] def statePartitionsFor(spark: SparkSession, srcPath: String): Int = {
    val path = new org.apache.hadoop.fs.Path(srcPath)
    val fs = path.getFileSystem(spark.sessionState.newHadoopConf())
    var bytes = 0L
    if (fs.exists(path)) {
      val files = fs.listFiles(path, true)
      while (files.hasNext) {
        val f = files.next()
        if (!f.getPath.getName.startsWith(".")) bytes += f.getLen
      }
    }
    val per = spark.conf.getOption("graft.streaming.statePartitionBytes")
      .flatMap(s => scala.util.Try(s.toLong).toOption).filter(_ > 0)
      .getOrElse(64L << 20)
    val want = math.ceil(bytes.toDouble / per).toInt
    math.max(2, math.min(spark.sessionState.conf.numShufflePartitions, want))
  }
}

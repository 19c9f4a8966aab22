package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Drain a finished memory-sink table out of the driver.
  *
  * The memory sink buffers every emitted row in a driver-side array
  * that stays referenced by the temp-view registration for the LIFE
  * OF THE SESSION. A bench/verify session runs dozens of streaming
  * queries back-to-back, so at a 10×-scale leg the accumulated sinks
  * pinned multiple GB in the shared single-JVM heap and put every
  * LATER query into GC thrash — measured as leg-position-dependent
  * readings (the same query read 12 s clean vs 21-26 s after 15
  * prior streaming queries at sf3), which fabricated superlinear
  * scaling entries for whatever ran late in the leg.
  *
  * `drain` re-homes the rows once: localCheckpoint materializes them
  * as block-manager partitions (spillable to disk under pressure,
  * unlike the sink's hard array) and the temp view is dropped, making
  * the sink's buffer unreachable. The returned frame is the caller's
  * only handle. Cost is one distributed copy inside the query's own
  * timed region — the steady-state-honest billing, since a real
  * pipeline would land these rows in a store rather than pin them on
  * the driver.
  *
  * Small control-sized sinks (per-user totals, quarantine counts) may
  * skip draining when the table is deliberately SHARED across
  * queries (see RunningTotals.replay — dropping it would break the
  * next reader of the memoized replay).
  */
object MemTable {
  def drain(spark: SparkSession, name: String): DataFrame = {
    val df = spark.table(name).localCheckpoint(true)
    spark.catalog.dropTempView(name)
    df
  }
}

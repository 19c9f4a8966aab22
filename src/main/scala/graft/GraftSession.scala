package graft

import org.apache.spark.sql.SparkSession

/** The engine's one session shape. Every main (`Bench`, `Verify`,
  * `ExplainDump`, `ScaleUp`) and the test base build their session
  * here, so a conf the engine's results depend on cannot be present in
  * one entry point and missing in another — nor depend on the JVM
  * flags of whatever classpath launched it:
  *
  *   - `local[cpus]` with `cpus` shuffle partitions;
  *   - `nanosAsLong`: nanos-vintage `events.parquet` reads as raw long
  *     (see [[graft.ops.Tables.loadEvents]]);
  *   - [[GraftExtensions]]: native functions, as-of planning, the HOF
  *     rewrite and TxLog SQL DML;
  *   - the object-hash-aggregate fallback threshold at 65536:
  *     TypedImperativeAggregate heaps and sketches carry O(k) state per
  *     group, and the default 128-group fallback to SORT-based
  *     aggregation re-introduces the per-group sort the bounded-heap
  *     operators exist to avoid (measured 2x on sim_knn_classify at sf1
  *     with 800 query groups);
  *   - UTC session time zone: the oracles compare timestamps and
  *     date truncations in UTC;
  *   - no UI, WARN logging. */
object GraftSession {

  def local(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "65536")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** `SPARK_GRAFT_CPUS` (default 32) as a positive integer — it sizes
    * `local[n]` and the shuffle width, and lands unquoted in the bench
    * JSON, so any other value (say `*`) fails here rather than as an
    * unparseable result line. */
  def cpuCount(raw: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")): Int =
    scala.util.Try(raw.trim.toInt).toOption.filter(_ > 0).getOrElse(
      throw new IllegalArgumentException(
        s"SPARK_GRAFT_CPUS must be a positive integer, got '$raw'"))
}

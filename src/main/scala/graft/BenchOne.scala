package graft

import org.apache.spark.sql.SparkSession

/** Targeted bench: time only the named queries (args), in order, under
  * the same confs as [[Bench]]. `runMain graft.BenchOne q1 q2 ...` */
object BenchOne {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = Bench.cpuCount()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "65536")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // same contention-band probe as Bench (warmed once, then timed
    // first/last) so targeted readings can be calibrated against the
    // committed reference map like full-run readings — and the same
    // untimed streaming-stack warm-up, so a targeted streaming reading
    // is comparable to the map's instead of absorbing cold-start
    graft.streaming.StreamWarmup.run(spark)
    Bench.calibrate(spark)
    val calibFirst = Bench.calibrate(spark)
    // SPARK_GRAFT_CALIB_EACH=1: run the contention probe after EVERY
    // query and print it alongside the reading. Host contention on a
    // shared box arrives in multi-minute WAVES — a leg whose first/last
    // probes read 0.78/0.42 against a 0.25 baseline is uninterpretable
    // with endpoint calibration alone, because the wave hits different
    // queries differently. A per-query probe lets the consumer
    // (tools/decade_ratio.py) normalize each reading against the
    // contention measured seconds after it, at ~0.25 s per probe.
    val calibEach = sys.env.get("SPARK_GRAFT_CALIB_EACH").contains("1")
    args.foreach { name =>
      val fn = SparkEntry.queries(name)
      // same billing as [[Bench]]: one-time layout writes (bucketed
      // tables, persisted ANN indexes) bill to layout, not the query —
      // a BenchOne reading is then directly comparable to the map's
      val l0 = ops.Scale.layoutNanos.get()
      val t0 = System.nanoTime()
      val n = fn(spark, sfDir).count()
      val elapsed = System.nanoTime() - t0
      val layout = ops.Scale.layoutNanos.get() - l0
      val billed = (elapsed - layout).max(0L) / 1e9
      val note = if (layout > 0) f"  (+${layout / 1e9}%.2f s layout)" else ""
      val cal = if (calibEach) f"  [calib=${Bench.calibrate(spark)}%.3f]" else ""
      println(f"$name%-28s $billed%8.2f s  ($n rows)$note$cal")
    }
    val calibLast = Bench.calibrate(spark)
    println(f"__calib__ first=$calibFirst%.3f last=$calibLast%.3f")
    spark.stop()
  }
}

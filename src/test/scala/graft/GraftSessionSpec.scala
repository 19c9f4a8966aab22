package graft

import graft.streaming.StreamRun
import org.apache.spark.sql.functions.expr
import org.apache.spark.sql.streaming.StreamingQueryException

/** The one session factory and the one stream helper: the session
  * shape comes from [[GraftSession]] alone (no JVM `-Dspark.*` flag
  * supplies any of it), and a streaming run that fails leaves nothing
  * running and nothing registered behind. */
class GraftSessionSpec extends SparkTestBase {

  test("GraftSession.local carries UTC, the extensions, the fallback threshold and cpus shuffle partitions") {
    assert(!sys.props.keys.exists(_.startsWith("spark.sql.")),
      "a JVM flag, not the factory, would be setting the session")
    val s = GraftSession.local(8)
    assert(s.conf.get("spark.sql.session.timeZone") === "UTC")
    assert(s.conf.get("spark.sql.extensions") === "graft.GraftExtensions")
    assert(s.conf.get("spark.sql.objectHashAggregate.sortBased.fallbackThreshold") === "65536")
    assert(s.conf.get("spark.sql.legacy.parquet.nanosAsLong") === "true")
    assert(s.sessionState.conf.numShufflePartitions === 8)
    assert(s.sparkContext.master === "local[8]")
    // the extensions are live, not just named
    assert(s.sql("SELECT l2_sq(array(CAST(1.0 AS FLOAT)), array(CAST(3.0 AS FLOAT)))")
      .head().getDouble(0) === 4.0)
  }

  test("SPARK_GRAFT_CPUS must be a positive integer") {
    assert(GraftSession.cpuCount("4") === 4 && GraftSession.cpuCount(" 16 ") === 16)
    // `*` used to reach the bench JSON as "cpus":* — unparseable
    Seq("*", "0", "-2", "", "four").foreach(bad =>
      assert(intercept[IllegalArgumentException](GraftSession.cpuCount(bad))
        .getMessage.contains("SPARK_GRAFT_CPUS"), bad))
  }

  test("StreamRun.drain surfaces a failed query's exception and leaves no query or view behind") {
    val src = tmpDir("streamrun_fail")
    spark.range(5).write.parquet(src)
    val failing = spark.readStream.schema("id LONG").parquet(src)
      .select(expr("CASE WHEN id = 3 THEN raise_error('boom at 3') ELSE id END").as("id"))
    val e = intercept[StreamingQueryException](
      StreamRun.drain(spark, failing, "append", "graft_streamrun_fail", src))
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("boom at 3")), e)
    assert(spark.streams.active.isEmpty)
    assert(!spark.catalog.tableExists("graft_streamrun_fail"))
  }
}
